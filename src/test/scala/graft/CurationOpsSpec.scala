package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Round-4 curation operators: graded n-gram contamination, segment-level
  * dedup, and temperature-scaled mixture sampling — planted-data semantics
  * the fixture oracles can't isolate (the word-salad corpus has no
  * engineered boilerplate or contamination). */
class CurationOpsSpec extends AnyFunSuite with SharedSpark {
  test("ngramContamination: planted benchmark overlap yields exact fractions") {
    import spark.implicits._
    // bench doc = "a b c d"; train doc 1 copies it verbatim (all trigrams
    // contaminated), train doc 2 shares exactly one trigram window, train
    // doc 3 shares none, train doc 4 is too short for any trigram.
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d"),          // trigrams {a b c, b c d} — both in bench
      (2L, "x a b c y"),        // {x a b, a b c, b c y} — 1 of 3
      (3L, "p q r s"),          // none
      (4L, "a b")               // no trigrams → no output row
    ).toDF("doc_id", "text")

    val out = Dedup.ngramContamination(train, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((3L, 1L, 0.333333)))
    assert(out(3L) === ((2L, 0L, 0.0)))
    assert(!out.contains(4L))
  }

  test("segmentDedup: first occurrence survives, later copies drop, " +
       "fully-duplicate docs vanish") {
    import spark.implicits._
    // 2-token segments. doc 0 defines segments "a b" and "c d"; doc 1
    // repeats "a b" then adds fresh "e f"; doc 2 is entirely made of
    // already-seen segments → vanishes; doc 3 repeats a segment WITHIN
    // itself (second copy drops too).
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b e f"),
      (2L, "c d a b"),
      (3L, "g h g h")
    ).toDF("doc_id", "text")

    val out = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap

    assert(out(0L) === (("a b c d", 2L)))
    assert(out(1L) === (("e f", 1L)))        // "a b" seen in doc 0
    assert(!out.contains(2L))                // every segment seen earlier
    assert(out(3L) === (("g h", 1L)))        // within-doc repeat dropped
  }

  test("segmentDedup: reassembly preserves document order and partial " +
       "tail segments") {
    import spark.implicits._
    // 7 tokens at segTokens=3 → segments of 3+3+1; all distinct → doc
    // reassembles to itself.
    val docs = Seq((5L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 3)
      .collect()
    assert(out.length === 1)
    assert(out(0).getString(1) === "t1 t2 t3 t4 t5 t6 t7")
    assert(out(0).getLong(2) === 3L)
  }

  test("temperatureMixSample: rates follow n^tau/Z scaling and tau<1 " +
       "flattens the dominant stratum") {
    import spark.implicits._
    // 80/20 two-stratum corpus. tau=0.5: w_a = sqrt(80)/(sqrt(80)+sqrt(20))
    // = 2/3, w_b = 1/3 → with M=50, rate_a = 50*(2/3)/80 ≈ 0.4167,
    // rate_b = 50*(1/3)/20 ≈ 0.8333 — the minority stratum keeps a ~2×
    // higher rate.
    val rows = (0 until 80).map(i => (i.toLong, "a")) ++
      (100 until 120).map(i => (i.toLong, "b"))
    val df = rows.toDF("id", "stratum")

    val out = TextOps.temperatureMixSample(df, "stratum", "id",
      tau = 0.5, targetCount = 50)
    val rates = out.select("stratum", "rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val za = math.sqrt(80.0); val zb = math.sqrt(20.0)
    assert(math.abs(rates("a") - 50.0 * za / (za + zb) / 80.0) < 1e-12)
    assert(math.abs(rates("b") - 50.0 * zb / (za + zb) / 20.0) < 1e-12)

    // flattening: stratum a is 80% of the corpus but must be a smaller
    // share of the sample (rate_a < rate_b pulls toward uniform)
    val kept = out.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val shareA = kept("a").toDouble / (kept("a") + kept("b"))
    assert(shareA < 0.8)
    // determinism: same call → identical kept set
    val again = TextOps.temperatureMixSample(df, "stratum", "id",
      tau = 0.5, targetCount = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === out.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMixSample: tau=1 is proportional (uniform rate)") {
    import spark.implicits._
    val rows = (0 until 60).map(i => (i.toLong, "a")) ++
      (100 until 140).map(i => (i.toLong, "b"))
    val df = rows.toDF("id", "stratum")
    val rates = TextOps.temperatureMixSample(df, "stratum", "id",
        tau = 1.0, targetCount = 50)
      .select("stratum", "rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // n^1/Z = n/N → rate = M/N for every stratum
    assert(math.abs(rates("a") - 0.5) < 1e-12)
    assert(math.abs(rates("b") - 0.5) < 1e-12)
  }

  test("int8 quantization bound: every reconstruction error ≤ scale/2, " +
       "codes within [-127, 127]") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0.5, -1.0, 0.25, 0.75)),
      (1L, Array(1e-9, -1e-9, 0.0, 0.0)),   // near-zero: scale floor guards /0
      (2L, Array(100.0, -50.0, 25.0, -12.5))
    ).toDF("vec_id", "vec")
    val s = greatest(aggregate(col("vec"), lit(0.0),
      (a, x) => greatest(a, abs(x))), lit(1e-12)) / 127
    val out = vecs.withColumn("s", s)
      .select(col("vec_id"), col("s"),
        transform(col("vec"), x => round(x / col("s")).cast("int")).as("q"),
        aggregate(transform(col("vec"),
            x => abs(x - round(x / col("s")).cast("int") * col("s"))),
          lit(0.0), (a, x) => greatest(a, x)).as("max_err"))
      .collect()
    out.foreach { r =>
      val scale = r.getDouble(1)
      val codes = r.getSeq[Int](2)
      assert(codes.forall(c => c >= -127 && c <= 127),
        s"codes out of int8 range: $codes")
      assert(r.getDouble(3) <= scale / 2 + 1e-15,
        s"reconstruction error ${r.getDouble(3)} exceeds scale/2 ${scale / 2}")
    }
  }

  test("weightedSample: weight 0 keeps nothing, weight 1 keeps everything, " +
       "keep rate tracks the weight, and the decision is deterministic") {
    import spark.implicits._
    val n = 4000
    val df = (0 until n).map(_.toLong).toDF("id")
    assert(TextOps.weightedSample(df, "id", lit(0.0)).count() == 0)
    assert(TextOps.weightedSample(df, "id", lit(1.0)).count() == n)
    // empirical keep rate within a few points of the weight (md5-uniform)
    Seq(0.2, 0.7).foreach { w =>
      val kept = TextOps.weightedSample(df, "id", lit(w)).count().toDouble / n
      assert(math.abs(kept - w) < 0.05, s"keep rate $kept for weight $w")
    }
    // per-row weights: a row's fate depends only on (id, its own weight)
    val weighted = df.withColumn("w", when(col("id") % 2 === 0, 0.9).otherwise(0.1))
    val kept = TextOps.weightedSample(weighted, "id", col("w"))
      .groupBy(col("id") % 2).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept(0L) > kept.getOrElse(1L, 0L) * 3,
      s"high-weight stratum should dominate survivors: $kept")
    // deterministic across runs
    val a = TextOps.weightedSample(weighted, "id", col("w")).collect().map(_.getLong(0)).toSet
    val b = TextOps.weightedSample(weighted, "id", col("w")).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("composed near-dup chain (x33 shape): transitive candidates collapse " +
       "to the min-id survivor; unrelated docs pass through") {
    import spark.implicits._
    import graft.ext.Dedup
    val w = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, w),                                                // head
      (11L, w.replace("tok29 tok30", "alpha beta")),           // ~ 10
      (12L, w.replace("tok27 tok28 tok29 tok30", "alpha beta gamma delta")), // ~ 11
      (50L, (100 to 130).map(i => s"other$i").mkString(" "))   // unrelated
    ).toDF("doc_id", "text")
    val sh = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
    val pairs = Dedup.minHashCandidates(sh, "doc_id", "sh", k = 32, bands = 16)
      .filter(col("est_jaccard") >= 0.25)
      .select("id1", "id2")
    // the planted chain must produce 10~11 and 11~12 at least
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.exists(p => p == (10L, 11L) || p == (11L, 10L)))
    assert(ps.exists(p => p == (11L, 12L) || p == (12L, 11L)))
    val clusters = Dedup.duplicateClusters(pairs)
    val survivors = docs.join(clusters, docs("doc_id") === col("id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(10L, 50L),
      s"expected the chain head + the unrelated doc, got $survivors")
  }

  test("x35 training batches: token conservation, doc conservation, " +
    "fill bounds, dense bins") {
    val sf = "/root/testdata/sf0.001"
    val batches = SparkEntry.queries("x35_training_batches")(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(batches.nonEmpty)
    // conservation against the curated corpus the bins were packed from
    val curated = SparkEntry.queries("x22_curation_pipeline")(spark, sf)
      .select("doc_id")
    val expected = Tables.documents(spark, sf).join(curated, "doc_id")
      .select(graft.ext.TextOps.tokenCount(org.apache.spark.sql.functions.col("text")).as("n"))
      .agg(org.apache.spark.sql.functions.sum("n"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect().head
    assert(batches.map(_._4).sum == expected.getLong(0), "token leak")
    assert(batches.map(_._3).sum == expected.getLong(1), "doc leak")
    // fill ≤ budget unless the bin is an oversized singleton
    batches.foreach { case (g, bin, nDocs, toks, fill) =>
      assert(toks <= 2048 || nDocs == 1, s"overfull multi-doc bin $g/$bin")
      assert(math.abs(fill - toks / 2048.0) < 1e-6)
    }
    // bins dense per group (0..max with no gaps)
    batches.groupBy(_._1).foreach { case (g, rows) =>
      val bins = rows.map(_._2).sorted
      assert(bins.toSeq == (0 to bins.max).toSeq, s"gap in $g bins")
    }
  }

  test("tokenBudgetSelect: greedy (weight desc, id) prefix under the budget, " +
       "bucketed two-pass ≡ brute force at any nBuckets") {
    import spark.implicits._
    // weights engineered so the budget crossing lands INSIDE a bucket
    // (ids 3,4 share bucket 700 at nBuckets=1000; id 3 fits, id 4 doesn't)
    val docs = Seq(
      (1L, 0.95, 40L), (2L, 0.80, 30L), (3L, 0.7005, 20L),
      (4L, 0.7001, 25L), (5L, 0.50, 10L), (6L, 0.20, 5L)
    ).toDF("id", "w", "c")
    def selected(nBuckets: Int, budget: Long): Set[Long] =
      TextOps.tokenBudgetSelect(docs, "id", col("w"), col("c"), budget, nBuckets)
        .select("id").collect().map(_.getLong(0)).toSet
    // brute force: sort desc by (w, -id is NOT the order — id asc), prefix sum
    def brute(budget: Long): Set[Long] = {
      var cum = 0L
      docs.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .sortBy { case (id, w, _) => (-w, id) }
        .flatMap { case (id, _, c) =>
          cum += c; if (cum <= budget) Some(id) else None
        }.toSet
    }
    for (budget <- Seq(0L, 39L, 40L, 90L, 95L, 114L, 115L, 1000L);
         nBuckets <- Seq(1, 10, 1000)) {
      assert(selected(nBuckets, budget) == brute(budget),
        s"mismatch at budget=$budget nBuckets=$nBuckets")
    }
    // the interesting boundary: budget 90 keeps {1,2,3} (40+30+20), and
    // id 4 (same bucket as 3 at nBuckets=1000) must NOT slip in
    assert(selected(1000, 90L) == Set(1L, 2L, 3L))
    assert(selected(1000, 115L) == Set(1L, 2L, 3L, 4L))
  }
}
