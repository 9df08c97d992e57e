package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Asymmetric containment near-dup ([[Dedup.containmentPairs]]) — the
  * "small doc embedded in a big one" detector. Pins: a planted verbatim
  * quote is found at containment 1.0 while its symmetric Jaccard is far
  * below every near-dup threshold (the structural miss this op exists
  * for), brute-force parity on the rare-shingle candidate envelope, the
  * maxDf recall boundary, direction semantics (smaller shingle set is
  * contained; ties break to the smaller id), and a cartesian-free plan. */
class ContainmentSpec extends AnyFunSuite with SharedSpark {
  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // distinct word k-shingles, driver-side
  private def shingleSet(text: String, n: Int): Set[String] =
    text.trim.split("\\s+").sliding(n).filter(_.length == n)
      .map(_.mkString(" ")).toSet

  test("planted quote: containment 1.0 where symmetric Jaccard misses") {
    val quote = (1 to 8).map(i => s"quoted$i").mkString(" ")
    val filler = (1 to 80).map(i => s"container$i").mkString(" ")
    val d = docs(
      1L -> quote,
      2L -> s"$filler $quote ${filler.replace("container", "tail")}")
    val got = Dedup.containmentPairs(d, "doc_id", "text",
      n = 5, maxDf = 20, threshold = 0.8).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("id_contained") == 1L &&
      r.getAs[Long]("id_container") == 2L &&
      r.getAs[Double]("containment") == 1.0)
    // the symmetric miss: Jaccard of the same pair is tiny
    val sa = shingleSet(quote, 5)
    val sb = shingleSet(s"$filler $quote ${filler.replace("container", "tail")}", 5)
    val jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(jac < 0.05, s"jaccard $jac should be far below any threshold")
  }

  test("brute-force parity within the rare-shingle candidate envelope") {
    // varied corpus: some containment, some overlap, some disjoint
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> base,                                     // contained in 2
      2L -> s"$base extra tokens here now follow on", // container
      3L -> (11 to 40).map(i => s"w$i").mkString(" "), // overlaps 1 and 2
      4L -> (100 to 140).map(i => s"v$i").mkString(" ")) // disjoint
    val n = 5; val maxDf = 20; val thr = 0.1
    val got = Dedup.containmentPairs(d, "doc_id", "text", n, maxDf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    // driver-side brute force with the SAME candidate envelope (pairs
    // sharing >= 1 shingle of df <= maxDf)
    val texts = Map(1L -> base,
      2L -> s"$base extra tokens here now follow on",
      3L -> (11 to 40).map(i => s"w$i").mkString(" "),
      4L -> (100 to 140).map(i => s"v$i").mkString(" "))
    val sets = texts.map { case (k, v) => k -> shingleSet(v, n) }
    val df = sets.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      shared = sets(a).intersect(sets(b))
      if shared.exists(df(_) <= maxDf)
      small = if (sets(a).size < sets(b).size ||
        (sets(a).size == sets(b).size && a < b)) a else b
      big = if (small == a) b else a
      c = BigDecimal(sets(small).intersect(sets(big)).size.toDouble /
        math.min(sets(a).size, sets(b).size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if c >= thr
    } yield (small, big, c)).toSet
    assert(got == expect, s"got $got expect $expect")
  }

  test("maxDf recall envelope: a shingle common to > maxDf docs generates no candidates") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    // 6 docs all built from the same shingles -> every shingle df = 6
    val d = docs((1L to 6L).map(i => i -> shared): _*)
    assert(Dedup.containmentPairs(d, "doc_id", "text",
      n = 5, maxDf = 5, threshold = 0.5).count() == 0,
      "df > maxDf shingles must not generate candidates")
    assert(Dedup.containmentPairs(d, "doc_id", "text",
      n = 5, maxDf = 6, threshold = 0.5).count() == 15,
      "raising maxDf past the df admits all 15 identical pairs")
  }

  test("direction: fewer shingles = contained; equal sizes tie-break to the smaller id") {
    val small = (1 to 9).map(i => s"q$i").mkString(" ")   // 5 shingles
    val big = s"$small " + (1 to 20).map(i => s"p$i").mkString(" ")
    val d = docs(7L -> big, 9L -> small) // container has the SMALLER id
    val r = Dedup.containmentPairs(d, "doc_id", "text",
      n = 5, maxDf = 20, threshold = 0.9).collect()
    assert(r.length == 1 && r.head.getLong(0) == 9L &&
      r.head.getLong(1) == 7L, "direction must follow shingle-set size")
    // exact twins (equal sets): contained = smaller id
    val d2 = docs(5L -> small, 3L -> small)
    val r2 = Dedup.containmentPairs(d2, "doc_id", "text",
      n = 5, maxDf = 20, threshold = 0.9).collect()
    assert(r2.length == 1 && r2.head.getLong(0) == 3L &&
      r2.head.getLong(1) == 5L)
  }

  test("incremental equals the full recompute restricted to batch-touching pairs") {
    val quote = (1 to 8).map(i => s"inc$i").mkString(" ")
    val filler = (1 to 60).map(i => s"idxfill$i").mkString(" ")
    val corpus = docs(
      1L -> s"$filler $quote",                       // index: container
      2L -> (201 to 240).map(i => s"w$i").mkString(" "), // index
      3L -> (211 to 250).map(i => s"w$i").mkString(" "), // index, overlaps 2
      10L -> quote,                                   // batch: contained in 1
      11L -> (221 to 260).map(i => s"w$i").mkString(" ")) // batch, overlaps 2,3
    val isBatch = (id: Long) => id >= 10L
    val n = 5; val maxDf = 20; val thr = 0.1
    val idx = Dedup.shingleSets(
      corpus.filter(col("doc_id") < 10L), "doc_id", "text", n)
    val dfT = idx.select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs"))
    val inc = Dedup.containmentAgainst(idx, dfT,
        corpus.filter(col("doc_id").geq(10L)), "doc_id", "text",
        n, maxDf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val full = Dedup.containmentPairs(corpus, "doc_id", "text",
        n, maxDf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => isBatch(p._1) || isBatch(p._2)).toSet
    assert(inc == full, s"inc $inc vs full-restricted $full")
    assert(inc.exists(p => p._1 == 10L && p._2 == 1L && p._3 == 1.0),
      "the cross-boundary containment must be found")
  }

  test("maintained postings path: identical output, on-disk ngb partitions pruned") {
    val quote = (1 to 8).map(i => s"inc$i").mkString(" ")
    val filler = (1 to 60).map(i => s"idxfill$i").mkString(" ")
    val corpus = docs(
      1L -> s"$filler $quote",
      2L -> (201 to 240).map(i => s"w$i").mkString(" "),
      3L -> (211 to 250).map(i => s"w$i").mkString(" "),
      10L -> quote,
      11L -> (221 to 260).map(i => s"w$i").mkString(" "))
    val n = 5; val maxDf = 20; val thr = 0.1
    val idx = Dedup.shingleSets(
      corpus.filter(col("doc_id") < 10L), "doc_id", "text", n)
    val dir = java.nio.file.Files
      .createTempDirectory("cont-post").toString
    Dedup.postingsOf(idx).write.partitionBy("ngb").parquet(s"$dir/post")
    val post = spark.read.parquet(s"$dir/post")
    val dfT = post.groupBy("ng").agg(count(lit(1)).as("ndocs"))
    val batch = corpus.filter(col("doc_id").geq(10L))
    def run(p: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.containmentAgainst(idx, dfT, batch, "doc_id", "text",
          n, maxDf, thr, indexPostings = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(run(Some(post)) == run(None),
      "postings path must be a pure plan change, never a result change")
  }

  test("replayed batch id already in the index: no self-pairs, no double-counted sets") {
    // doc 10 was already folded into the index; the same increment is
    // re-run (operator retry). The bi leg's id-disjointness filter must
    // suppress the 10↔10 self-pair at containment 1.0, and the set
    // union must not read doc 10's set twice.
    val quote = (1 to 8).map(i => s"rep$i").mkString(" ")
    val filler = (1 to 60).map(i => s"repfill$i").mkString(" ")
    val corpus = docs(1L -> s"$filler $quote", 10L -> quote)
    val n = 5; val thr = 0.1
    val idx = Dedup.shingleSets(corpus, "doc_id", "text", n) // 10 folded
    val dfT = idx.select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs"))
    val got = Dedup.containmentAgainst(idx, dfT,
        corpus.filter(col("doc_id") === 10L), "doc_id", "text",
        n, maxDf = 20, threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!got.exists(p => p._1 == p._2), s"self-pair emitted: ${got.toSeq}")
    assert(got.toSet == Set((10L, 1L, 1.0)),
      s"replay must reduce to the real cross pair, got ${got.toSeq}")
  }

  test("combined df cap: a shingle pushed over the cap BY THE BATCH generates no candidates") {
    // 'shared' appears in 3 index docs and 3 batch docs: index df 3 is
    // under cap 5, combined df 6 is over — capping on the index side
    // alone would wrongly admit it (the straddling-bucket lesson)
    val shared = (1 to 10).map(i => s"cap$i").mkString(" ")
    val corpus = docs((1L to 3L).map(i => i -> shared) ++
      (11L to 13L).map(i => i -> shared): _*)
    val idx = Dedup.shingleSets(
      corpus.filter(col("doc_id") < 10L), "doc_id", "text", 5)
    val dfT = idx.select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs"))
    val batch = corpus.filter(col("doc_id") >= 10L)
    assert(Dedup.containmentAgainst(idx, dfT, batch, "doc_id", "text",
      5, maxDf = 5, threshold = 0.5).count() == 0,
      "combined df 6 > cap 5 must suppress the bucket on BOTH legs")
    val got = Dedup.containmentAgainst(idx, dfT, batch, "doc_id", "text",
      5, maxDf = 6, threshold = 0.5).count()
    // cap 6 admits: all batch-touching pairs of the 6-clique = 12
    assert(got == 12, s"expected 12 batch-touching pairs, got $got")
  }

  test("coverage report: an all-common-shingle doc lands in the blind class") {
    // 25 identical docs (every shingle df=25 > maxDf=20 — the planted
    // boilerplate blind spot), one unique doc (covered), one too short
    // to shingle (unshingled)
    val boiler = (1 to 10).map(i => s"common$i").mkString(" ")
    val rows = (1L to 25L).map(_ -> boiler) ++
      Seq(50L -> (1 to 10).map(i => s"unique$i").mkString(" "),
        60L -> "too short")
    val r = Dedup.containmentCoverage(docs(rows: _*), "doc_id", "text",
      n = 5, maxDf = 20).collect().head
    assert(r.getLong(0) == 27 && r.getLong(1) == 26 && // docs, eligible
      r.getLong(2) == 1 &&                             // unshingled
      r.getLong(3) == 1 && r.getLong(4) == 25,         // covered, blind
      s"coverage classes wrong: $r")
    // and the detector indeed CANNOT see the blind class: zero pairs
    // despite 25 exact copies
    assert(Dedup.containmentPairs(docs(rows: _*), "doc_id", "text",
      n = 5, maxDf = 20, threshold = 0.5).count() == 0,
      "the blind class is exactly what the detector misses — the report must expose it")
  }

  test("plan is cartesian-free") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val plan = Dedup.containmentPairs(d, "doc_id", "text",
      n = 5, maxDf = 20, threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment plan must stay equi-join shaped:\n$plan")
  }
}
