package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** Okapi BM25 ([[TextOps.bm25Index]]/[[TextOps.bm25Search]]) and
  * reciprocal-rank fusion ([[TextOps.rrfFuse]]): scores bit-checked
  * against an independent Scala reference on a synthetic corpus, the
  * classic saturation/length-normalization properties, verbatim-copy
  * retrieval at rank 1, and the exact RRF arithmetic. */
class Bm25Spec extends AnyFunSuite with SharedSpark {
  private val k1 = 1.2
  private val b = 0.75

  private def corpusDf = {
    import spark.implicits._
    Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple banana"),
      (3L, "cherry date elderberry fig grape"),
      (4L, "banana banana date"),
      (5L, "apple fig")).toDF("doc_id", "text")
  }

  /** Independent reference: plain Scala over the same corpus. */
  private def refScores(corpus: Seq[(Long, String)],
                        query: String): Map[Long, Double] = {
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = corpus.size.toDouble
    val df = toks.flatMap(_._2.distinct).groupBy(identity).map {
      case (t, xs) => t -> xs.size.toDouble
    }
    val avgdl = toks.map(_._2.size).sum / n
    val qTerms = query.split("\\s+").distinct.filter(df.contains)
    toks.flatMap { case (id, ts) =>
      val dl = ts.size.toDouble
      val tf = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toDouble }
      val s = qTerms.collect { case t if tf.contains(t) =>
        math.log(1 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
          (tf(t) * (k1 + 1)) / (tf(t) + k1 * ((1 - b) + b * dl / avgdl))
      }.sum
      if (s > 0) Some(id -> s) else None
    }.toMap
  }

  test("scores match the independent Scala reference") {
    import spark.implicits._
    val idx = TextOps.bm25Index(corpusDf, "doc_id", "text")
    val got = TextOps.bm25Search(idx,
        Seq((100L, "apple banana")).toDF("doc_id", "text"),
        "doc_id", "text", k = 10)
      .select("key", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refScores(
      Seq((1L, "apple banana cherry"), (2L, "apple apple apple banana"),
        (3L, "cherry date elderberry fig grape"), (4L, "banana banana date"),
        (5L, "apple fig")),
      "apple banana")
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-12, s"doc $id: $s vs ${want(id)}")
    }
  }

  test("rarer terms score higher; repeated query terms collapse") {
    import spark.implicits._
    val idx = TextOps.bm25Index(corpusDf, "doc_id", "text")
    def top(q: String) = TextOps.bm25Search(idx,
        Seq((100L, q)).toDF("doc_id", "text"), "doc_id", "text", k = 10)
      .orderBy("rank").select("key", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // "elderberry" (df=1) pins doc 3 above anything "banana" (df=3) finds
    val rare = top("elderberry")
    assert(rare.head._1 == 3L)
    // Lucene-style qtf collapse: "apple apple" ≡ "apple"
    assert(top("apple apple").toSeq == top("apple").toSeq)
  }

  test("held-out verbatim copy retrieves its source in the top 3") {
    // top-3, not rank-1: BM25's tf saturation + length normalization can
    // legitimately rank a near-duplicate with an extra repeated rare term
    // above the verbatim copy (the fixture contains such planted pairs) —
    // that is correct Okapi behavior, unlike cosine's verbatim == 1.0
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 97 =!= 3)
    val idx = TextOps.bm25Index(corpus, "doc_id", "text")
    val planted = corpus.filter(length(col("text")) >= 60)
      .orderBy("doc_id").limit(1).collect()(0)
    import spark.implicits._
    val topKeys = TextOps.bm25Search(idx,
        Seq((999999L, planted.getString(1))).toDF("doc_id", "text"),
        "doc_id", "text", k = 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSet
    assert(topKeys.contains(planted.getLong(0)),
      s"planted doc ${planted.getLong(0)} not in BM25 top-3 $topKeys")
  }

  test("maxDfFrac prunes stopword-grade terms; default keeps exact Okapi") {
    import spark.implicits._
    // "the" appears in every doc (df/N = 1) — stopword-grade
    val corpus = Seq(
      (1L, "the apple banana"), (2L, "the apple cherry"),
      (3L, "the date elderberry"), (4L, "the banana date"))
      .toDF("doc_id", "text")
    val idx = TextOps.bm25Index(corpus, "doc_id", "text")
    val q = Seq((100L, "the apple")).toDF("doc_id", "text")
    def res(frac: Double) = TextOps.bm25Search(idx, q, "doc_id", "text",
        k = 10, maxDfFrac = frac)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // pruned serve == querying without the stopword at all
    val pruned = res(0.9)
    val withoutStop = TextOps.bm25Search(idx,
        Seq((100L, "apple")).toDF("doc_id", "text"), "doc_id", "text", k = 10)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(pruned == withoutStop,
      s"pruned $pruned != stopword-free $withoutStop")
    // default (1.0) still scores every doc: "the" matches all four
    assert(res(1.0).keySet == Set(1L, 2L, 3L, 4L))
    assert(pruned.keySet == Set(1L, 2L), "only apple docs after pruning")
  }

  test("bm25Merge: merged index == index built from scratch, exactly") {
    import spark.implicits._
    val a = Seq((1L, "apple banana cherry"), (2L, "apple apple banana"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "banana date"), (4L, "apple elderberry date fig"))
      .toDF("doc_id", "text")
    val merged = TextOps.bm25Merge(TextOps.bm25Index(a, "doc_id", "text"),
      b, "doc_id", "text")
    val scratch = TextOps.bm25Index(a.unionByName(b), "doc_id", "text")
    def post(i: TextOps.Bm25Index) = i.postings
      .select("key", "tok", "tf", "dl", "df").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(post(merged) == post(scratch))
    def st(i: TextOps.Bm25Index) = i.stats.collect()(0)
    assert(st(merged).getLong(0) == st(scratch).getLong(0))
    assert(math.abs(st(merged).getDouble(1) - st(scratch).getDouble(1)) < 1e-12)
    // and the df update is visible: "banana" df went 2 -> 3, "apple" 2 -> 3
    val dfs = merged.postings.select("tok", "df").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs("banana") == 3L && dfs("apple") == 3L && dfs("elderberry") == 1L)
    // redelivery guard: merging the SAME batch again changes nothing —
    // already-indexed ids are ignored first-seen style, so df never
    // inflates under at-least-once delivery
    val again = TextOps.bm25Merge(merged, b, "doc_id", "text")
    assert(post(again) == post(scratch), "re-merge must be a no-op")
    assert(st(again).getLong(0) == st(scratch).getLong(0))
  }

  test("v25 retrieval eval: 5 methods, sane MRR, dense finds its source") {
    val sf = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("v25_retrieval_eval")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val rows = run()
    assert(rows.map(_._1).toSeq ==
      Seq("bm25", "dense", "dense_ivf", "hybrid_bounded", "hybrid_rrf"))
    rows.foreach { case (m, nq, hits, mrr) =>
      assert(nq > 0 && hits <= nq, s"$m: hits $hits of $nq")
      assert(mrr >= 0.0 && mrr <= 1.0, s"$m: mrr $mrr")
    }
    // a 12-token verbatim chunk of the source doc must find it most of
    // the time on the dense leg (RagRetrievalSpec pins the rank-1 case)
    val dense = rows.find(_._1 == "dense").get
    assert(dense._4 >= 0.3, s"dense MRR ${dense._4} implausibly low")
    assert(rows.sameElements(run()), "v25 not deterministic")
  }

  test("rrfFuse: exact arithmetic, both-leg docs beat single-leg docs") {
    import spark.implicits._
    val legA = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L))
      .toDF("q_id", "rank", "key")
    val legB = Seq((1L, 1, 11L), (1L, 2, 13L))
      .toDF("q_id", "rank", "key")
    val fused = TextOps.rrfFuse(Seq(legA, legB), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // 11 is rank 2 in A and rank 1 in B: 1/62 + 1/61 — the only two-leg
    // doc, so it fuses first; then 10 (1/61), 13 (1/62), 12 (1/63)
    assert(fused.map(_._2).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(math.abs(fused.head._3 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(math.abs(fused(1)._3 - 1.0 / 61) < 1e-15)
    // ranks are dense 1..4
    assert(fused.map(_._1).toSeq == Seq(1, 2, 3, 4))
  }

  test("bm25Prune: every list bounded by P, survivors are top-P by impact") {
    val idx = TextOps.bm25Index(corpusDf, "doc_id", "text")
    val pruned = TextOps.bm25Prune(idx, maxPostingsPerTerm = 2)
    val perTok = pruned.postings.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTok.values.forall(_ <= 2), s"list over bound: $perTok")
    // hand-check "apple" (df=3: docs 1, 2, 5): impact ranks by the
    // saturated tf/dl trade — survivors must be the top-2 of the exact
    // standalone contributions, computed independently here
    val full = idx.postings.filter(col("tok") === "apple")
      .join(idx.stats)
      .withColumn("impact",
        log(lit(1.0) + (col("corpus_n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .collect().map(r => (r.getLong(r.fieldIndex("key")),
        r.getDouble(r.fieldIndex("impact"))))
    val wantTop2 = full.sortBy { case (key, imp) => (-imp, key) }
      .take(2).map(_._1).toSet
    val gotKeys = pruned.postings.filter(col("tok") === "apple")
      .select("key").collect().map(_.getLong(0)).toSet
    assert(gotKeys == wantTop2, s"got $gotKeys want $wantTop2")
    // surviving postings are byte-identical rows of the full index
    assert(pruned.postings.exceptAll(idx.postings).count() == 0)
  }

  test("two-stage serve on the fixture: bounded candidates, exact top-10") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = TextOps.bm25Index(
      docs.filter(col("doc_id") % 97 =!= 3), "doc_id", "text")
    val qs = docs.filter(col("doc_id") % 97 === 3)
    val pruned = TextOps.bm25Prune(full, maxPostingsPerTerm = 64)
    // stage-1 bound: no list exceeds P, so candidates/query <= |qterms|*P
    val maxList = pruned.postings.groupBy("tok").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxList <= 64, s"pruned list of $maxList exceeds P")
    // with full candidate coverage (measured 1.0 at P=64 here), exact
    // re-score of the candidates IS the exact top-10 — row-for-row
    val exact = TextOps.bm25Search(full, qs, "doc_id", "text", k = 10)
      .orderBy("q_id", "rank")
      .select("q_id", "rank", "key").collect().map(_.toSeq).toSeq
    val twoStage = TextOps.bm25SearchTwoStage(full, pruned, qs,
        "doc_id", "text", k = 10)
      .orderBy("q_id", "rank")
      .select("q_id", "rank", "key").collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty && twoStage == exact)
  }

  test("one-stage truncated serve ranks by partial sums (why stage 2 exists)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = TextOps.bm25Index(
      docs.filter(col("doc_id") % 97 =!= 3), "doc_id", "text")
    val qs = docs.filter(col("doc_id") % 97 === 3)
    val exact = TextOps.bm25Search(full, qs, "doc_id", "text", k = 10)
      .select("q_id", "key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneStage = TextOps.bm25Search(
        TextOps.bm25Prune(full, maxPostingsPerTerm = 256), qs,
        "doc_id", "text", k = 10)
      .select("q_id", "key", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // partial-sum scores never exceed the exact score for the same doc
    val exactScores = TextOps.bm25Search(full, qs, "doc_id", "text",
        k = Int.MaxValue)
      .select("q_id", "key", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    oneStage.foreach { case (qk, s) =>
      exactScores.get(qk).foreach(es =>
        assert(s <= es + 1e-9, s"$qk pruned $s > exact $es"))
    }
    // and on this stopword-dense corpus the ranking visibly degrades —
    // the documented reason the shipped serve is two-stage
    val overlap = oneStage.map(_._1).count(exact.contains).toDouble /
      oneStage.length
    assert(overlap < 0.9, f"unexpectedly high overlap $overlap%.2f — " +
      "revisit the two-stage rationale if the fixture corpus changed")
  }

  test("segmented: served scores == scratch index, bit-level") {
    import spark.implicits._
    val seg0 = corpusDf.filter(col("doc_id") <= 2)
    val seg1 = corpusDf.filter(col("doc_id") > 2)
    val segs = TextOps.bm25SegmentAppend(
      TextOps.bm25SegmentInit(seg0, "doc_id", "text"),
      seg1, "doc_id", "text", segId = 1)
    val qs = Seq((100L, "apple banana"), (101L, "elderberry date"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25SearchSegmented(segs, qs, "doc_id", "text", k = 10)
      .select("q_id", "key", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = TextOps.bm25Search(
        TextOps.bm25Index(corpusDf, "doc_id", "text"), qs,
        "doc_id", "text", k = 10)
      .select("q_id", "key", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (qk, s) =>
      assert(math.abs(s - want(qk)) < 1e-12, s"$qk: $s vs ${want(qk)}")
    }
    // the metadata rows carry exact corpus stats: Σn_docs, Σsum_dl
    val (n, sdl) = segs.segStats
      .agg(sum("n_docs"), sum("sum_dl")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(n == 5 && sdl == corpusDf.select(
      explode(TextOps.tokens(col("text")))).count())
  }

  test("segmented append: redelivered docs are first-seen-ignored") {
    val segs = TextOps.bm25SegmentInit(corpusDf, "doc_id", "text")
    val before = segs.postings.count()
    // the whole corpus redelivered as a new segment: nothing fresh
    val again = TextOps.bm25SegmentAppend(segs, corpusDf, "doc_id", "text",
      segId = 1)
    assert(again.postings.count() == before, "redelivery added postings")
    val emptySeg = again.segStats.filter(col("seg_id") === 1).collect()
    assert(emptySeg.length == 1 && emptySeg.head.getLong(1) == 0,
      "redelivered segment should carry n_docs = 0")
  }

  test("x51 segmented driver query equals x48 exact serve on the fixture") {
    val sf = "/root/testdata/sf0.001"
    val x48 = SparkEntry.queries("x48_bm25_topk")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val x51 = SparkEntry.queries("x51_bm25_segmented")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(x48.nonEmpty && x51 == x48)
  }

  test("term dictionary: global df exact through append and compact") {
    val seg0 = corpusDf.filter(col("doc_id") <= 2)
    val seg1 = corpusDf.filter(col("doc_id") > 2)
    val segs = TextOps.bm25SegmentAppend(
      TextOps.bm25SegmentInit(seg0, "doc_id", "text"),
      seg1, "doc_id", "text", segId = 1)
    def globalDf(td: org.apache.spark.sql.DataFrame): Map[String, Long] =
      td.groupBy("tok").agg(sum("df").as("df")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    val scratch = TextOps.bm25Index(corpusDf, "doc_id", "text").postings
      .select("tok", "df").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(globalDf(segs.termDf) == scratch)
    // compaction folds dictionary rows without changing the global sums
    val compact = TextOps.bm25SegmentCompact(segs, upTo = 1, into = 0)
    assert(globalDf(compact.termDf) == scratch)
    assert(compact.termDf.select("seg_id").distinct().count() == 1)
  }

  test("segmented pruned lists == bm25Prune of a scratch index") {
    val seg0 = corpusDf.filter(col("doc_id") <= 2)
    val seg1 = corpusDf.filter(col("doc_id") > 2)
    val segs = TextOps.bm25SegmentAppend(
      TextOps.bm25SegmentInit(seg0, "doc_id", "text"),
      seg1, "doc_id", "text", segId = 1)
    def lists(i: TextOps.Bm25Index) = i.postings
      .select("tok", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val fromSegs = TextOps.bm25PruneSegments(segs, maxPostingsPerTerm = 2)
    val fromScratch = TextOps.bm25Prune(
      TextOps.bm25Index(corpusDf, "doc_id", "text"), maxPostingsPerTerm = 2)
    assert(lists(fromSegs) == lists(fromScratch))
  }

  test("segmented two-stage serve == scratch two-stage, bit-level") {
    import spark.implicits._
    val seg0 = corpusDf.filter(col("doc_id") <= 2)
    val seg1 = corpusDf.filter(col("doc_id") > 2)
    val segs = TextOps.bm25SegmentAppend(
      TextOps.bm25SegmentInit(seg0, "doc_id", "text"),
      seg1, "doc_id", "text", segId = 1)
    val qs = Seq((100L, "apple banana"), (101L, "elderberry date"))
      .toDF("doc_id", "text")
    val idx = TextOps.bm25Index(corpusDf, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "key", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val got = rows(TextOps.bm25SearchSegmentedTwoStage(segs,
      TextOps.bm25PruneSegments(segs, maxPostingsPerTerm = 2),
      qs, "doc_id", "text", k = 10))
    val want = rows(TextOps.bm25SearchTwoStage(idx,
      TextOps.bm25Prune(idx, maxPostingsPerTerm = 2),
      qs, "doc_id", "text", k = 10))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("bm25PruneFrac: identity at frac=1, per-term ceil(frac*df) bound, top-impact survivors") {
    val idx = TextOps.bm25Index(corpusDf, "doc_id", "text")
    def lists(i: TextOps.Bm25Index) = i.postings
      .select("tok", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // frac = 1.0 → every posting survives
    assert(lists(TextOps.bm25PruneFrac(idx, 1.0, minPerTerm = 1)) ==
      lists(TextOps.Bm25Index(idx.postings, idx.stats)))
    // frac is a fraction of the CORPUS: at corpus_n = 5, frac = 0.5 →
    // per-term cap ceil(2.5) = 3, so the result must equal the fixed
    // P = 3 prune exactly (lists shorter than the cap survive whole)
    val half = TextOps.bm25PruneFrac(idx, 0.5, minPerTerm = 1)
    assert(lists(half) == lists(TextOps.bm25Prune(idx, 3)))
    val dfs = idx.postings.select("tok", "df").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    half.postings.groupBy("tok").agg(count(lit(1)).as("n")).collect()
      .foreach { r =>
        val (tok, n) = (r.getString(0), r.getLong(1))
        assert(n <= math.min(dfs(tok), 3L), s"$tok: $n of ${dfs(tok)}")
      }
    // minPerTerm floor: tiny frac → cap = max(2, ceil(tiny·n)) = 2
    val floored = TextOps.bm25PruneFrac(idx, 0.001, minPerTerm = 2)
    assert(lists(floored) == lists(TextOps.bm25Prune(idx, 2)))
    // segments variant agrees with the scratch variant
    val segs = TextOps.bm25SegmentAppend(
      TextOps.bm25SegmentInit(corpusDf.filter(col("doc_id") <= 2),
        "doc_id", "text"),
      corpusDf.filter(col("doc_id") > 2), "doc_id", "text", segId = 1)
    assert(lists(TextOps.bm25PruneSegmentsFrac(segs, 0.5, minPerTerm = 1)) ==
      lists(half))
  }

  test("x52 driver query equals x50 two-stage serve on the fixture") {
    val sf = "/root/testdata/sf0.001"
    val x50 = SparkEntry.queries("x50_bm25_pruned")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val x52 = SparkEntry.queries("x52_bm25_seg2stage")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(x50.nonEmpty && x52 == x50)
  }
}
