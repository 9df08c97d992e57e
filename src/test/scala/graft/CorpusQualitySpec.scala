package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Corpus-quality operators added in round 4: unigram-LM perplexity
  * scoring (TextOps.unigramLm/perplexity; x39), sliding-window chunking
  * (TextOps.chunkSliding; x40), doc-frequency boilerplate removal
  * (Dedup.boilerplateRemove; x41) and the per-key quota cap
  * (TextOps.capPerKey; x42). */
class CorpusQualitySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  // ---- unigram LM / perplexity ----

  test("unigramLm: exact add-one probabilities and OOV mass on a hand corpus") {
    // corpus: a a a b | b c a  →  a:4 b:2 c:1, N=7; vocab top-2 = {a, b}
    val df = Seq((1L, "a a a b"), (2L, "b c a")).toDF("id", "text")
    val m = TextOps.unigramLm(df, "text", vocabSize = 2).collect()(0)
    val vmap = m.getMap[String, Double](0)
    val denom = 7.0 + 2 + 1 // N + V + 1
    assert(math.abs(vmap("a") - math.log(5 / denom)) < 1e-12) // c=4
    assert(math.abs(vmap("b") - math.log(3 / denom)) < 1e-12) // c=2
    assert(!vmap.contains("c"), "c must fall out of the top-2 vocab")
    assert(math.abs(m.getDouble(1) - math.log(1 / denom)) < 1e-12, "oov_lp")
  }

  test("unigramLm: vocab tie-break is deterministic (count desc, token asc)") {
    // b and c tie at 2; top-2 after a(3) is b (token order)
    val df = Seq((1L, "a a a b b c c")).toDF("id", "text")
    val vmap = TextOps.unigramLm(df, "text", vocabSize = 2)
      .collect()(0).getMap[String, Double](0)
    assert(vmap.keySet == Set("a", "b"))
  }

  test("perplexity: in-distribution docs score below OOV-heavy docs") {
    val m = TextOps.unigramLm(docs, "text", vocabSize = 24)
    val scored = TextOps.perplexity(docs, "doc_id", "text", m)
    assert(scored.count() == docs.count())
    // a doc made of the single most frequent token must beat (lower ppl)
    // a doc of pure OOV garbage — score synthetic probes through the
    // same corpus-trained model
    val top = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .limit(1).collect()(0).getString(0)
    val probes = Seq((1L, Seq.fill(8)(top).mkString(" ")),
      (2L, "zzq1 zzq2 zzq3 zzq4 zzq5 zzq6 zzq7 zzq8")).toDF("doc_id", "text")
    val p = TextOps.perplexity(probes, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(p(1L) < p(2L), s"common-token ppl ${p(1L)} !< OOV ppl ${p(2L)}")
    // OOV doc's cross-entropy IS -oov_lp exactly
    val oovLp = m.collect()(0).getDouble(1)
    val ce2 = TextOps.perplexity(probes.filter($"doc_id" === 2L),
      "doc_id", "text", m).collect()(0).getDouble(2)
    assert(math.abs(ce2 - (-oovLp)) < 1e-6)
  }

  test("perplexity scoring pass is shuffle-free once the model is built") {
    val m = TextOps.unigramLm(docs, "text", vocabSize = 24)
      .persist()
    m.count() // materialize: the scoring plan below reads the cache
    // the string form still prints the cached model's build lineage;
    // walk the TREE instead — InMemoryTableScan is a leaf there, so any
    // ShuffleExchange found belongs to the scoring pass itself
    val shuffles = TextOps.perplexity(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty, s"scoring shuffles: $shuffles")
    m.unpersist()
  }

  // ---- bigram LM ----

  test("bigramLm: exact MLE ratios and top-M truncation on a hand corpus") {
    // "a b a b a c": bigrams = ab, ba, ab, ba, ac → histories a:3 b:2
    val df = Seq((1L, "a b a b a c")).toDF("id", "text")
    val m = TextOps.bigramLm(df, "text", vocabSize = 8, nBigrams = 2)
      .collect()(0)
    val bmap = m.getMap[String, scala.collection.Map[String, Double]](0)
    // top-2 by (count desc, pair asc): (a,b)×2, (b,a)×2; (a,c)×1 cut
    assert(bmap.keySet == Set("a", "b"))
    assert(bmap("a").keySet == Set("b") && bmap("b").keySet == Set("a"))
    assert(math.abs(bmap("a")("b") - 2.0 / 3) < 1e-12) // c(a b)=2, hist a=3
    assert(math.abs(bmap("b")("a") - 2.0 / 2) < 1e-12) // c(b a)=2, hist b=2
  }

  test("bigram ppl separates token ORDER where the unigram cannot") {
    // two probes, identical bag of tokens → identical unigram ce; the
    // coherent one follows corpus bigrams, the shuffled one breaks them
    val train = Seq((1L, "a b a b a b a b"), (2L, "a b a b")).toDF("id", "text")
    val m2 = TextOps.bigramLm(train, "text", vocabSize = 8, nBigrams = 8)
    val m1 = TextOps.unigramLm(train, "text", vocabSize = 8)
    val probes = Seq((10L, "a b a b a b"), (11L, "b b b a a a"))
      .toDF("doc_id", "text")
    val bi = TextOps.perplexityBigram(probes, "doc_id", "text", m2, 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val uni = TextOps.perplexity(probes, "doc_id", "text", m1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(uni(10L) - uni(11L)) < 1e-9,
      "unigram must tie on a permuted bag")
    assert(bi(10L) < bi(11L),
      s"bigram must prefer coherent order: ${bi(10L)} !< ${bi(11L)}")
  }

  test("bigram scoring pass is shuffle-free once the model is built") {
    val m = TextOps.bigramLm(docs, "text", vocabSize = 24, nBigrams = 256)
      .persist()
    m.count()
    val shuffles = TextOps.perplexityBigram(docs, "doc_id", "text", m, 0.7)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty, s"scoring shuffles: $shuffles")
    m.unpersist()
  }

  test("native bigram scoring == composable perplexityBigram, bit-for-bit") {
    // full fixture parity: the fused BigramScore expression (driver-held
    // model, hash-map probes) must reproduce the interpreted aggregate
    // fold EXACTLY — same fold order, same constants, StrictMath.log
    val m = TextOps.bigramLm(docs, "text", vocabSize = 24, nBigrams = 256)
      .persist()
    m.count()
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val composable = collect(
      TextOps.perplexityBigram(docs, "doc_id", "text", m, 0.7))
    val native = collect(
      TextOps.perplexityBigramNative(docs, "doc_id", "text", m, 0.7))
    assert(native.keySet == composable.keySet)
    native.foreach { case (id, v) =>
      assert(v == composable(id), s"doc $id: native $v != ${composable(id)}")
    }
    m.unpersist()
    // and on a hand corpus with OOV + unseen-history positions
    val train = Seq((1L, "a b a b a b a b"), (2L, "a b c")).toDF("id", "text")
    val m2 = TextOps.bigramLm(train, "text", vocabSize = 2, nBigrams = 4)
    val probes = Seq((10L, "a b z a"), (11L, "z z z")).toDF("doc_id", "text")
    val c2 = collect(TextOps.perplexityBigram(probes, "doc_id", "text", m2, 0.7))
    val n2 = collect(TextOps.perplexityBigramNative(probes, "doc_id", "text", m2, 0.7))
    assert(n2 == c2)
  }

  test("native bigram scoring pass is shuffle-free and model-join-free") {
    val m = TextOps.bigramLm(docs, "text", vocabSize = 24, nBigrams = 256)
      .persist()
    m.count()
    val plan = TextOps.perplexityBigramNative(docs, "doc_id", "text", m, 0.7)
      .queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"scoring shuffles: $shuffles")
    // the model rides inside the expression — no join of any kind remains
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(joins.isEmpty, s"model join in the native scoring plan: $joins")
    m.unpersist()
  }

  // ---- sliding-window chunking ----

  test("chunkSliding: window arithmetic at the edges") {
    def chunksOf(n: Int): Array[(Int, Int, Int)] = {
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      TextOps.chunkSliding(Seq((1L, text)).toDF("id", "text"),
          "id", "text", w = 12, s = 8)
        .orderBy("chunk_id")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3)))
    }
    assert(chunksOf(5).toSeq == Seq((0, 0, 5)))     // n < w: one short chunk
    assert(chunksOf(12).toSeq == Seq((0, 0, 12)))   // n = w: exactly one
    assert(chunksOf(13).toSeq == Seq((0, 0, 12), (1, 8, 5))) // first overflow
    val c20 = chunksOf(20).toSeq                    // covered by 2, not 3
    assert(c20 == Seq((0, 0, 12), (1, 8, 12)), s"redundant tail: $c20")
  }

  test("chunkSliding: every token covered, chunk text matches slices") {
    val text = (1 to 30).map(i => s"t$i").mkString(" ")
    val ch = TextOps.chunkSliding(Seq((1L, text)).toDF("id", "text"),
        "id", "text", w = 12, s = 8)
      .orderBy("chunk_id").collect()
    val toks = text.split(" ")
    ch.foreach { r =>
      val (start, nt, chunk) = (r.getInt(2), r.getInt(3), r.getString(4))
      assert(chunk == toks.slice(start, start + 12).mkString(" "))
      assert(nt == math.min(12, 30 - start))
    }
    // coverage: union of [start, start+w) spans all 30 positions
    val covered = ch.flatMap(r => r.getInt(2) until (r.getInt(2) + 12)).toSet
    assert((0 until 30).forall(covered))
  }

  test("chunkSliding on the fixture: zero-shuffle plan, conservation") {
    val q = SparkEntry.queries("x40_chunk_sliding")(spark, sf)
    // orderBy adds the final sort exchange; gate the unsorted op itself
    val p = TextOps.chunkSliding(docs, "doc_id", "text", 12, 8)
      .queryExecution.executedPlan.toString
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).isEmpty,
      s"chunking shuffles:\n$p")
    // distinct docs preserved
    assert(q.select("doc_id").distinct().count() == docs.count())
  }

  // ---- boilerplate removal ----

  test("boilerplateRemove: planted boilerplate cut everywhere, content kept") {
    val bp = (1 to 10).map(i => s"b$i").mkString(" ") // one 10-token segment
    def uniq(d: Int) = (1 to 10).map(i => s"u${d}_$i").mkString(" ")
    val df = Seq(
      (1L, s"$bp ${uniq(1)}"), // boilerplate + unique
      (2L, s"${uniq(2)} $bp"), // unique + boilerplate
      (3L, bp),                // all boilerplate → survives empty
      (4L, uniq(4))            // untouched
    ).toDF("id", "text")
    val out = Dedup.boilerplateRemove(df, "id", "text", segTokens = 10,
        minDf = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, uniq(1), 1L, 1L)))
    assert(out(1) == ((2L, uniq(2), 1L, 1L)))
    assert(out(2) == ((3L, "", 0L, 1L)), "all-boilerplate doc must survive")
    assert(out(3) == ((4L, uniq(4), 1L, 0L)))
  }

  test("boilerplateRemove: segment accounting conserved on the fixture") {
    val out = Dedup.boilerplateRemove(docs, "doc_id", "text", 10, 2)
    assert(out.count() == docs.count(), "every doc must survive")
    // n_kept + n_removed = total segments of the doc
    val bad = out.join(
        docs.select(col("doc_id"),
          (floor((size(TextOps.tokens(col("text"))) - 1) / 10) + 1)
            .cast("long").as("n_segs")), "doc_id")
      .filter(col("n_kept") + col("n_removed") =!= col("n_segs"))
    assert(bad.count() == 0)
    // removal must actually fire on the fixture (135 df>=2 segments)
    assert(out.filter(col("n_removed") > 0).count() > 0)
  }

  // ---- within-doc repeated-segment removal ----

  test("intraDocDedup: planted intra-doc repeats removed, order kept") {
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val df = Seq(
      (1L, s"$a $b $a"),     // echo of segment a → dropped, order a b
      (2L, s"$a $a $a $b"),  // triple echo
      (3L, s"$a $b")         // clean doc untouched
    ).toDF("id", "text")
    val out = Dedup.intraDocDedup(df, "id", "text", segTokens = 10)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, s"$a $b", 2L, 1L)))
    assert(out(1) == ((2L, s"$a $b", 2L, 2L)))
    assert(out(2) == ((3L, s"$a $b", 2L, 0L)))
    // cross-doc repeats must NOT be touched (docs 1 and 3 share a, b)
  }

  test("intraDocDedup: zero-shuffle plan, every doc survives, idempotent") {
    val op = Dedup.intraDocDedup(docs, "doc_id", "text", 10)
    val shuffles = op.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"intra-doc dedup shuffles: $shuffles")
    assert(op.count() == docs.count())
    // applying the op to its own output removes nothing further
    val again = Dedup.intraDocDedup(
      op.select(col("doc_id"), col("text_clean").as("text")),
      "doc_id", "text", 10)
    assert(again.filter(col("n_removed") > 0).count() == 0)
  }

  // ---- per-key cap ----

  test("capPerKey: cap respected, deterministic, rows are a subset") {
    val capped = TextOps.capPerKey(docs, "source", "doc_id", n = 10)
    val sizes = capped.groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 10) && sizes.forall(_ == 10),
      "every fixture source has 25 docs; all must cap at exactly 10")
    assert(capped.count() == 200) // 20 sources × 10
    val again = TextOps.capPerKey(docs, "source", "doc_id", n = 10)
      .select("doc_id")
    assert(capped.select("doc_id").except(again).count() == 0)
    // a capped pick is NOT the head of the file: doc_ids 0..9 of a
    // source would be the naive head; md5 order must differ for at
    // least one source
    val heads = docs.withColumn("rk0", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy("doc_id"))).filter(col("rk0") <= 10).select("doc_id")
    assert(capped.select("doc_id").except(heads).count() > 0)
  }

  test("capPerKey: an id listed under TWO keys wins or loses per key independently") {
    // ids need not be globally unique (the winner join keys on
    // (key, id), not id alone): the same doc under two sources must
    // cap within each source like the window form did
    val spark2 = spark
    import spark2.implicits._
    val two = (0L until 30L).map(i => ("srcA", i)) ++
      (0L until 30L).map(i => ("srcB", i)) // every id under BOTH keys
    val df = two.toDF("source", "doc_id")
    val capped = TextOps.capPerKey(df, "source", "doc_id", n = 5)
    val perKey = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey == Map("srcA" -> 5L, "srcB" -> 5L), s"got $perKey")
    // md5 order is id-driven, so both keys pick the SAME ids — but each
    // row carries its own key and exactly one rk per (key, id)
    assert(capped.count() == 10)
    assert(capped.select("doc_id").distinct().count() == 5)
  }
}
