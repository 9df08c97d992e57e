package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, TextOps}

/** Incremental near-dup dedup (Dedup.incrementalNearDup; query
  * x45_incremental_neardup): a new batch against the corpus's maintained
  * (id, minhash) signature index. */
class IncrementalNearDupSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def shingled(df: DataFrame): DataFrame = df
    .withColumn("toks", TextOps.tokens(col("text")))
    .select(col("id"), TextOps.shingles(col("toks"), 3).as("sh"))

  private def sigsOf(df: DataFrame): DataFrame =
    Dedup.withMinHash(shingled(df), "sh", k = 32)
      .select(col("id"), col("minhash"))

  // distinct-vocabulary sentences so cross-doc jaccard is 0 unless planted
  private def sent(p: String) = (1 to 20).map(i => s"${p}w$i").mkString(" ")

  test("batch members near-dup of the index drop; novel ones survive") {
    val corpus = Seq((1L, sent("a")), (2L, sent("b"))).toDF("id", "text")
    val batch = Seq(
      (10L, sent("a")),                         // exact twin of corpus 1
      (11L, sent("b").replace("bw7", "zz")),    // near-dup of corpus 2
      (12L, sent("c"))                          // novel
    ).toDF("id", "text")
    val out = Dedup.incrementalNearDup(sigsOf(corpus), shingled(batch),
      "id", "sh", k = 32, bands = 16, threshold = 0.25)
    assert(out.select("id").as[Long].collect().toSet == Set(12L))
  }

  test("within-batch twins: first survives, later drops; no corpus needed") {
    val corpus = Seq((1L, sent("x"))).toDF("id", "text")
    val batch = Seq(
      (10L, sent("q")),
      (11L, sent("q")),                         // twin of 10 → drops
      (12L, sent("r"))
    ).toDF("id", "text")
    val out = Dedup.incrementalNearDup(sigsOf(corpus), shingled(batch),
      "id", "sh", k = 32, bands = 16, threshold = 0.25)
    assert(out.select("id").as[Long].collect().toSet == Set(10L, 12L))
  }

  test("idempotence: re-running the batch against the UPDATED index drops all") {
    val corpus = Seq((1L, sent("a"))).toDF("id", "text")
    val batch = Seq((10L, sent("b")), (11L, sent("c"))).toDF("id", "text")
    val survivors = Dedup.incrementalNearDup(sigsOf(corpus), shingled(batch),
      "id", "sh", k = 32, bands = 16, threshold = 0.25)
    assert(survivors.count() == 2)
    // append survivors to the index (the maintained-artifact move), then
    // replay the same batch: every member must now be a near-dup
    val updated = sigsOf(corpus).union(survivors)
    val replay = Dedup.incrementalNearDup(updated, shingled(batch),
      "id", "sh", k = 32, bands = 16, threshold = 0.25)
    assert(replay.count() == 0, "replayed batch must fully dedup")
  }

  test("survivors carry signatures identical to signing them directly") {
    val corpus = Seq((1L, sent("a"))).toDF("id", "text")
    val batch = Seq((10L, sent("n"))).toDF("id", "text")
    val out = Dedup.incrementalNearDup(sigsOf(corpus), shingled(batch),
      "id", "sh", k = 32, bands = 16, threshold = 0.25)
    val direct = sigsOf(batch)
    assert(out.join(direct, "id")
      .filter(out("minhash") =!= direct("minhash")).count() == 0)
  }

  // The cap fixture (maxBucketSize 5, every copy of a text shares all 16
  // band buckets): X has 5 index + 2 batch copies, so its index buckets
  // hold n = 7 > 5 while its twin pass counts 2·na = 4 ≤ 5 — only the
  // twin cap keeps. Y has 1 index + 3 batch copies: n = 4 ≤ 5 but
  // 2·na = 6 > 5 — only the index cap keeps. Batch id 100 and 101 also
  // occur in the index (101 with the same text, 100 with another); the
  // two short docs have no 3-shingle, so a null signature.
  private val capIndex = Seq(1L, 2L, 3L, 4L, 5L).map(_ -> sent("x")) ++ Seq(
    6L -> sent("y"), 7L -> sent("i"), 100L -> sent("j"), 101L -> sent("v"))
  private val capBatch = Seq(10L, 11L).map(_ -> sent("x")) ++
    Seq(30L, 31L, 32L).map(_ -> sent("y")) ++
    Seq(20L, 21L, 22L).map(_ -> sent("z")) ++ Seq(
      100L -> sent("u"), 101L -> sent("v"), 40L -> "too short", 41L -> "too short")

  private def survivorRows(df: DataFrame): Set[(Long, Option[Seq[Long]])] =
    df.select("id", "minhash").collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toSet

  test("one band pass == the two-pass reference on capped, id-clashing and null-signature fixtures") {
    val index = sigsOf(capIndex.toDF("id", "text"))
    val batch = shingled(capBatch.toDF("id", "text"))
    assert(Dedup.withMinHash(batch, "sh", 32).filter(col("minhash").isNull)
      .select("id").as[Long].collect().toSet == Set(40L, 41L))
    val survivors = Seq(1, 3, 4, 5, 6, 7, 14, 10000).map { cap =>
      val fused = Dedup.incrementalNearDup(index, batch,
        "id", "sh", k = 32, bands = 16, threshold = 0.25, maxBucketSize = cap)
      val twoPass = IncrementalNearDupSpec.twoPassNearDup(index, batch,
        "id", "sh", k = 32, bands = 16, threshold = 0.25, maxBucketSize = cap)
      val rows = survivorRows(fused)
      assert(rows == survivorRows(twoPass), s"maxBucketSize $cap")
      cap -> rows.map(_._1)
    }.toMap
    val always = Set(20L, 100L, 40L, 41L)
    // X: index bucket dropped, twin kept; Y: index kept, twin dropped
    assert(survivors(5) == always ++ Set(10L, 21L, 22L))
    // nothing capped: X and Y hit the index, Z keeps its first copy
    assert(survivors(10000) == always)
  }
}

object IncrementalNearDupSpec {
  /** The incremental near-dup path as it was before the one-pass kernel,
    * verbatim: [[bandedPairs]] twice (batch×index, batch×batch) with the
    * same caps, the reference the fused form must match. */
  def twoPassNearDup(corpusSigs: DataFrame, batch: DataFrame,
                     idCol: String, shingleCol: String,
                     k: Int, bands: Int, threshold: Double,
                     maxBucketSize: Int): DataFrame = {
    val batchSigs = Dedup.withMinHash(batch, shingleCol, k)
      .select(col(idCol), col("minhash")).persist()
    val vsCorpus = bandedPairs(batchSigs, corpusSigs, idCol, k, bands,
        maxBucketSize)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a").as(idCol))
    val laterTwins = bandedPairs(batchSigs, batchSigs, idCol, k, bands,
        maxBucketSize)
      .filter(col("id_a") < col("id_b") && col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol))
    val survivors = batchSigs
      .join(vsCorpus.union(laterTwins).distinct(), Seq(idCol), "left_anti")
      .localCheckpoint()
    batchSigs.unpersist()
    survivors
  }

  /** Banded A×B candidate pairs between two prebuilt `(id, minhash)`
    * tables with the combined-occupancy cap, verbatim from before the
    * one-pass kernel. Returns (id_a, id_b, est_jaccard). */
  def bandedPairs(signedA: DataFrame, signedB: DataFrame,
                  idCol: String, k: Int, bands: Int,
                  maxBucketSize: Int): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands ($bands) must evenly divide signature length k ($k)")
    val rows = k / bands
    val bA = Dedup.lshBands(signedA, idCol, bands, rows)
    val bB = Dedup.lshBands(signedB, idCol, bands, rows)
    val cA = bA.groupBy("band", "band_hash").agg(count(lit(1)).as("na"))
    val cB = bB.groupBy("band", "band_hash").agg(count(lit(1)).as("nb"))
    val keep = cA.join(cB, Seq("band", "band_hash"))
      .filter(col("na") + col("nb") <= maxBucketSize)
      .select("band", "band_hash")
    val pairs = bA.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      .join(keep, Seq("band", "band_hash"))
      .join(bB.select(col(idCol).as("id_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(signedA.select(col(idCol).as("id_a"), col("minhash").as("sig_a")), "id_a")
      .join(signedB.select(col(idCol).as("id_b"), col("minhash").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        graft.functions.SigAgree.sig_agree(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .select("id_a", "id_b", "est_jaccard")
  }
}
