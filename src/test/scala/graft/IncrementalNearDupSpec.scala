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
}
