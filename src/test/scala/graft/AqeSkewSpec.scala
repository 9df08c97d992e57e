package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime skew handling (SCALING.md): AQE must detect a hot join key at
  * execution time and split its partition — the mechanism the engine
  * relies on before reaching for explicit salting (`ops/Skew.saltedJoin`
  * is the deterministic fallback). Thresholds are scaled down so the
  * fixture-size hot partition crosses them; the assertion reads the
  * finalized adaptive plan, which marks split joins with `skew=true`. */
class AqeSkewSpec extends AnyFunSuite with SharedSpark {
  test("AQE splits the hot key's partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // scaled to fixture size: a partition is "skewed" past 64 KB…
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // …and splits into ~32 KB chunks
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withSQLConf(confs: _*) {
      // 50k fact rows, 90% on key 0 (with padding so bytes, not rows,
      // make the partition hot), vs a 100-key dim
      val fact = spark.range(50000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 100).as("k"),
          concat_ws("", Seq.fill(4)(md5(col("id").cast("string"))): _*).as("pad"))
      val dim = spark.range(100).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val joined = fact.join(dim.hint("merge"), "k")
      // execute THIS DataFrame's own QueryExecution — AQE only finalizes
      // (and marks skew splits) on the plan that actually ran
      assert(joined.collect().length == 50000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have marked the hot partition as skew-split:\n$finalPlan")
    }
  }
}
