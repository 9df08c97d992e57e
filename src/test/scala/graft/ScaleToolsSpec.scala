package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

/** The scale toolbox works and does what SCALING.md claims: salted joins
  * preserve join semantics while spreading hot keys; bucketed tables
  * co-locate joins (no Exchange above the scan). */
class ScaleToolsSpec extends AnyFunSuite with SharedSpark {
  override protected def suiteConf = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("salted join returns exactly the rows of the plain join") {
    import spark.implicits._
    // heavily skewed fact: 90% of rows share key 1
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) i % 7 else 1, s"row$i"))
      .toDF("k", "payload")
    val dim = (0 to 6).map(i => (i, s"dim$i")).toDF("k", "label")
    val plain = fact.join(dim, "k").select("k", "payload", "label")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", buckets = 8)
      .select("k", "payload", "label").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("bucketed tables join without a shuffle (co-located sort-merge)") {
    import spark.implicits._
    // uses the default ./spark-warehouse dir (warehouse.dir is a static
    // conf; the artifacts are gitignored)
    val a = (1 to 500).map(i => (i.toLong % 50, s"a$i")).toDF("k", "va")
    val b = (1 to 300).map(i => (i.toLong % 50, s"b$i")).toDF("k", "vb")
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bk_b")
    val joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"),
      s"bucketed join should not shuffle, got:\n$plan")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
  }
}
