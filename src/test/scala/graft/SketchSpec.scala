package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch aggregates (g12) have no SQL oracle — the approximation is
  * engine-specific — so this spec bounds their error against the exact
  * answers on the fixture. HLL++ at default rsd=0.05 and KLL at
  * accuracy=1000 should land well inside these tolerances. */
class SketchSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5x rsd of exact per group") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.25,
        s"group $k: approx $a vs exact $n")
    }
  }

  test("percentile_approx within 2% of exact median per group") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy("l_returnflag")
      .agg(expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice").cast("double"), lit(0.5), lit(1000)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, m) =>
      assert(math.abs(approx(k) - m) / m <= 0.02,
        s"group $k: approx ${approx(k)} vs exact $m")
    }
  }

  test("sketch aggregates run partial+final (mergeable across partitions)") {
    val p = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey")),
        percentile_approx(col("l_extendedprice").cast("double"), lit(0.5), lit(1000)))
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_"), "sketches must map-side combine")
  }
}
