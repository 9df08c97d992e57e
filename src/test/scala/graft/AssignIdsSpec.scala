package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** Contiguous global-id assignment without a global sort
  * (TextOps.assignGlobalIds; query x46_assign_ids). */
class AssignIdsSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf).select("doc_id", "lang")

  test("bijective and contiguous from start") {
    val n = docs.count()
    val out = TextOps.assignGlobalIds(docs, "doc_id", nBuckets = 32,
      start = 1000L)
    assert(out.count() == n)
    assert(out.select("new_id").distinct().count() == n, "ids must be unique")
    val mm = out.agg(min("new_id"), max("new_id")).collect()(0)
    assert(mm.getLong(0) == 1000L && mm.getLong(1) == 1000L + n - 1,
      "ids must be dense in [start, start+n)")
  }

  test("ids are independent of the input partitioning (re-run stable)") {
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextOps.assignGlobalIds(df, "doc_id", nBuckets = 32, start = 0L)
        .select("doc_id", "new_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = ids(docs)
    val b = ids(docs.repartition(17, col("lang")))
    val c = ids(docs.coalesce(1))
    assert(a == b && a == c,
      "ids must depend on the rows, not the partition layout")
  }

  test("no single-partition corpus stage: the only window is bucket-keyed") {
    val plan = TextOps.assignGlobalIds(docs, "doc_id", nBuckets = 32)
      .queryExecution.executedPlan.toString
    // the corpus-side window must partition by the bucket; a naive global
    // row_number would show a Window with no partitionBy over the scan
    assert(plan.contains("hashpartitioning(__bkt"),
      s"expected bucket-keyed corpus window:\n$plan")
    // the only SinglePartition exchange allowed is the tiny (<= nBuckets
    // rows) offset prefix-sum subtree, which sits under the broadcast
    val single = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(single <= 1, s"unexpected single-partition stages:\n$plan")
  }
}
