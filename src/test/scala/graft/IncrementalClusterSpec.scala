package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Incremental cluster maintenance ([[Dedup.incrementalClusters]] —
  * x56): component contraction must reproduce a scratch
  * [[Dedup.duplicateClusters]] over the full edge union — committed
  * components merging with each other, new docs bridging two committed
  * clusters, new-doc-only chains — and replayed edges must be a no-op. */
class IncrementalClusterSpec extends AnyFunSuite with SharedSpark {
  private def table(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("planted shapes: bridge merges two committed clusters, new chain, untouched passthrough") {
    import spark.implicits._
    // committed: {1,2,3} (root 1), {10,11} (root 10), {20,21} (root 20)
    val assigned = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (20L, 20L), (21L, 20L)).toDF("id", "cluster_id")
    // new doc 30 BRIDGES clusters 1 and 10; new chain 40-41 stands
    // alone; cluster 20 is untouched
    val newEdges = Seq((3L, 30L), (30L, 11L), (40L, 41L))
      .toDF("id1", "id2")
    val got = table(Dedup.incrementalClusters(assigned, newEdges))
    assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 30L -> 1L, // merged component takes the global min root
      20L -> 20L, 21L -> 20L, // untouched rows pass through
      40L -> 40L, 41L -> 40L)) // new-doc-only chain
  }

  test("replayed edges are a no-op (contraction to self-loops)") {
    import spark.implicits._
    val assigned = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    // both edges are inside the committed component
    val replay = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    assert(table(Dedup.incrementalClusters(assigned, replay)) ==
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incremental == scratch over the full union (real corpus chain edges)") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    def chains(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source").orderBy("doc_id")
      df.withColumn("prev", lag("doc_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id1"), col("doc_id").as("id2"))
    }
    val assigned = Dedup.duplicateClusters(
      chains(docs.filter(col("doc_id") % 4 =!= 0)))
    val newEdges = chains(docs)
      .filter(col("id1") % 4 === 0 || col("id2") % 4 === 0)
    val inc = table(Dedup.incrementalClusters(assigned, newEdges))
    val scratch = table(Dedup.duplicateClusters(chains(docs)))
    assert(inc == scratch)
    assert(inc.nonEmpty)
  }
}
