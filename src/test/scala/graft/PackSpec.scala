package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Pack

/** Sequence-packing semantics: hand-computed next-fit traces + the
  * invariants every packing must satisfy. */
class PackSpec extends AnyFunSuite with SharedSpark {
  test("hand trace: next-fit in id order, oversized doc isolated") {
    import spark.implicits._
    // budget 10; id order sizes: 4, 5, 3, 12, 2 →
    // bin0 [4,5]=9, bin1 [3]=3+... 3 then 12 doesn't fit (3+12>10) →
    // bin2 [12] oversized alone, bin3 [2]
    val docs = Seq(
      ("g", 1L, 4), ("g", 2L, 5), ("g", 3L, 3), ("g", 4L, 12), ("g", 5L, 2))
      .toDF("lang", "doc_id", "n")
    val got = Pack.packSequences(docs, "lang", "doc_id", "n", budget = 10)
      .collect().map(p => p.doc_id -> (p.bin, p.bin_fill)).toMap
    assert(got == Map(
      1L -> (0, 4), 2L -> (0, 9), 3L -> (1, 3), 4L -> (2, 12), 5L -> (3, 2)))
  }

  test("invariants on the documents fixture: coverage, budget, dense bins") {
    val budget = 500
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("lang"), col("doc_id"),
        graft.ext.TextOps.tokenCount(col("text")).as("n_tokens"))
    val packed = Pack.packSequences(docs, "lang", "doc_id", "n_tokens", budget)
      .collect()

    // every doc exactly once
    assert(packed.map(_.doc_id).distinct.length == packed.length)
    assert(packed.length == docs.count())

    val byBin = packed.groupBy(p => (p.group, p.bin))
    byBin.foreach { case ((g, b), ds) =>
      val total = ds.map(_.n_tokens).sum
      // fills respect the budget unless the bin is a single oversized doc
      assert(total <= budget || (ds.length == 1 && ds.head.n_tokens > budget),
        s"bin ($g, $b) overfilled: $total")
      // bin_fill is the running sum in doc-id order
      val sorted = ds.sortBy(_.doc_id)
      assert(sorted.last.bin_fill == total)
    }
    // bin ids are dense 0..max per group
    packed.groupBy(_.group).foreach { case (g, ds) =>
      val bins = ds.map(_.bin).distinct.sorted
      assert(bins.toSeq == (0 to bins.max).toSeq,
        s"group $g bins not dense: ${bins.toList}")
    }
    // packing efficiency: next-fit over many small docs should waste
    // little — mean fill of non-final, non-oversized bins > 50% budget
    val fills = byBin.collect {
      case ((g, b), ds) if ds.forall(_.n_tokens <= budget) &&
        b < packed.filter(_.group == g).map(_.bin).max =>
        ds.map(_.n_tokens).sum
    }
    if (fills.nonEmpty)
      assert(fills.sum.toDouble / fills.size > budget * 0.5)
  }

  test("determinism: same input → identical assignment across runs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("lang"), col("doc_id"),
        graft.ext.TextOps.tokenCount(col("text")).as("n_tokens"))
    def run() = Pack.packSequences(docs, "lang", "doc_id", "n_tokens", 500)
      .collect().map(p => (p.group, p.doc_id, p.bin, p.bin_fill)).toSet
    assert(run() == run())
  }
}
