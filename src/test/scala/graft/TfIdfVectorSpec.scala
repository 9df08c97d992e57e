package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Similarity, TextOps}

/** The text→vector bridge end-to-end: hashed TF-IDF components →
  * assembled dense vectors → cosine top-k. A document's vector must rank
  * itself first, and a planted near-duplicate must outrank unrelated
  * docs. */
class TfIdfVectorSpec extends AnyFunSuite with SharedSpark {
  private val Dim = 32

  private def vectors(docs: org.apache.spark.sql.DataFrame) =
    TextOps.assembleVector(
      TextOps.hashedTfIdf(docs, "doc_id", "text", Dim), "doc_id", Dim)

  test("assembled vectors have dim components and self-similarity 1") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val vecs = vectors(docs)
    val first = vecs.select($"vec").head.getSeq[Double](0)
    assert(first.length == Dim)
    val q = vecs.filter($"doc_id" < 5).select($"doc_id".as("q_id"), $"vec")
    val top1 = Similarity.bruteForceTopK(q, vecs, "q_id", "doc_id", "vec", k = 1)
      .collect()
    assert(top1.length == 5)
    top1.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("planted near-duplicate outranks unrelated documents") {
    import spark.implicits._
    val rnd = new Random(7)
    val vocab = Vector.tabulate(300)(i => s"tok$i")
    def doc() = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = doc()
    val nearDup = base.split(" ")
      .map(t => if (rnd.nextDouble() < 0.1) vocab(rnd.nextInt(vocab.size)) else t)
      .mkString(" ")
    val corpus = (Seq((0L, base), (1L, nearDup)) ++
      (2L to 20L).map(i => (i, doc()))).toDF("doc_id", "text")
    val vecs = vectors(corpus)
    val q = vecs.filter($"doc_id" === 0L).select($"doc_id".as("q_id"), $"vec")
    // rank 1 = itself, rank 2 = the planted near-dup
    val top = Similarity.bruteForceTopK(q, vecs, "q_id", "doc_id", "vec", k = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toList
    assert(top == List(0L, 1L))
  }
}
