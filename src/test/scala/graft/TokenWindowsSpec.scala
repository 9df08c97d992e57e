package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native fused TokenWindows expression (r16) vs the two composable
  * forms it replaced: the segment family's
  * `transform(sequence(0, floor((n-1)/w)), i => array_join(slice(toks,
  * i*w+1, w), " "))` (step = width) and chunkSliding's
  * `transform(sequence(0, nChunks-1), i => array_join(slice(toks,
  * i*s+1, w), " "))` with nChunks = max(1, ceil((n-w)/s)+1) (step <
  * width) — bit-identical arrays on random token arrays, and the
  * intraDocDedup aggregate-fold ≡ array_distinct equivalence. */
class TokenWindowsSpec extends AnyFunSuite with SharedSpark {
  private def composedSegments(toks: org.apache.spark.sql.Column, w: Int) =
    transform(
      sequence(lit(0), floor((size(toks) - 1) / w).cast("int")),
      i => array_join(slice(toks, i * w + 1, lit(w)), " "))

  private def composedChunks(toks: org.apache.spark.sql.Column,
                             w: Int, s: Int) = {
    val nChunks = greatest(lit(1),
      (ceil((size(toks) - w).cast("double") / s) + 1).cast("int"))
    transform(sequence(lit(0), nChunks - 1), i =>
      array_join(slice(toks, i * s + 1, lit(w)), " "))
  }

  private def randToks(seed: Int, n: Int): Seq[Seq[String]] = {
    val rnd = new Random(seed)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    // tokens() never yields an empty array (empty text → [""]), so the
    // fixtures stay in the n >= 1 regime the kernel documents
    (0 until n).map(_ => Seq.fill(1 + rnd.nextInt(40))(
      vocab(rnd.nextInt(vocab.length))))
  }

  test("segment form (step = width): parity across widths") {
    import spark.implicits._
    val df = randToks(3, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
    Seq(1, 2, 5, 8, 64).foreach { w =>
      val got = df.select($"id",
          graft.functions.TokenWindows.token_windows($"toks", w, w)
            .as("native"),
          composedSegments($"toks", w).as("composed"))
        .collect()
      got.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"segments mismatch w=$w id=${r.getLong(0)}"))
    }
  }

  test("sliding form (step < width): parity across (w, s)") {
    import spark.implicits._
    val df = randToks(5, 200).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
    Seq((12, 6), (5, 2), (8, 8), (3, 1)).foreach { case (w, s) =>
      val got = df.select($"id",
          graft.functions.TokenWindows.token_windows($"toks", w, s)
            .as("native"),
          composedChunks($"toks", w, s).as("composed"))
        .collect()
      got.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"chunks mismatch w=$w s=$s id=${r.getLong(0)}"))
    }
  }

  test("intraDocDedup fold equivalence: array_distinct == append-iff-unseen") {
    import spark.implicits._
    val df = randToks(7, 100).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
      .withColumn("segs",
        graft.functions.TokenWindows.token_windows($"toks", 2, 2))
    val got = df.select($"id",
        array_distinct($"segs").as("native"),
        aggregate($"segs", typedLit(Seq.empty[String]),
          (acc, s) => when(array_contains(acc, s), acc)
            .otherwise(concat(acc, array(s)))).as("fold"))
      .collect()
    got.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2)))
  }

  test("null input propagates to null; single token yields one window") {
    import spark.implicits._
    val df = Seq((1L, Seq("a")), (2L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "toks")
    val got = df.select($"id",
        graft.functions.TokenWindows.token_windows($"toks", 4, 2).as("w"))
      .orderBy("id").collect()
    assert(got(0).getSeq[String](1) == Seq("a"))
    assert(got(1).isNullAt(1))
  }
}
