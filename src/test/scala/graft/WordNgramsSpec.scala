package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native fused WordNgrams expression (r16) vs the composable
  * `transform(sequence(0, size-k), i => concat_ws(" ", element_at ×k))`
  * (+ `array_distinct`) forms it replaced: bit-identical arrays (values
  * AND order) for both the occurrence-preserving and distinct variants,
  * on random token arrays, repeats, empty tokens, short arrays, and
  * null input. */
class WordNgramsSpec extends AnyFunSuite with SharedSpark {
  /** The pre-r16 composable forms, verbatim. */
  private def composedNgrams(toks: org.apache.spark.sql.Column, k: Int) =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  private def check(tokArrays: Seq[Seq[String]], ks: Seq[Int]): Unit = {
    import spark.implicits._
    val df = tokArrays.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "toks")
    ks.foreach { k =>
      val got = df.select($"id",
          graft.ext.TextOps.ngrams($"toks", k).as("n_native"),
          composedNgrams($"toks", k).as("n_composed"),
          graft.ext.TextOps.shingles($"toks", k).as("s_native"),
          array_distinct(composedNgrams($"toks", k)).as("s_composed"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"ngrams mismatch k=$k id=${r.getLong(0)}: " +
            s"${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
        assert(r.getSeq[String](3) == r.getSeq[String](4),
          s"shingles mismatch k=$k id=${r.getLong(0)}: " +
            s"${r.getSeq[String](3)} vs ${r.getSeq[String](4)}")
      }
    }
  }

  test("parity on random token arrays (both variants, several k)") {
    val rnd = new Random(17)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff")
    check((0 until 200).map { _ =>
      Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
    }, Seq(1, 2, 3, 5))
  }

  test("parity on repeats, empty-string tokens and multibyte tokens") {
    check(Seq(
      Seq("a", "a", "a", "a"),          // heavy repeats → distinct shrinks
      Seq("", "a", "", "b"),            // empty-string tokens (split quirk)
      Seq("é", "漢", "🎈", "é", "漢"),   // multibyte
      Seq("x y", "z"),                  // token containing a space (gram aliasing)
      Seq("a")), Seq(1, 2, 3))
  }

  test("short and null inputs: empty array, never null") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "toks")
    val got = df.select($"id",
        graft.ext.TextOps.ngrams($"toks", 3).as("n"),
        graft.ext.TextOps.shingles($"toks", 3).as("s"))
      .orderBy("id").collect()
    got.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      assert(r.getSeq[String](1).isEmpty && r.getSeq[String](2).isEmpty)
    }
  }

  test("through tokens(): real text round-trip matches the composable form") {
    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "  leading and   multiple   spaces ", "one", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("toks", graft.ext.TextOps.tokens($"text"))
    val got = df.select($"id",
        graft.ext.TextOps.shingles($"toks", 3).as("native"),
        array_distinct(composedNgrams($"toks", 3)).as("composed"))
      .collect()
    got.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2)))
  }
}
