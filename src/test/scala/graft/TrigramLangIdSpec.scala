package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** The x10 classifier mechanism on SEPARABLE data: three synthetic
  * "languages" with disjoint character distributions must classify at
  * 100% from a 20% train split. (On the driver fixture the lang label is
  * independent of the text, so chance level there is correct — this spec
  * is what proves the operator itself works.) */
class TrigramLangIdSpec extends AnyFunSuite with SharedSpark {
  test("disjoint-alphabet languages classify at 100% accuracy") {
    import spark.implicits._
    val vocab = Map(
      "aa" -> Seq("alpha", "apple", "arcade", "anagram"),
      "bb" -> Seq("bubble", "bobbin", "blurb", "barb"),
      "cc" -> Seq("cocci", "circus", "cactus", "occult"))
    val docs = (0L until 90L).map { id =>
      val lang = Seq("aa", "bb", "cc")((id % 3).toInt)
      val ws = vocab(lang)
      // deterministic word sequence per doc
      val text = (0 until 12).map(k => ws(((id * 7 + k * 3) % ws.size).toInt))
        .mkString(" ")
      (id, lang, text)
    }.toDF("doc_id", "lang", "text")
    val out = TextOps.trigramLangId(docs, col("doc_id") % 5 === 0, topK = 30)
    val acc = out.agg(avg("correct")).collect().head.getDouble(0)
    assert(acc == 1.0, s"separable languages must classify perfectly, got $acc")
  }

  test("documents with no profile hits predict '' deterministically") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aa", "aaaaaa"), (1L, "aa", "aaaaaa"), (5L, "aa", "aaaaaa"),
      (2L, "bb", "zz")) // too short for any trigram → no hits
      .toDF("doc_id", "lang", "text")
    val out = TextOps.trigramLangId(docs, col("doc_id") % 5 === 0, topK = 30)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(2L) == "")
  }
}
