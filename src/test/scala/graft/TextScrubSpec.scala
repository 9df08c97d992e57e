package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** x24 PII scrubbing on planted PII (the fixture's word-salad only
  * exercises the digit-run category) and x25's occurrence-preserving
  * n-gram unit. */
class TextScrubSpec extends AnyFunSuite with SharedSpark {
  test("x24 patterns redact planted emails, urls and digit runs") {
    import spark.implicits._
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val url = "https?://[^ ]+"
    val num = "[0-9]{4,}"
    val df = Seq(
      (1L, "contact me at jane.doe+spam@mail.example.org for data"),
      (2L, "see https://example.com/a?b=1 and http://x.io now"),
      (3L, "card 4111222233334444 pin 123 year 2024"),
      (4L, "plain text with no pii at all"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("int").as("n_email"),
        regexp_count(col("text"), lit(url)).cast("int").as("n_url"),
        regexp_count(col("text"), lit(num)).cast("int").as("n_num"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), url, "<URL>"), num, "<NUM>").as("scrubbed"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(1L) == ((1, 0, 0, "contact me at <EMAIL> for data")))
    assert(out(2L) == ((0, 2, 0, "see <URL> and <URL> now")))
    // 4111... and 3333's run counts once (one 16-digit run), 2024 counts,
    // the 3-digit pin does not
    assert(out(3L) == ((0, 0, 2, "card <NUM> pin 123 year <NUM>")))
    assert(out(4L) == ((0, 0, 0, "plain text with no pii at all")))
  }

  test("the PII-free fixture passes through unmodified (documented)") {
    // the fixture's text is lowercase word-salad with no digits — x24 is
    // a pass-through there (counts 0, scrubbed == text); the planted-PII
    // test above carries the redaction semantics
    val out = SparkEntry.queries("x24_pii_scrub")(spark, "/root/testdata/sf0.001")
    assert(out.filter(col("n_email") + col("n_url") + col("n_num") > 0).count() == 0)
    assert(out.count() > 0)
  }

  test("ngrams preserves occurrences; shingles is its distinct set") {
    import spark.implicits._
    val df = Seq(("a b a b a")).toDF("text")
      .withColumn("toks", TextOps.tokens(col("text")))
    val ng = df.select(TextOps.ngrams(col("toks"), 2)).first().getSeq[String](0)
    assert(ng == Seq("a b", "b a", "a b", "b a"))
    val sh = df.select(TextOps.shingles(col("toks"), 2)).first().getSeq[String](0)
    assert(sh.sorted == Seq("a b", "b a"))
    // under-length input yields the empty array, not null
    val short = Seq(("solo")).toDF("text")
      .withColumn("toks", TextOps.tokens(col("text")))
    assert(short.select(TextOps.ngrams(col("toks"), 2)).first().getSeq[String](0).isEmpty)
  }

  test("x25 per-lang top-20 is rank-contiguous with non-increasing counts") {
    val rows = SparkEntry.queries("x25_ngram_counts")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toList == (1 to sorted.length).toList)
      sorted.map(_.getLong(3)).sliding(2).foreach {
        case Array(a, b) => assert(a >= b)
        case _           =>
      }
    }
  }
}
