package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Quality-aware keep-best dedup (Dedup.keepBestPerContent /
  * keepBestByKey; query x67): within each content group the surviving
  * row maximizes the keeper score, ties break to the smaller id —
  * arg-max, NOT first-seen. Pins: the best copy wins regardless of id
  * order, ties fall back to min-id (= exactGroups' keeper), NULL group
  * keys keep their winner (null-safe semi-join), exactly one survivor
  * per group, and the winner decision runs on narrow rows (bodies
  * never shuffle — plan gate: no exchange carries the text column). */
class KeepBestSpec extends AnyFunSuite with SharedSpark {
  test("arg-max wins over first-seen; ties fall back to min id; one survivor per group") {
    import spark.implicits._
    val d = Seq(
      // group A: later id has the higher score -> it must win
      (1L, "same body A", 0.2), (9L, "same body A", 0.9),
      // group B: earlier id higher -> it wins
      (2L, "same body B", 0.8), (5L, "same body B", 0.1),
      // group C: exact tie -> smaller id (the exactGroups keeper)
      (3L, "same body C", 0.5), (7L, "same body C", 0.5),
      // singleton
      (4L, "only one", 0.0)
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.keepBestPerContent(d, "doc_id", "text", col("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(9L, 2L, 3L, 4L), s"got $kept")
  }

  test("NULL group keys keep their winner (null-safe semi-join)") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String], 0.3),
      (2L, null.asInstanceOf[String], 0.7), (3L, "real", 0.1))
      .toDF("doc_id", "text", "score")
    // via the BY-KEY form with a genuinely NULL key column
    val keyed = d.withColumn("k", when(col("text").isNull, lit(null))
      .otherwise(lit("g")).cast("string"))
    val kept = Dedup.keepBestByKey(keyed, "doc_id", "k", col("score"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"null group must keep its best, got $kept")
  }

  test("bodies never shuffle: no exchange carries the text column") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, s"body ${i % 50} " * 20,
      (i % 13).toDouble)).toDF("doc_id", "text", "score")
    val plan = Dedup.keepBestPerContent(d, "doc_id", "text", col("score"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"an exchange carries the body column:\n${exchanges.mkString("\n")}")
  }
}
