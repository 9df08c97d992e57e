package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** The native codegen CosineSim expression vs the composable
  * zip_with/aggregate reference implementation: bit-identical results,
  * matching null semantics, and survives both codegen and interpreted
  * evaluation paths. */
class CosineSimSpec extends AnyFunSuite with SharedSpark {
  test("native kernel equals composable form bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new Random(5)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id",
        Similarity.cosine($"a", $"b").as("native"),
        Similarity.cosineComposed($"a", $"b").as("composed"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2))
      assert(r.getDouble(1) == r.getDouble(2)) // exact, not approximate
    }
  }

  test("null semantics: zero vectors and null inputs give NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0, 0.0), Array(1.0, 2.0)), // zero norm
      (2L, Array(1.0, 2.0), Array(1.0, 2.0))  // identical → 1.0
    ).toDF("id", "a", "b")
    val got = df.select($"id", Similarity.cosine($"a", $"b").as("c"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1))
    assert(math.abs(got(1).getDouble(1) - 1.0) < 1e-15)
    val nullIn = df.select(Similarity.cosine(lit(null).cast("array<double>"), $"b").as("c"))
      .collect()
    nullIn.foreach(r => assert(r.isNullAt(0)))
  }

  test("interpreted path (eval) agrees with codegen") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    def cosine(wholeStage: String, factoryMode: String): Double =
      withSQLConf("spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.codegen.factoryMode" -> factoryMode) {
        df.select(Similarity.cosine($"a", $"b")).collect().head.getDouble(0)
      }
    // force interpreted evaluation by disabling codegen for this query
    val interp = cosine("false", "NO_CODEGEN")
    val gen = cosine("true", "FALLBACK")
    assert(interp == gen)
  }
}
