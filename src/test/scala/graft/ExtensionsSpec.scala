package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft's native expression reachable from SQL via the session-extension
  * / function-registry path. */
class ExtensionsSpec extends AnyFunSuite with SharedSpark {
  test("cosine_sim callable from spark.sql after registration") {
    // tests share one session (SharedSpark), so register through the same
    // descriptor the withExtensions path injects
    val (ident, info, builder) = GraftExtensions.cosineSimDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val got = spark.sql(
      """SELECT cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS c,
                cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS o,
                cosine_sim(array(0.0d, 0.0d), array(1.0d, 1.0d)) AS z""")
      .collect().head
    assert(math.abs(got.getDouble(0) - 1.0) < 1e-15) // parallel vectors
    assert(math.abs(got.getDouble(1)) < 1e-15)       // orthogonal
    assert(got.isNullAt(2))                          // zero norm
  }

  test("lsh_signature callable from spark.sql; planes must be a literal") {
    val (ident, info, builder) = GraftExtensions.lshSignatureDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val got = spark.sql(
      """SELECT lsh_signature(array(1.0d, 2.0d, 3.0d), 16) AS s,
                lsh_signature(CAST(null AS ARRAY<DOUBLE>), 16) AS n""")
      .collect().head
    // signature is deterministic: must equal the library column form
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val expected = Seq(Tuple1(Seq(1.0, 2.0, 3.0))).toDF("v")
      .select(graft.ext.Similarity.lshSignature(col("v"), 16))
      .head().getLong(0)
    assert(got.getLong(0) == expected)
    assert(got.isNullAt(1))
  }

  test("minhash_sig callable from spark.sql") {
    val (ident, info, builder) = GraftExtensions.minHashSigDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val got = spark.sql(
      """SELECT minhash_sig(array('ab', 'cd'), 4) AS s,
                minhash_sig(CAST(array() AS ARRAY<STRING>), 4) AS e""")
      .collect().head
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val expected = Seq(Tuple1(Seq("ab", "cd"))).toDF("sh")
      .select(graft.functions.MinHashSig.minhash_sig(col("sh"), 4))
      .head().getSeq[Long](0)
    assert(got.getSeq[Long](0) == expected)
    assert(got.isNullAt(1)) // empty shingle set → NULL signature
  }
}
