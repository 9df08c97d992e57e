package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming.StreamCurate

/** Corpus fingerprint ([[TextOps.corpusFingerprint]]) and PSI drift
  * ([[TextOps.psiDrift]]) — the audit/monitor pair. Pins: the
  * fingerprint's partition/order invariance, single-row sensitivity, the
  * XOR-cancellation edge (duplicate rows cancel in the XOR but move the
  * count — both must match), invariance of a maintained corpus snapshot
  * across physical compaction (and non-invariance across a takedown);
  * PSI = 0 exactly on identical distributions, a hand-computed value, a
  * finite contribution from a one-sided bin, and alert-level PSI on a
  * genuinely shifted distribution. */
class FingerprintSpec extends AnyFunSuite with SharedSpark {
  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("lang",
      when(col("doc_id") % 2 === 0, "en").otherwise("de"))
  }

  private def fp(df: DataFrame): Map[String, (Long, Long)] =
    TextOps.corpusFingerprint(df, Seq("doc_id", "text"), Seq("lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap

  test("fingerprint is partition- and order-invariant") {
    val d = docs((1L to 40L).map(i => i -> s"document body $i"): _*)
    val base = fp(d)
    assert(fp(d.repartition(7)) == base)
    assert(fp(d.orderBy(col("doc_id").desc)) == base)
    assert(fp(d.repartition(13, col("text"))) == base)
  }

  test("any single changed row flips its group's fingerprint; others untouched") {
    val d = docs((1L to 40L).map(i => i -> s"document body $i"): _*)
    val changed = docs((1L to 40L).map(i =>
      i -> (if (i == 7L) "document body 7 EDITED" else s"document body $i")): _*)
    val a = fp(d); val b = fp(changed)
    assert(a("de") != b("de"), "doc 7 is de — its fingerprint must flip")
    assert(a("en") == b("en"), "en group untouched")
    // a missing row flips too
    val c = fp(d.filter(col("doc_id") =!= 8L))
    assert(a("en") != c("en"))
  }

  test("exact-duplicate rows cancel in the XOR but move the count") {
    val d = docs(1L -> "same body", 3L -> "other body")
    val dup = d.union(docs(1L -> "same body")) // doc 1 twice
    val a = fp(d); val b = fp(dup)
    assert(a("de")._2 != b("de")._2 || a("de")._1 != b("de")._1)
    assert(b("de")._1 == a("de")._1 + 1, "count catches what XOR cancels")
  }

  test("maintained corpus: fingerprint invariant across compact, flipped by takedown") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fp_corpus").toString
    def policy(b: DataFrame) = b.select("doc_id", "text")
    val body = "the data row holds a good long value "
    StreamCurate.appendBatch(dir,
      Seq((1L, body + "a"), (2L, body + "b")).toDF("doc_id", "text"),
      0L, policy)
    StreamCurate.appendBatch(dir,
      Seq((3L, body + "c")).toDF("doc_id", "text"), 1L, policy)
    def snap(): Map[String, (Long, Long)] =
      TextOps.corpusFingerprint(
        StreamCurate.load(spark, dir).get.withColumn("lang", lit("all")),
        Seq("doc_id", "text"), Seq("lang"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
    val before = snap()
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(snap() == before,
      "physical rewrite must not move the fingerprint")
    StreamCurate.deleteCurated(spark, dir, Seq(2L).toDF("doc_id"))
    val after = snap()
    assert(after("all")._1 == before("all")._1 - 1 &&
      after("all")._2 != before("all")._2)
  }

  test("fingerprintCompare: diverged groups flagged, identical groups equal, one-sided groups unequal") {
    val a = docs((1L to 40L).map(i => i -> s"document body $i"): _*)
    // replica: one de row missing, en intact
    val b = a.filter(col("doc_id") =!= 7L)
    // columns: lang(0), n_a(1), n_b(2), fp_a(3), fp_b(4), equal(5)
    val cmp = TextOps.fingerprintCompare(a, b,
        Seq("doc_id", "text"), Seq("lang")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(5))).toMap
    assert(cmp("en")._3, "untouched group must compare equal")
    assert(!cmp("de")._3 && cmp("de")._1 == cmp("de")._2 + 1)
    // a group present on one side only is unequal, not invisible
    val c = a.withColumn("lang", lit("xx"))
    val one = TextOps.fingerprintCompare(a, c,
        Seq("doc_id", "text"), Seq("lang")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(5))).toMap
    assert(one.contains("xx") && !one("xx")._3 && one("xx")._1 == 0L)
    assert(one.contains("en") && !one("en")._3 && one("en")._2 == 0L)
  }

  test("PSI from pre-counted reference ≡ the two-raw-sides form") {
    val d = docs((1L to 60L).map(i => i -> ("x " * (i.toInt % 10 + 1))): _*)
      .withColumn("n_chars", length(col("text")))
    val ref = d.filter(col("doc_id") % 2 === 0)
    val cur = d.filter(col("doc_id") % 2 =!= 0)
    val bin = least(floor(col("n_chars") / 4), lit(4))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val raw = rows(TextOps.psiDrift(ref, cur, bin, nBins = 5))
    val counted = rows(TextOps.psiDriftFromCounts(
      TextOps.psiBinCounts(ref, bin, nBins = 5), cur, bin, nBins = 5))
    assert(raw == counted,
      "the maintained-reference form must be a pure plan change")
  }

  test("PSI: exactly zero on identical distributions") {
    val d = docs((1L to 60L).map(i => i -> ("x " * (i.toInt % 10 + 1))): _*)
      .withColumn("n_chars", length(col("text")))
    val out = TextOps.psiDrift(d, d, least(floor(col("n_chars") / 4),
      lit(4)), nBins = 5).collect()
    assert(out.length == 6)
    assert(out.forall(_.getDouble(3) == 0.0),
      "identical shares -> every contribution and the total are exactly 0")
  }

  test("PSI: hand-computed on a planted two-bin shift; one-sided bins stay finite") {
    import spark.implicits._
    // ref: 30 rows bin 0, 10 rows bin 1; cur: 10 / 30 — a real shift
    val ref = (Seq.fill(30)(0) ++ Seq.fill(10)(1)).toDF("bin")
    val cur = (Seq.fill(10)(0) ++ Seq.fill(30)(1)).toDF("bin")
    val out = TextOps.psiDrift(ref, cur, col("bin"), nBins = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).toMap
    def sh(n: Int) = (n + 1.0) / (40 + 3.0)
    def c(nr: Int, nc: Int) = BigDecimal(
      (sh(nc) - sh(nr)) * math.log(sh(nc) / sh(nr)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L)._3 == c(30, 10) && out(1L)._3 == c(10, 30))
    // bin 2 observed on NEITHER side: smoothed shares equal -> 0, finite
    assert(out(2L)._3 == 0.0)
    val total = BigDecimal(c(30, 10) + c(10, 30))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(-1L)._3 - total) < 2e-6)
    assert(out(-1L)._3 > 0.25, "a 3x swing is alert-level drift")
  }

  test("PSI: bin present on one side only contributes a finite penalty") {
    import spark.implicits._
    val ref = Seq.fill(20)(0).toDF("bin")
    val cur = (Seq.fill(10)(0) ++ Seq.fill(10)(1)).toDF("bin")
    val out = TextOps.psiDrift(ref, cur, col("bin"), nBins = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!out(1L).isNaN && !out(1L).isInfinite && out(1L) > 0)
    assert(out(-1L) > 0)
  }

  test("PSI: an EMPTY side degrades to the uniform prior, never NULL — the monitor must fire") {
    import spark.implicits._
    val ref = (Seq.fill(30)(0) ++ Seq.fill(10)(1)).toDF("bin")
    val cur = ref.filter(lit(false))
    val rows = TextOps.psiDrift(ref, cur, col("bin"), nBins = 4).collect()
    assert(rows.forall(r => !r.isNullAt(3)),
      "an empty arrival batch must not produce NULL contributions")
    val total = rows.find(_.getLong(0) == -1L).get.getDouble(3)
    assert(!total.isNaN && !total.isInfinite && total > 0,
      s"maximal drift must alert, got $total")
  }

  test("PSI: out-of-range bins are clamped into the edge bins, not dropped from the shares") {
    import spark.implicits._
    val ref = (Seq.fill(20)(0) ++ Seq.fill(20)(1)).toDF("bin")
    // unclamped caller expression: all the mass at bin 9 must fold into
    // the top edge bin instead of inflating totals while vanishing
    val cur = Seq.fill(40)(9).toDF("bin")
    val out = TextOps.psiDrift(ref, cur, col("bin"), nBins = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // shares on each side must sum to ~1 (the smoothing adds nBins
    // pseudo-counts; nothing is silently dropped)
    val curShare = out.filterKeys(_ >= 0).values.map(_._1).sum
    assert(math.abs(curShare - 1.0) < 1e-9, s"cur shares sum $curShare")
    assert(out(-1L)._2 > 0, "tail drift must register, not hide")
  }
}
