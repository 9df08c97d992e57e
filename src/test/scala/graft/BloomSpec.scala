package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** Bloom-filter seen-set membership + the x29 segment-overlap
  * decontamination plan built on it.
  *
  * The load-bearing property is NO FALSE NEGATIVES: a bloom reject must
  * prove non-membership, or the prefilter would silently drop true
  * contamination and x29 would diverge from its oracle. False positives
  * only cost confirm-join input, so they get a rate bound, not an
  * exactness requirement.
  */
class BloomSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("no false negatives: every inserted key passes mightContain") {
    import spark.implicits._
    val members = (0 until 2000).map(i => s"member-$i")
    val df = members.toDF("k")
    val bloom = Dedup.bloomBuild(df, col("k"), numBits = 1 << 16, numHashes = 5)
    val misses = df.filter(!Dedup.bloomMightContain(bloom, 5, col("k"))).count()
    assert(misses == 0, s"$misses members rejected by their own bloom")
  }

  test("false-positive rate on non-members is within the sizing bound") {
    import spark.implicits._
    val members = (0 until 2000).map(i => s"member-$i").toDF("k")
    val bloom = Dedup.bloomBuild(members, col("k"), numBits = 1 << 16, numHashes = 5)
    val probes = (0 until 20000).map(i => s"other-$i").toDF("k")
    val fp = probes.filter(Dedup.bloomMightContain(bloom, 5, col("k"))).count()
    // k=5, n=2000, m=65536 → theoretical fp ≈ (1-e^(-5*2000/65536))^5 ≈ 5e-5;
    // allow 100× slack for hash non-ideality before calling it broken
    assert(fp <= 100, s"fp rate ${fp / 20000.0} far above the sizing bound")
  }

  test("membership test degrades safely on an empty bloom (rejects everything)") {
    import spark.implicits._
    val empty = Dedup.bloomBuild(Seq.empty[String].toDF("k"), col("k"), 1 << 10, 5)
    val hits = (0 until 100).map(i => s"x-$i").toDF("k")
      .filter(Dedup.bloomMightContain(empty, 5, col("k"))).count()
    assert(hits == 0)
  }

  test("segmentDecontam ≡ the plain exact semi-join (bloom is invisible in the result)") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val withBloom = Dedup.segmentDecontam(train, bench, "doc_id", "text", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // plain form: same explode + semi-join, no prefilter
    val benchSegs = Dedup.segmentsOf(bench, "doc_id", "text", 10)
      .select("__seg").distinct()
    val contaminated = Dedup.segmentsOf(train, "doc_id", "text", 10)
      .join(benchSegs, Seq("__seg"), "left_semi")
      .select("doc_id").distinct()
    val plain = train.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(withBloom == plain)
    assert(withBloom.nonEmpty && withBloom.subsetOf(
      train.select("doc_id").collect().map(_.getLong(0)).toSet))
  }

  test("the bloom prefilter prunes most non-overlapping train segments") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val benchSegs = Dedup.segmentsOf(bench, "doc_id", "text", 10)
      .select("__seg").distinct()
    val bloom = Dedup.bloomBuild(benchSegs, col("__seg"), 1 << 18, 5)
    val trainSegs = Dedup.segmentsOf(train, "doc_id", "text", 10)
    val total = trainSegs.count()
    val pass = trainSegs
      .filter(Dedup.bloomMightContain(bloom, 5, col("__seg"))).count()
    val trueOverlap = trainSegs.join(benchSegs, Seq("__seg"), "left_semi").count()
    // everything that truly overlaps must pass; the residue is fp-bounded
    assert(pass >= trueOverlap)
    assert(pass <= trueOverlap + math.max(50L, total / 100),
      s"bloom passed $pass of $total segments (true overlap $trueOverlap) — not pruning")
  }
}
