package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

/** Statistical gates for the banded-LSH ANN path (VERDICT round 1 item 4).
  *
  * LSH's operating regime is near-duplicate detection: P(candidate) =
  * 1-(1-p^r)^B with p = 1-θ/π is ≈1 at cos≥0.95 and ≈0 for background
  * pairs. The driver fixture's true top-10 sits at cos 0.24-0.40 (measured;
  * see Similarity.annTopK scaladoc) — no banding can recall that regime
  * sub-quadratically — so recall is gated on PLANTED near-duplicates:
  * multiplicatively jittered copies (cos ≈ 0.999) that annTopK must
  * recover as rank-1 neighbors.
  */
class AnnLshSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  /** Fixture corpus (ids 0..49) + near-dup copies (id+1000): each element
    * jittered by a deterministic ±3% factor derived from xxhash64 — cosine
    * with the original ≈ 0.999, far above the fixture's background. */
  private lazy val planted = {
    val base = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val dups = base
      .withColumn("vec_id", col("vec_id") + 1000)
      .withColumn("vec", zip_with(col("vec"),
        sequence(lit(0), size(col("vec")) - 1),
        (x, i) => x * (lit(1.0) +
          (pmod(xxhash64(col("vec_id"), i), lit(100)).cast("double") / 100.0 - 0.5) * 0.06)))
    base.unionByName(dups)
  }

  test("planted near-dups are recalled at >= 0.8 (rank-1 agreement with brute force)") {
    val ann = Similarity.annTopK(planted, "vec_id", "vec",
        planes = 32, k = 5, bands = 4)
      .filter(col("rank") === 1 && col("id1") < 50)
      .select(col("id1"), col("id2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the true rank-1 neighbor of original i is its planted dup i+1000
    val recalled = (0L until 50L).count(i => ann.get(i).contains(i + 1000))
    val recall = recalled / 50.0
    assert(recall >= 0.8, s"planted near-dup recall too low: $recall")
  }

  test("a synthetic mega-bucket is capped, not self-joined") {
    // 200 identical vectors: every band puts all 200 in one bucket, which
    // exceeds maxBucketSize=50 → all buckets dropped → zero candidate
    // pairs (vs 200·199 uncapped). Identical-content dedup is
    // Dedup.exactGroups' job, not the ANN join's.
    val same = spark.range(200)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(i => lit(i + 1.0)): _*).as("vec"))
    val capped = Similarity.annTopK(same, "vec_id", "vec",
      planes = 32, k = 5, bands = 4, maxBucketSize = 50)
    assert(capped.count() == 0, "mega-bucket must be dropped by the cap")
    val uncapped = Similarity.annTopK(same, "vec_id", "vec",
      planes = 32, k = 5, bands = 4, maxBucketSize = 1000)
    assert(uncapped.count() > 0, "raising the cap re-admits the bucket")
  }

  test("native lsh_signature == composable form bit-for-bit (incl. null-element edge)") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    for (planes <- Seq(8, 32, 64)) {
      val both = vecs.select(col("vec_id"),
        Similarity.lshSignature(col("vec"), planes).as("native"),
        Similarity.lshSignatureComposed(col("vec"), planes).as("composed"))
      val diff = both.filter(col("native") =!= col("composed")).count()
      assert(diff == 0, s"signature mismatch at planes=$planes")
    }
    // a null ELEMENT nulls every plane fold → signature 0 on both paths
    val withNull = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)))
      .toDF("id", "vec").select(col("id"), col("vec").cast("array<double>").as("vec"))
    val r = withNull.select(
      Similarity.lshSignature(col("vec"), 16).as("n"),
      Similarity.lshSignatureComposed(col("vec"), 16).as("c")).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
    // a NULL input array: native yields NULL (filtered by annTopK),
    // composable mapped it to 0 — the documented divergence
    val nullVec = Seq(Tuple1(2L)).toDF("id")
      .select(col("id"), lit(null).cast("array<double>").as("vec"))
    val rn = nullVec.select(
      Similarity.lshSignature(col("vec"), 16).as("n"),
      Similarity.lshSignatureComposed(col("vec"), 16).as("c")).head()
    assert(rn.isNullAt(0) && rn.getLong(1) == 0L)
  }

  test("suggestedPlanes pins the 64-bit cap boundary; capped-r corpora still work") {
    import Similarity.{planesCapped, suggestedPlanes}
    // below the cap: r grows with log2(n/targetBucket), occupancy flat
    assert(suggestedPlanes(1000) == 4 * 8)      // floor: 8 bits/band
    assert(suggestedPlanes(32L << 12) == 4 * 12)
    assert(!planesCapped(32L << 12))
    // boundary: r = 16 is exactly representable — NOT capped
    assert(suggestedPlanes(32L << 16) == 64 && !planesCapped(32L << 16))
    // past it: r would need 17+ bits but the 64-bit signature caps at
    // 16/band — occupancy now grows linearly with n (the documented
    // regime where the caller must shard, tighten maxBucketSize, or
    // switch to IVF)
    assert(suggestedPlanes(32L << 17) == 64 && planesCapped(32L << 17))
    assert(suggestedPlanes(10L * 1000 * 1000 * 1000) == 64 &&
      planesCapped(10L * 1000 * 1000 * 1000))
    // wider bands cap earlier: 8 bands → 8 bits/band ceiling
    assert(suggestedPlanes(1L << 40, bands = 8) == 64 &&
      planesCapped(1L << 40, bands = 8))

    // a capped-width run (r = 16, the boundary geometry) must still be
    // well-formed and recall the planted near-dups: capping costs bucket
    // occupancy, never correctness
    val ann = Similarity.annTopK(planted, "vec_id", "vec",
        planes = 64, k = 5, bands = 4)
      .filter(col("rank") === 1 && col("id1") < 50)
      .select(col("id1"), col("id2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recalled = (0L until 50L).count(i => ann.get(i).contains(i + 1000))
    assert(recalled / 50.0 >= 0.8,
      s"capped-r recall too low: ${recalled / 50.0}")
  }

  test("banding raises recall over the single full-signature table") {
    // same 32 planes: one 32-bit table vs 4 OR'd 8-bit bands — the banded
    // form must recall at least as many planted pairs (this is the
    // "recall collapses as planes grow" failure mode from round 1).
    def rank1Hits(bands: Int): Int = {
      val ann = Similarity.annTopK(planted, "vec_id", "vec",
          planes = 32, k = 5, bands = bands)
        .filter(col("rank") === 1 && col("id1") < 50)
        .select(col("id1"), col("id2")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until 50L).count(i => ann.get(i).contains(i + 1000))
    }
    assert(rank1Hits(bands = 4) >= rank1Hits(bands = 1))
  }
}
