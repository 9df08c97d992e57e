package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps

/** Training-shard assignment / sharded write (TextOps.trainingShards,
  * writeShards; query x37_training_shards) and per-source epoch
  * upsampling (TextOps.epochUpsample; query x38_epoch_upsample). */
class ShardSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  test("trainingShards: bounded, deterministic, every shard populated") {
    val sh = TextOps.trainingShards(docs, "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
    assert(sh.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    assert(sh.filter(col("pos") < 0 || col("pos") >= 1).count() == 0)
    // deterministic: recompute and compare row-for-row
    val again = TextOps.trainingShards(docs, "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard").as("s2"), col("pos").as("p2"))
    assert(sh.join(again, "doc_id")
      .filter(col("shard") =!= col("s2") || col("pos") =!= col("p2"))
      .count() == 0)
    // 500 docs over 8 shards: all shards hit, none grossly skewed
    val sizes = sh.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    assert(sizes.values.min > 20, s"skewed shards: $sizes")
  }

  test("within-shard order is decorrelated from insertion order") {
    // pos must not be monotone in doc_id inside a shard (else the loader
    // replays insertion order); count inversions in shard 0
    val rows = TextOps.trainingShards(docs, "doc_id", nShards = 8)
      .filter(col("shard") === 0)
      .orderBy("doc_id").select("pos").collect().map(_.getDouble(0))
    val inversions = rows.sliding(2).count {
      case Array(a, b) => a > b
      case _           => false
    }
    assert(inversions > rows.length / 5, // random order ⇒ ~half inverted
      s"pos looks correlated with doc_id: $inversions/${rows.length}")
  }

  test("writeShards lands shard=K dirs, training-sorted, lossless") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    TextOps.writeShards(docs.select("doc_id", "lang", "text"), "doc_id",
      nShards = 8, path = dir)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs == (0 until 8).map(k => s"shard=$k").toSet)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // per-shard files hold rows in training order (pos ascending);
    // verify via the recomputed pos against file row order in shard 0
    val expected = TextOps.trainingShards(
        docs.select("doc_id", "lang", "text"), "doc_id", 8)
      .filter(col("shard") === 0).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val stored = spark.read.parquet(s"$dir/shard=0")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(stored == expected, "shard 0 not stored in training order")
  }

  test("blastRadius: recomputed lineage matches the shard assignment; tokens and shares exact; clean set = empty") {
    import spark.implicits._
    val victims = docs.filter(col("doc_id") % 5 === 3).select("doc_id")
    val br = TextOps.blastRadius(docs, "doc_id", "text", victims,
      nShards = 8)
    val got = br.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // ground truth from the assignment itself
    val sh = TextOps.trainingShards(docs, "doc_id", 8)
      .withColumn("hit", (col("doc_id") % 5 === 3).cast("int"))
      .withColumn("toks", TextOps.tokenCount(col("text")).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("hit").as("a"),
        sum(when(col("hit") === 1, col("toks")).otherwise(0L)).as("t"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val affected = sh.filter(_._2._2 > 0)
    assert(got.keySet == affected.keySet,
      s"affected shards mismatch: ${got.keySet} vs ${affected.keySet}")
    affected.foreach { case (k, (n, a, t)) =>
      assert(got(k) == ((n, a, t,
        BigDecimal(a.toDouble / n).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)), s"shard $k")
    }
    // duplicate ids in the request must not double-count
    val doubled = victims.unionAll(victims)
    assert(TextOps.blastRadius(docs, "doc_id", "text", doubled, 8)
      .collect().toSeq.toSet == br.collect().toSeq.toSet)
    // an id set touching nothing published: empty report
    assert(TextOps.blastRadius(docs, "doc_id", "text",
      Seq(-1L, -2L).toDF("doc_id"), 8).count() == 0)
  }

  test("epochUpsample: clamped multiplicity, conservation, epoch indexing") {
    val up = TextOps.epochUpsample(docs, "lang", maxEpochs = 4)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMax = counts.values.max
    val expectedEpochs = counts.map { case (s, n) =>
      s -> math.min(4L, math.max(1L, math.round(nMax.toDouble / n)))
    }
    // the fixture's lang skew must make this non-trivial (some stratum
    // actually repeats) — otherwise the test exercises nothing
    assert(expectedEpochs.values.exists(_ > 1L), s"balanced fixture: $counts")
    // every row's epochs matches the formula; epoch runs 1..epochs
    val bySource = up.groupBy("lang", "epochs")
      .agg(countDistinct("epoch").as("n_e"), max("epoch").as("max_e"),
        min("epoch").as("min_e"))
      .collect()
    bySource.foreach { r =>
      val (src, epochs) = (r.getString(0), r.getLong(1))
      assert(epochs == expectedEpochs(src), s"epochs mismatch for $src")
      assert(r.getLong(2) == epochs && r.getLong(4) == 1L &&
        r.getLong(3) == epochs)
    }
    // conservation: distinct docs unchanged; total rows = Σ n_s · epochs
    assert(up.select("doc_id").distinct().count() == docs.count())
    val expectedTotal = counts.map { case (s, n) => n * expectedEpochs(s) }.sum
    assert(up.count() == expectedTotal)
  }

  test("x44 capstone: epoch replicas spread over shards; totals conserved") {
    // rebuild the chain's intermediate to cross-check the manifest
    val mixed = TextOps.temperatureMixSample(docs, "lang", "doc_id",
        tau = 0.5, targetCount = 200)
      .select("doc_id", "lang", "text")
    val up = TextOps.epochUpsample(mixed, "lang", maxEpochs = 4)
      .withColumn("rep_id", concat(col("doc_id"), lit("#"), col("epoch")))
    // the mix must be non-trivial: some stratum genuinely upsampled
    assert(up.filter(col("epochs") > 1).count() > 0)
    val sharded = TextOps.trainingShards(up, "rep_id", nShards = 8)
    // a doc's epoch replicas must NOT ride one shard (rep_id salt):
    // across all docs with epochs=4, the mean distinct-shard count of
    // the 4 replicas must be > 2 (i.i.d. uniform expectation ~2.7)
    val spread = sharded.filter(col("epochs") === 4)
      .groupBy("doc_id").agg(countDistinct(col("shard")).as("k"))
    if (spread.count() > 0) {
      val meanK = spread.agg(avg("k")).collect()(0).getDouble(0)
      assert(meanK > 2.0, s"epoch replicas clumping: mean distinct shards $meanK")
    }
    // manifest totals == chain totals
    val manifest = SparkEntry.queries("x44_training_mix")(spark, sf)
    assert(manifest.agg(sum("n_rows")).collect()(0).getLong(0) == up.count())
  }
}
