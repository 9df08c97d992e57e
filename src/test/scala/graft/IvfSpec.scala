package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

class IvfSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("every corpus vector lands in exactly one IVF cell") {
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val assigned = Similarity.ivfAssign(c, "vec_id", "vec", nCells = 16)
    assert(assigned.count() == c.count())
    assert(assigned.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    val cells = assigned.select("ivf_cell").distinct().count()
    assert(cells > 1 && cells <= 16)
  }

  test("IVF top-k is well-formed and overlaps brute-force top-k") {
    val q = SparkEntry.queries("v5_ivf_topk")(spark, sf).collect()
    // ranks are 1..n per query, cos non-increasing
    q.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toList == (1 to sorted.length).toList)
      sorted.map(_.getDouble(3)).sliding(2).foreach {
        case Array(a, b) => assert(a >= b)
        case _           =>
      }
    }
    // deterministic recall vs exact brute force (fixture is fixed):
    val exact = SparkEntry.queries("v2_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = q.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall@10 too low: $recall (nProbe=4 of nCells=16)")
  }

  test("v6 (prebuilt-index probe) returns exactly v5's one-shot top-k") {
    // build is deterministic (id-hash seeding + fixed Lloyd steps), so the
    // memoized build-once/probe-many path must be indistinguishable from
    // the one-shot build+probe
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows("v6_ivf_probe") == rows("v5_ivf_topk"))
  }

  test("v7_ann_recall reports exactly the v2-vs-v6 per-query recall") {
    val exact = SparkEntry.queries("v2_cosine_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val approx = SparkEntry.queries("v6_ivf_probe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expected = exact.groupBy(_._1).view.mapValues { hits =>
      math.round(hits.count(approx.contains).toDouble / hits.length * 1e6) / 1e6
    }.toMap
    val got = SparkEntry.queries("v7_ann_recall")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == expected, s"v7 recall mismatch: got=$got expected=$expected")
    // same quality floor the engine promises for v5/v6 (nProbe=4 of 16)
    assert(got.values.sum / got.size >= 0.7,
      s"mean recall@10 too low: ${got.values.sum / got.size}")
  }

  test("nProbeFor sizes the probe to a target fraction of the index") {
    assert(Similarity.nProbeFor(16, 0.25) == 4) // the driver v5/v6 regime
    assert(Similarity.nProbeFor(357, 0.1) == 36)
    assert(Similarity.nProbeFor(44, 0.1) == 5)
    assert(Similarity.nProbeFor(4096, 1.0) == 4096)
    assert(Similarity.nProbeFor(3, 0.01) == 1) // floor at 1
    assertThrows[IllegalArgumentException](Similarity.nProbeFor(16, 0.0))
  }

  test("probeIvf(recallTarget): sized nProbe meets the target on the fixture") {
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val corpus = c.filter(col("vec_id") >= 5)
    val queries = c.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "vec", nCells = 16)
    val target = 0.5
    val sized = Similarity.probeIvf(idx, queries, "vec_id", k = 10,
      recallTarget = target)
    // the SLO sizing is nProbeFor(nCells, target), reported per row
    val nps = sized.select("n_probe").distinct().collect().map(_.getInt(0))
    assert(nps.toSeq == Seq(Similarity.nProbeFor(16, target)))
    // and the chosen nProbe actually meets the recall target (mean@10)
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "vec_id",
        "vec", k = 10)
      .select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = sized.select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = exact.groupBy(_._1).map { case (q, pairs) =>
      pairs.count(got.contains).toDouble / pairs.size
    }
    val mean = byQ.sum / byQ.size
    assert(mean >= target, s"mean recall $mean misses the $target SLO")
  }

  test("assignment never shuffles corpus rows (broadcast-packed centroids)") {
    import spark.implicits._
    // deterministic varied vectors so nearest-cell picks are non-trivial
    val corpus = (0L until 200L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 31 + j * 17) % 13).toDouble - 6.0)))
      .toDF("id", "vec").localCheckpoint()
    val cents = (0 until 6)
      .map(c => (c, Array.tabulate(8)(j => ((c * 7 + j * 5) % 11).toDouble - 5.0)))
      .toDF("ivf_cell", "c_vec").localCheckpoint()
    val assigned = Similarity.assignTo(corpus, cents, "id", "vec", nAssign = 2)

    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning"),
      "corpus rows must never hash-shuffle during IVF assignment")
    assert(!p.contains("Window"),
      "no per-id window over a ×nCells expansion")
    // only allowed shuffle: the SinglePartition packing of nCells rows
    // (BroadcastExchange is the point of the design, not a shuffle)
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 1,
      s"at most the tiny centroid-packing exchange, got plan:\n$p")

    // semantics parity with the windowed reference form (cos desc, NULLs
    // last, cell-id tiebreak)
    val expected = corpus.crossJoin(cents)
      .withColumn("sim", Similarity.cosine(col("vec"), col("c_vec")))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("sim").desc, col("ivf_cell"))))
      .filter(col("rk") <= 2).select("id", "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = assigned.select("id", "ivf_cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == expected)
  }

  test("index survives a parquet round-trip: probe(read(write(build))) == direct") {
    val c = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val corpus = c.filter(col("vec_id") >= 5)
    val queries = c.filter(col("vec_id") < 5)
    val idx = Similarity.buildIvfIndex(corpus, "vec_id", "vec", nCells = 16)
    val direct = Similarity.probeIvf(idx, queries, "vec_id", nProbe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // the real index lifecycle: write both frames, read them back, probe
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    idx.postings.write.mode("overwrite").parquet(s"$dir/postings")
    val reloaded = Similarity.IvfIndex(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/postings"), "vec_id", "vec")
    val viaDisk = Similarity.probeIvf(reloaded, queries, "vec_id", nProbe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaDisk == direct)
  }
}
