package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextOps}

/** Scale-stress harness: runs the dedup / similarity pipelines on 1×, 8×
  * and 64× blow-ups of the sf0.1 corpus and reports wall-clock scaling.
  * The point is evidence for the 100 TB claim: candidate generation must
  * grow ~linearly with the corpus, not quadratically.
  *
  * Blow-up construction keeps the base corpus's similarity structure
  * instead of multiplying it:
  *  - documents: copy c prefixes every doc's text with a copy tag and
  *    salts the shingle space per copy, so near-dup pairs exist only
  *    WITHIN a copy (cross-copy Jaccard = 0). A naive m× replication
  *    would make every doc an m-clique of near-dups and any engine would
  *    go quadratic by construction — that would test the data, not the
  *    engine.
  *  - embeddings: copy c multiplies each component by a deterministic
  *    ±1 pattern keyed on (copy, dim) — norms and component distributions
  *    are preserved, cross-copy cosines collapse to ~0, so LSH/IVF cell
  *    occupancy scales linearly.
  *
  * Not part of the driver contract; run ad hoc:
  *   sbt "runMain graft.ScaleStress"          # multipliers 1 8 64
  *   sbt "runMain graft.ScaleStress 1 4 16"
  * Results are summarized in SCALING.md.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val mults = if (args.isEmpty) Seq(1, 8, 64) else args.map(_.toInt).toSeq
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = "/tmp/graft_scale"
    val spark = Sessions(Sessions.envCores)
    spark.sparkContext.setLogLevel("ERROR")

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // ---- materialize the scaled corpora (data gen excluded from timings)
    for (m <- mults) {
      val docs = (0 until m).map { c =>
        Tables.documents(spark, base).select(
          (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
          concat(lit(s"copy$c "), col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"),
          lit(c).as("copy"))
      }.reduce(_ union _)
      docs.write.mode("overwrite").parquet(s"$out/m$m/documents.parquet")
      val embs = (0 until m).map { c =>
        Tables.embeddings(spark, base).select(
          (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
          zip_with(Similarity.toDouble(col("embedding")),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => x * when(pmod(xxhash64(lit(c), j), lit(2)) === 0, 1.0)
              .otherwise(-1.0)).as("vec"),
          col("label")).withColumn("copy", lit(c))
      }.reduce(_ union _)
      embs.write.mode("overwrite").parquet(s"$out/m$m/embeddings.parquet")
      // composed-backtest feed: m× the symbol universe (company offset per
      // copy), same calendar span — the realistic scale direction
      val q0 = graft.queries.BacktestQ.quotesLong(spark, base)
      val quotes = (0 until m).map { c =>
        q0.withColumn("company", col("company") + lit(c * 10000000L))
      }.reduce(_ union _)
      quotes.write.mode("overwrite").parquet(s"$out/m$m/quotes.parquet")
    }

    // ---- timed pipelines (same shapes as x1/x7/x8/v2/v4/v5)
    case class Op(name: String, run: Int => Long)

    // deterministic zipf(s ≈ 1.1) key via the inverse-CDF of the Pareto
    // tail: P(Z ≥ z) ≈ z^(1-s)… here Z = ⌊u^(-1/1.1)⌋ clamped to 5000,
    // which puts ~53% of rows on z=1, ~17% on z=2 — the heavy-hitter
    // head the skew rows exist to plant
    def zipfKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      least(floor(pow(
          (pmod(xxhash64(c), lit(100000)) + 1) / lit(100000.0),
          lit(-1.0 / 1.1))), lit(5000.0)).cast("long")
    def docsOf(m: Int): DataFrame = spark.read.parquet(s"$out/m$m/documents.parquet")
    def embsOf(m: Int): DataFrame = spark.read.parquet(s"$out/m$m/embeddings.parquet")

    // prebuilt IVF indices per multiplier (build-once/probe-many split)
    val ivfIdx = scala.collection.mutable.Map.empty[Int, Similarity.IvfIndex]
    def builtIvf(m: Int): Similarity.IvfIndex = ivfIdx.getOrElseUpdate(m, {
      val c = embsOf(m)
      val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
      val idx = Similarity.buildIvfIndex(c.filter(col("vec_id") >= 5),
        "vec_id", "vec", nCells = cells)
      val p = idx.postings.persist()
      p.count()
      idx.copy(postings = p)
    })

    // prebuilt RAG artifacts per multiplier (the v19/v20 lifecycle): fit
    // TF-IDF on the chunked corpus, chunk IVF index with nCells re-derived
    // as √n AT EACH SCALE, plus the fixed 64-query audit sample — so the
    // probe leg is measured per constant query batch while corpus and
    // index grow.
    val ragIdx = scala.collection.mutable.Map
      .empty[Int, (TextOps.TfIdfModel, Similarity.IvfIndex, DataFrame, DataFrame)]
    def builtRag(m: Int): (TextOps.TfIdfModel, Similarity.IvfIndex, DataFrame, DataFrame) =
      ragIdx.getOrElseUpdate(m, {
        val chunks = TextOps.chunkSliding(
            docsOf(m).filter(col("doc_id") % 97 =!= 3),
            "doc_id", "text", w = 12, s = 8)
          .select((col("doc_id") * 100000 + col("chunk_id")).as("chunk_key"),
            col("chunk"))
        val m0 = TextOps.tfIdfModel(chunks, "chunk_key", "chunk", dim = 32)
        val dfTab = m0.dfTab.persist(); dfTab.count()
        val corpusN = m0.corpusN.persist(); corpusN.count()
        val model = m0.copy(dfTab = dfTab, corpusN = corpusN)
        val chunkVecs = TextOps.assembleVector(
          TextOps.applyTfIdf(chunks, "chunk_key", "chunk", model),
          "chunk_key", 32).persist()
        val nCells = math.max(16, math.sqrt(chunkVecs.count().toDouble).toInt)
        val idx = Similarity.buildIvfIndex(chunkVecs, "chunk_key", "vec",
          nCells = nCells, nAssign = 2)
        val p = idx.postings.persist(); p.count()
        val qv = TextOps.assembleVector(
            TextOps.applyTfIdf(docsOf(m).filter(col("doc_id") % 97 === 3),
              "doc_id", "text", model), "doc_id", 32)
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
          .limit(64).persist()
        qv.count()
        (model, idx.copy(postings = p), chunkVecs, qv)
      })

    // prebuilt BM25 index per multiplier over the ¾ corpus slice
    // (doc_id % 4 != 0), so x49's merge of the remaining quarter is a
    // semantically complete increment (merged = full corpus); the fixed
    // 64-query batch reuses the RAG audit sample protocol.
    val bm25Idx = scala.collection.mutable.Map.empty[Int, TextOps.Bm25Index]
    def builtBm25(m: Int): TextOps.Bm25Index = bm25Idx.getOrElseUpdate(m, {
      val i0 = TextOps.bm25Index(
        docsOf(m).filter(col("doc_id") % 97 =!= 3 && col("doc_id") % 4 =!= 0),
        "doc_id", "text")
      val p = i0.postings.persist(); p.count()
      val st = i0.stats.persist(); st.count()
      TextOps.Bm25Index(p, st)
    })
    val q64 = scala.collection.mutable.Map.empty[Int, DataFrame]
    def queries64(m: Int): DataFrame = q64.getOrElseUpdate(m, {
      val q = docsOf(m).filter(col("doc_id") % 97 === 3)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(64).persist()
      q.count(); q
    })

    // prebuilt impact-PRUNED lists per multiplier (P=64 — the measured
    // full-candidate-coverage point on the fixture, Bm25Spec): stage-1
    // candidate generation for the two-stage bounded serve
    val prunedIdx = scala.collection.mutable.Map.empty[Int, TextOps.Bm25Index]
    def builtPruned(m: Int): TextOps.Bm25Index = prunedIdx.getOrElseUpdate(m, {
      val full = builtBm25(m)
      val p = TextOps.bm25Prune(full, maxPostingsPerTerm = 64)
        .postings.persist()
      p.count()
      TextOps.Bm25Index(p, full.stats)
    })

    // prebuilt SEGMENTED index per multiplier over the same ¾ corpus
    // slice as builtBm25 — x51's maintenance contrast to x49's merge
    val segIdx = scala.collection.mutable.Map.empty[Int, TextOps.Bm25Segments]
    def builtSegs(m: Int): TextOps.Bm25Segments = segIdx.getOrElseUpdate(m, {
      val s0 = TextOps.bm25SegmentInit(
        docsOf(m).filter(col("doc_id") % 97 =!= 3 && col("doc_id") % 4 =!= 0),
        "doc_id", "text")
      val p = s0.postings.persist(); p.count()
      val st = s0.segStats.persist(); st.count()
      val td = s0.termDf.persist(); td.count()
      TextOps.Bm25Segments(p, st, td)
    })

    // compaction-time pruned lists over the segmented index (x52's
    // stage-1 artifact; the x50 prunedIdx pattern)
    val segPrunedIdx = scala.collection.mutable.Map.empty[Int, TextOps.Bm25Index]
    def builtSegPruned(m: Int): TextOps.Bm25Index =
      segPrunedIdx.getOrElseUpdate(m, {
        val pr = TextOps.bm25PruneSegments(builtSegs(m),
          maxPostingsPerTerm = 64)
        val p = pr.postings.persist()
        p.count()
        TextOps.Bm25Index(p, pr.stats)
      })

    // prebuilt doc-level HYBRID artifacts per multiplier (the v23/v26
    // serve contrast): TF-IDF model fit on the corpus docs, assembled
    // per-doc vectors, and a √n-cell IVF index over them. Query batch =
    // queries64's held-out docs embedded with the corpus model.
    // 4th element: the persisted model tables (dfTab, corpusN), carried so
    // the hybrid_build rebuild op can unpersist them too (ADVICE r7: the
    // earlier 3-tuple leaked both caches on every timed rebuild)
    val hybIdx = scala.collection.mutable.Map
      .empty[Int, (DataFrame, Similarity.IvfIndex, DataFrame, Seq[DataFrame])]
    def builtHybrid(m: Int)
        : (DataFrame, Similarity.IvfIndex, DataFrame, Seq[DataFrame]) =
      hybIdx.getOrElseUpdate(m, {
        val corpus = docsOf(m).filter(col("doc_id") % 97 =!= 3)
        val m0 = TextOps.tfIdfModel(corpus, "doc_id", "text", dim = 32)
        val dfTab = m0.dfTab.persist(); dfTab.count()
        val corpusN = m0.corpusN.persist(); corpusN.count()
        val model = m0.copy(dfTab = dfTab, corpusN = corpusN)
        val docVecs = TextOps.assembleVector(
          TextOps.applyTfIdf(corpus, "doc_id", "text", model),
          "doc_id", 32).persist()
        val nCells = math.max(16, math.sqrt(docVecs.count().toDouble).toInt)
        val idx = Similarity.buildIvfIndex(docVecs, "doc_id", "vec",
          nCells = nCells, nAssign = 2)
        val p = idx.postings.persist(); p.count()
        val qv = TextOps.assembleVector(
          TextOps.applyTfIdf(queries64(m), "doc_id", "text", model),
          "doc_id", 32).persist()
        qv.count()
        (docVecs, idx.copy(postings = p), qv, Seq(dfTab, corpusN))
      })

    // skewed AS-OF fixture per multiplier: key 0 carries 90% of the left
    // rows — the hot-symbol shape asOfJoinTimeSliced exists for (its
    // scaladoc claims "no partition ever exceeds one slice of one key";
    // this is the measurement behind it, VERDICT r7 item 4). Left ticks
    // every 3 s round-robin, right quotes every 10 s per key with unique
    // (key, ts); spans overlap so hour slices cut mid-stream. Persisted
    // so generation stays out of the timings.
    val asofFix = scala.collection.mutable.Map
      .empty[Int, (DataFrame, DataFrame)]
    def builtAsof(m: Int): (DataFrame, DataFrame) =
      asofFix.getOrElseUpdate(m, {
        val base = lit(1600000000L)
        val l = spark.range(400000L * m).select(
          when(pmod(col("id"), lit(10)) < 9, 0L)
            .otherwise(pmod(col("id"), lit(63)) + 1).as("key"),
          timestamp_seconds(base + col("id") * 3).as("ts")).persist()
        l.count()
        val r = spark.range(80000L * m).select(
          pmod(col("id"), lit(64)).as("key"),
          timestamp_seconds(base + floor(col("id") / 64) * 640 +
            pmod(col("id"), lit(64)) * 10).as("ts"),
          (col("id") * 1.0).as("rate")).persist()
        r.count()
        (l, r)
      })

    // Zipf-keyed as-of fixture (a3_asof_auto_zipf): key sizes ∝
    // 1/(k(k+1)) via floor(N/u) over a hash-uniform u — the head key
    // holds ~50% of rows, a few hundred tail keys hold the rest. The
    // realistic exchange-feed shape (one index series dominating) vs
    // builtAsof's synthetic 90%-one-key stress.
    val asofZipfFix = scala.collection.mutable.Map
      .empty[Int, (DataFrame, DataFrame)]
    def builtAsofZipf(m: Int): (DataFrame, DataFrame) =
      asofZipfFix.getOrElseUpdate(m, {
        val base = lit(1600000000L)
        def zkey(c: org.apache.spark.sql.Column) =
          floor(lit(65536.0) /
            (pmod(c * 2654435761L, lit(65536)) + 1)).cast("long")
        val l = spark.range(400000L * m).select(
          zkey(col("id")).as("key"),
          timestamp_seconds(base + col("id") * 3).as("ts")).persist()
        l.count()
        val r = spark.range(80000L * m).select(
          zkey(col("id") * 31L + 7L).as("key"),
          timestamp_seconds(base + floor(col("id") / 64) * 640 +
            pmod(col("id"), lit(64)) * 10).as("ts"),
          (col("id") * 1.0).as("rate")).persist()
        r.count()
        (l, r)
      })

    // Release-family fixture per multiplier (x78): a curated corpus
    // sink over the scaled documents, a published 256-shard base
    // release, and a FIXED-size (100-doc) takedown — so the delta row
    // measures a takedown-sized delta against a growing corpus. Builds
    // run outside the timed cells (the m6/v6 attribution pattern).
    val relFix = scala.collection.mutable.Map.empty[Int, String]
    val relCtr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtRelease(m: Int): String =
      relFix.getOrElseUpdate(m, {
        val root = s"$out/m$m/release"
        graft.ArtifactStore.deleteRecursively(
          java.nio.file.Paths.get(root))
        val corpusDir = s"$root/corpus"
        graft.streaming.StreamCurate.appendBatch(corpusDir,
          docsOf(m).select("doc_id", "text"), 0L,
          b => b.select("doc_id", "text"))
        graft.streaming.Release.publish(spark, corpusDir, None,
          s"$root/rel", "base", nShards = 256)
        graft.streaming.StreamCurate.deleteCurated(spark, corpusDir,
          docsOf(m).select("doc_id").orderBy("doc_id").limit(100))
        root
      })

    // fold-crossing delta fixture (release_delta_folded): same recipe
    // with a COMPACTION between the base and the target generation —
    // the walk must compose across the fold (r14 tier 1)
    val relFoldFix = scala.collection.mutable.Map.empty[Int, String]
    def builtReleaseFold(m: Int): String =
      relFoldFix.getOrElseUpdate(m, {
        val root = s"$out/m$m/release_fold"
        graft.ArtifactStore.deleteRecursively(
          java.nio.file.Paths.get(root))
        val corpusDir = s"$root/corpus"
        graft.streaming.StreamCurate.appendBatch(corpusDir,
          docsOf(m).select("doc_id", "text"), 0L,
          b => b.select("doc_id", "text"))
        graft.streaming.Release.publish(spark, corpusDir, None,
          s"$root/rel", "base", nShards = 256)
        graft.streaming.StreamCurate.deleteCurated(spark, corpusDir,
          docsOf(m).select("doc_id").orderBy("doc_id").limit(100))
        graft.streaming.StreamCurate.compact(spark, corpusDir,
          graft.streaming.StreamCurate.nextCompactId(spark, corpusDir))
        root
      })

    // vacuumed-history delta fixture (release_delta_state): the fold
    // PLUS a vacuum — the walk is unprovable, the per-shard fingerprint
    // state must decide every shard from metadata (r14 tier 2)
    val relStateFix = scala.collection.mutable.Map.empty[Int, String]
    def builtReleaseState(m: Int): String =
      relStateFix.getOrElseUpdate(m, {
        val root = s"$out/m$m/release_state"
        graft.ArtifactStore.deleteRecursively(
          java.nio.file.Paths.get(root))
        val corpusDir = s"$root/corpus"
        graft.streaming.StreamCurate.appendBatch(corpusDir,
          docsOf(m).select("doc_id", "text"), 0L,
          b => b.select("doc_id", "text"))
        graft.streaming.Release.publish(spark, corpusDir, None,
          s"$root/rel", "base", nShards = 256)
        graft.streaming.StreamCurate.deleteCurated(spark, corpusDir,
          docsOf(m).select("doc_id").orderBy("doc_id").limit(100))
        graft.streaming.StreamCurate.compact(spark, corpusDir,
          graft.streaming.StreamCurate.nextCompactId(spark, corpusDir))
        graft.streaming.StreamCurate.vacuum(spark, corpusDir)
        root
      })

    // SHARD-CLUSTERED delta fixture (release_delta_clustered /
    // clustered_shard_read, VERDICT r14 #1 — the r14 weak item's fix):
    // the PRODUCTION scale direction — shard count grows WITH the
    // corpus (16·m: constant shard bytes), the fold writes the base
    // clustered at one dir per shard, the takedown touches ONE shard,
    // and the vacuum kills the walk so the delta rides the state tier.
    // The content read must then prune to the touched shard's dir:
    // flat 8→64×, where the r14 column-pruned snapshot scan was linear.
    def clustShards(m: Int): Int = 16 * m // 16 / 128 / 1024 rungs
    val relClustFix = scala.collection.mutable.Map.empty[Int, String]
    def builtReleaseClustered(m: Int): String =
      relClustFix.getOrElseUpdate(m, {
        val root = s"$out/m$m/release_clust"
        graft.ArtifactStore.deleteRecursively(
          java.nio.file.Paths.get(root))
        val corpusDir = s"$root/corpus"
        graft.streaming.StreamCurate.appendBatch(corpusDir,
          docsOf(m).select("doc_id", "text"), 0L,
          b => b.select("doc_id", "text"))
        graft.streaming.Release.publish(spark, corpusDir, None,
          s"$root/rel", "base", nShards = clustShards(m))
        val victims = graft.ext.TextOps.trainingShards(
            docsOf(m).select("doc_id", "text"), "doc_id", clustShards(m))
          .filter(col("shard") === 0)
          .select("doc_id").orderBy("doc_id").limit(100)
        graft.streaming.StreamCurate.deleteCurated(spark, corpusDir,
          victims)
        graft.streaming.StreamCurate.compact(spark, corpusDir,
          graft.streaming.StreamCurate.nextCompactId(spark, corpusDir),
          clusterBins = clustShards(m))
        graft.streaming.StreamCurate.vacuum(spark, corpusDir)
        root
      })

    // cross-release audit fixture (release_audit_fixed, VERDICT r13 #6):
    // FOUR pinned releases (two at the pre-takedown gen, two at the
    // latest) over builtRelease's corpus — the audit's per-release term
    // is one column-pruned (id, text) scan + the gated blast join
    val relAuditFix = scala.collection.mutable.Map.empty[Int, String]
    def builtReleaseAudit(m: Int): String =
      relAuditFix.getOrElseUpdate(m, {
        val corpusDir = s"${builtRelease(m)}/corpus"
        val ar = s"$out/m$m/relaudit"
        graft.ArtifactStore.deleteRecursively(java.nio.file.Paths.get(ar))
        // gens: birth 0, append 1, takedown 2 (the builtRelease recipe)
        graft.streaming.Release.publish(spark, corpusDir, Some(1), ar,
          "a1", nShards = 64)
        graft.streaming.Release.publish(spark, corpusDir, Some(1), ar,
          "a2", nShards = 64)
        graft.streaming.Release.publish(spark, corpusDir, None, ar,
          "a3", nShards = 64)
        graft.streaming.Release.publish(spark, corpusDir, None, ar,
          "a4", nShards = 64)
        ar
      })

    // streamed dense-index dirs per multiplier (StreamIvf 3-batch ingest,
    // nCells ~ √n at each scale — the prebuiltRag sizing); built by the
    // st8_stream_ingest3 row, reused by st8_append_fixed
    val st8Dirs = scala.collection.mutable.Map.empty[Int, String]
    val st8Ctr = new java.util.concurrent.atomic.AtomicLong(0)

    // m6_append_fixed: the maintained fingerprint index per multiplier
    // (build cost excluded from the append row — the v6 attribution
    // pattern; the build itself is m5's hash scan, measured there)
    val m6Idx = scala.collection.mutable.Map.empty[Int,
      org.apache.spark.sql.DataFrame]
    val m6Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtPhashIdx(m: Int): org.apache.spark.sql.DataFrame =
      m6Idx.getOrElseUpdate(m, {
        val idx = graft.ext.Multimodal.perceptualHash(
          graft.ext.Multimodal.mediaTable(
            docsOf(m).select("doc_id", "text")),
          new graft.ext.Multimodal.ImageIoAHash())
          .select("doc_id", "phash").persist()
        idx.count()
        idx
      })

    // x56_append_fixed: the maintained cluster table per multiplier
    // (per-copy chain blocks — the realistic sharded-corpus shape; the
    // one-shot CC build is excluded, it is x11's own cost)
    val x56Idx = scala.collection.mutable.Map.empty[Int,
      org.apache.spark.sql.DataFrame]
    val x56Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def scaleChains(docs: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "source", "copy").orderBy("doc_id")
      docs.withColumn("prev", lag("doc_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id1"), col("doc_id").as("id2"))
    }
    def builtChainAssigned(m: Int): org.apache.spark.sql.DataFrame =
      x56Idx.getOrElseUpdate(m, {
        val a = Dedup.duplicateClusters(scaleChains(docsOf(m))).persist()
        a.count()
        a
      })

    // v30_append_fixed: the maintained semantic index per multiplier —
    // the index-side vectors assigned under centroids trained ON the
    // index (the frozen-quantizer v28 contract; nCells ~ √n so cell
    // occupancy ~ √n). Build excluded from the append row (it is the
    // IVF build, measured by its own rows).
    val v30Idx = scala.collection.mutable.Map.empty[Int,
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]
    val v30Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtSemIdx(m: Int)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      v30Idx.getOrElseUpdate(m, {
        val c = embsOf(m).filter(col("vec_id") % 4 =!= 0)
          .select("vec_id", "vec")
        val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
        val cents = Similarity.ivfCentroids(c, "vec_id", "vec", cells)
          .persist()
        cents.count()
        val idx = Similarity.assignTo(c, cents, "vec_id", "vec").persist()
        idx.count()
        (cents, idx)
      })

    // st10: prebuilt stream-maintained cluster dirs per multiplier — the
    // m× corpus chain edges ingested as batch 0 (the one-shot ingest IS
    // x11's CC build, measured by its own row); the timed rows are the
    // fixed-batch APPEND and the overlay-read SERVE.
    val st10Dirs = scala.collection.mutable.Map.empty[Int, String]
    val st10Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtClusterDir(m: Int): String = st10Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-st10-m$m-").toString
      graft.streaming.StreamClusters.appendBatch(dir,
        scaleChains(docsOf(m)), 0L)
      dir
    })

    // st11: prebuilt streamed ngram-df dirs per multiplier — the m×
    // corpus ingested as batch 0 (the one-shot build is x54's scan
    // shape, excluded); the timed row is the fixed-batch APPEND through
    // the sink (anti-join vs the ids guard + batch tokenize + delta
    // write + manifest flip).
    val st11Dirs = scala.collection.mutable.Map.empty[Int, String]
    val st11Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtNgDfDir(m: Int): String = st11Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-st11-m$m-").toString
      graft.streaming.StreamNgramDf.appendBatch(dir,
        docsOf(m).select("doc_id", "text"), 0L)
      dir
    })

    // x57: prebuilt streamed BM25 dirs per multiplier for the takedown
    // row — the m× corpus ingested as 2 segments (the one-shot build is
    // x48/x51's own cost, excluded); the timed row is ONE deleteDocs
    // call (tombstone write + manifest flip + the served-key scoping
    // probe, which is the honest linear term at test scale).
    val x57Dirs = scala.collection.mutable.Map.empty[Int, String]
    val x57Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    val v32Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    val st13Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    val tdCtr = new java.util.concurrent.atomic.AtomicLong(0)
    // DEDICATED dirs for the delete rows (the x57 discipline): the
    // shared st8/st11 dirs are mutated by their own rows' warmups
    // (extra segments/batches land before the timed cells), which
    // distorted the m=min cells of the first v32/st13 measurements
    // (r11 second-review #4)
    val v32Dirs = scala.collection.mutable.Map.empty[Int, String]
    def builtV32Dir(m: Int): String = v32Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-v32-m$m-").toString
      val c = embsOf(m)
      val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
      (0 to 2).foreach { i =>
        graft.streaming.StreamIvf.appendBatch(dir,
          c.filter(col("vec_id") % 3 === i).select("vec_id", "vec"),
          i, "vec_id", "vec", nCells = cells)
      }
      dir
    })
    val st13Dirs = scala.collection.mutable.Map.empty[Int, String]
    def builtSt13Dir(m: Int): String = st13Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-st13-m$m-").toString
      graft.streaming.StreamNgramDf.appendBatch(dir,
        docsOf(m).select("doc_id", "text"), 0L)
      dir
    })

    // the FULL forget cascade per multiplier: all six sinks fed from
    // the m× corpus, prebuilt outside the timed cells (the one-shot
    // build is each family's own measured ingest cost); the timed row
    // is ONE Takedown.forget call — the operator's per-complaint price
    val cascadeSinks =
      scala.collection.mutable.Map.empty[Int, graft.streaming.Takedown.Sinks]
    def builtCascade(m: Int): graft.streaming.Takedown.Sinks =
      cascadeSinks.getOrElseUpdate(m, {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-scale-td-m$m-").toString
        val sinks = graft.streaming.Takedown.Sinks(
          curateDir = Some(s"$root/corpus"),
          bm25Dir = Some(s"$root/bm25"),
          bm25BlockRecrawl = true,
          ivf = Some((s"$root/ivf", "vec_id", "vec")),
          clustersDir = Some(s"$root/cc"),
          containmentDir = Some(s"$root/cont"),
          ngramDf = Some((s"$root/ngdf", 3)))
        val docs = docsOf(m)
        graft.streaming.StreamCurate.appendBatch(sinks.curateDir.get,
          docs.select("doc_id", "text", "n_chars"), 0L,
          b => b.select("doc_id", "text"))
        graft.streaming.StreamBm25.appendBatch(sinks.bm25Dir.get,
          docs.select("doc_id", "text"), 0L, "doc_id", "text")
        graft.streaming.StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
          docs.select("doc_id", "text"), 0L)
        val c = embsOf(m)
        graft.streaming.StreamIvf.appendBatch(sinks.ivf.get._1,
          c.select("vec_id", "vec"), 0L, "vec_id", "vec",
          nCells = math.max(16, math.sqrt(c.count().toDouble).toInt))
        graft.streaming.StreamClusters.appendBatch(sinks.clustersDir.get,
          docs.select(col("doc_id").as("id1"),
            (pmod(col("doc_id"), lit(9973)) + 30000000000L).as("id2")), 0L)
        graft.streaming.StreamContainment.appendBatch(
          sinks.containmentDir.get, docs.select("doc_id", "text"), 0L)
        sinks
      })
    // st14: curated dirs per multiplier — batch 0 = the m× corpus,
    // batch 1 = a FIXED fresh-id/fresh-text delta, then a FIXED-size
    // takedown (copy-0 ids only) — so the diff window (gen after batch
    // 0 → latest) stays constant-size while the shared history grows m×
    val st14Dirs = scala.collection.mutable.Map.empty[Int, (String, Int)]
    def builtDiffDir(m: Int): (String, Int) = st14Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-st14-m$m-").toString
      val docs = docsOf(m).select("doc_id", "text")
      graft.streaming.StreamCurate.appendBatch(dir, docs, 0L,
        b => b.select("doc_id"))
      val genA = graft.streaming.Manifest.readWithGen(spark, dir).get._1
      val delta = docsOf(1).filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 90000000000L).as("doc_id"),
          concat(lit("delta "), col("text")).as("text"))
      graft.streaming.StreamCurate.appendBatch(dir, delta, 1L,
        b => b.select("doc_id"))
      graft.streaming.StreamCurate.deleteCurated(spark, dir,
        docs.select("doc_id")
          .filter(col("doc_id") < 10000000L && col("doc_id") % 101 === 7))
      (dir, genA)
    })

    // x70: the maintained containment index per multiplier — the REAL
    // on-disk layout (shingle-set table, 5-gram df, EXPLODED postings
    // partitioned by ngb), per-copy token salt like the x61 row: the
    // FIXED copy-0 batch pairs only within copy 0, so candidates stay
    // constant; with the left-merged df and the partition-pruned
    // postings read the increment must stay in the family's flat band
    val contIdx = scala.collection.mutable
      .Map.empty[Int, (DataFrame, DataFrame, DataFrame)]
    def saltedDocs(m: Int): DataFrame = docsOf(m).select(col("doc_id"),
      concat_ws(" ", transform(TextOps.tokens(col("text")),
        t => concat(t, lit("#"), col("copy")))).as("text"))
    def builtContIdx(m: Int): (DataFrame, DataFrame, DataFrame) =
      contIdx.getOrElseUpdate(m, {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-scale-x70-m$m-").toString
        val sets0 = Dedup.shingleSets(
          saltedDocs(m).filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", 5).persist()
        val post0 = Dedup.postingsOf(sets0)
        sets0.write.mode("overwrite").parquet(s"$dir/sets")
        post0.write.mode("overwrite").partitionBy("ngb")
          .parquet(s"$dir/post")
        post0.groupBy("ng").agg(count(lit(1)).as("ndocs"))
          .write.mode("overwrite").parquet(s"$dir/df")
        sets0.unpersist()
        (spark.read.parquet(s"$dir/sets"),
          spark.read.parquet(s"$dir/df"),
          spark.read.parquet(s"$dir/post"))
      })

    def builtTakedownDir(m: Int): String = x57Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-x57-m$m-").toString
      val docs = docsOf(m).select("doc_id", "text")
      (0 to 1).foreach { i =>
        graft.streaming.StreamBm25.appendBatch(dir,
          docs.filter(col("doc_id") % 2 === i), i, "doc_id", "text")
      }
      dir
    })

    // x55_append_fixed: the maintained trigram-df index per multiplier
    // (same attribution split — the one-shot build is x54's scan shape)
    val x55Idx = scala.collection.mutable.Map.empty[Int,
      org.apache.spark.sql.DataFrame]
    val x55Ctr = new java.util.concurrent.atomic.AtomicLong(0)
    def builtNgDfIdx(m: Int): org.apache.spark.sql.DataFrame =
      x55Idx.getOrElseUpdate(m, {
        val idx = TextOps.ngramDf(docsOf(m), "doc_id", "text", n = 3)
          .persist()
        idx.count()
        idx
      })
    def stCellsOf(m: Int): Int =
      math.max(16, math.sqrt(embsOf(m).count().toDouble).toInt)
    def builtStreamDir(m: Int): String = st8Dirs.getOrElseUpdate(m, {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-st8-m$m-").toString
      val c = embsOf(m)
      val cells = stCellsOf(m)
      (0 to 2).foreach { i =>
        graft.streaming.StreamIvf.appendBatch(dir,
          c.filter(col("vec_id") % 3 === i).select("vec_id", "vec"),
          i, "vec_id", "vec", nCells = cells)
      }
      dir
    })

    val ops: Seq[Op] = Seq(
      Op("x1_exact_dedup", m =>
        Dedup.exactGroups(docsOf(m), "doc_id", "text").count()),
      Op("x7_minhash_lsh", m => {
        // per-copy shingle salt: cross-copy near-dup structure removed
        val sh = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .select(col("doc_id"),
            transform(TextOps.shingles(col("toks"), 3),
              x => concat(x, lit("#"), col("copy"))).as("sh"))
        Dedup.minHashCandidates(sh, "doc_id", "sh", k = 32, bands = 16)
          .filter(col("est_jaccard") >= 0.25).count()
      }),
      // ---- zipf-skew rows (z ≈ 1.1): ScaleStress data is salted-uniform
      // by construction (the documented near-identical-copy pitfall), so
      // these rows plant the OPPOSITE pathology — a zipf head where one
      // key/bucket holds ~half the corpus — and pin that the engine's
      // skew defenses (LSH occupancy caps, partial aggregation, AQE
      // skew-join) keep the exponent ~linear anyway.
      Op("x7_zipf_bucket", m => {
        // boilerplate-template skew: zipf(1.1) template id; the head
        // templates' docs carry IDENTICAL shingle sets (the "legal
        // boilerplate page" mega-bucket from the maxBucketSize
        // scaladoc) — template 1 alone covers ~53% of the corpus, so
        // without the occupancy cap one bucket would emit ~(0.53·n)²/2
        // pairs and the run would go quadratic BY CONSTRUCTION. The
        // cap is set BELOW every head bucket at every multiplier
        // (z=3 ≈ 8% of the base corpus is the smallest head), so the
        // row isolates the engine behavior under a capped hot key:
        // output = the tail's salted within-copy natural pairs only,
        // runtime ~linear in the corpus, however heavy the head. (An
        // under-cap bucket legitimately emits its full clique — cost
        // tracking emitted pairs is the data's quadratic, not the
        // engine's; the first run of this row measured exactly that.)
        val docs = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .withColumn("z", zipfKey(col("doc_id")))
          .select(col("doc_id"),
            when(col("z") <= 3,
              transform(sequence(lit(0), lit(29)),
                i => concat(lit("tpl"), col("z"), lit("#"), i)))
              .otherwise(transform(TextOps.shingles(col("toks"), 3),
                x => concat(x, lit("#"), col("copy")))).as("sh"))
        Dedup.minHashCandidates(docs, "doc_id", "sh", k = 32, bands = 16,
            maxBucketSize = 256)
          .filter(col("est_jaccard") >= 0.25).count()
      }),
      Op("groupby_zipf", m =>
        // one group holds ~53% of all rows: map-side partial
        // aggregation is the defense — the hot reduce key receives one
        // partial row per map partition, not half the corpus
        docsOf(m).withColumn("z", zipfKey(col("doc_id")))
          .groupBy("z")
          .agg(sum(length(col("text"))).as("chars"), count(lit(1)).as("n"))
          .filter(col("chars") >= 0).count()),
      Op("skewjoin_zipf", m => {
        // fact-to-dim equi-join on the zipf key with broadcast DISABLED
        // (forcing the shuffled-join shape a 100 TB dim side implies):
        // one shuffle partition would carry ~53% of the fact rows; AQE
        // skew-join splits it (spark.sql.adaptive.skewJoin, on by
        // default) so the exponent stays ~linear
        val dim = spark.range(1, 5001).select(col("id").as("z"),
          md5(col("id").cast("string")).as("payload"))
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try docsOf(m).withColumn("z", zipfKey(col("doc_id")))
          .join(dim, Seq("z"))
          .filter(length(col("payload")) > 0).count()
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }),
      Op("x8_simhash", m =>
        // filter on the fingerprint so count() can't prune the computation
        Dedup.simHash(docsOf(m)
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks", "simhash").filter(col("simhash") =!= 0).count()),
      Op("v2_brute_topk_5q", m => {
        val c = embsOf(m)
        Similarity.bruteForceTopK(c.filter(col("vec_id") < 5), c,
          "vec_id", "vec_id", "vec", k = 10).count()
      }),
      Op("v2_brute_heap_5q", m => {
        // the SAME exact top-k via the bounded-heap aggregate
        // (TopKAgg.topKByKey): map-side partial aggregation discards all
        // but k rows per (mapper, query) BEFORE the shuffle, where the
        // rank window ships and sorts every candidate row. Bit-identical
        // output (TopKAggSpec); this row measures what the shuffle
        // savings are worth.
        val c = embsOf(m)
        graft.functions.TopKAgg.topKByKey(
          Similarity.bruteForceScores(c.filter(col("vec_id") < 5), c,
            "vec_id", "vec_id", "vec"),
          "q_id", "cos", "c_id", k = 10).count()
      }),
      // the 64-query pair: candidate stream is 64·n rows — the shuffle
      // the two forms treat differently is 64× bigger than the 5q rows'
      Op("v2_win64q", m => {
        val c = embsOf(m)
        Similarity.bruteForceTopK(c.filter(col("vec_id") < 64), c,
          "vec_id", "vec_id", "vec", k = 10).count()
      }),
      Op("v2_heap64q", m => {
        val c = embsOf(m)
        graft.functions.TopKAgg.topKByKey(
          Similarity.bruteForceScores(c.filter(col("vec_id") < 64), c,
            "vec_id", "vec_id", "vec"),
          "q_id", "cos", "c_id", k = 10).count()
      }),
      Op("v4_ann_lsh", m => {
        // planes sized to the corpus (log2 rule): a FIXED 8-bit band at
        // 128k vectors means 256 buckets of ~500 → Θ(n²/256) candidate
        // pairs (>78 GB of spill, measured). suggestedPlanes keeps mean
        // bucket occupancy ~constant so candidates stay ~linear.
        val c = embsOf(m)
        val planes = Similarity.suggestedPlanes(c.count(), bands = 4)
        Similarity.annTopK(c, "vec_id", "vec", planes = planes, k = 5,
          bands = 4).count()
      }),
      Op("x14_tfidf_ann", m => {
        // full text→vector→ANN pipeline: hashed TF-IDF vectors for every
        // doc, then LSH ANN with corpus-sized planes (k=3 neighbours).
        // maxBucketSize is TIGHT here (500, not the default 10000): the
        // fixture's ~31-token shared vocabulary makes every TF-IDF vector
        // nearly collinear, so LSH signatures collapse into giant buckets
        // — at 64× the default cap admitted ~10⁸ candidate pairs and
        // OOMed. When Ω(n²) of the corpus genuinely IS mutually similar,
        // candidate output is inherently quadratic; the cap is what keeps
        // the job bounded (dropped buckets = "this blob needs exact
        // clustering, not ANN").
        val docs = docsOf(m)
        val vecs = TextOps.assembleVector(
          TextOps.hashedTfIdf(docs, "doc_id", "text", 32), "doc_id", 32)
        val planes = Similarity.suggestedPlanes(docs.count(), bands = 4)
        Similarity.annTopK(vecs, "doc_id", "vec", planes = planes, k = 3,
          bands = 4, maxBucketSize = 500).count()
      }),
      Op("v5_ivf_topk_5q", m => {
        // standard IVF sizing: nCells ~ sqrt(n) keeps cell occupancy and
        // probe cost balanced as the corpus grows
        val c = embsOf(m)
        val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
        Similarity.ivfTopK(c.filter(col("vec_id") < 5),
          c.filter(col("vec_id") >= 5), "vec_id", "vec_id", "vec",
          nCells = cells, nProbe = 4, k = 10).count()
      }),
      Op("x17_decontam", m => {
        // cross-corpus decontamination at m× the training corpus: the
        // benchmark side stays a fixed-rate slice (doc_id % 7 == 0 per
        // copy), shingles salted per copy like x7 so contamination
        // structure stays linear in m
        val sh = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .select(col("doc_id"),
            transform(TextOps.shingles(col("toks"), 3),
              x => concat(x, lit("#"), col("copy"))).as("sh"),
            (col("doc_id") % 7 === 0).as("is_bench"))
        Dedup.crossCorpusCandidates(
          sh.filter(!col("is_bench")), sh.filter(col("is_bench")),
          "doc_id", "sh", k = 32, bands = 16)
          .filter(col("est_jaccard") >= 0.25).count()
      }),
      Op("x19_fuzzy_pairs", m => {
        // banded edit-distance pairs at m×: the x19 shape with `copy`
        // joined into the block key (the x7 shingle-salt move — the
        // blow-up's copies are textually near-identical, so without the
        // salt every doc forms an m-clique with its copies and the test
        // measures the data, not the engine). Within-copy structure = the
        // base corpus, so candidates must scale ~linearly with m.
        val t = docsOf(m)
          .select(col("doc_id"), col("copy"), col("lang"), col("source"),
            col("n_chars"), floor(col("n_chars") / 20).as("bkt"),
            substring(col("text"), 1, 48).as("pfx"))
        val a = t.select(col("doc_id").as("id1"), col("copy"), col("lang"),
          col("source"), col("bkt"), col("n_chars").as("nc1"),
          col("pfx").as("p1"))
        val b = t.select(col("doc_id").as("id2"), col("copy"), col("lang"),
          col("source"),
          explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
          col("n_chars").as("nc2"), col("pfx").as("p2"))
        a.join(b, Seq("copy", "lang", "source", "bkt"))
          .filter(col("id1") < col("id2") && abs(col("nc1") - col("nc2")) <= 20)
          .filter(levenshtein(col("p1"), col("p2")) <= 28)
          .count()
      }),
      Op("v6_ivf_build", m => {
        // index BUILD leg of build-once/probe-many: seed + Lloyd refine +
        // assign + materialize postings. Timed separately from the probe
        // so SCALING.md records the amortizable cost vs the per-query cost.
        ivfIdx.remove(m).foreach { i =>
          i.centroids.unpersist(); i.postings.unpersist()
        }
        builtIvf(m).postings.count()
      }),
      Op("v6_ivf_probe_5q", m => {
        // steady-state PROBE leg against the prebuilt index
        val c = embsOf(m)
        Similarity.probeIvf(builtIvf(m), c.filter(col("vec_id") < 5),
          "vec_id", nProbe = 4, k = 10).count()
      }),
      Op("x11_cc_resolve", m => {
        // duplicate-cluster resolution at scale: chain edges within each
        // (copy, lang, source) block — component diameter stays ~constant
        // while node count grows m×, so pointer-jumping round count is
        // flat and per-round join cost is the scaling subject
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("copy", "lang", "source").orderBy("doc_id")
        val edges = docsOf(m)
          .withColumn("prev", lag("doc_id", 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("id1"), col("doc_id").as("id2"))
        Dedup.duplicateClusters(edges).count()
      }),
      Op("v10_semdedup_ivf", m => {
        // semantic dedup, production (IVF-cell-blocked) form. nCells ~
        // sqrt(n) balances the two n^1.5 terms (assignment n·nCells vs
        // in-cell pairs n²/nCells): total Θ(n^1.5) — the standard
        // single-level IVF tradeoff, expect exponent ~1.2-1.5 (sub-
        // quadratic; a two-level centroid tree is the upgrade path past
        // 10⁹ vectors). Cross-copy cosines ~0, so true dup structure
        // stays linear in m and survivors must track corpus size.
        val c = embsOf(m)
        val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
        Similarity.semanticDedupIvf(c, "vec_id", "vec", nCells = cells,
          threshold = 0.3).count()
      }),
      Op("x29_seg_decontam", m => {
        // segment-overlap decontamination at m×: segments salted per copy
        // (the x7 shingle-salt move — the copy prefix shifts every window
        // by one token, so unsalted segments collide across copies and
        // the doc_id%7 split rotation would cross-contaminate copies).
        // Bloom sized to the benchmark segment count (~16 bits/member —
        // the array grows linearly with the BENCHMARK, ~1.8 MB at 64×,
        // while the train side it prefilters grows with the CORPUS).
        val segs = docsOf(m)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .select(col("doc_id"), col("copy"),
            explode(transform(
              sequence(lit(0),
                floor((size(col("__toks")) - 1) / 10).cast("int")),
              i => array_join(slice(col("__toks"), i * 10 + 1, lit(10)), " ")))
              .as("seg0"))
          .select(col("doc_id"),
            concat(col("seg0"), lit("#"), col("copy")).as("__seg"))
        val bench = segs.filter(col("doc_id") % 7 === 0)
          .select("__seg").distinct().persist()
        val nb = bench.count()
        val bits = (((16 * nb + 63) / 64) * 64).toInt
        val bloom = Dedup.bloomBuild(bench, col("__seg"), bits, 5)
        val contaminated = segs.filter(col("doc_id") % 7 =!= 0)
          .filter(Dedup.bloomMightContain(bloom, 5, col("__seg")))
          .join(bench, Seq("__seg"), "left_semi")
          .select("doc_id").distinct()
        val n = docsOf(m).filter(col("doc_id") % 7 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti").count()
        bench.unpersist()
        n
      }),
      Op("st5_stream_neardup", m => {
        // the STREAMING near-dup code path (batch-degenerate), same
        // per-copy shingle salt as x7 so candidate structure stays linear
        // in m. Cost = stateless signature scan + ONE keyed shuffle into
        // the stateful pairing — must track x7_minhash_lsh's shape (same
        // work, object-typed pairing instead of the band self-join).
        val sh = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            transform(TextOps.shingles(col("toks"), 3),
              x => concat(x, lit("#"), col("copy"))).as("sh"))
        val spark2 = spark
        import spark2.implicits._
        graft.streaming.StreamNearDup.streamCandidates(
            graft.streaming.StreamNearDup.bandedFromShingles(sh, 32, 16)
              .as[graft.streaming.BandedDoc], k = 32)
          .filter(col("est_jaccard") >= 0.25)
          .dropDuplicates("id1", "id2").count()
      }),
      Op("v13_cluster_sample", m => {
        // cluster-balanced sampling against the prebuilt index: broadcast
        // assignment (linear) + one keyed window over ~sqrt(n)-sized
        // cells; cap fixed, output ~ cap * nCells ~ sqrt(n)
        val c = embsOf(m)
        Similarity.clusterBalancedSample(builtIvf(m),
          c.filter(col("vec_id") >= 5), "vec_id", cap = 8).count()
      }),
      Op("x36_incremental", m => {
        // incremental exact dedup at m×: batch = doc_id % 4 == 0 per
        // copy, corpus = the rest. Copy prefixes make digests distinct
        // across copies, so survivor structure stays linear in m; the
        // op is two digest-keyed shuffles (window + left_anti) → expect
        // ~linear wall.
        val d = docsOf(m)
        Dedup.incrementalDedup(d.filter(col("doc_id") % 4 =!= 0),
          d.filter(col("doc_id") % 4 === 0), "doc_id", "text").count()
      }),
      Op("v16_binary_5q", m => {
        // binary-rescore funnel, same 5-query shape as v2_brute_topk_5q:
        // the Hamming scan is O(n·q) like brute force (expect exponent
        // ~1.0) but integer-popcount-per-row; the float re-rank touches
        // only the 50-candidate shortlist per query at ANY corpus size.
        val c = embsOf(m)
        Similarity.binaryTopK(c.filter(col("vec_id") < 5),
          c.filter(col("vec_id") >= 5), "vec_id", "vec_id", "vec",
          k = 10, shortlist = 50).count()
      }),
      Op("v17_filtered_5q", m => {
        // attribute-filtered exact search: the label equi-join shrinks
        // candidates ~10× before any cosine — same O(n·q) family as
        // v2_brute_topk_5q but the constant is the category fraction.
        // (The blow-up keeps labels uniform, so the fraction is scale-
        // invariant and the exponent must match v2's ~linear shape.)
        val c = embsOf(m).withColumn("label",
          pmod(col("vec_id"), lit(10)).cast("int"))
        Similarity.filteredTopK(c.filter(col("vec_id") < 5),
          c.filter(col("vec_id") >= 5), "vec_id", "vec_id",
          "vec", "label", k = 10).count()
      }),
      Op("ivf_assign_flat", m => {
        // the FLAT broadcast-packed assignment against the prebuilt
        // centroids: per-row cost ∝ nCells ~ √n → Θ(n^1.5) total. This is
        // the baseline the two-level form exists to beat.
        val c = embsOf(m)
        Similarity.assignTo(c, builtIvf(m).centroids, "vec_id", "vec").count()
      }),
      Op("ivf_assign_hier", m => {
        // TWO-LEVEL assignment against the same centroids: rank ~√nCells
        // coarse cells, then only the fine cells inside the best 4 —
        // Θ(n^1.25) total (includes the per-call coarse-tree build over
        // the centroid-sized table; amortizable, honest to include).
        val c = embsOf(m)
        Similarity.assignToHier(c, builtIvf(m).centroids, "vec_id", "vec",
          nProbeCoarse = 4).count()
      }),
      Op("x46_assign_ids", m =>
        // two-phase id assignment: bucket window + broadcast offsets;
        // countDistinct forces every id AND re-proves bijection at m×
        // (emitted count must equal the doc count exactly)
        TextOps.assignGlobalIds(docsOf(m), "doc_id", nBuckets = 1024)
          .agg(countDistinct("new_id")).collect()(0).getLong(0)),
      Op("x45_incr_neardup", m => {
        // incremental near-dup at m×: per-copy shingle salt (the x7
        // move) keeps near-dup structure linear; the corpus side is
        // ONLY its signature index — cost = sign the batch once (one
        // checkpoint) + one band pass (one explode, one band-key
        // shuffle; index hits and within-batch twins paired inside each
        // bucket), bucket-capped.
        val sh = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .select(col("doc_id"),
            transform(TextOps.shingles(col("toks"), 3),
              x => concat(x, lit("#"), col("copy"))).as("sh"))
        val corpusSigs = Dedup.withMinHash(
            sh.filter(col("doc_id") % 4 =!= 0), "sh", k = 32)
          .select(col("doc_id"), col("minhash"))
        Dedup.incrementalNearDup(corpusSigs,
          sh.filter(col("doc_id") % 4 === 0), "doc_id", "sh",
          k = 32, bands = 16, threshold = 0.25).count()
      }),
      Op("x37_train_shards", m => {
        // shard + pos are scan-side md5 columns; the manifest groupBy
        // shuffles (shard, partial-agg) rows only. The pos filter keeps
        // column pruning from skipping the second md5 draw.
        TextOps.trainingShards(docsOf(m), "doc_id", nShards = 64)
          .filter(col("pos") >= 0)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("n_toks"))
          .count()
      }),
      Op("x39_perplexity", m => {
        // train (one token-count groupBy over the m× corpus) + score
        // (shuffle-free broadcast-model scan): both legs linear. The
        // ppl filter forces the HOF fold past count()'s pruning.
        val d = docsOf(m)
        TextOps.perplexity(d, "doc_id", "text",
            TextOps.unigramLm(d, "text", vocabSize = 24))
          .filter(col("ppl") > 0).count()
      }),
      Op("x47_bigram_ppl", m => {
        // bigram train (token + bigram count groupBys) + shuffle-free
        // broadcast-model scoring — the x39 shape one n-gram order up
        val d = docsOf(m)
        TextOps.perplexityBigram(d, "doc_id", "text",
            TextOps.bigramLm(d, "text", vocabSize = 24, nBigrams = 256),
            lambda = 0.7)
          .filter(col("ppl") > 0).count()
      }),
      Op("x40_chunking", m =>
        // pure scan-side posexplode; length() forces the chunk text
        // (count alone would prune the array_join)
        TextOps.chunkSliding(docsOf(m), "doc_id", "text", w = 12, s = 8)
          .filter(length(col("chunk")) >= 0).count()),
      Op("x41_boilerplate", m =>
        // doc-frequency boilerplate removal at m×. The copies SHARE
        // segments (the 1-token copy prefix shifts only the first
        // window), so per-segment df grows with m — the realistic
        // direction: boilerplate is boilerplate because it repeats.
        // Cost stays linear (explode + df groupBy + broadcast anti +
        // reassembly; no doc pairing anywhere); output = every doc,
        // exactly linear by construction. The filters reference BOTH
        // join sides — a bare count() lets Catalyst eliminate the
        // outer join entirely (right side is unique-keyed) and times
        // nothing but the scan.
        Dedup.boilerplateRemove(docsOf(m), "doc_id", "text",
          segTokens = 10, minDf = 2)
          .filter(length(col("text_clean")) >= 0 && col("n_kept") >= 0)
          .count()),
      Op("x43_intradoc", m =>
        // zero-shuffle per-row fold; length() forces the fold result
        // past count()'s column pruning
        Dedup.intraDocDedup(docsOf(m), "doc_id", "text", segTokens = 10)
          .filter(length(col("text_clean")) >= 0).count()),
      Op("x38_epoch_upsample", m =>
        // per-(copy, lang) strata: strata count grows m×, per-stratum
        // structure identical → emitted (doc, epoch) rows exactly linear
        // (the blow-up can't change any stratum's epochs). One tiny count
        // agg + broadcast epoch table + generate; the epoch filter forces
        // the generate past count()'s pruning.
        TextOps.epochUpsample(docsOf(m)
            .withColumn("strat", concat(col("lang"), lit("#"), col("copy"))),
          "strat", maxEpochs = 4)
          .filter(col("epoch") >= 1).count()),
      Op("x44_training_mix", m => {
        // the data-mixing CAPSTONE at m× — temperature mix (rates from
        // per-(copy, lang) counts, targetCount scaled with the corpus) →
        // epoch upsample on the MIXED counts → shard assignment →
        // manifest. Every stage is a scan filter / broadcast join /
        // partial agg; returns total mixed×upsampled rows (must be
        // ~linear in m), not the constant-size manifest row count.
        val d = docsOf(m)
          .withColumn("strat", concat(col("lang"), lit("#"), col("copy")))
        val mixed = TextOps.temperatureMixSample(d, "strat", "doc_id",
          tau = 0.5, targetCount = 200L * m)
        val up = TextOps.epochUpsample(mixed, "strat", maxEpochs = 4)
          .withColumn("rep_id", concat(col("doc_id"), lit("#"), col("epoch")))
        TextOps.trainingShards(up, "rep_id", nShards = 64)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_rows"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("n_toks"))
          .filter(col("n_toks") >= 0)
          .agg(sum("n_rows")).collect()(0).getLong(0)
      }),
      Op("x42_source_cap", m =>
        // per-(copy, source) quota: keys grow m× (the realistic
        // direction — more domains, same cap), rows per key constant;
        // one keyed shuffle + rank window, output = m × 20 × cap.
        TextOps.capPerKey(docsOf(m)
            .withColumn("src_key",
              concat(col("source"), lit("#"), col("copy"))),
          "src_key", "doc_id", n = 10).count()),
      Op("v19_rag_build", m => {
        // the amortizable RAG index-build leg: chunk (linear) + TF-IDF fit
        // (two groupBys over chunk components, linear) + √n-cell IVF
        // build (assignment n·√n → Θ(n^1.5), the flat-IVF build bound).
        ragIdx.remove(m).foreach { case (mo, i, cv, qv) =>
          mo.dfTab.unpersist(); mo.corpusN.unpersist()
          i.centroids.unpersist(); i.postings.unpersist()
          cv.unpersist(); qv.unpersist()
        }
        builtRag(m)._2.postings.count()
      }),
      Op("v19_rag_probe64", m => {
        // the SERVE path per constant 64-query batch against the prebuilt
        // chunk index: probe nProbe of √n cells → candidates ~ q·nProbe·
        // √n postings → expect exponent ~0.5 (sub-linear) as the corpus
        // grows under a fixed query load.
        val (_, idx, _, qv) = builtRag(m)
        Similarity.probeIvf(idx, qv, "doc_id", nProbe = 4, k = 5).count()
      }),
      Op("v20_rag_audit64", m => {
        // the audit's EXACT ground-truth leg at the capped sample size:
        // 64 queries × full chunk corpus brute force → expect exponent
        // ~1.0. This is a BUILD-time artifact in production (memoized in
        // VectorQ.prebuiltRag) — the row documents what that one-time
        // sweep costs as the corpus grows, which is why the cap exists.
        val (_, _, chunkVecs, qv) = builtRag(m)
        Similarity.bruteForceTopK(qv, chunkVecs, "doc_id", "chunk_key",
          "vec", k = 5).count()
      }),
      Op("x48_bm25_build", m => {
        // sparse-index build: explode + two groupBys over every body +
        // the df join — expect ~linear (token count ∝ corpus).
        bm25Idx.remove(m).foreach { i =>
          i.postings.unpersist(); i.stats.unpersist()
        }
        builtBm25(m).postings.count()
      }),
      Op("x48_bm25_probe64", m => {
        // EXACT sparse serve against the prebuilt index: cost ∝
        // Σ df(query terms) — LINEAR in the corpus for a fixed query
        // batch (posting lists grow with n), unlike the IVF probe's ~√n.
        // This measured row is the honest contrast between exact BM25
        // and ANN serve shapes; the shipped mitigation is the two-stage
        // impact-pruned serve (x50_2stage_probe64 below), which bounds
        // candidate generation by P per term instead.
        val idx = builtBm25(m)
        TextOps.bm25Search(idx, queries64(m), "doc_id", "text", k = 10)
          .count()
      }),
      Op("x49_bm25_merge", m => {
        // incremental maintenance: merge a ~1/4 batch into the prebuilt
        // index — postings-only shuffle (df recount + stats), never a
        // body re-tokenize of the corpus side. Must track the build's
        // linear shape with a smaller constant.
        val d = docsOf(m).filter(col("doc_id") % 97 =!= 3)
        TextOps.bm25Merge(builtBm25(m),
          d.filter(col("doc_id") % 4 === 0), "doc_id", "text")
          .postings.count()
      }),
      Op("x50_prune_build", m => {
        // stage-1 artifact build: ONE window over the postings (impact
        // rank per term, keep top-P) — linear in postings, amortizable
        // exactly like the index build it rides on.
        prunedIdx.remove(m).foreach(_.postings.unpersist())
        builtPruned(m).postings.count()
      }),
      Op("x50_2stage_probe64", m => {
        // BOUNDED sparse serve (the x48_bm25_probe64 contrast): candidate
        // generation over the P=64 impact-pruned lists (≤ |q terms|·P
        // candidates per query, FLAT in corpus size) + exact Okapi
        // re-score of only those docs against the full index. x48's exact
        // serve is Σ df(query terms) ∝ corpus (measured exponent 1.23);
        // this row is the measured fix.
        TextOps.bm25SearchTwoStage(builtBm25(m), builtPruned(m),
          queries64(m), "doc_id", "text", k = 10).count()
      }),
      Op("x51_seg_build", m => {
        // base-segment build (the ¾ slice as segment 0): timed as its own
        // row so the APPEND cell below measures only the append — the
        // helper is lazy and would otherwise charge the first caller.
        segIdx.remove(m).foreach { s =>
          s.postings.unpersist(); s.segStats.unpersist()
          s.termDf.unpersist()
        }
        builtSegs(m).postings.count()
      }),
      Op("x51_seg_append", m => {
        // SEGMENTED maintenance (the x49_bm25_merge contrast): append the
        // ¼ batch as an immutable segment — tokenize ONLY the batch, one
        // first-seen anti-join against existing keys, zero df recount
        // (df is derived at query time from the touched lists). x49
        // re-shuffles the whole postings table for its df recount; this
        // row must hold a smaller constant and exponent.
        val d = docsOf(m).filter(col("doc_id") % 97 =!= 3)
        TextOps.bm25SegmentAppend(builtSegs(m),
            d.filter(col("doc_id") % 4 === 0), "doc_id", "text", segId = 1)
          .postings.filter(col("seg_id") === 1).count()
      }),
      Op("x51_seg_probe64", m => {
        // serve against the segmented index: same one-equi-join shape as
        // x48's exact serve plus the query-time df aggregate over the
        // touched lists — must track x48_bm25_probe64's exponent (the
        // segmentation moves df work to serve, bounded by the same
        // Σ df(query terms)).
        TextOps.bm25SearchSegmented(builtSegs(m), queries64(m),
          "doc_id", "text", k = 10).count()
      }),
      Op("x52_prune_build", m => {
        // compaction-time pruned-list artifact over the SEGMENTED index
        // (dictionary-df impact + per-term top-P window — x50's build,
        // derived from segments instead of a merged index)
        segPrunedIdx.remove(m).foreach(_.postings.unpersist())
        builtSegPruned(m).postings.count()
      }),
      Op("x52_seg2stage_probe64", m => {
        // BOUNDED serve over the SEGMENTED index (bm25SearchSegmented-
        // TwoStage): candidates from the compaction-time pruned lists,
        // dictionary-df re-score of candidates only — must match
        // x50_2stage_probe64's flat shape where the exact segmented
        // serve (x51_seg_probe64) is linear.
        TextOps.bm25SearchSegmentedTwoStage(builtSegs(m), builtSegPruned(m),
          queries64(m), "doc_id", "text", k = 10).count()
      }),
      Op("hybrid_build", m => {
        // doc-level hybrid artifacts (TF-IDF fit + vectors + √n-cell IVF
        // index + embedded query batch) as their own timed row, so the
        // serve cells below measure serving, not the lazy build.
        hybIdx.remove(m).foreach { case (dv, idx, qv, modelTabs) =>
          dv.unpersist(); idx.centroids.unpersist()
          idx.postings.unpersist(); qv.unpersist()
          modelTabs.foreach(_.unpersist())
        }
        builtHybrid(m)._2.postings.count()
      }),
      Op("v23_dense_brute64", m => {
        // the v23/v25 dense leg as shipped for the DuckDB oracle: 64
        // queries brute-forced against every corpus doc vector — O(q·n),
        // expect exponent ~1.0. This is the row v26 exists to beat.
        val (docVecs, _, qv, _) = builtHybrid(m)
        Similarity.bruteForceTopK(qv, docVecs, "doc_id", "doc_id", "vec",
          k = 20).count()
      }),
      Op("v26_dense_ivf64", m => {
        // v26's dense leg: probe the prebuilt doc-level IVF index at the
        // calibrated 0.8-recall fraction — candidates ~ q·nProbe·√n
        // postings, expect the v19_rag_probe64 sub-linear shape.
        val (_, idx, qv, _) = builtHybrid(m)
        val nCells = idx.centroids.count().toInt
        val nP = Similarity.nProbeFor(nCells,
          Similarity.calibratedFraction(0.8, nCells))
        Similarity.probeIvf(idx, qv, "doc_id", nProbe = nP, k = 20).count()
      }),
      Op("v26_hybrid_64q", m => {
        // the FULLY-BOUNDED hybrid serve: IVF-probed dense leg + two-stage
        // pruned sparse leg, RRF-fused (O(q·k)). Neither leg scans the
        // corpus (dense: probed cells; sparse: pruned candidates +
        // broadcast re-score) — the 100 TB serve shape end to end.
        val (_, idx, qv, _) = builtHybrid(m)
        val nCells = idx.centroids.count().toInt
        val nP = Similarity.nProbeFor(nCells,
          Similarity.calibratedFraction(0.8, nCells))
        val dense = Similarity.probeIvf(idx, qv, "doc_id", nProbe = nP,
            k = 20)
          .select(col("q_id"), col("rank"), col("c_id").as("key"))
        val sparse = TextOps.bm25SearchTwoStage(builtBm25(m), builtPruned(m),
            queries64(m), "doc_id", "text", k = 20)
          .select("q_id", "rank", "key")
        TextOps.rrfFuse(Seq(dense, sparse), k = 10).count()
      }),
      Op("v28_append_fixed", m => {
        // INCREMENTAL IVF maintenance (Similarity.ivfAppend): fold a
        // FIXED ~2k-vector batch (fresh ids) into the prebuilt index —
        // cost = first-seen id guard (ids-only anti-join, the x36
        // digest-index shape; never the vectors) + batch-only assignment
        // against the frozen centroids (O(|batch| · cell pick)). The
        // corpus is never re-assigned, so the row must stay near-flat
        // while v6_ivf_build (the rebuild alternative) grows ~n^1.5.
        val batch = embsOf(1)
          .select((col("vec_id") + lit(777000000L)).as("vec_id"), col("vec"))
        Similarity.ivfAppend(builtIvf(m), batch)
          .postings.filter(col("vec_id") >= 777000000L).count()
      }),
      Op("v28_append_quarter", m => {
        // batch ∝ corpus (a ¼ re-ingest with fresh ids): per-vector
        // append cost must stay constant — the row tracks BATCH size.
        val batch = embsOf(m).filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + lit(888000000L)).as("vec_id"), col("vec"))
        Similarity.ivfAppend(builtIvf(m), batch)
          .postings.filter(col("vec_id") >= 888000000L).count()
      }),
      Op("m5_phash_pairs", m => {
        // perceptual-hash media near-dup: mapPartitions hash scan (the
        // fixture payloads all take the md5-prefix fallback) + the
        // banded-Hamming kernel. Payload copies are distinct across the
        // blow-up (copy-tag prefix), so pairs come only from the planted
        // re-crawl slice — expect ~linear wall, linear pair counts.
        val docs = docsOf(m)
        // offset beyond ANY copy id (copies re-key at +c*10^7, c < 64 →
        // max ~6.4e8): +5e8 collided with copy c+50's ids at m=64,
        // pairing ambiguous ids — 1e10 is out of reach of every copy
        val recrawl = docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000000L)
        graft.ext.Dedup.fingerprintPairs(
          graft.ext.Multimodal.perceptualHash(
            graft.ext.Multimodal.mediaTable(docs.unionByName(recrawl)
              .select("doc_id", "text")),
            new graft.ext.Multimodal.ImageIoAHash()),
          "doc_id", "phash", maxHamming = 3).count()
      }),
      Op("m6_append_fixed", m => {
        // steady-state RE-CRAWL cost of the maintained fingerprint index
        // (m6): ONE fixed ~(n(1×)/11)-row media batch — a byte-identical
        // re-crawl of copy-0's % 11 slice plus equally many genuinely
        // new payloads — against the prebuilt (id, fingerprint) index of
        // the m× corpus. ONLY the batch decodes/hashes; the corpus-side
        // cost is a 16-byte/row fingerprint band-join (the index scan),
        // not m5's full payload decode scan — the re-crawl pays batch
        // cost where m5 pays corpus cost (exp 0.96). Fresh ids/salts per
        // call; survivor count = the fresh half, constant across m.
        val idx = builtPhashIdx(m)
        val n = m6Ctr.incrementAndGet()
        val slice = docsOf(1).filter(col("doc_id") % 11 === 0)
          .select("doc_id", "text")
        val recrawl = slice.select(
          (col("doc_id") + lit(20000000000L + n * 1000000L)).as("doc_id"),
          col("text"))
        val fresh = slice.select(
          (col("doc_id") + lit(30000000000L + n * 1000000L)).as("doc_id"),
          concat(lit(s"m6batch$n "), col("text")).as("text"))
        val batchFp = graft.ext.Multimodal.perceptualHash(
          graft.ext.Multimodal.mediaTable(recrawl.unionByName(fresh)),
          new graft.ext.Multimodal.ImageIoAHash())
          .select("doc_id", "phash")
        graft.ext.Dedup.incrementalFingerprintDedup(idx, batchFp,
          "doc_id", "phash", maxHamming = 3).count()
      }),
      Op("x56_append_fixed", m => {
        // fixed new-edge batch against the maintained cluster table of
        // the m× corpus: ~(n(1×)/11) fresh docs each bridging into an
        // existing copy-0 component plus a fresh within-batch chain.
        // The CC loop runs over the CONTRACTED root graph (≤ 2·edges
        // nodes, constant in m); the relabel is one broadcast join over
        // the (id, cluster_id) METADATA table — expect the x36 shape
        // (sublinear metadata scan), never a corpus-graph CC re-run.
        val assigned = builtChainAssigned(m)
        val n = x56Ctr.incrementAndGet()
        val off = 50000000000L + n * 1000000L
        val base = docsOf(1).filter(col("doc_id") % 11 === 0)
          .select("doc_id")
        val newEdges = base
          .select(col("doc_id").as("id1"),
            (col("doc_id") + lit(off)).as("id2"))
          .unionByName(base.select(
            (col("doc_id") + lit(off)).as("id1"),
            (col("doc_id") + lit(off) + 1L).as("id2")))
        Dedup.incrementalClusters(assigned, newEdges).count()
      }),
      Op("st10_append_fixed", m => {
        // steady-state merge cost of ONE fixed edge batch (~n(1×)/11
        // bridge edges into committed copy-0 components + a fresh chain
        // per bridge) into the STREAM-maintained cluster table of the m×
        // corpus: contracted CC + one member-partition append + one
        // metadata-sized overlay rewrite + one manifest flip — never a
        // corpus CC or a members rewrite (the x56 shape THROUGH the
        // st10 disk sink, the st8-vs-v28 relationship).
        val dir = builtClusterDir(m)
        val n = st10Ctr.incrementAndGet()
        val off = 70000000000L + n * 1000000L
        val base = docsOf(1).filter(col("doc_id") % 11 === 0)
          .select("doc_id")
        val newEdges = base
          .select(col("doc_id").as("id1"),
            (col("doc_id") + lit(off)).as("id2"))
          .unionByName(base.select(
            (col("doc_id") + lit(off)).as("id1"),
            (col("doc_id") + lit(off) + 1L).as("id2")))
        graft.streaming.StreamClusters.appendBatch(dir, newEdges,
          batchId = 100 + n)
        graft.streaming.StreamClusters.load(spark, dir).get
          .filter(col("id") >= 70000000000L).count()
      }),
      Op("st10_serve_overlay", m => {
        // the overlay-read SERVE: a full resolved-table scan through the
        // root-map join — the read path every consumer pays between
        // compactions. Must stay ~linear in members (the scan) with the
        // broadcast-sized overlay build side costing ~nothing; the
        // needsCompaction share threshold is sized off this row vs a
        // bare post-compact scan.
        val dir = builtClusterDir(m)
        graft.streaming.StreamClusters.load(spark, dir).get.count()
      }),
      Op("x61_containment", m => {
        // asymmetric containment: per-copy token salt (cross-copy
        // shingle sharing removed — the x7 discipline, token-level here
        // because the kernel tokenizes internally), so rare-shingle df
        // stays at its 1× value per copy and candidate pairs must grow
        // exactly linearly; superlinear wall = the df cap failing.
        val salted = docsOf(m).select(col("doc_id"),
          concat_ws(" ", transform(TextOps.tokens(col("text")),
            t => concat(t, lit("#"), col("copy")))).as("text"))
        Dedup.containmentPairs(salted, "doc_id", "text", n = 5,
          maxDf = 20, threshold = 0.4).count()
      }),
      Op("x70_contain_incr_fixed", m => {
        // incremental containment of the FIXED copy-0 batch against the
        // m× maintained index: batch tokenizes itself once; the df
        // merge is LEFT from the batch side (O(batch-shingles)) and
        // index candidates come from the ngb-partitioned exploded
        // postings (partition-pruned read) — stored bodies are never
        // re-tokenized, stored sets never re-exploded.
        val (sets, dfT, post) = builtContIdx(m)
        val batch = saltedDocs(1).filter(col("doc_id") % 4 === 0)
        Dedup.containmentAgainst(sets, dfT, batch, "doc_id", "text",
          n = 5, maxDf = 20, threshold = 0.4,
          indexPostings = Some(post)).count()
      }),
      Op("st14_diff_fixed", m => {
        // snapshot diff over a FIXED window (one fresh-id delta batch +
        // one fixed copy-0 takedown) as the shared history grows m×:
        // the fast path reads the delta partitions and probes A with a
        // pushed-down isin — expect the wall to track the delta, not
        // the corpus (row-group pruning carries the m-growth).
        val (dir, genA) = builtDiffDir(m)
        graft.streaming.StreamCurate.diffSnapshots(spark, dir,
          Some(genA), None, "doc_id").count()
      }),
      Op("x62_fingerprint", m => {
        // order-invariant corpus checksum: one scan, map-side-combined
        // XOR — the audit that must stay a single cheap pass at 100 TB.
        TextOps.corpusFingerprint(docsOf(m), Seq("doc_id", "text"),
          Seq("lang")).count()
      }),
      Op("st15_fpstate_fixed", m => {
        // the MAINTAINED fingerprint serve: one (n, xor) row per live
        // id regardless of corpus size — must be FLAT (reads a handful
        // of one-row parquet files + a 2-column agg; the m×-growing
        // corpus is never touched). Reuses st14's curate dirs (appends
        // + one takedown — partials and a negative partial, no base).
        val (dir, _) = builtDiffDir(m)
        graft.streaming.StreamCurate.fingerprintState(spark, dir)
          .get.count()
      }),
      Op("x57_delete_fixed", m => {
        // ONE takedown batch (a fresh ~n(1×)/50 id slice per call — the
        // scoping makes re-deleting the same ids a no-op, so repeated
        // cells must rotate) against the m× streamed index: tombstone
        // write + manifest flip are O(batch); the served-key scoping
        // probe is the linear term at test scale (the documented
        // deleteDocs caveat — at 100 TB it becomes the per-segment
        // key-range/bloom metadata probe; this row MEASURES the honest
        // scan form rather than asserting it away). Takedown batches
        // are per-day events, not per-query ones.
        val dir = builtTakedownDir(m)
        val n = x57Ctr.incrementAndGet()
        val ids = docsOf(1).select("doc_id")
          .filter(col("doc_id") % 50 === n)
        graft.streaming.StreamBm25.deleteDocs(spark, dir, ids, "doc_id")
        graft.streaming.Manifest.read(spark, dir).get.size.toLong
      }),
      Op("v32_delete_fixed", m => {
        // ONE takedown batch (fresh rotating 1×-range vec ids) against
        // the m× streamed IVF index: tombstone write + flip are
        // O(batch); the served-id scoping probe (postings ids distinct)
        // is the honest linear term at test scale — at 100 TB it is the
        // per-partition id-range/bloom metadata probe, same note as
        // x57_delete_fixed.
        val dir = builtV32Dir(m)
        val n = v32Ctr.incrementAndGet()
        val ids = embsOf(1).select("vec_id")
          .filter(col("vec_id") % 50 === n)
        graft.streaming.StreamIvf.deleteVecs(spark, dir, ids,
          "vec_id", "vec")
        graft.streaming.Manifest.read(spark, dir).get.size.toLong
      }),
      Op("takedown_forget_fixed", m => {
        // ONE Takedown.forget across ALL SIX sinks of the m× corpus
        // (fresh rotating 1×-range ids): the operator's per-complaint
        // cascade price. Body resolution is an isin-pruned corpus read,
        // the ngram leg tokenizes only the takedown batch, every other
        // leg is an ids-only probe + O(batch) write — expect flat.
        val sinks = builtCascade(m)
        val n = tdCtr.incrementAndGet()
        val ids = docsOf(1).select("doc_id")
          .filter(col("doc_id") % 50 === n)
        graft.streaming.Takedown.forget(spark, ids, sinks)
        ids.count()
      }),
      Op("takedown_attest_fixed", m => {
        // the per-sink residual PROOF over the m× six-sink cascade
        // (Takedown.attest, x73): one narrow key-column scan +
        // broadcast join per sink, one 1-row count pair out. Expect
        // LINEAR in m by design — the proof reads every served entity
        // id once (the x61 precedent: the honest full-scan analytic
        // next to the flat per-increment verbs) — with a small
        // constant: no bodies, vectors or postings payloads move.
        val sinks = builtCascade(m)
        val ids = docsOf(1).select("doc_id")
          .filter(col("doc_id") % 97 === 11)
        graft.streaming.Takedown.attest(spark, ids, sinks)
          .collect().length.toLong
      }),
      Op("st13_delete_fixed", m => {
        // ONE negative-delta takedown (fresh rotating 1×-range doc ids,
        // with texts) against the m× streamed ngram-df index: one
        // tokenize of the takedown batch + one delta write + one flip;
        // the m-growing terms are the seen-ids semi-join and the
        // deleted-ids anti-join (both ids-only — bodies of the
        // committed corpus are never read).
        val dir = builtSt13Dir(m)
        val n = st13Ctr.incrementAndGet()
        val docs = docsOf(1).select("doc_id", "text")
          .filter(col("doc_id") % 50 === n)
        graft.streaming.StreamNgramDf.deleteDocs(spark, dir, docs)
        graft.streaming.Manifest.read(spark, dir).get.size.toLong
      }),
      Op("st11_append_fixed", m => {
        // steady-state fold of ONE fixed ~(n(1×)/11)-doc batch (fresh
        // ids) into the STREAM-maintained ngram-df index of the m×
        // corpus: ids-only anti-join vs the seen-ids guard (the x36
        // digest-index shape — the only m-growing term), one tokenize
        // of the fixed batch, one immutable delta write, one manifest
        // flip. The committed gram deltas are never re-read on append —
        // expect the ids-scan exponent (~x36's 0.45), never a rescan of
        // corpus bodies.
        val dir = builtNgDfDir(m)
        val n = st11Ctr.incrementAndGet()
        val off = 80000000000L + n * 1000000L
        val batch = docsOf(1).filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + lit(off)).as("doc_id"), col("text"))
        graft.streaming.StreamNgramDf.appendBatch(dir, batch,
          batchId = 100 + n)
        graft.streaming.StreamNgramDf.loadSeenIds(spark, dir).get
          .filter(col("id") >= 80000000000L).count()
      }),
      Op("v30_append_fixed", m => {
        // steady-state semantic-dedup cost of ONE fixed ~(n(1×)/4)-row
        // vector batch against the maintained IVF-cell-blocked semantic
        // index of the m× corpus: the batch assigns under the index's
        // FROZEN centroids (the v28 add-after-train contract — both
        // sides share one cell geometry), then one cell equi-join vs
        // the index + one within-batch cell self-join. Per-batch cost ∝
        // |batch| · cell occupancy ~ √n with the nCells ~ √n sizing —
        // expect ~0.5 exponent, vs a scratch v10 re-run whose pair join
        // re-pairs the whole corpus with itself every night.
        val (cents, idx) = builtSemIdx(m)
        val n = v30Ctr.incrementAndGet()
        val off = 60000000000L + n * 1000000L
        val batch = Similarity.assignTo(
          embsOf(1).filter(col("vec_id") % 4 === 0)
            .select((col("vec_id") + lit(off)).as("vec_id"), col("vec")),
          cents, "vec_id", "vec")
        Similarity.incrementalSemanticDedup(idx, batch, "vec_id", "vec",
          "ivf_cell", threshold = 0.3).count()
      }),
      Op("x55_append_fixed", m => {
        // steady-state overlap scoring of ONE fixed ~(n(1×)/4)-row batch
        // against the maintained trigram-df index of the m× corpus:
        // only the batch tokenizes; the corpus side is the (ng, ndocs)
        // METADATA index — ~20 B/distinct-trigram, never the bodies.
        // Expect the x36 shape (sublinear: the metadata scan grows, the
        // batch work doesn't), vs x54's full body scan per run.
        val idx = builtNgDfIdx(m)
        val n = x55Ctr.incrementAndGet()
        val batch = docsOf(1).filter(col("doc_id") % 4 === 0)
          .select(
            (col("doc_id") + lit(40000000000L + n * 1000000L)).as("doc_id"),
            concat(lit(s"x55b$n "), col("text")).as("text"))
        TextOps.dupScoreAgainst(idx, batch, "doc_id", "text").count()
      }),
      Op("x53_incr_curation", m => {
        // the composed nightly-ingest capstone at m×: incremental dedup
        // vs the corpus digest index + quality verdict + batch-scoped
        // decontam + sample. Every stage is batch-bounded or
        // digest/id-keyed — expect the max of its members' shapes
        // (~linear), never a corpus-squared term.
        val docs = docsOf(m)
        val corpus = docs.filter(col("doc_id") % 4 =!= 0)
        val batch = docs.filter(col("doc_id") % 4 === 0)
        val survivors = graft.ext.Dedup
          .incrementalDedup(corpus, batch, "doc_id", "text")
          .select("doc_id")
        // the repetition + length legs of the x21 verdict, recomputed on
        // the blow-up (the driver query reads memoized sf-dir signals;
        // the composite-score leg is one more scan column — same shape)
        val toks = docs.withColumn("toks", TextOps.tokens(col("text")))
        val rep = toks.select(col("doc_id"),
            explode(col("toks")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
          .groupBy("doc_id").agg(sum("n").as("total"),
            count(lit(1)).as("nd"), max("n").as("maxn"))
        val kept = docs.join(rep, "doc_id")
          .filter((lit(1.0) - col("nd") / col("total")) <= 0.8 &&
            (col("maxn") / col("total")) <= 0.3 && col("n_chars") >= 50)
          .select("doc_id")
        // tokens salted per copy (the x17 convention): the blow-up's
        // copies are textually near-identical, so unsalted cross-copy
        // Jaccard ≈ 0.9 marks EVERY doc contaminated by some copy's
        // benchmark twin — that would test the data, not the op
        val t = docs.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), floor(col("n_chars") / 20).as("bkt"),
          transform(array_distinct(TextOps.tokens(col("text"))),
            x => concat(x, lit("#"), col("copy"))).as("toks"))
        val a = t.filter(col("doc_id") % 4 === 0 && col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("lang"), col("source"), col("bkt"),
            col("n_chars").as("nc1"), col("toks").as("t1"))
        val bch = t.filter(col("doc_id") % 7 === 0)
          .select(col("lang"), col("source"),
            explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
            col("n_chars").as("nc2"), col("toks").as("t2"))
        val contaminated = a.join(bch, Seq("lang", "source", "bkt"))
          .filter(abs(col("nc1") - col("nc2")) <= 20)
          .filter(round(TextOps.jaccard(col("t1"), col("t2")), 6) >= 0.5)
          .select("doc_id").distinct()
        TextOps.stratifiedSample(
            batch.filter(col("doc_id") % 7 =!= 0)
              .join(survivors, "doc_id").join(kept, "doc_id")
              .join(contaminated, Seq("doc_id"), "left_anti"),
            "lang", "doc_id", Map("en" -> 0.9, "de" -> 0.9),
            defaultFraction = 0.8).count()
      }),
      Op("x54_dup_score", m => {
        // per-doc corpus-overlap score at m× — trigram-keyed df groupBy
        // + join back; trigrams salted per copy (the x17 convention:
        // interior trigrams are IDENTICAL across copies, unsalted df
        // would saturate dup_share to 1 and measure the blow-up, not
        // the op). Expect ~linear, per-doc rows exactly linear.
        val g = docsOf(m)
          .withColumn("toks", TextOps.tokens(col("text")))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(array_distinct(transform(
              TextOps.ngrams(col("toks"), 3),
              x => concat(x, lit("#"), col("copy"))))).as("ng"))
        val df3 = g.groupBy("ng").agg(count(lit(1)).as("ndocs"))
        g.join(df3, "ng")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ngrams"),
            sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .count()
      }),
      Op("st9_ingest3", m => {
        // the on-disk curation sink end-to-end at m×: 3 batches through
        // StreamCurate.appendBatch — first-seen vs the growing seen
        // index + the x53 policy stages (quality, batch × FIXED
        // benchmark decontam with per-copy salt, sample). Expect
        // ~linear: every stage is batch-bounded or digest-keyed.
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-scale-st9-m$m-").toString
        val docs = docsOf(m)
        val bench = docs.filter(col("doc_id") % 7 === 0)
          .select(col("lang"), col("source"),
            explode(array(floor(col("n_chars") / 20) - 1,
              floor(col("n_chars") / 20),
              floor(col("n_chars") / 20) + 1)).as("bkt"),
            col("n_chars").as("nc2"),
            transform(array_distinct(TextOps.tokens(col("text"))),
              x => concat(x, lit("#"), col("copy"))).as("t2"))
        def policy(batch: DataFrame): DataFrame = {
          val kept = batch.filter(col("doc_id") % 7 =!= 0)
            .filter(graft.streaming.StreamCurate.qualityOk(
              col("text"), col("n_chars"),
              Seq("the", "a", "data", "row", "value")))
          val a = kept.select(col("doc_id"), col("lang"), col("source"),
            floor(col("n_chars") / 20).as("bkt"),
            col("n_chars").as("nc1"),
            transform(array_distinct(TextOps.tokens(col("text"))),
              x => concat(x, lit("#"), col("copy"))).as("t1"))
          val contaminated = a.join(bench, Seq("lang", "source", "bkt"))
            .filter(abs(col("nc1") - col("nc2")) <= 20)
            .filter(round(TextOps.jaccard(col("t1"), col("t2")), 6) >= 0.5)
            .select("doc_id").distinct()
          TextOps.stratifiedSample(
              kept.join(contaminated, Seq("doc_id"), "left_anti"),
              "lang", "doc_id", Map("en" -> 0.9, "de" -> 0.9), 0.8)
            .select("doc_id", "lang", "source")
        }
        (0 to 2).foreach { i =>
          graft.streaming.StreamCurate.appendBatch(dir,
            docs.filter(col("doc_id") % 3 === i), i, policy)
        }
        val n = graft.streaming.StreamCurate.load(spark, dir).get.count()
        graft.ArtifactStore.deleteRecursively(java.nio.file.Paths.get(dir))
        n
      }),
      Op("v29_sem_decontam", m => {
        // semantic decontam audit: FIXED benchmark (the 1x slice —
        // benchmarks don't grow with the corpus) broadcast-packed, train
        // side scales m x. One scan, per-row array_max fold, zero
        // shuffles -> expect ~linear wall, rows exactly linear.
        val bench = embsOf(1).filter(col("vec_id") % 7 === 0)
          .select("vec_id", "vec")
        val train = embsOf(m).filter(col("vec_id") % 7 =!= 0)
          .select("vec_id", "vec")
        Similarity.semanticDecontam(train, bench, "vec_id", "vec", 0.3)
          .filter(col("contaminated")).count()
      }),
      Op("st8_stream_ingest3", m => {
        // the STREAMED dense-index sink end-to-end (StreamIvf.appendBatch
        // ×3: train-on-batch-0 + two assign-and-append partitions, all
        // through parquet): ingests the whole corpus, so expect ~linear —
        // the row is the ingest-side cost account for the st8 lifecycle.
        // Rebuild-from-empty each call; the dir is memoized for the
        // append row below (the v6_ivf_build attribution pattern).
        st8Dirs.remove(m).foreach(d =>
          graft.ArtifactStore.deleteRecursively(java.nio.file.Paths.get(d)))
        val dir = builtStreamDir(m)
        graft.streaming.StreamIvf.load(spark, dir, "vec_id", "vec")
          .get.postings.count()
      }),
      Op("st8_append_fixed", m => {
        // steady-state firehose cost: ONE fixed ~n(1×)-row micro-batch
        // (fresh ids each call) into the maintained on-disk index. Cost =
        // ids-only first-seen anti-join + batch assignment + one
        // partition write — must stay near-flat while the corpus behind
        // the dir grows 64× (the v28_append_fixed claim, now through the
        // disk sink including the guard against ALL existing postings).
        val dir = builtStreamDir(m)
        val off = 900000000L + st8Ctr.incrementAndGet() * 10000000L
        val batch = embsOf(1)
          .select((col("vec_id") + lit(off)).as("vec_id"), col("vec"))
        graft.streaming.StreamIvf.appendBatch(dir, batch,
          batchId = 100 + st8Ctr.get(), idCol = "vec_id", vecCol = "vec",
          nCells = stCellsOf(m))
        graft.streaming.StreamIvf.load(spark, dir, "vec_id", "vec")
          .get.postings.filter(col("vec_id") >= off).count()
      }),
      Op("t4_composed_fold", m => {
        // the heaviest engine pipeline: T5 composed feed (blocks → grid
        // align → block-local normalize → ffill → session filter →
        // rebase) → T4 per-company stateful fold. Scale = m× companies.
        val quotes = spark.read.parquet(s"$out/m$m/quotes.parquet")
        val ticks = graft.backtest.IntradayPipeline.companyTicks(
          quotes, None, graft.queries.BacktestQ.eventBlocks(spark))
        graft.backtest.IntradayBacktest.run(ticks, bal = 1000.0,
          minDeviation = 0.1, slPercent = 0.03, triggerRange = 0.01,
          tradeSize = 0.1, tradeSizePercent = true)
          .filter(col("kind") =!= "bal").count()
      }),
      Op("a3_asof_skew_plain", m => {
        // plain as-of on the 90%-hot-key fixture: the per-key window
        // sorts the whole hot key in ONE partition — expect superlinear
        // wall and the single-partition ceiling the sliced form removes.
        val (l, r) = builtAsof(m)
        graft.ops.TimeSeries.asOfJoin(l, r, Seq("key"), "ts", Seq("rate"))
          .filter(col("rate").isNotNull).count()
      }),
      Op("a3_asof_skew_sliced", m => {
        // time-sliced as-of, 1 h slices: shuffle key becomes (key, slice)
        // — the hot key spreads over ~333·m 1 h slices (~1.1k rows each), so
        // no partition exceeds one slice of one key. Same count as the
        // plain row by construction (OpsPropertySpec pins equality).
        val (l, r) = builtAsof(m)
        graft.ops.TimeSeries.asOfJoinTimeSliced(l, r, Seq("key"), "ts",
            Seq("rate"), sliceSeconds = 3600)
          .filter(col("rate").isNotNull).count()
      }),
      Op("release_full_fixed", m => {
        // scratch publish of the post-takedown snapshot: one corpus
        // scan + a FULL 256-shard write — the baseline the delta row
        // exists to beat (expect ~linear: scan + write both grow)
        val root = builtRelease(m)
        val n = graft.streaming.Release.publish(spark, s"$root/corpus",
          None, s"$root/rel", s"full${relCtr.incrementAndGet()}",
          nShards = 256).count()
        n
      }),
      Op("release_delta_fixed", m => {
        // delta publish of the SAME snapshot vs the pre-takedown base:
        // one corpus scan (the honest linear term — per-shard
        // fingerprints need every row once) but writes ∝ the ~100
        // touched shards and byte-copies the rest — expect the wall to
        // sit well under release_full_fixed at 64×, write-bound gap
        val root = builtRelease(m)
        val rep = graft.streaming.Release.publishDelta(spark,
          s"$root/corpus", None, s"$root/rel",
          s"delta${relCtr.incrementAndGet()}", basedOn = "base")
        rep.count()
      }),
      Op("release_delta_folded", m => {
        // delta ACROSS a compaction fold (r14 tier 1, VERDICT r13 #3):
        // the composed walk nets the forward segments around the
        // provably-neutral fold, so the post-fold delta still reads
        // only the diff (pushed-down tombstone probes) + the ~touched
        // base shards PARTITION-PRUNED from the base release — never a
        // snapshot scan. Expect the same band as release_delta_fixed.
        val root = builtReleaseFold(m)
        val rep = graft.streaming.Release.publishDelta(spark,
          s"$root/corpus", None, s"$root/rel",
          s"fold${relCtr.incrementAndGet()}", basedOn = "base")
        val r = rep.head()
        require(r.getAs[String]("via") == "diff_folded",
          s"fold walk must compose: $r")
        rep.count()
      }),
      Op("release_delta_state", m => {
        // delta with the walk VACUUMED away (r14 tier 2): the
        // rewritten/copied/emptied DECISION folds from the maintained
        // per-shard fingerprint partials — zero corpus bytes — and the
        // one remaining corpus read is the content of the ~touched
        // shards (a column-pruned snapshot scan, writes ∝ touched).
        // Expect well under release_full_fixed (no 256-shard write, no
        // fingerprint pass) with the scan as the honest linear term.
        val root = builtReleaseState(m)
        val rep = graft.streaming.Release.publishDelta(spark,
          s"$root/corpus", None, s"$root/rel",
          s"state${relCtr.incrementAndGet()}", basedOn = "base")
        val r = rep.head()
        require(r.getAs[String]("via") == "state",
          s"vacuumed walk must use the state tier: $r")
        rep.count()
      }),
      Op("clustered_shard_read", m => {
        // the content read in isolation (the term the r14 verdict
        // graded weak): one shard's rows off the clustered base via
        // the pruned loader. Shard bytes are constant (nShards = 16m),
        // the pruned listing is one-few dirs — expect FLAT; the same
        // read through the un-pruned loader is the corpus scan
        // (release_full_fixed's linear term prices that).
        val root = builtReleaseClustered(m)
        graft.streaming.StreamCurate.loadAtShards(spark,
            s"$root/corpus", None, clustShards(m), Set(0))
          .map(_.count()).getOrElse(0L)
      }),
      Op("release_delta_clustered", m => {
        // rewrite-ONE-shard end-to-end on the clustered base: state
        // tier decides from ≤1024-bin metadata, content read prunes to
        // the touched shard's dir, writes ∝ one shard. The remaining
        // m-growing terms are the untouched-shard byte copies (server-
        // side on object stores) and the nShards-row stats — expect
        // near-flat against release_full_fixed's linear wall.
        val root = builtReleaseClustered(m)
        val rep = graft.streaming.Release.publishDelta(spark,
          s"$root/corpus", None, s"$root/rel",
          s"clust${relCtr.incrementAndGet()}", basedOn = "base")
        val r = rep.head()
        require(r.getAs[String]("via") == "state",
          s"vacuumed walk must use the state tier: $r")
        require(r.getAs[Long]("n_shards_rewritten") <= 4,
          s"a one-shard takedown must touch ~one shard: $r")
        rep.count()
      }),
      Op("release_delta_linked", m => {
        // the O(TOUCHED) publication (r15): same one-shard takedown on
        // the clustered base, but untouched shards are RECORDED as
        // references (link = true) instead of byte-copied — the last
        // m-growing term (the copy) is gone, so this row must be FLAT
        // while release_delta_clustered still carries the copy bytes.
        val root = builtReleaseClustered(m)
        val rep = graft.streaming.Release.publishDelta(spark,
          s"$root/corpus", None, s"$root/rel",
          s"link${relCtr.incrementAndGet()}", basedOn = "base",
          link = true)
        val r = rep.head()
        require(r.getAs[String]("via") == "state",
          s"vacuumed walk must use the state tier: $r")
        rep.count()
      }),
      Op("release_audit_fixed", m => {
        // cross-release takedown audit (VERDICT r13 #6): a FIXED 100-id
        // set against FOUR pinned releases on the m× corpus. Per
        // release = one column-pruned (id, text) scan of its pinned
        // generation + the broadcast-gated blast join folding to one
        // row — so the wall is (4 × pruned scan), linear in the corpus
        // with a flat per-release constant and NO per-release shuffle
        // wider than the shard counts.
        val ar = builtReleaseAudit(m)
        val ids = docsOf(1).select("doc_id").orderBy("doc_id").limit(100)
        graft.streaming.Release.audit(spark, ar, ids)
          .filter(col("readable")).count()
      }),
      Op("a3_asof_auto_zipf", m => {
        // the DEFAULT form ([[TimeSeries.asOfJoinAuto]], VERDICT r12 #8)
        // on the Zipf fixture: the probe reads the head key's count and
        // dispatches — plain under the threshold (m=1: ~200k rows/key),
        // sliced above it (m≥8) — so the row must stay in the ~linear
        // band across the switch instead of inheriting the plain form's
        // superlinear single-partition ceiling.
        val (l, r) = builtAsofZipf(m)
        graft.ops.TimeSeries.asOfJoinAuto(l, r, Seq("key"), "ts",
            Seq("rate"), sliceSeconds = 3600, maxRowsPerKey = 1L << 20)
          .filter(col("rate").isNotNull).count()
      }),
      Op("a3_asof_plain_zipf", m => {
        // comparison row: the plain per-key window on the same Zipf
        // fixture — the superlinear wall the auto dispatch exists to
        // avoid (the head key sorts in ONE partition).
        val (l, r) = builtAsofZipf(m)
        graft.ops.TimeSeries.asOfJoin(l, r, Seq("key"), "ts", Seq("rate"))
          .filter(col("rate").isNotNull).count()
      }),
    )

    // optional op filter for ad-hoc runs of a subset:
    //   SPARK_GRAFT_OPS=x36_incremental,v16_binary_5q sbt "runMain ..."
    val ops0 = sys.env.get("SPARK_GRAFT_OPS")
      .map(_.split(",").map(_.trim).toSet)
      .map(keep => ops.filter(o => keep(o.name)))
      .getOrElse(ops)

    // warmup: run every op once at the smallest multiplier so codegen/JIT
    // cost doesn't land in the first timed cell
    ops0.foreach(_.run(mults.min))
    // m6_append_fixed times the APPEND alone: prebuild the maintained
    // fingerprint index for EVERY multiplier outside the timed cells
    // (the build is m5's hash scan, measured by its own row; without
    // this the m>min cells would pay the corpus build on first touch)
    if (ops0.exists(_.name == "m6_append_fixed")) mults.foreach(builtPhashIdx)
    if (ops0.exists(_.name == "x55_append_fixed")) mults.foreach(builtNgDfIdx)
    if (ops0.exists(_.name == "v30_append_fixed")) mults.foreach(builtSemIdx)
    if (ops0.exists(_.name == "x56_append_fixed"))
      mults.foreach(builtChainAssigned)
    if (ops0.exists(o => o.name == "st10_append_fixed" ||
        o.name == "st10_serve_overlay"))
      mults.foreach(builtClusterDir)
    if (ops0.exists(_.name == "st11_append_fixed"))
      mults.foreach(builtNgDfDir)
    if (ops0.exists(_.name == "x57_delete_fixed"))
      mults.foreach(builtTakedownDir)
    if (ops0.exists(_.name == "v32_delete_fixed"))
      mults.foreach(builtV32Dir)
    if (ops0.exists(_.name == "st13_delete_fixed"))
      mults.foreach(builtSt13Dir)
    if (ops0.exists(o => o.name == "takedown_forget_fixed" ||
        o.name == "takedown_attest_fixed"))
      mults.foreach(builtCascade)
    if (ops0.exists(o => o.name == "st14_diff_fixed" ||
        o.name == "st15_fpstate_fixed"))
      mults.foreach(builtDiffDir)
    if (ops0.exists(_.name == "x70_contain_incr_fixed"))
      mults.foreach(builtContIdx)
    if (ops0.exists(_.name.startsWith("release_")))
      mults.foreach(builtRelease)
    if (ops0.exists(_.name == "release_delta_folded"))
      mults.foreach(builtReleaseFold)
    if (ops0.exists(_.name == "release_delta_state"))
      mults.foreach(builtReleaseState)
    if (ops0.exists(_.name == "release_audit_fixed"))
      mults.foreach(builtReleaseAudit)
    if (ops0.exists(o => o.name == "release_delta_clustered" ||
        o.name == "clustered_shard_read" ||
        o.name == "release_delta_linked"))
      mults.foreach(builtReleaseClustered)

    // GC/JIT-outlier-prone cells (candidate-join ops with large transient
    // allocations — v4's m=64 cell once drew 44.9 s against an 18-21 s
    // band): time median-of-3 like the bench, so SCALING.md exponents for
    // these rows are variance-robust. Other ops stay single-run (their
    // bands are tight and the suite is already minutes at m=64).
    val medianOf3 = Set("v4_ann_lsh", "x7_minhash_lsh",
      "ivf_assign_flat", "ivf_assign_hier")

    println(f"${"op"}%-18s ${mults.map(m => f"m=$m%-3d sec (rows)").mkString("  ")}")
    val results = ops0.map { op =>
      val runs = mults.map { m =>
        val reps = if (medianOf3(op.name)) 3 else 1
        val timings = (1 to reps).map(_ => time(op.run(m))).sortBy(_._1)
        val (sec, n) = timings(timings.size / 2)
        (m, sec, n)
      }
      val line = runs.map { case (_, s, n) => f"$s%8.2f ($n%d)" }.mkString("  ")
      println(f"${op.name}%-18s $line")
      op.name -> runs
    }
    // scaling exponent between the two largest multipliers: log(t2/t1)/log(m2/m1)
    if (mults.length >= 2) {
      println("\nscaling exponent (1.0 = linear, 2.0 = quadratic):")
      results.foreach { case (name, runs) =>
        val (m1, t1, _) = runs(runs.length - 2)
        val (m2, t2, _) = runs.last
        val exp = math.log(t2 / t1) / math.log(m2.toDouble / m1)
        println(f"  $name%-18s $exp%5.2f  (m=$m1 -> m=$m2)")
      }
    }
    spark.stop()
  }
}
