package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifact, Tables}
import graft.ext.Similarity

/** Embedding similarity-search extension operators over `embeddings`
  * (BASELINE.json north star): exact brute-force cosine as the baseline,
  * LSH-bucketed ANN as the scale path.
  */
object VectorQ {
  type Q = (SparkSession, String) => DataFrame

  /** Corpus with vectors cast element-exactly to double. */
  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"),
        col("label"))

  /** The embeddings read, warmed first in the prewarm DAG so concurrent
    * builders find its table schema already inferred. */
  private val vecCorpus = Artifact("vecCorpus") { (s, d) => corpus(s, d); () }

  /** Build-once/probe-many: the IVF index (Lloyd-refined centroids +
    * cell-replicated postings, both persisted-materialized) memoized per
    * (session, sfDir) — the production lifecycle where the build cost
    * amortizes over every query batch. v5 times the one-shot build+probe;
    * v6 times a probe against this prebuilt index, so the bench separates
    * index-build cost from query cost. */
  private val prebuiltIvf = Artifact("prebuiltIvf", vecCorpus) { (s, d) =>
    // parquet-persisted via ArtifactStore (IvfSpec proves round-trip
    // parity): built once per fixture, loaded by every later JVM
    val Seq(cents, posts) = graft.ArtifactStore.group(s, d, "ivf16",
      "v1 nCells=16 nAssign=2 corpus=vec_id>=5",
      Seq("centroids", "postings")) {
      val idx = Similarity.buildIvfIndex(
        corpus(s, d).filter(col("vec_id") >= 5), "vec_id", "vec",
        nCells = 16)
      Seq(idx.centroids, idx.postings)
    }
    val c = cents.persist(); c.count()
    val p = posts.persist()
    p.count() // materialize inside the lock (shared await)
    Similarity.IvfIndex(centroids = c, postings = p,
      idCol = "vec_id", vecCol = "vec")
  }

  /** PREBUILT drifted IVF for v34 (VERDICT r12 #4): the planted
    * hot-cell drift — 4n copies of one corpus vector appended under the
    * FROZEN quantizer ([[Similarity.ivfAppend]], same centroids) —
    * materialized once per fixture like every other serve artifact:
    * v34's subject is the retrain DECISION (the drift report wired to
    * the threshold/policy), not the append, so rebuilding the 4n-row
    * drifted index inside every timed run benched the fixture, not the
    * verb (69.5 driver task-sec in r12). The append semantics stay
    * under test in IvfAppendSpec and the v28 query. */
  private val prebuiltDriftedIvf = Artifact("prebuiltDriftedIvf", prebuiltIvf) { (s, d) =>
    val idx = prebuiltIvf(s, d)
    val drifted = graft.ArtifactStore.dataFrame(s, d, "ivf16drift",
      "v1 hot=4n id+2e6 nCellsHint=16 base=ivf16") {
      val n = corpus(s, d).count()
      // broadcast the 1-row hot vector onto the id range (a bare
      // crossJoin of two plain frames plans a CartesianProduct; the
      // broadcast side makes it a nested-loop over one row — the
      // PlanSpec cartesian gate holds for the whole surface)
      val hot = s.range(0, 4 * n)
        .select((col("id") + 2000000L).as("vec_id"))
        .crossJoin(broadcast(
          idx.postings.orderBy("vec_id").limit(1).select(col("vec"))))
        .select("vec_id", "vec")
      Similarity.ivfAppend(idx, hot, nCellsHint = Some(16)).postings
    }
    val p = drifted.persist()
    p.count() // materialize inside the lock (shared await)
    idx.copy(postings = p)
  }

  /** Prebuilt PQ artifacts for v12 — codebook (persisted centroids) and
    * the cell-tagged codes table (PQ codes joined onto the prebuilt IVF
    * postings' cell assignment), memoized per (session, sfDir) like the
    * IVF index: at scale both are written once next to the index and
    * read per query batch. */
  /** (codebook, cell-tagged codes for v12's cell-joined probe,
    * one-row-per-vector codes for v11's full ADC scan — persisted
    * beside the others so no invocation pays the de-replication
    * shuffle). */
  private val prebuiltPq = Artifact("prebuiltPq", prebuiltIvf) { (s, d) =>
    val Seq(centsL, codesL, flatL) = graft.ArtifactStore.group(s, d,
      "pq", "v2 m=8 k=16 subDim=8 corpus=vec_id>=5 cell=ivf16 +flat",
      Seq("centroids", "codes", "codesflat")) {
      val idx = prebuiltIvf(s, d)
      val base = corpus(s, d).filter(col("vec_id") >= 5)
      val cb0 = graft.ext.Pq.trainCodebooks(base, "vec_id", "vec",
        m = 8, k = 16, subDim = 8)
      // build-local persist: encode re-reads the centroids; the block
      // is released by the store's afterWrite once the parquet exists
      val cents0 = cb0.centroids.persist(); cents0.count()
      val flat0 = graft.ext.Pq.encode(base, "vec_id", "vec",
          cb0.copy(centroids = cents0)).persist()
      flat0.count()
      val codes0 = flat0
        .join(idx.postings.select(col("vec_id"), col("ivf_cell")),
          "vec_id")
      Seq(cents0, codes0, flat0)
    }
    val cents = centsL.persist()
    cents.count() // materialize inside the lock (shared await)
    val codes = codesL.persist()
    codes.count()
    val flat = flatL.persist()
    flat.count()
    (graft.ext.Pq.Codebook(cents, m = 8, k = 16, subDim = 8), codes,
      flat)
  }

  /** Exact L2 top-10 ground truth (queries = vec_id<5, candidates =
    * vec_id>=5) — what BOTH PQ recall queries (v11/v12) score against.
    * Deterministic per fixture, so it persists once beside the index via
    * [[graft.ArtifactStore]] (the v20 exact-leg precedent: 94.2→3.6 s)
    * instead of re-running the brute-force scan on every invocation;
    * PqSpec independently re-derives the ground truth from raw floats,
    * so the artifact can never mask a recall bug. */
  private val prebuiltExactL2 = Artifact("prebuiltExactL2", vecCorpus) { (s, d) =>
    graft.ArtifactStore.dataFrame(s, d, "exactl2",
      "v1 k=10 metric=l2 q=vec_id<5 corpus=vec_id>=5") {
      val c = corpus(s, d)
      c.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("c_id"), col("vec").as("cv"))
        .crossJoin(broadcast(c.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("vec").as("qv"))))
        .withColumn("dist", graft.ext.Pq.l2sq(col("qv"), col("cv")))
        // ascending L2 = descending on its negation (exact for doubles)
        .transform(df => graft.functions.TopKAgg.topKByKeyOn(df, "q_id",
          -col("dist"), "c_id", "dist", 10))
        .select("q_id", "rank", "c_id")
    }
  }

  /** Exact float re-rank of a PQ shortlist: ONLY the shortlisted
    * candidates fetch their raw vectors (PQ's read contract — the scan
    * stays on nibbles), then bounded-heap top-10 by true L2. */
  private def l2Rerank(shortlist: DataFrame, s: SparkSession, d: String)
      : DataFrame = {
    val c = corpus(s, d)
    shortlist
      .join(c.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("c_id"), col("vec").as("cv")), "c_id")
      .join(broadcast(c.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("vec").as("qv"))), "q_id")
      .withColumn("dist", graft.ext.Pq.l2sq(col("qv"), col("cv")))
      .transform(df => graft.functions.TopKAgg.topKByKeyOn(df, "q_id",
        -col("dist"), "c_id", "dist", 10))
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
  }

  /** Per-query recall@k of `approx` (q_id, c_id, hit) against the exact
    * (q_id, c_id) top-k — the shared scoring tail of v11/v12. */
  private def recallAt10(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select("q_id", "c_id").join(approx, Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
          .as("recall_at_k"))
      .orderBy("q_id")

  /** Prebuilt two-level centroid tree for v15 — the packed coarse+fine
    * broadcast row ([[Similarity.buildHierTree]]) memoized per (session,
    * sfDir) beside the IVF index it derives from: the tree is a pure
    * function of the index centroids, so every assignment pass (each
    * agreement mode, every bench sweep) probes the one cached tree
    * instead of re-running the coarse k-means + packing aggregations. */
  private val prebuiltHier = Artifact("prebuiltHier", prebuiltIvf) { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "hier",
      "v1 over=ivf16") {
      Similarity.buildHierTree(prebuiltIvf(s, d).centroids).packed
    }
    val packed = loaded.persist()
    packed.count() // materialize inside the lock (shared await)
    Similarity.HierTree(packed)
  }

  /** Prebuilt label-carrying IVF index for v18 (filtered search) — the
    * same build-once/probe-many lifecycle as [[prebuiltIvf]], but with
    * the filter column riding in the postings (`keepCols`): a production
    * filtered-search index is written once with its predicate columns and
    * probed per query batch, so the bench should time the probe, not a
    * per-run rebuild. Kept separate from [[prebuiltIvf]] because the
    * filtered index intentionally uses a different geometry (nCells=24)
    * to exercise the second equi-key path at a non-trivial cell count. */
  private val prebuiltFilteredIvf = Artifact("prebuiltFilteredIvf", vecCorpus) { (s, d) =>
    val Seq(cents, posts) = graft.ArtifactStore.group(s, d, "ivf24f",
      "v1 nCells=24 nAssign=2 keep=label corpus=vec_id>=5",
      Seq("centroids", "postings")) {
      val idx = Similarity.buildIvfIndex(
        corpus(s, d).filter(col("vec_id") >= 5), "vec_id", "vec",
        nCells = 24, nAssign = 2, keepCols = Seq("label"))
      Seq(idx.centroids, idx.postings)
    }
    val c = cents.persist(); c.count()
    val postings = posts.persist()
    postings.count() // materialize inside the lock (shared await)
    Similarity.IvfIndex(centroids = c, postings = postings,
      idCol = "vec_id", vecCol = "vec")
  }

  /** Prebuilt RETRIEVAL artifacts for v19 — the fitted TF-IDF vectorizer
    * (df table + corpus size, persisted) and the chunk IVF index,
    * memoized per (session, sfDir): the RAG lifecycle is fit + index
    * ONCE at build time, then embed-and-probe per query batch — v19
    * times the serve path, not a per-call corpus re-chunk + re-fit +
    * re-index (the v5/v6 split applied to retrieval). */
  /** Audit-sample cap for the recall audit (v20): at 100 TB the audit
    * SAMPLES held-out queries rather than sweeping them — the exact
    * ground-truth leg is Θ(nSample × corpus), so the cap is what keeps
    * the audit a fixed-cost side channel instead of a second full scan.
    * Deterministic (md5-ordered top-N), so the audited set — and the
    * recall-band output — is stable across invocations and rounds. At
    * the test SFs the held-out set (~n/97 docs) is under the cap, so
    * every query is audited and the output matches the uncapped sweep. */
  private val auditSample = 64

  private[graft] val prebuiltRag = Artifact("prebuiltRag", vecCorpus) { (s, d) =>
    val chunks = graft.ext.TextOps.chunkSliding(
        Tables.documents(s, d).filter(col("doc_id") % 97 =!= 3),
        "doc_id", "text", w = 12, s = 8)
      .select((col("doc_id") * 100000 + col("chunk_id")).as("chunk_key"),
        col("chunk"))
    val loaded = graft.ArtifactStore.group(s, d, "rag",
      s"v1 dim=32 w=12 s=8 nAssign=2 audit=$auditSample",
      Seq("dftab", "corpusn", "chunkvecs", "centroids", "postings",
        "auditq", "exacttop5")) {
    val m0 = graft.ext.TextOps.tfIdfModel(chunks, "chunk_key", "chunk",
      dim = 32)
    val dfTab = m0.dfTab.persist(); dfTab.count()
    val corpusN = m0.corpusN.persist(); corpusN.count()
    val model = m0.copy(dfTab = dfTab, corpusN = corpusN)
    // kept persisted: the exact leg of the retrieval-recall audit
    // (v20) brute-forces against these same chunk vectors — they are
    // the ground-truth side of the index, not a build temporary
    val chunkVecs = graft.ext.TextOps.assembleVector(
      graft.ext.TextOps.applyTfIdf(chunks, "chunk_key", "chunk", model),
      "chunk_key", 32).persist()
    // nCells ~ √n (the standard IVF sizing, SCALING.md's IVF rows):
    // the chunk corpus is ~8× the doc corpus, and a fixed cell count
    // would make every probe drag n/nCells postings per cell
    val nCells = math.max(16,
      math.sqrt(chunkVecs.count().toDouble).toInt)
    val idx = Similarity.buildIvfIndex(chunkVecs, "chunk_key", "vec",
      nCells = nCells, nAssign = 2)
    val postings = idx.postings.persist()
    postings.count() // materialize inside the lock (shared await)
    // Recall-audit artifacts (v20), built ONCE beside the index: the
    // deterministic md5-ordered query sample (embedded with the fitted
    // model) and its EXACT brute-force chunk top-5 — the ground truth
    // is a pure function of (corpus, model, sample), i.e. an
    // index-build artifact, not a per-query cost. Without this the
    // audit re-swept every chunk vector per invocation (94 s/call,
    // 48% of the r5 bench wall).
    // orderBy+limit → TakeOrderedAndProject: per-partition top-N then
    // a driver merge of N×partitions rows — no global sort, no single
    // partition, even when the held-out set is huge
    val auditQVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(
          Tables.documents(s, d).filter(col("doc_id") % 97 === 3),
          "doc_id", "text", model),
        "doc_id", 32)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(auditSample)
      .persist()
    auditQVecs.count()
    val exactTop5 = Similarity.bruteForceTopK(auditQVecs, chunkVecs,
        "doc_id", "chunk_key", "vec", k = 5)
      .select(col("q_id"), col("c_id"))
      .persist()
    exactTop5.count()
    Seq(dfTab, corpusN, chunkVecs, idx.centroids, postings, auditQVecs,
      exactTop5)
    }
    val Seq(dfTab, corpusN, chunkVecs, cents, postings, auditQVecs,
      exactTop5) = loaded.map { df => val p = df.persist(); p.count(); p }
    // model reconstructed lazily over the LOADED fit tables — the fit
    // itself (bucketFn, dim) is data-independent plan structure
    val model = graft.ext.TextOps.tfIdfModel(chunks, "chunk_key",
        "chunk", dim = 32)
      .copy(dfTab = dfTab, corpusN = corpusN)
    (model,
      Similarity.IvfIndex(centroids = cents, postings = postings,
        idCol = "chunk_key", vecCol = "vec"),
      chunkVecs, auditQVecs, exactTop5)
  }

  /** Prebuilt HYBRID-retrieval artifacts for v23 — the doc-level TF-IDF
    * model (md5 buckets, the x14/oracle-replicable geometry), the
    * assembled corpus vectors, and the BM25 inverted index (postings +
    * 1-row stats), memoized per (session, sfDir): the hybrid serve
    * lifecycle is fit/index ONCE, then per query batch embed + two leg
    * probes + rank fusion. x48 deliberately keeps the one-shot
    * build+search form (it documents the build leg, the v5/v6 split). */
  /** The 5-tuple adds the DOC-LEVEL IVF index over the corpus vectors
    * (nCells ~ √n, the standard sizing) and its cell count: v26 probes it
    * as the scale-true dense leg where v23 brute-forces (the oracle
    * anchor), and HybridIvfSpec pins v26 ≡ v23 at nProbe = nCells. */
  private[graft] val prebuiltHybrid = Artifact("prebuiltHybrid", prebuiltRag) { (s, d) =>
    val corpusD = Tables.documents(s, d).filter(col("doc_id") % 97 =!= 3)
    val md5Bucket: Column => Column =
      t => conv(substring(md5(t), 1, 4), 16, 10).cast("int") % 32
    val loaded = graft.ArtifactStore.group(s, d, "hybrid",
      "v1 dim=32 md5bucket nAssign=2",
      Seq("dftab", "corpusn", "cvecs", "bm25postings", "bm25stats",
        "centroids", "postings")) {
      val m0 = graft.ext.TextOps.tfIdfModel(corpusD, "doc_id", "text",
        dim = 32, bucketOf = md5Bucket)
      val dfTab = m0.dfTab.persist(); dfTab.count()
      val corpusN = m0.corpusN.persist(); corpusN.count()
      val model = m0.copy(dfTab = dfTab, corpusN = corpusN)
      val cVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(corpusD, "doc_id", "text", model),
        "doc_id", 32).persist()
      val nDocs = cVecs.count()
      val b0 = graft.ext.TextOps.bm25Index(corpusD, "doc_id", "text")
      val nCells = math.max(16, math.sqrt(nDocs.toDouble).toInt)
      val idx0 = Similarity.buildIvfIndex(cVecs, "doc_id", "vec",
        nCells = nCells, nAssign = 2)
      Seq(dfTab, corpusN, cVecs, b0.postings, b0.stats, idx0.centroids,
        idx0.postings)
    }
    val Seq(dfTab, corpusN, cVecs, postings, stats, cents, idxPostings) =
      loaded.map { df => val p = df.persist(); p.count(); p }
    val model = graft.ext.TextOps.tfIdfModel(corpusD, "doc_id", "text",
        dim = 32, bucketOf = md5Bucket)
      .copy(dfTab = dfTab, corpusN = corpusN)
    // recompute the build-time √n sizing (not centroids.count(): a
    // dead cell would shift it and change v26's probe depth) — a
    // cheap count on the persisted corpus vectors
    val nCells = math.max(16, math.sqrt(cVecs.count().toDouble).toInt)
    (model, cVecs, graft.ext.TextOps.Bm25Index(postings, stats),
      Similarity.IvfIndex(centroids = cents, postings = idxPostings,
        idCol = "doc_id", vecCol = "vec"), nCells)
  }

  /** Prebuilt EXACT ground-truth legs of v25's self-retrieval eval —
    * the md5-sampled 32-query batch (each sampled doc's first sliding
    * chunk) plus its exact dense (TF-IDF cosine top-10) and exact
    * sparse (BM25 top-10) result lists. All three are pure functions of
    * (fixture, split, model), i.e. index-build artifacts, not per-query
    * costs — the v20 exact-leg precedent applied to the eval: the two
    * exact sweeps were v25's entire cost (57.9 task-sec, the largest r8
    * bench item) while the eval's POINT is timing the bounded
    * production paths against a fixed ground truth. RagRetrievalSpec
    * re-derives both legs independently (driver-side cosine; a
    * scratch-built BM25 index), so the artifact cannot mask a
    * ground-truth bug. */
  private[graft] val prebuiltEvalExact = Artifact("prebuiltEvalExact", prebuiltHybrid) { (s, d) =>
    val loaded = graft.ArtifactStore.group(s, d, "evalexact",
      "v1 sample=32 w=12 s=8 k=10 over=hybrid",
      Seq("queries", "dense", "sparse")) {
      val (model, cVecs, bm25, _, _) = prebuiltHybrid(s, d)
      val sampled = Tables.documents(s, d)
        .filter(col("doc_id") % 97 =!= 3)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(32)
        .select("doc_id", "text")
      val queries = graft.ext.TextOps.chunkSliding(sampled, "doc_id",
          "text", w = 12, s = 8)
        .filter(col("chunk_id") === 0)
        .select(col("doc_id"), col("chunk").as("text")).persist()
      queries.count()
      val qVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(queries, "doc_id", "text", model),
        "doc_id", 32)
      val dense = Similarity.bruteForceTopK(qVecs, cVecs, "doc_id",
          "doc_id", "vec", k = 10)
        .select(col("q_id"), col("rank"), col("c_id").as("key"))
      val sparse = graft.ext.TextOps.bm25Search(bm25, queries,
          "doc_id", "text", k = 10)
        .select("q_id", "rank", "key")
      Seq(queries, dense, sparse)
    }
    val Seq(queries, dense, sparse) =
      loaded.map { df => val p = df.persist(); p.count(); p }
    (queries, dense, sparse)
  }

  /** Impact-pruned stage-1 lists over [[prebuiltHybrid]]'s BM25 index
    * (P = 64, the measured full-candidate-coverage point — Bm25Spec):
    * v27's sparse candidate generator. Memoized beside the index it
    * prunes. */
  private val prebuiltPruned = Artifact("prebuiltPruned") { (s, d) =>
    val (_, _, bm25, _, _) = prebuiltHybrid(s, d)
    val loaded = graft.ArtifactStore.dataFrame(s, d, "hybridpruned",
      "v1 P=64 over=hybrid") {
      graft.ext.TextOps.bm25Prune(bm25, maxPostingsPerTerm = 64).postings
    }
    val p = loaded.persist()
    p.count()
    graft.ext.TextOps.Bm25Index(p, bm25.stats)
  }

  /** v27's pipeline — BOTH legs bounded — with overridable depths so the
    * spec can run it wide open (nProbe = nCells, P ≥ every df), where the
    * dense probe degenerates to brute force, the pruned lists equal the
    * full lists, and the output must equal v23 row-for-row. */
  private[graft] def hybridBounded(s: SparkSession, d: String,
                                   nProbeOverride: Option[Int] = None,
                                   maxPostingsOverride: Option[Int] = None)
      : DataFrame = {
    val qs = Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
    val (model, _, bm25, docIdx, nCells) = prebuiltHybrid(s, d)
    val qVecs = graft.ext.TextOps.assembleVector(
      graft.ext.TextOps.applyTfIdf(qs, "doc_id", "text", model),
      "doc_id", 32)
    val nP = nProbeOverride.getOrElse(Similarity.nProbeFor(nCells,
      Similarity.calibratedFraction(0.8, nCells)))
    val pruned = maxPostingsOverride match {
      case Some(p) =>
        val pr = graft.ext.TextOps.bm25Prune(bm25, maxPostingsPerTerm = p)
        graft.ext.TextOps.Bm25Index(pr.postings, bm25.stats)
      case None => prebuiltPruned(s, d)
    }
    val dense = Similarity.probeIvf(docIdx, qVecs, "doc_id",
        nProbe = nP, k = 20)
      .select(col("q_id"), col("rank"), col("c_id").as("key"))
    val sparse = graft.ext.TextOps.bm25SearchTwoStage(bm25, pruned, qs,
        "doc_id", "text", k = 20)
      .select("q_id", "rank", "key")
    graft.ext.TextOps.rrfFuse(Seq(dense, sparse), k = 10)
      .select(col("q_id"), col("rank"), col("key"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rank")
  }

  /** v26's pipeline with an overridable dense-leg probe depth — the
    * production query runs the calibrated 0.8-recall probe; HybridIvfSpec
    * re-runs it at nProbe = nCells, where the probe degenerates to exact
    * brute force and the output must equal v23 row-for-row. */
  private[graft] def hybridIvf(s: SparkSession, d: String,
                               nProbeOverride: Option[Int] = None): DataFrame = {
    val qs = Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
    val (model, _, bm25, docIdx, nCells) = prebuiltHybrid(s, d)
    val qVecs = graft.ext.TextOps.assembleVector(
      graft.ext.TextOps.applyTfIdf(qs, "doc_id", "text", model),
      "doc_id", 32)
    val nP = nProbeOverride.getOrElse(Similarity.nProbeFor(nCells,
      Similarity.calibratedFraction(0.8, nCells)))
    val dense = Similarity.probeIvf(docIdx, qVecs, "doc_id",
        nProbe = nP, k = 20)
      .select(col("q_id"), col("rank"), col("c_id").as("key"))
    val sparse = graft.ext.TextOps.bm25Search(bm25, qs, "doc_id", "text",
        k = 20)
      .select("q_id", "rank", "key")
    graft.ext.TextOps.rrfFuse(Seq(dense, sparse), k = 10)
      .select(col("q_id"), col("rank"), col("key"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rank")
  }

  /** v28's pipeline — build on the ¾ slice, [[Similarity.ivfAppend]] the
    * ¼ increment, probe the appended index — with an overridable probe
    * depth so IvfAppendSpec can run it wide open (nProbe = nCells: the
    * probe is exact over the union corpus, so every sampled batch vector
    * MUST retrieve itself at rank 1). One-shot by design (the x36/x49
    * build-leg precedent): the query times the full maintenance
    * lifecycle, not just the probe. */
  private[graft] def ivfIncremental(s: SparkSession, d: String,
                                    nProbeOverride: Option[Int] = None)
      : DataFrame = {
    val c = corpus(s, d)
    val base = c.filter(col("vec_id") >= 5 && col("vec_id") % 4 =!= 0)
      .select("vec_id", "vec")
    val batch = c.filter(col("vec_id") >= 5 && col("vec_id") % 4 === 0)
      .select("vec_id", "vec")
    // index-sizing action (the v22 precedent): nCells ~ √n of the slice
    // the index is BUILT on — the increment inherits the geometry
    val nCells = math.max(16, math.sqrt(base.count().toDouble).toInt)
    val idx = Similarity.buildIvfIndex(base, "vec_id", "vec",
      nCells = nCells)
    val appended = Similarity.ivfAppend(idx, batch,
      nCellsHint = Some(nCells))
    // standard query vectors + an md5-sample of the increment: the
    // sampled batch vectors retrieving THEMSELVES proves in the output
    // that the appended postings are live next to the old ones
    val qs = c.filter(col("vec_id") < 5).select("vec_id", "vec")
      .unionByName(batch
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(8))
    Similarity.probeIvf(appended, qs, "vec_id",
        nProbe = nProbeOverride.getOrElse(4), k = 5)
      .select(col("q_id"), col("rank"), col("c_id"),
        round(col("cos"), 6).as("cos"),
        (col("c_id") % 4 === 0).as("from_increment"))
      .orderBy("q_id", "rank")
  }

  /** The st8 sink DIR — the streamed-IVF lifecycle PREFIX: v32
    * (+delete+compactAll) and st18 (+delete) branch from this committed
    * dir (r16, the st9→st15/x58 rationale — the 3-batch assign+write
    * ingest is the corpus-sized cost; the branch is an MB-sized copy). */
  private val streamedIvfDir = Artifact("streamedIvfDir") { (s, d) =>
    val spec = "v1 3batches mod3 nCells=16 trainOnBatch0"
    def ingest(dir: String): Unit = {
      val c = corpus(s, d).select("vec_id", "vec")
      (0 to 2).foreach { i =>
        graft.streaming.StreamIvf.appendBatch(dir,
          c.filter(col("vec_id") % 3 === i), i, "vec_id", "vec",
          nCells = 16)
      }
    }
    Artifact.storedDir(d, "st8ivf", spec)(ingest)
  }

  /** The STREAM-MAINTAINED dense IVF index ([[graft.streaming
    * .StreamIvf]]): the embeddings table ingested as three arrival
    * batches through the SAME `foreachBatch` sink body the firehose runs
    * (the st6 batch-degenerate precedent) — batch 0 trains the frozen
    * quantizer, batches 1-2 assign-and-append as immutable on-disk
    * partitions — then loaded back, so st8 serves from the
    * disk-round-tripped maintained artifact. Postings deliberately NOT
    * memory-persisted: index-scale vector tables serve faster from
    * (page-cached) parquet than from the deserialized executor cache
    * (SCALING.md r8); only the nCells-row centroids persist. */
  private val streamedIvf = Artifact("streamedIvf", vecCorpus) { (s, d) =>
    val idx = graft.streaming.StreamIvf
      .load(s, streamedIvfDir(s, d), "vec_id", "vec").get
    val cents = idx.centroids.persist(); cents.count()
    idx.copy(centroids = cents)
  }

  /** Memoized TAKEDOWN-lifecycle dense index for v32 — the cascading
    * right-to-be-forgotten story on the vector derivative: the same
    * 3-batch streamed ingest as st8, then
    * [[graft.streaming.StreamIvf.deleteVecs]] tombstones the
    * vec_id % 10 == 0 slice (masked in every assigned cell the instant
    * the delete commits), and [[graft.streaming.StreamIvf.compactAll]]
    * physically reclaims — after which the index holds only surviving
    * vectors under the SAME frozen quantizer, which is exactly what the
    * DuckDB brute-force oracle recomputes (st8's SQL with the deleted
    * slice filtered from the corpus). A deleted document's embeddings
    * are its content as much as its postings — x57/x58 forget the index
    * and the bodies; v32 forgets the vectors. */
  private val takedownIvf = Artifact("takedownIvf", streamedIvf) { (s, d) =>
    // v2 (r16): BRANCH the committed st8 prefix instead of
    // re-running the identical 3-batch ingest; takedown verbs
    // unchanged.
    val spec = "v2 branch=st8 delete=%10==0 compactAll"
    def build(dir: String): Unit = {
      val c = corpus(s, d).select("vec_id", "vec")
      graft.ArtifactStore.branchFrom(streamedIvfDir(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamIvf.deleteVecs(s, dir,
        c.filter(col("vec_id") % 10 === 0).select("vec_id"), "vec_id")
      graft.streaming.StreamIvf.compactAll(s, dir,
        graft.streaming.StreamIvf.nextCompactId(s, dir),
        "vec_id", "vec")
    }
    val dir = Artifact.storedDir(d, "v32ivf", spec)(build)
    val idx = graft.streaming.StreamIvf.load(s, dir, "vec_id", "vec").get
    val cents = idx.centroids.persist(); cents.count()
    idx.copy(centroids = cents)
  }

  /** Memoized EMBEDDING-slice index for v30 — the maintained
    * (id, label, vector) artifact an incremental semantic-dedup loop
    * carries between runs (the phashidx/corpuscc rationale for the
    * embedding family): committed vectors are written once per corpus
    * snapshot and every arriving batch block-joins against them WITHOUT
    * re-pairing the corpus with itself. Index side = the
    * vec_id % 4 != 0 slice; the % 4 == 0 slice plays the arriving
    * batch. */
  private val semanticIndex = Artifact("semanticIndex", vecCorpus) { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "semidx",
      "v1 corpus=vec_id%4!=0") {
      corpus(s, d).filter(col("vec_id") % 4 =!= 0)
        .select("vec_id", "label", "vec")
    }
    val idx = loaded.persist()
    idx.count() // materialize inside the lock (shared await)
    idx
  }

  /** Memoized IVF-CELL-blocked semantic index for v31 — [[semanticIndex]]
    * promoted to its PRODUCTION block key (the v10→v14 pattern applied to
    * the incremental member): centroids are trained ON the index slice
    * and FROZEN (the v28 add-after-train contract), the index rows carry
    * their cell assignment, and every arriving batch assigns under the
    * SAME frozen centroids so the block equi-join aligns. nCells ~ √n
    * holds cell occupancy ~√n, so the per-batch cost stays
    * |batch|·occupancy at any corpus scale. */
  private val semanticIvfIndex = Artifact("semanticIvfIndex", vecCorpus) { (s, d) =>
    val Seq(cents0, idx0) = graft.ArtifactStore.group(s, d, "semidxivf",
      "v1 corpus=vec_id%4!=0 cells=sqrt refine=2",
      Seq("centroids", "index")) {
      val c = corpus(s, d).filter(col("vec_id") % 4 =!= 0)
        .select("vec_id", "label", "vec")
      val nCells = math.max(16, math.sqrt(c.count().toDouble).toInt)
      val cents = Similarity.ivfCentroids(c, "vec_id", "vec", nCells)
        .persist()
      cents.count()
      Seq(cents, Similarity.assignTo(c, cents, "vec_id", "vec"))
    }
    val cents = cents0.persist(); cents.count()
    val idx = idx0.persist(); idx.count()
    (cents, idx)
  }

  /** Memoized MAINTAINED-FINGERPRINT IVF dir for st18 — the st8 ingest
    * plus a % 10 == 0 takedown, NO compaction: the fingerprint is
    * served from the per-batch partials and the delete's NEGATIVE
    * partial alone ([[graft.streaming.StreamIvf.fingerprintState]]) —
    * the driver query proves the metadata-sized serve equals a DuckDB
    * recomputation of the surviving vector-id-set checksum. */
  private val fpIvfDir = Artifact("fpIvfDir", streamedIvf) { (s, d) =>
    // v2 (r16): BRANCH the committed st8 prefix (the v32 rationale);
    // the delete verb is unchanged and no compaction follows.
    val spec = "v2 branch=st8 delete=%10==0 nocompact fpstate"
    def build(dir: String): Unit = {
      val c = corpus(s, d).select("vec_id", "vec")
      graft.ArtifactStore.branchFrom(streamedIvfDir(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamIvf.deleteVecs(s, dir,
        c.filter(col("vec_id") % 10 === 0).select("vec_id"),
        "vec_id")
    }
    Artifact.storedDir(d, "st18ivffp", spec)(build)
  }

  /** Prewarm DAG (r15): see [[graft.queries.TextQ.prewarmTasks]]. The
    * shared `vecCorpus` read goes first so concurrent builders find it
    * warmed; the real edges are prebuiltIvf → {pq, hier, drifted},
    * prebuiltRag → prebuiltHybrid → {evalExact} and the r16 branch edges
    * (v32/st18 copy st8's committed prefix, [[graft.ArtifactStore
    * .branchFrom]]). Heaviest-first (cold walls, r15) inside topo order. */
  private val prewarmed: Seq[Artifact[_]] = Seq(vecCorpus, prebuiltRag,
    prebuiltIvf, prebuiltPq, prebuiltHybrid, streamedIvf, takedownIvf,
    prebuiltFilteredIvf, fpIvfDir, prebuiltHier, prebuiltEvalExact,
    semanticIvfIndex, prebuiltDriftedIvf, prebuiltExactL2, semanticIndex)

  private[graft] def prewarmTasks(s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] = Artifact.tasks(prewarmed, s, d)

  val queries: Map[String, Q] = Map(
    // V1 — all-pairs cosine scores of a small broadcast query set vs the
    // corpus (the exact kernel under any top-k).
    "v1_cosine_scores" -> ((s, d) => {
      val c = corpus(s, d)
      Similarity.bruteForceScores(
          c.filter(col("vec_id") < 5), c, "vec_id", "vec_id", "vec")
        .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "c_id")
    }),

    // V2 — exact top-k neighbours per query (brute force + window rank)
    "v2_cosine_topk" -> ((s, d) => {
      val c = corpus(s, d)
      Similarity.bruteForceTopK(
          c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5),
          "vec_id", "vec_id", "vec", k = 10)
        .select(col("q_id"), col("rank"), col("c_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // V3 — embedding-cosine near-dup pairs, blocked by label (the metadata
    // blocking key) + id sampling to bound the candidate set; exact cosine
    // above threshold. The label plays the IVF-cell role.
    "v3_neardup_cosine" -> ((s, d) => {
      val c = corpus(s, d).filter(col("vec_id") % 10 === 0)
      val a = c.select(col("vec_id").as("id1"), col("vec").as("v1"), col("label"))
      val b = c.select(col("vec_id").as("id2"), col("vec").as("v2"), col("label"))
      a.join(b, "label")
        .filter(col("id1") < col("id2"))
        .withColumn("cos", round(Similarity.cosine(col("v1"), col("v2")), 6))
        .filter(col("cos") >= 0.2)
        .select("label", "id1", "id2", "cos")
        .orderBy("label", "id1", "id2")
    }),

    // V4 — ANN via random-hyperplane LSH: 32-plane signature split into 4
    // OR'd 8-bit bands, candidate pairs from one equi-join on
    // (band, band_sig) with a mega-bucket cap, exact cosine re-rank (the
    // 10⁹-vector near-dup shape: no cross join at any scale).
    "v4_ann_lsh" -> ((s, d) =>
      Similarity.annTopK(corpus(s, d), "vec_id", "vec", planes = 32, k = 5,
          bands = 4)
        .select(col("id1"), col("rank"), col("id2"), round(col("cos"), 6).as("cos"))
        .orderBy("id1", "rank")),

    // V5 — ANN via IVF cells (centroid assignment + nProbe probing + exact
    // in-cell re-rank): the other standard scale path for vector search.
    "v5_ivf_topk" -> ((s, d) => {
      val c = corpus(s, d)
      Similarity.ivfTopK(c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5),
          "vec_id", "vec_id", "vec", nCells = 16, nProbe = 4, k = 10)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // V6 — probe-many against the PREBUILT IVF index ([[prebuiltIvf]]):
    // the steady-state query cost once the build is amortized. Same output
    // shape as v5; IvfSpec's round-trip test proves prebuilt ≡ one-shot.
    "v6_ivf_probe" -> ((s, d) =>
      Similarity.probeIvf(prebuiltIvf(s, d),
          corpus(s, d).filter(col("vec_id") < 5), "vec_id", nProbe = 4, k = 10)
        .select(col("q_id"), col("rank"), col("c_id"), round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")),

    // V7 — ANN QUALITY as a driver-visible number: recall@10 of the
    // prebuilt-IVF probe (v6) against the exact brute-force top-k (v2),
    // per query. Left-join exact neighbors to approximate ones and count
    // hits — the regression guard that makes index quality a bench-tracked
    // output instead of a spec-buried assertion (IvfSpec asserts the same
    // floor; SCALING.md records it at 1×/8×/64×). Hash-family/centroid-
    // specific → rows-only.
    "v7_ann_recall" -> ((s, d) => {
      val c = corpus(s, d)
      val exact = Similarity.bruteForceTopK(
          c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5),
          "vec_id", "vec_id", "vec", k = 10)
        .select(col("q_id"), col("c_id"))
      val approx = Similarity.probeIvf(prebuiltIvf(s, d),
          c.filter(col("vec_id") < 5), "vec_id", nProbe = 4, k = 10)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k"),
          round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
            .as("recall_at_k"))
        .orderBy("q_id")
    }),
    // V8 — int8 scalar quantization (the embedding-compression step a
    // 100 TB vector index runs before storage: 4× smaller postings, and
    // the dequant error bounds re-rank loss): per-vector symmetric scale
    // = max|x|/127, codes = round(x/scale), plus the RMS reconstruction
    // error. Pure codegen'd higher-order array expressions over the scan
    // — zero shuffles; oracle-exact vs DuckDB list functions (both sides
    // fold the array sequentially, so the sums are bit-identical).
    "v8_quantize" -> ((s, d) => {
      val v = col("vec")
      val q = (x: Column) => round(x / col("s")).cast("int")
      corpus(s, d)
        .withColumn("s",
          greatest(aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x))),
            lit(1e-12)) / 127)
        .select(col("vec_id"),
          round(col("s"), 6).as("scale"),
          md5(array_join(transform(v, x => q(x).cast("string")), ","))
            .as("qsig"),
          round(sqrt(
            aggregate(transform(v, x => (x - q(x) * col("s")) * (x - q(x) * col("s"))),
              lit(0.0), (a, x) => a + x) / size(v)), 6).as("rmse"))
        .orderBy("vec_id")
    }),

    // V9 — recall-SLO-sized probe: nProbe derived from a target probed
    // FRACTION via Similarity.nProbeFor (the knob that HOLDS recall as
    // the corpus grows — a fixed nProbe's recall decays 0.38→0.18 across
    // a 64× blow-up while a ~10% fraction held it; SCALING.md r4).
    // Output = per-query recall@10 vs the exact top-k, with the chosen
    // n_probe — v7's regression guard productized as "ask for a fraction,
    // not a cell count". Hash/centroid-specific → rows-only.
    "v9_ivf_sla" -> ((s, d) => {
      val c = corpus(s, d)
      val exact = Similarity.bruteForceTopK(
          c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5),
          "vec_id", "vec_id", "vec", k = 10)
        .select(col("q_id"), col("c_id"))
      // the SLO overload: "recall >= 0.5", nProbe chosen internally and
      // reported back in the n_probe column
      val approx = Similarity.probeIvf(prebuiltIvf(s, d),
          c.filter(col("vec_id") < 5), "vec_id", k = 10, recallTarget = 0.5)
      val hits = approx
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      // n_probe per query from the probe output itself (not via the hit
      // join, which would drop it for a zero-recall query)
      val nps = approx.groupBy("q_id").agg(max("n_probe").as("n_probe"))
      exact.join(hits, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k"),
          round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
            .as("recall_at_k"))
        .join(nps, "q_id")
        .orderBy("q_id")
    }),

    // V11 — PRODUCT quantization (IVF-PQ's compression half): serve the
    // PREBUILT per-subspace codebooks + codes (8 subspaces × 16 L2
    // centroids over the 64-dim embeddings = 8 nibbles/vector, 64×
    // smaller than float64 postings — trained once per fixture in
    // prebuiltPq), ADC-shortlist 50 candidates per
    // query from the nibbles alone, exact-re-rank just the shortlist,
    // and report per-query recall@10 against the exact L2 top-k — the
    // driver-visible compression-quality number (v7's recall pattern
    // applied to PQ; PqSpec pins determinism, the recall floor, and the
    // k-monotone reconstruction error). Codebook-specific → rows-only.
    "v11_pq_recall" -> ((s, d) => {
      // serve from the PREBUILT codebook/codes (same train params, same
      // corpus — the artifact lifecycle v12 already uses; retraining
      // inline per invocation was the one genuine r8 bench regression).
      // v11's full scan uses the persisted one-row-per-vector codes.
      val (cb, _, codes) = prebuiltPq(s, d)
      val qs = corpus(s, d).filter(col("vec_id") < 5)
      // the production read path: ADC shortlists from nibbles alone, then
      // ONLY the ~50 shortlisted candidates per query fetch their floats
      // for the exact re-rank — the scan never decompresses the corpus
      val shortlist = graft.ext.Pq.adcTopK(qs, codes, "vec_id", "vec_id",
        "vec", cb, topK = 50)
      recallAt10(prebuiltExactL2(s, d),
        l2Rerank(shortlist.select("q_id", "c_id"), s, d))
    }),

    // V12 — the COMPOSED IVF-PQ read path (what a production 100 TB
    // vector index actually executes per query): probe nProbe cells of
    // the prebuilt IVF index, score ONLY those cells' postings from
    // their PQ nibbles via the ADC LUT, exact-re-rank the 50-candidate
    // shortlist, report recall@10 vs the exact full-corpus L2 top-k.
    // The number composes both loss sources — cell misses (isolated by
    // v7) and quantization (isolated by v11) — so it is the end-to-end
    // quality a user of the index sees. Codebook-specific → rows-only;
    // PqSpec pins the floor.
    "v12_ivfpq_recall" -> ((s, d) => {
      val qs = corpus(s, d).filter(col("vec_id") < 5)
      val (cb, codes, _) = prebuiltPq(s, d)
      val sl = graft.ext.Pq.ivfPqShortlist(prebuiltIvf(s, d), cb, codes,
        qs, "vec_id", "vec_id", "vec", nProbe = 4, shortlist = 50)
      recallAt10(prebuiltExactL2(s, d),
        l2Rerank(sl.select("q_id", "c_id"), s, d))
    }),

    // V10 — SEMANTIC dedup (SemDeDup): survivors after dropping every
    // vector with an earlier in-block neighbor at cosine >= 0.3. Blocked
    // by `label` here (bounded metadata key → DuckDB-oracled exactly);
    // the 100 TB form swaps the blocker for an IVF cell id
    // (Similarity.semanticDedupIvf — same operator, k-means blocking,
    // SemDedupSpec proves every cell-blocked drop is justified).
    "v10_semdedup" -> ((s, d) =>
      Similarity.semanticDedup(corpus(s, d), "vec_id", "vec", "label",
          threshold = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // V13 — cluster-balanced sampling: cap each semantic cluster (the
    // prebuilt IVF's cells) at `cap` vectors, picked by the deterministic
    // md5-uniform order — the embedding-space diversity step of a
    // curation mix (head topics can't dominate). Centroid-specific →
    // rows-only; ClusterSampleSpec proves cap/coverage/determinism.
    "v13_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(prebuiltIvf(s, d),
          corpus(s, d).filter(col("vec_id") >= 5), "vec_id", cap = 8)
        .orderBy("vec_id")),

    // V14 — semantic dedup, PRODUCTION form: the IVF-cell-blocked
    // SemDeDup that runs at 100 TB (k-means cells as blocks, nCells ~
    // sqrt(n) holds cell occupancy flat — Θ(n^1.5) total, scale-run
    // exponent 0.69-0.76, SCALING.md). v10 is the label-blocked DuckDB-oracled twin;
    // this makes the scale path a driver-visible, bench-tracked query.
    // Centroid-specific → rows-only; SemDedupSpec proves every
    // cell-blocked drop is justified by a real in-cell dominator.
    "v14_semdedup_ivf" -> ((s, d) =>
      Similarity.semanticDedupIvf(corpus(s, d), "vec_id", "vec",
          nCells = 16, threshold = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // V15 — hierarchical (two-level) centroid assignment made driver-
    // visible: the flat broadcast pick ranks every centroid per row
    // (Θ(n^1.5) with nCells ~ √n); assignToHier ranks ~n^0.25 coarse
    // cells then only the probed cells' fine centroids (Θ(n^1.25);
    // measured crossover at m=64 in SCALING.md). Output: per-mode
    // agreement with the flat assignment — unpruned MUST be 1.0
    // (bit-equal pick, Ivf2Spec), pruned trades agreement the standard
    // coarse-quantizer way. Centroid-specific → rows-only.
    "v15_hier_assign" -> ((s, d) => {
      val base = corpus(s, d).filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("vec"))
      val cents = prebuiltIvf(s, d).centroids
      val tree = prebuiltHier(s, d) // one cached tree feeds every mode
      val flat = Similarity.assignTo(base, cents, "vec_id", "vec")
        .select(col("vec_id"), col("ivf_cell").as("flat_cell"))
      def agreement(nProbeCoarse: Int, mode: String): DataFrame =
        Similarity.assignWithTree(base, tree, "vec_id", "vec",
            nProbeCoarse = nProbeCoarse)
          .select(col("vec_id"), col("ivf_cell").as("hier_cell"))
          .join(flat, "vec_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("hier_cell") === col("flat_cell"), 1L)
              .otherwise(0L)).as("n_agree"))
          .select(lit(mode).as("mode"), col("n_vecs"), col("n_agree"),
            round(col("n_agree") / col("n_vecs"), 6).as("agree_rate"))
      agreement(2, "pruned_2of4").union(agreement(4, "unpruned"))
        .orderBy("mode")
    }),

    // V16 — binary (1-bit sign) quantization + Hamming-rescore funnel:
    // the 32× compression rung under int8 (v8) and PQ (v11). Shortlist
    // by popcount(xor) over the packed sign bits (8 bytes/vector
    // scanned, integer ops only), exact-cosine re-rank the shortlist,
    // report recall@10 vs the exact top-k. Sign-bit/tie specifics →
    // rows-only; BinaryQuantSpec pins pack width, Hamming symmetry and
    // the recall floor.
    "v16_binary_recall" -> ((s, d) => {
      val c = corpus(s, d)
      val qs = c.filter(col("vec_id") < 5)
      val base = c.filter(col("vec_id") >= 5)
      val approx = Similarity.binaryTopK(qs, base, "vec_id", "vec_id",
          "vec", k = 10, shortlist = 50)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val exact = Similarity.bruteForceTopK(qs, base, "vec_id", "vec_id",
          "vec", k = 10)
        .select("q_id", "c_id")
      exact.join(approx, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k"),
          round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
            .as("recall_at_k"))
        .orderBy("q_id")
    }),

    // V17 — attribute-FILTERED exact top-k ([[Similarity.filteredTopK]]):
    // each query retrieves only corpus vectors sharing its label (the
    // vector-DB "filtered search" primitive). The constraint is a PRE-
    // filter: the crossJoin becomes a broadcast equi-join on label, so
    // candidates shrink ~10× before any cosine runs. Oracle-exact incl.
    // rank parity (the v2 pattern + join predicate).
    "v17_filtered_topk" -> ((s, d) => {
      val c = corpus(s, d)
      Similarity.filteredTopK(
          c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5),
          "vec_id", "vec_id", "vec", "label", k = 10)
        .select(col("q_id"), col("label"), col("rank"), col("c_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")
    }),
    // V19 — the RETRIEVAL capstone (the RAG read path end-to-end, every
    // stage an existing primitive): held-out query docs (doc_id % 97 == 3
    // — OUT of the corpus, the serve-time situation) are answered from
    // the remaining docs' sliding-window chunks (x40) embedded with a
    // FITTED hashed-TF-IDF vectorizer ([[TextOps.tfIdfModel]] /
    // applyTfIdf — fit on chunks at index build, applied to queries at
    // serve time; the monolithic x14 form cannot embed text it hasn't
    // seen), indexed with IVF (v5) and probed per query (v6). Output:
    // top-5 chunks per query with their source doc + chunk position —
    // what a RAG pipeline feeds the generator. The vectorizer + chunk
    // index are the PREBUILT artifacts ([[prebuiltRag]] — fit/index once,
    // the v6 lifecycle), so the query times the serve path: embed the
    // query batch with the fitted model, probe. Hash/centroid-specific →
    // rows-only; RagRetrievalSpec plants a verbatim-chunk query and pins
    // rank-1 retrieval + OOV semantics.
    "v19_rag_retrieval" -> ((s, d) => {
      val queries = Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
      val (model, idx, _, _, _) = prebuiltRag(s, d)
      val queryVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(queries, "doc_id", "text", model),
        "doc_id", 32)
      Similarity.probeIvf(idx, queryVecs, "doc_id", nProbe = 4, k = 5)
        .select(col("q_id"), col("rank"),
          (col("c_id") / 100000).cast("long").as("src_doc"),
          pmod(col("c_id"), lit(100000)).cast("int").as("chunk_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // V18 — FILTERED ANN recall ([[Similarity.probeIvfFiltered]] vs v17's
    // exact filtered top-k): the approximate leg of filtered search. The
    // label rides IN the postings (keepCols) and prunes as a second equi
    // key next to ivf_cell — candidates shrink to the query's category
    // inside the probed cells before any cosine. Probes the PREBUILT
    // label-carrying index ([[prebuiltFilteredIvf]]) — build-once/probe-
    // many, the v6 lifecycle. Rows-only (centroid-specific); the driver-
    // visible number is per-query recall@10, the v7/v16 pattern.
    // FilteredSearchSpec pins ≡ v17 at nProbe = nCells.
    "v18_filtered_ivf" -> ((s, d) => {
      val c = corpus(s, d)
      val qs = c.filter(col("vec_id") < 5)
      val base = c.filter(col("vec_id") >= 5)
      val idx = prebuiltFilteredIvf(s, d)
      val approx = Similarity.probeIvfFiltered(idx, qs, "vec_id", "label",
          nProbe = 6, k = 10)
        .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      val exact = Similarity.filteredTopK(qs, base, "vec_id", "vec_id",
          "vec", "label", k = 10)
        .select("q_id", "c_id")
      exact.join(approx, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("k"),
          round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
            .as("recall_at_k"))
        .orderBy("q_id")
    }),

    // V20 — RETRIEVAL recall, driver-visible (the v7 audit applied to the
    // RAG serve path): recall@5 of the SLO-sized chunk-index probe (v19's
    // read path via probeIvf(recallTarget=0.25)) against the EXACT
    // brute-force chunk top-5 per held-out query, both legs embedding the
    // query with the same fitted vectorizer. This is the number a RAG
    // operator watches — "how much does my index lose vs exact search" —
    // reported per query with the nProbe the SLO chose, so index-sizing
    // regressions (the nCells=16 trap caught in-round) surface in the
    // bench, not in an incident. Aggregated to bounded per-band rows so
    // the output stays driver-sized at any corpus scale.
    // Hash/centroid-specific → rows-only; RagRetrievalSpec pins the
    // recall floor and the exact-leg ground truth.
    // Both audit artifacts — the md5-sampled query batch (auditSample cap,
    // every query at test SFs) and its exact brute-force chunk top-5 — are
    // PREBUILT in [[prebuiltRag]]: the ground truth is deterministic per
    // (session, sfDir), so the query times only probe + hit join, not a
    // per-call full-corpus sweep (94 s → seconds in the r5→r6 bench).
    "v20_rag_recall" -> ((s, d) => {
      val (_, idx, _, queryVecs, exact) = prebuiltRag(s, d)
      val approx = Similarity.probeIvf(idx, queryVecs, "doc_id",
        k = 5, recallTarget = 0.25)
      val hits = approx.select(col("q_id"), col("c_id"), lit(1L).as("hit"))
      exact.join(hits, Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg(round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
          .as("recall"))
        .groupBy(floor(col("recall") * 4).as("recall_band"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 6).as("mean_recall"))
        .orderBy("recall_band")
    }),

    // V21 — k-NN GRAPH within metadata blocks ([[Similarity.knnGraph]]):
    // every corpus vector's top-3 most-similar same-label peers with
    // exact cosines — the substrate of graph curation (density scoring,
    // topic components, diversity selection). Label-blocked here →
    // bounded blocks, DuckDB-oracled exactly (rank parity incl. ties);
    // v22 is the IVF-blocked production twin.
    "v21_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(corpus(s, d), "vec_id", "vec", "label", k = 3)
        .select(col("vec_id"), col("label"), col("rank"),
          col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_id", "rank")),

    // V25 — RETRIEVAL EVAL: self-retrieval MRR@10 of the read paths —
    // the three EXACT legs (dense TF-IDF cosine, sparse BM25, hybrid
    // RRF) and, since round 7, the two BOUNDED production paths (v26's
    // calibrated IVF dense leg, v27's fully-bounded hybrid) — as ONE
    // driver-visible table: the number a retrieval operator watches when
    // tuning the mix, now including "what does the scale path cost in
    // quality". Protocol: md5-sampled corpus docs' FIRST sliding chunk
    // (w=12) is asked as a query; the source doc is the known-relevant
    // answer; MRR = mean(1/rank of source) with misses scoring 0 — the
    // standard planted self-retrieval sanity eval, fully deterministic
    // (md5 sample, md5 buckets, exact legs; the bounded legs are
    // centroid-deterministic per build). Uses the PREBUILT hybrid
    // artifacts AND (r9) the prebuilt exact ground-truth legs; each leg
    // is top-10-bounded so the eval is O(q·k) beyond the bounded-path
    // probe costs. Bounded 5-row output at any scale.
    // Rows-only (the 5-method pipeline is not worth 200 lines of oracle
    // SQL; every exact component is individually oracle-exact — x48,
    // v23, x50 — and Bm25Spec pins this query's shape, bounds and
    // determinism).
    "v25_retrieval_eval" -> ((s, d) => {
      val (model, _, bm25, docIdx, nCells) = prebuiltHybrid(s, d)
      // r9: the query sample and both EXACT legs load from the prebuilt
      // eval artifact ([[prebuiltEvalExact]] — deterministic per
      // (fixture, split, model), spec-reverified); the query now times
      // what the eval exists to watch — the BOUNDED production paths —
      // plus the O(q·k) fusion/MRR algebra
      val (queries, dense, sparse) = prebuiltEvalExact(s, d)
      val qVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(queries, "doc_id", "text", model),
        "doc_id", 32)
      val hybrid = graft.ext.TextOps.rrfFuse(Seq(dense, sparse), k = 10)
        .select("q_id", "rank", "key")
      val nQ = broadcast(queries.agg(count(lit(1)).as("n_queries")))
      def mrrOf(leg: DataFrame, m: String): DataFrame =
        leg.filter(col("key") === col("q_id"))
          .groupBy("q_id").agg(min("rank").as("hit_rank"))
          .agg(count(lit(1)).as("n_hits"),
            sum(lit(1.0) / col("hit_rank")).as("rr_sum"))
          .crossJoin(nQ)
          .select(lit(m).as("method"), col("n_queries"), col("n_hits"),
            round(coalesce(col("rr_sum"), lit(0.0)) / col("n_queries"), 6)
              .as("mrr"))
      // round 7: the BOUNDED serve paths under the same eval — v26's
      // calibrated IVF dense leg and v27's fully-bounded hybrid (IVF
      // dense + two-stage pruned sparse) — so "the scale path holds
      // quality" is a driver-visible number next to the exact legs,
      // not just a parity spec
      val nP = Similarity.nProbeFor(nCells,
        Similarity.calibratedFraction(0.8, nCells))
      val denseIvf = Similarity.probeIvf(docIdx, qVecs, "doc_id",
          nProbe = nP, k = 10)
        .select(col("q_id"), col("rank"), col("c_id").as("key"))
      val sparse2 = graft.ext.TextOps.bm25SearchTwoStage(bm25,
          prebuiltPruned(s, d), queries, "doc_id", "text", k = 10)
        .select("q_id", "rank", "key")
      val hybridBounded = graft.ext.TextOps.rrfFuse(
          Seq(denseIvf, sparse2), k = 10)
        .select("q_id", "rank", "key")
      mrrOf(dense, "dense").union(mrrOf(sparse, "bm25"))
        .union(mrrOf(hybrid, "hybrid_rrf"))
        .union(mrrOf(denseIvf, "dense_ivf"))
        .union(mrrOf(hybridBounded, "hybrid_bounded"))
        .orderBy("method")
    }),

    // V24 — MMR diversity re-rank ([[Similarity.mmrRerank]]): the greedy
    // λ·relevance − (1−λ)·max-cos-to-picked selection between retrieval
    // and the generator — v19's top-20 candidate chunks (prebuilt index
    // probe, candidate vectors joined from the persisted chunkVecs)
    // diversified down to 5. Sliding-window chunks overlap by
    // construction (w=12, s=8), so adjacent chunks of one doc are
    // near-duplicates — exactly the redundancy MMR exists to trim. The
    // greedy loop runs per query over a ≤20-row group (the documented
    // bounded-group mapGroups exception); O(k²·dim) per query, constant
    // in corpus size. Centroid/hash-specific → rows-only; MmrSpec pins
    // the selection semantics on hand-built geometry.
    "v24_mmr_rerank" -> ((s, d) => {
      val queries = Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
      val (model, idx, chunkVecs, _, _) = prebuiltRag(s, d)
      val queryVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(queries, "doc_id", "text", model),
        "doc_id", 32)
      val cands = Similarity.probeIvf(idx, queryVecs, "doc_id",
          nProbe = 4, k = 20)
        .select(col("q_id"), col("c_id"), col("cos"))
        .join(chunkVecs.select(col("chunk_key").as("c_id"), col("vec")),
          "c_id")
      Similarity.mmrRerank(cands, k = 5, lambda = 0.7)
        .select(col("q_id"), col("rank"),
          (col("c_id") / 100000).cast("long").as("src_doc"),
          pmod(col("c_id"), lit(100000)).cast("int").as("chunk_id"),
          round(col("mmr"), 6).as("mmr"))
        .orderBy("q_id", "rank")
    }),

    // V23 — HYBRID retrieval with reciprocal-rank fusion ([[graft.ext
    // .TextOps.rrfFuse]]): the standard two-leg read path — a DENSE leg
    // (md5-bucketed TF-IDF cosine top-20, the x14 vectorizer feeding the
    // v2 kernel) and a SPARSE leg (Okapi BM25 top-20 over the inverted
    // index, x48) — fused per (query, doc) as Σ 1/(60 + rank) and
    // re-ranked. RRF is rank-only (no score calibration across legs),
    // which is exactly why it is the production default for hybrid
    // search. Both legs bound their lists (top-20), so fusion is O(q·k)
    // at any corpus size; at 100 TB the dense leg swaps brute force for
    // the prebuilt IVF probe (v19's path) with identical fusion algebra.
    // Model + corpus vectors + BM25 index are PREBUILT ([[prebuiltHybrid]]
    // — fit/index once, the v6 lifecycle; x48 keeps the one-shot form),
    // so the query times the serve path: embed the query batch, probe
    // both legs, fuse. Oracle-exact end-to-end: both legs and the fusion
    // replicate in DuckDB (md5 buckets, shared tf/df CTEs, rank
    // arithmetic).
    "v23_hybrid_rrf" -> ((s, d) => {
      val qs = Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
      val (model, cVecs, bm25, _, _) = prebuiltHybrid(s, d)
      val qVecs = graft.ext.TextOps.assembleVector(
        graft.ext.TextOps.applyTfIdf(qs, "doc_id", "text", model),
        "doc_id", 32)
      val dense = Similarity.bruteForceTopK(qVecs, cVecs, "doc_id",
          "doc_id", "vec", k = 20)
        .select(col("q_id"), col("rank"), col("c_id").as("key"))
      val sparse = graft.ext.TextOps.bm25Search(bm25, qs, "doc_id", "text",
          k = 20)
        .select("q_id", "rank", "key")
      graft.ext.TextOps.rrfFuse(Seq(dense, sparse), k = 10)
        .select(col("q_id"), col("rank"), col("key"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy("q_id", "rank")
    }),

    // V26 — hybrid retrieval, SCALE-TRUE serve path: v23's fusion with
    // the dense leg swapped from the brute-force kernel (O(q·n) against
    // the full corpus vector table — v23 keeps it deliberately, as the
    // DuckDB-checkable oracle anchor) to a probe of the PREBUILT
    // doc-level IVF index ([[prebuiltHybrid]]'s 4th element, nCells ~
    // √n): serve cost ∝ probed fraction · n instead of n, the measured
    // ~flat-under-fixed-load IVF serve shape (SCALING.md). The fusion
    // algebra ([[graft.ext.TextOps.rrfFuse]]) is IDENTICAL — only the
    // dense candidate generator changes — and HybridIvfSpec pins v26 ≡
    // v23 row-for-row at nProbe = nCells (full probe ≡ brute force).
    // Centroid-dependent at production nProbe → rows-only by design.
    "v26_hybrid_ivf" -> ((s, d) => hybridIvf(s, d)),

    // V27 — hybrid retrieval with BOTH legs bounded, the complete 100 TB
    // serve shape: v26's IVF-probed dense leg (probed fraction · n, never
    // a corpus scan) fused with the TWO-STAGE sparse leg ([[graft.ext
    // .TextOps.bm25SearchTwoStage]] — candidate generation over P=64
    // impact-pruned lists, ≤ |q terms|·P candidates per query FLAT in
    // corpus size, exact Okapi re-score of only those docs). Fusion
    // algebra unchanged (rrfFuse, c=60). Neither leg's serve cost scans
    // the corpus — where v23 is the oracle anchor (both legs exact and
    // SQL-replicated) and v26 bounds only the dense leg, v27 is the query
    // a 100 TB deployment actually runs. HybridIvfSpec pins v27 ≡ v23
    // row-for-row wide open (nProbe = nCells, P ≥ max df: the probe
    // degenerates to brute force and the pruned lists equal the full
    // lists) + determinism at production depths. Centroid-dependent at
    // production depth → rows-only by design.
    "v27_hybrid_bounded" -> ((s, d) => hybridBounded(s, d)),

    // V28 — INCREMENTAL IVF maintenance ([[Similarity.ivfAppend]]): the
    // dense-index member of the increment family (x36 exact dedup, x45
    // near-dup signatures, x49/x51 BM25) — build on the ¾ corpus slice,
    // fold the ¼ increment in against the FROZEN centroids (only the
    // batch is assigned; no re-train, no corpus re-scan, existing
    // postings byte-identical), then probe the appended index with the
    // standard queries + an md5-sample of the increment (each sampled
    // new vector must surface ITSELF — the increment-is-live proof,
    // `from_increment` column). Occupancy-skew re-train trigger =
    // [[Similarity.ivfOccupancy]] (IvfAppendSpec pins append ≡ scratch
    // assignment under the same centroids, redelivery no-op, and the
    // occupancy account). Centroid-specific → rows-only.
    "v28_ivf_incremental" -> ((s, d) => ivfIncremental(s, d)),

    // V33 — the dense-index DRIFT REPORT driver-visible
    // ([[Similarity.ivfDriftReport]]): live cells, max/mean occupancy
    // and their ratio over the prebuilt index — the metered quantities
    // behind [[Similarity.ivfRetrainNeeded]]'s re-train trigger (the
    // vector-family member of the x63/st15 monitoring story). A
    // metadata-only aggregate over the postings: nCells rows grouped,
    // one output row, never a corpus operation. Centroid-dependent →
    // gate-SF golden oracle (two-JVM forced-rebuild determinism covers
    // the artifact); StreamIvfSpec pins the trigger semantics
    // SF-independently.
    "v33_ivf_drift" -> ((s, d) =>
      Similarity.ivfDriftReport(prebuiltIvf(s, d))),

    // V34 — the drift monitor WIRED TO THE POLICY ([[Similarity
    // .ivfRetrainNeeded]] driver-visible, VERDICT r11 #5): the decision
    // surface a background maintainer logs — the healthy prebuilt
    // index next to a PLANTED hot-cell drift (4n copies of one corpus
    // vector assigned under the same frozen quantizer), each with its
    // occupancy account, the threshold, the boolean trigger, and the
    // recommended remedy ([[graft.streaming.StreamIvf.retrain]] — the
    // rebuild-and-swap StreamIvfSpec proves resets the skew). Both
    // rows are metadata-only aggregates (nCells-row groupBys);
    // centroid-dependent → gate-SF golden, trigger semantics pinned
    // SF-independently by StreamIvfSpec.
    "v34_ivf_retrain_decision" -> ((s, d) => {
      val idx = prebuiltIvf(s, d)
      // the drifted index is the PREBUILT fixture ([[prebuiltDriftedIvf]]
      // — 4n hot copies appended once per fixture under the frozen
      // quantizer); the timed verb is the DECISION: two metadata-only
      // drift reports against the threshold/policy
      val drifted = prebuiltDriftedIvf(s, d)
      def decide(state: String, i: Similarity.IvfIndex) =
        Similarity.ivfDriftReport(i).select(
          lit(state).as("state"), col("n_postings"),
          col("n_live_cells"), col("max_occ"), col("mean_occ"),
          col("occ_skew"), lit(4.0).as("threshold"),
          (col("occ_skew") > 4.0).as("retrain"),
          when(col("occ_skew") > 4.0, "retrain+reassign")
            .otherwise("none").as("action"))
      decide("healthy", idx).unionByName(decide("drifted", drifted))
        .orderBy("state")
    }),

    // V22 — k-NN graph, PRODUCTION form ([[Similarity.knnGraphIvf]]):
    // k-means cells as blocks, nCells derived from the corpus count as
    // max(16, √n) — the prebuiltRag sizing — so occupancy stays flat and
    // the graph build does Θ(n^1.5) in-block cosines instead of n²/nCells
    // decaying back to n² at a fixed cell count (the measured fixed-cell
    // trap, SCALING.md). Edges are exact cosines; cross-cell edges can be
    // missed, never invented (KnnGraphSpec verifies edge exactness vs
    // brute force). Centroid-specific → rows-only.
    "v22_knn_graph_ivf" -> ((s, d) => {
      val base = corpus(s, d).filter(col("vec_id") >= 5)
      val nCells = math.max(16, math.sqrt(base.count().toDouble).toInt)
      Similarity.knnGraphIvf(base, "vec_id", "vec", nCells = nCells, k = 3)
        .select(col("vec_id"), col("ivf_cell"), col("rank"),
          col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_id", "rank")
    }),

    // V29 — SEMANTIC cross-corpus decontamination
    // ([[Similarity.semanticDecontam]]): per train vector the max cosine
    // vs ANY benchmark vector (vec_id % 7 == 0, the x15 split) + the
    // contamination verdict — the embedding-space complement of the
    // lexical decontam family (paraphrases share no trigram but sit
    // next to the original in embedding space). The benchmark packs
    // into ONE broadcast row (benchmarks are MBs at any corpus scale),
    // so the train side is a single zero-shuffle scan with a per-row
    // array_max fold — no index, no pair materialization. Oracle-exact
    // (DuckDB rebuilds the max over the bench cross join).
    "v29_semantic_decontam" -> ((s, d) => {
      val c = corpus(s, d)
      Similarity.semanticDecontam(
          c.filter(col("vec_id") % 7 =!= 0),
          c.filter(col("vec_id") % 7 === 0),
          "vec_id", "vec", threshold = 0.3)
        .select("vec_id", "label", "max_bench_cos", "contaminated")
        .orderBy("vec_id")
    }),

    // V30 — INCREMENTAL semantic dedup ([[Similarity
    // .incrementalSemanticDedup]]): v10's SemDeDup policy for an
    // ARRIVING batch against the MAINTAINED (id, label, vector) index —
    // the last dedup family without an incremental member (exact x36,
    // MinHash x45, media m6, clusters x56, overlap x55; now
    // embeddings). The corpus side is ONLY its persisted index (the
    // vec_id % 4 != 0 slice; the carried artifact in production); the
    // arriving batch = the % 4 == 0 slice PLUS a byte-identical
    // RE-CRAWL of the % 11 == 0 vectors (re-keyed +2·10¹⁰, past any real vec_id — cos 1.0 with
    // their originals, so both dominance paths fire at every SF:
    // originals with % 4 != 0 dominate from the INDEX, % 4 == 0
    // originals dominate as EARLIER batch docs). A batch doc survives
    // iff no index vector in its label block reaches cos 0.3 and no
    // earlier batch doc does; survivors are the rows appended to the
    // index. Label-blocked → fully SQL-expressible → oracle-exact (the
    // v10 pattern; the 100 TB block key is an IVF cell under the
    // index's frozen centroids).
    "v30_semdedup_incremental" -> ((s, d) => {
      val c = corpus(s, d)
      val batch = c.filter(col("vec_id") % 4 === 0)
        .unionByName(c.filter(col("vec_id") % 11 === 0)
          .withColumn("vec_id", col("vec_id") + 20000000000L))
      Similarity.incrementalSemanticDedup(semanticIndex(s, d), batch,
          "vec_id", "vec", "label", threshold = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // V31 — incremental semantic dedup at its PRODUCTION block key
    // (the v10→v14 promotion applied to v30): the maintained index
    // carries an IVF-CELL assignment under centroids trained on the
    // index and FROZEN (the v28 add-after-train contract), and the
    // arriving batch (same % 4 == 0 + re-crawl composition as v30)
    // assigns under those SAME frozen centroids before the block
    // equi-join — both sides share one cell geometry, which is the
    // whole contract at 100 TB where no bounded metadata label exists.
    // Centroid-specific → gate-SF golden pin; SemDedupSpec audits every
    // cell-blocked drop against a real in-cell dominator and pins
    // v31 ⊇ v30-style label-blocked survivors semantics SF-independently.
    "v31_semdedup_incr_ivf" -> ((s, d) => {
      val (cents, idx) = semanticIvfIndex(s, d)
      val c = corpus(s, d)
      val batch0 = c.filter(col("vec_id") % 4 === 0)
        .unionByName(c.filter(col("vec_id") % 11 === 0)
          .withColumn("vec_id", col("vec_id") + 20000000000L))
        .select("vec_id", "label", "vec")
      val batch = Similarity.assignTo(batch0, cents, "vec_id", "vec")
      Similarity.incrementalSemanticDedup(idx, batch,
          "vec_id", "vec", "ivf_cell", threshold = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),

    // ST8 — the STREAM-MAINTAINED dense IVF index ([[streamedIvf]]:
    // 3-batch foreachBatch ingest, quantizer trained on batch 0 and
    // FROZEN, batches 1-2 appended as immutable on-disk partitions)
    // probed at FULL depth (nProbe = nCells), which is exact top-k
    // whatever the first batch's centroids learned — so the DuckDB
    // brute-force oracle proves streamed ≡ scratch for the dense index
    // on real data THROUGH the disk round trip (the st6/st7 claim,
    // vector side). `from_increment` marks hits from the last arrival
    // batch — the increment-is-live proof in the output (v28's pattern).
    // StreamIvfSpec pins the sink ≡ ivfAppend equivalence, frozen
    // centroid bytes, and re-delivery no-op.
    "st8_ivf_stream" -> ((s, d) => {
      val idx = streamedIvf(s, d)
      val qs = corpus(s, d).filter(col("vec_id") < 5).select("vec_id", "vec")
      Similarity.probeIvf(idx, qs, "vec_id", nProbe = 16, k = 8)
        .select(col("q_id"), col("rank"), col("c_id"),
          round(col("cos"), 6).as("cos"),
          (col("c_id") % 3 === 2).as("from_increment"))
        .orderBy("q_id", "rank")
    }),

    // V32 — TAKEDOWN on the dense index ([[takedownIvf]]:
    // StreamIvf.deleteVecs + compactAll — the vector leg of the
    // cascading right-to-be-forgotten, next to x57's postings and x58's
    // bodies). Tombstoned vectors stop scoring in every assigned cell
    // the instant the delete commits; the fold physically reclaims them
    // under the frozen quantizer — so the full-depth probe is exact
    // top-k over exactly the surviving corpus, which is what the
    // brute-force oracle recomputes (st8's SQL, deleted slice filtered
    // from the corpus). StreamIvfSpec pins the lifecycle (mask in every
    // cell, count-as-seen re-ingest guard, time travel, vacuum).
    "v32_ivf_takedown" -> ((s, d) => {
      val idx = takedownIvf(s, d)
      val qs = corpus(s, d).filter(col("vec_id") < 5).select("vec_id", "vec")
      Similarity.probeIvf(idx, qs, "vec_id", nProbe = 16, k = 8)
        .select(col("q_id"), col("rank"), col("c_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("q_id", "rank")
    }),

    // ST18 — the MAINTAINED IVF fingerprint
    // ([[graft.streaming.StreamIvf.fingerprintState]], st15's pattern
    // on the dense sink): "is this the vector snapshot X" from one
    // (n, xor) partial per live id — appends hash the just-written
    // partitions' served id sets, the takedown rides a negative
    // partial, and the serve never scans a posting. The identity bound
    // is the served VECTOR-ID set; the oracle recomputes the same
    // checksum from the raw embeddings table minus the deleted slice.
    "st18_ivf_fingerprint" -> ((s, d) =>
      graft.streaming.StreamIvf.fingerprintState(s, fpIvfDir(s, d))
        .getOrElse(throw new IllegalStateException(
          "st18 dir must carry full fingerprint coverage"))),
  )

  val oracles: Map[String, String] = Map(
    // st18: from-scratch recompute of the served vector-id-set checksum
    "st18_ivf_fingerprint" ->
      """SELECT count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
             md5(CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT))
             AS fingerprint
         FROM embeddings WHERE vec_id % 10 <> 0""",
    "v23_hybrid_rrf" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
         qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
         ct AS (SELECT doc_id AS key,
                  unnest(string_split_regex(text, '\s+')) AS tok FROM corpus),
         ctf AS (SELECT key, tok, count(*) AS tf FROM ct GROUP BY 1, 2),
         dfx AS (SELECT tok, count(*) AS df FROM ctf GROUP BY 1),
         dl AS (SELECT key, sum(tf) AS dl FROM ctf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         cv AS (SELECT key,
                  CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 32
                    AS INTEGER) AS bucket,
                  sum(tf * ln(st.corpus_n / CAST(df AS DOUBLE))) AS w
                FROM ctf JOIN dfx USING (tok) CROSS JOIN st GROUP BY 1, 2),
         qtf AS (SELECT q_id, tok, count(*) AS tf FROM
                  (SELECT doc_id AS q_id,
                     unnest(string_split_regex(text, '\s+')) AS tok FROM qs)
                 GROUP BY 1, 2),
         qv AS (SELECT q_id,
                  CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 32
                    AS INTEGER) AS bucket,
                  sum(tf * ln(st.corpus_n / CAST(df AS DOUBLE))) AS w
                FROM qtf JOIN dfx USING (tok) CROSS JOIN st GROUP BY 1, 2),
         cn AS (SELECT key, sqrt(sum(w * w)) AS nrm FROM cv GROUP BY 1),
         qn AS (SELECT q_id, sqrt(sum(w * w)) AS nrm FROM qv GROUP BY 1),
         dt AS (SELECT qv.q_id, cv.key, sum(qv.w * cv.w) AS dot
                FROM qv JOIN cv USING (bucket) GROUP BY 1, 2),
         dcos AS (SELECT dt.q_id, dt.key, dt.dot / (qn.nrm * cn.nrm) AS cos
                  FROM dt JOIN qn USING (q_id) JOIN cn ON dt.key = cn.key),
         dense AS (SELECT q_id, key, rank FROM
                    (SELECT q_id, key, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, key) AS rank FROM dcos)
                   WHERE rank <= 20),
         qdt AS (SELECT DISTINCT q_id, tok FROM qtf),
         sc AS (SELECT qdt.q_id, ctf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (ctf.tf * (1.2 + 1))
                 / (ctf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qdt JOIN ctf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON ctf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         sparse AS (SELECT q_id, key, rank FROM
                     (SELECT q_id, key, row_number() OVER (PARTITION BY q_id
                        ORDER BY score DESC, key) AS rank FROM sc)
                    WHERE rank <= 20),
         fused AS (SELECT q_id, key, sum(1.0 / (60 + rank)) AS rrf
                   FROM (SELECT * FROM dense UNION ALL SELECT * FROM sparse)
                   GROUP BY 1, 2)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(rrf, 6) AS rrf
         FROM (SELECT q_id, key, rrf, row_number() OVER (PARTITION BY q_id
                 ORDER BY rrf DESC, key) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY q_id, rank""",
    "v21_knn_graph" ->
      """SELECT vec_id, label, rank, nbr_id, round(cos, 6) AS cos FROM (
           SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nbr_id,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])) DESC,
                        b.vec_id) AS rank
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id <> b.vec_id)
         WHERE rank <= 3 ORDER BY vec_id, rank""",
    "v17_filtered_topk" ->
      """SELECT q_id, label, rank, c_id, round(cos, 6) AS cos FROM (
           SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM (SELECT * FROM embeddings WHERE vec_id >= 5) c
           JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
             ON c.label = q.label)
         WHERE rank <= 10 ORDER BY q_id, rank""",
    "v8_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
                 greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'),
                          1e-12) / 127 AS s
               FROM v)
         SELECT vec_id, round(s, 6) AS scale,
           md5(array_to_string(list_transform(v,
             x -> CAST(round(x / s) AS INTEGER)), ',')) AS qsig,
           round(sqrt(list_aggregate(list_transform(v,
               x -> (x - CAST(round(x / s) AS INTEGER) * s)
                    * (x - CAST(round(x / s) AS INTEGER) * s)),
             'sum') / len(v)), 6) AS rmse
         FROM s ORDER BY vec_id""",
    "v29_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         b AS (SELECT v FROM e WHERE vec_id % 7 = 0),
         t AS (SELECT vec_id, label, v FROM e WHERE vec_id % 7 <> 0)
         SELECT t.vec_id, t.label,
           round(max(list_cosine_similarity(t.v, b.v)), 6) AS max_bench_cos,
           (round(max(list_cosine_similarity(t.v, b.v)), 6) >= 0.3)
             AS contaminated
         FROM t CROSS JOIN b
         GROUP BY t.vec_id, t.label
         ORDER BY t.vec_id""",
    "v30_semdedup_incremental" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         idx AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
         batch AS (SELECT * FROM e WHERE vec_id % 4 = 0
                   UNION ALL
                   SELECT vec_id + 20000000000, label, v FROM e
                   WHERE vec_id % 11 = 0),
         dom AS (SELECT DISTINCT b.vec_id FROM batch b JOIN idx i
                   ON b.label = i.label
                 WHERE round(list_cosine_similarity(b.v, i.v), 6) >= 0.3
                 UNION
                 SELECT DISTINCT b2.vec_id FROM batch b1 JOIN batch b2
                   ON b1.label = b2.label AND b1.vec_id < b2.vec_id
                 WHERE round(list_cosine_similarity(b1.v, b2.v), 6) >= 0.3)
         SELECT vec_id, label FROM batch
         WHERE vec_id NOT IN (SELECT vec_id FROM dom)
         ORDER BY vec_id""",
    "st8_ivf_stream" ->
      """SELECT q_id, rank, c_id, round(cos, 6) AS cos,
           (c_id % 3 = 2) AS from_increment FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
         WHERE rank <= 8 ORDER BY q_id, rank""",
    "v32_ivf_takedown" ->
      """SELECT q_id, rank, c_id, round(cos, 6) AS cos FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM (SELECT * FROM embeddings WHERE vec_id % 10 <> 0) c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
         WHERE rank <= 8 ORDER BY q_id, rank""",
    "v1_cosine_scores" ->
      """SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])), 6) AS cos
         FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
         ORDER BY q_id, c_id""",
    "v2_cosine_topk" ->
      """SELECT q_id, rank, c_id, round(cos, 6) AS cos FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM (SELECT * FROM embeddings WHERE vec_id >= 5) c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
         WHERE rank <= 10 ORDER BY q_id, rank""",
    "v10_semdedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         dom AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b
                 ON a.label = b.label AND a.vec_id < b.vec_id
                 WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
         SELECT vec_id, label FROM e
         WHERE vec_id NOT IN (SELECT vec_id FROM dom)
         ORDER BY vec_id""",
    "v3_neardup_cosine" ->
      """WITH c AS (SELECT * FROM embeddings WHERE vec_id % 10 = 0)
         SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos
         FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) >= 0.2
         ORDER BY a.label, id1, id2""",
  )
}
