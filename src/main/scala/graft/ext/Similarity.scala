package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — brute-force
  * cosine as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path (BASELINE.json north star).
  *
  * All math is codegen'd higher-order array expressions in double
  * precision (no UDF, no ml.linalg conversion).
  *
  * Scale design: brute-force top-k is a broadcast of the (small) query set
  * against a full scan — O(n·q), embarrassingly parallel, no shuffle until
  * the final per-query top-k (tiny). The LSH variant buckets both sides by
  * signature so candidate generation is ONE equi-join on the bucket key —
  * the same shape that holds at 10⁹ vectors (signature length trades
  * recall for bucket size; AQE handles skewed buckets).
  */
object Similarity {

  /** Element-exact cast to double for stable arithmetic. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity; NULL on zero-norm / mismatched inputs.
    * Backed by the native [[graft.functions.CosineSim]] Catalyst
    * expression: one fused codegen'd pass computing dot + both norms
    * (the composable zip_with/aggregate form walks each array three times
    * and allocates the product array per row). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** The composable-expression form of [[cosine]], kept as the reference
    * implementation (same accumulation order → bit-identical results;
    * asserted in CosineSimSpec). */
  def cosineComposed(a: Column, b: Column): Column = {
    val na = norm(a); val nb = norm(b)
    when(na === 0 || nb === 0, lit(null)).otherwise(dot(a, b) / (na * nb))
  }

  /** All-pairs cosine scores of a (small, broadcast) query set against the
    * corpus. `queries`/`corpus`: (idCol, vecCol) with array<double> vecs. */
  def bruteForceScores(queries: DataFrame, corpus: DataFrame,
                       qId: String, cId: String, vecCol: String): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(cId).as("c_id"), col(vecCol).as("c_vec"))
    c.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
      .select("q_id", "c_id", "cos")
  }

  /** Exact top-k neighbours per query (rank by cosine desc, id
    * tiebreak). Ranking is the bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]) rather than a rank window: partial
    * aggregation discards all but k candidates per (mapper, query)
    * BEFORE the shuffle, where the window form ships and sorts every
    * scored row — measured 1.65× at 8M candidate rows with diverging
    * exponents (SCALING.md r8), bit-identical output (TopKAggSpec). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                     cId: String, vecCol: String, k: Int): DataFrame =
    graft.functions.TopKAgg.topKByKey(
        bruteForceScores(queries, corpus, qId, cId, vecCol),
        "q_id", "cos", "c_id", k)
      .select("q_id", "c_id", "cos", "rank")

  /** Attribute-FILTERED exact top-k — the vector-DB "filtered search"
    * primitive (same-category / same-tenant / same-language nearest
    * neighbours): each query sees only corpus vectors sharing its
    * `filterCol` value, enforced as a PRE-filter. Post-filtering a
    * global top-k is the wrong plan — it returns < k (often 0) rows
    * when the wanted category is rare in the unfiltered neighbourhood;
    * FilteredSearchSpec demonstrates exactly that failure.
    *
    * Scale shape: the constraint turns the brute-force crossJoin into a
    * BROADCAST EQUI-JOIN on `filterCol` — the candidate set shrinks from
    * n to n/|categories| BEFORE any cosine is computed (the relational
    * analogue of partition pruning inside an index). Ranking stays
    * per-query, so the window never sees more than one category. */
  def filteredTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                   cId: String, vecCol: String, filterCol: String,
                   k: Int): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(vecCol).as("q_vec"),
      col(filterCol))
    val c = corpus.select(col(cId).as("c_id"), col(vecCol).as("c_vec"),
      col(filterCol))
    c.join(broadcast(q), Seq(filterCol))
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
      // bounded-heap top-k (TopKAgg): filterCol is functionally
      // dependent on q_id, so the composite group IS the q_id partition
      .transform(graft.functions.TopKAgg.topKByKeys(_,
        Seq("q_id", filterCol), "cos", "c_id", k))
      .select(col("q_id"), col(filterCol), col("rank"), col("c_id"),
        col("cos"))
  }

  /** Random-hyperplane signature: `planes` sign-bits, plane components are
    * deterministic ±1 derived from xxhash64(plane, dim) — reproducible
    * across runs/executors with no stored model. Backed by the native
    * [[graft.functions.LshSignature]] Catalyst expression: one fused
    * codegen pass with precomputed sign masks (the composable per-plane
    * HOF folds are CodegenFallback — the SimHash lesson, SCALING.md). */
  def lshSignature(vec: Column, planes: Int): Column =
    graft.functions.LshSignature.lsh_signature(vec, planes)

  /** The composable-expression form of [[lshSignature]], kept as the
    * reference implementation (bit-identical signatures — asserted in
    * AnnLshSpec; NULL input maps to 0 here vs NULL natively). */
  def lshSignatureComposed(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val s = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x * when(xxhash64(lit(p), j).bitwiseAND(lit(1L)) === 0L, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(s > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Nearest-centroid assignment against an explicit (small) centroid set.
    * `nAssign` > 1 replicates each vector into its n nearest cells
    * (standard IVF index replication: ×n index size buys recall for
    * boundary vectors without touching query cost).
    *
    * Scale shape: the centroid set is collapsed into ONE array-of-structs
    * row and broadcast, so the join adds a constant-width column to every
    * corpus row instead of expanding the scan ×nCells, and the per-row
    * top-nAssign pick is pure array arithmetic (`transform` ranking every
    * cell, `array_sort` + `slice` keeping the n best) — NO exchange of
    * corpus rows anywhere in the operator (IvfPlanSpec gates this). The
    * previous form (crossJoin ×nCells + `row_number` over idCol) hash-
    * shuffled the *amplified* table: at 10⁹ vectors × 4096 cells that is a
    * 4·10¹²-row exchange. Ordering matches the old window exactly: cosine
    * desc with NULLs (zero-norm) last, cell id as tiebreak. */
  private[graft] def assignTo(corpus: DataFrame, centroids: DataFrame,
                              idCol: String, vecCol: String,
                              nAssign: Int = 1): DataFrame = {
    val packed = centroids
      .agg(collect_list(struct(col("ivf_cell"), col("c_vec"))).as("__cents"))
    corpus.crossJoin(broadcast(packed)) // 1-row side → broadcast nested loop
      // r16: the per-row pick is the native fused [[graft.functions
      // .TopCells]] kernel — the old `slice(array_sort(transform(…)))`
      // fold is a higher-order function chain, which Catalyst evaluates
      // INTERPRETED (CodegenFallback) with a per-cell struct allocation:
      // the Θ(n · nCells) constant of every IVF build/append/refine/probe
      // paid ~5× over. Order bit-identical: (-cos, cell) ascending with
      // NULL cos → 2.0 (TopCellsSpec parity vs the composable form).
      // explode_OUTER + explicit null filter, not explode (r15): on a
      // plain explode, InferFiltersFromGenerate copies the generator
      // child — the whole nCells-cosine pick — into a `size(...) > 0`
      // predicate below the Generate, so every input row scored its
      // centroids TWICE. The rule skips outer generates; picks is
      // non-empty whenever centroids exist, so the null filter drops
      // exactly the rows explode would have dropped.
      .select(corpus.columns.map(col) :+
        explode_outer(graft.functions.TopCells.top_cells(
          col(vecCol), col("__cents"), nAssign)).as("ivf_cell"): _*)
      .filter(col("ivf_cell").isNotNull)
  }

  /** Centroid set: deterministic, id-distribution-independent seeding plus
    * `refineIters` Lloyd steps, all as distributed ops.
    *
    * Seeding: ids are hashed into `nCells` groups (pmod ∘ xxhash64 — works
    * identically for dense ints, sparse longs, or string/UUID ids) and each
    * group's minimum-hash row is its seed; the per-group window is
    * key-partitioned (no global sort, no single-partition stage).
    *
    * Refinement: assign → element-wise mean per cell (posexplode + groupBy
    * (cell, pos), nCells·dim groups — trivially small at any corpus scale)
    * → reassign. One or two steps make the centroids representative of the
    * actual geometry, which is what probe recall depends on. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, refineIters: Int = 2,
                   hierAssignFrom: Int = 512): DataFrame = {
    val w = Window.partitionBy("ivf_cell")
      .orderBy(xxhash64(col(idCol), lit(7)), col(idCol))
    val seeds = corpus.select(col(idCol), col(vecCol))
      .withColumn("ivf_cell", pmod(xxhash64(col(idCol)), lit(nCells)).cast("int"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("ivf_cell"), col(vecCol).as("c_vec"))
    // Lloyd's assignment step goes two-level past the measured flat/hier
    // crossover (SCALING.md r4: flat wins to ~126 cells, hier wins
    // outright by ~566 — 512 splits the band conservatively): with
    // nCells ~ √n each flat refine pass is itself Θ(n^1.5), so a build
    // whose FINAL assignment went hier would otherwise still pay the 1.5
    // exponent twice in refinement. Approximate assignment inside Lloyd
    // is standard hierarchical k-means; below the threshold the flat
    // path is bit-identical to always.
    def assignStep(cents: DataFrame): DataFrame =
      if (nCells >= hierAssignFrom)
        assignToHier(corpus.select(col(idCol), col(vecCol)), cents,
          idCol, vecCol)
      else
        assignTo(corpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol)
    (0 until refineIters).foldLeft(seeds) { (cents, _) =>
      assignStep(cents)
        .select(col("ivf_cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("ivf_cell", "pos").agg(avg("x").as("m"))
        .groupBy("ivf_cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("ivf_cell"),
          transform(col("pm"), s => s.getField("m")).as("c_vec"))
    }
  }

  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nCells: Int): DataFrame =
    assignTo(corpus, ivfCentroids(corpus, idCol, vecCol, nCells),
      idCol, vecCol)

  /** TWO-LEVEL (hierarchical) assignment — the scale path past the flat
    * [[assignTo]]: with nCells ~ √n, the flat broadcast pick ranks every
    * centroid per corpus row (O(√n) cosines/row → Θ(n^1.5) total, the
    * same wall the single-level IVF's in-cell pairing hits). Here the
    * fine centroids are themselves k-means'd into ~√nCells COARSE cells
    * (one extra distributed pass over a CENTROID-sized table — trivial),
    * the broadcast packs fine centroids grouped under their coarse cell,
    * and each corpus row ranks nCoarse coarse centroids then only the
    * fine centroids inside its `nProbeCoarse` best coarse cells:
    * O(n^0.25 · (1 + nProbeCoarse)) cosines/row, Θ(n^1.25) total.
    *
    * Semantics: with `nProbeCoarse` ≥ nCoarse this is EXACTLY [[assignTo]]
    * (identical sort key (−cos, cell), NULL→−2.0 handling, tie order —
    * Ivf2Spec asserts bit-equality); pruning trades assignment recall the
    * standard coarse-quantizer way (a row near a coarse boundary can miss
    * its true nearest fine cell — measured agreement on the fixture in
    * Ivf2Spec, wall-clock crossover in SCALING.md). Still ZERO corpus-row
    * exchanges: the tree rides one 1-row broadcast. */
  private[graft] def assignToHier(corpus: DataFrame, centroids: DataFrame,
                                  idCol: String, vecCol: String,
                                  nAssign: Int = 1,
                                  nProbeCoarse: Int = 4): DataFrame =
    assignWithTree(corpus, buildHierTree(centroids), idCol, vecCol,
      nAssign, nProbeCoarse)

  /** The packed two-level centroid tree: ONE row whose `__tree` column is
    * an array of (coarse cell, coarse vector, fine children) entries —
    * the broadcast side of [[assignWithTree]]. Build once per centroid
    * set (the tree is a pure function of the centroids), persist the
    * packed frame, and run every assignment pass off it: rebuilding per
    * call re-runs the coarse k-means + two aggregations for no new
    * information (VectorQ memoizes it per (session, sfDir) exactly like
    * its IVF index). */
  case class HierTree(packed: DataFrame)

  /** Cluster the fine centroids into ~√nCells coarse cells and pack the
    * whole 2-level tree into one broadcastable row.
    *
    * NOTE: sizing the coarse level needs the fine-centroid COUNT, so this
    * runs a `count()` ACTION at build time unless `nFine` is supplied —
    * fine for centroid-sized inputs (the only intended ones), but callers
    * composing lazy plans should pass `nFine` explicitly. */
  def buildHierTree(centroids: DataFrame,
                    nFine: Option[Long] = None): HierTree = {
    val n = nFine.getOrElse(centroids.count())
    val nCoarse = math.max(2, math.round(math.sqrt(n.toDouble)).toInt)
    val fineAsCorpus = centroids
      .select(col("ivf_cell").as("fid"), col("c_vec").as("fvec"))
    val coarse = ivfCentroids(fineAsCorpus, "fid", "fvec", nCoarse,
      refineIters = 1)
    val tagged = assignTo(fineAsCorpus, coarse, "fid", "fvec")
    // pack the whole 2-level tree into ONE row: coarse cell + its vector
    // + its fine (cell, vec) children — broadcast-nested-loop like the
    // flat pack; ~√n coarse entries of ~√(nCells) children each
    val packed = tagged
      .groupBy(col("ivf_cell").as("cc"))
      .agg(collect_list(struct(col("fid"), col("fvec"))).as("fines"))
      .join(coarse.select(col("ivf_cell").as("cc"), col("c_vec").as("cvec")), "cc")
      .agg(collect_list(struct(col("cc"), col("cvec"), col("fines"))).as("__tree"))
    HierTree(packed)
  }

  /** Assign each corpus row through a prebuilt [[HierTree]]: rank the
    * coarse entries, then only the `nProbeCoarse` best coarse cells'
    * fine children — the probe half of [[assignToHier]] with the build
    * cost amortized away. */
  private[graft] def assignWithTree(corpus: DataFrame, tree: HierTree,
                                    idCol: String, vecCol: String,
                                    nAssign: Int = 1,
                                    nProbeCoarse: Int = 4): DataFrame = {
    corpus.crossJoin(broadcast(tree.packed))
      // r16: both tree levels fused into the native [[graft.functions
      // .TopCellsTree]] kernel (see [[assignTo]] — the two chained HOF
      // folds here were interpreted the same way, ×(nCoarse +
      // nProbeCoarse·fines) per row). Semantics bit-identical: coarse
      // ranked (-cos, cc), best nProbeCoarse pooled, fines ranked
      // (-cos, fid), top nAssign (Ivf2Spec flat ≡ hier gate +
      // TopCellsSpec parity). explode_outer + null filter as before.
      .select(corpus.columns.map(col) :+
        explode_outer(graft.functions.TopCellsTree.top_cells_tree(
          col(vecCol), col("__tree"), nProbeCoarse, nAssign))
          .as("ivf_cell"): _*)
      .filter(col("ivf_cell").isNotNull)
  }

  /** A built IVF index: refined centroids + cell-replicated postings,
    * both plain DataFrames. Build once, probe many — at scale the real
    * index lifecycle is `buildIvfIndex` → write both frames as (bucketed)
    * tables → `IvfIndex(read, read, …)` → `probeIvf` per query batch,
    * amortizing the Lloyd refinement and assignment scans over every
    * probe (IvfSpec proves the parquet round-trip returns identical
    * top-k). */
  case class IvfIndex(centroids: DataFrame, postings: DataFrame,
                      idCol: String, vecCol: String)

  /** Build the IVF index: deterministic seeded + Lloyd-refined centroids
    * (materialized — the build pays the refinement scans exactly once),
    * then each corpus vector posted to its `nAssign` nearest cells.
    * `keepCols` rides metadata columns (tenant, language, label) INTO the
    * postings — the production filtered-search design: the predicate
    * column lives in the index, so [[probeIvfFiltered]] prunes candidates
    * with join keys instead of a post-hoc lookup join. */
  /** `hierAssignFrom`: past this cell count, BOTH the Lloyd refinement
    * passes and the final postings assignment run through the two-level
    * tree ([[assignToHier]] — Θ(n^1.25) vs the flat pick's Θ(n^1.5) with
    * nCells ~ √n; measured crossover SCALING.md r4, plumbed round 7).
    * The tree is rebuilt per pass from that pass's centroids — a
    * centroid-sized cost. Below the threshold nothing changes, so
    * fixture-scale builds (and every pinned spec) stay bit-identical;
    * above it assignment is approximate in the standard coarse-quantizer
    * way — a posting can land in a near-best cell — which probe-side
    * recall measurement already prices (the `Profile scale` recall rows
    * run the built index end-to-end). */
  def buildIvfIndex(corpus: DataFrame, cId: String, vecCol: String,
                    nCells: Int, nAssign: Int = 2,
                    refineIters: Int = 2,
                    keepCols: Seq[String] = Nil,
                    hierAssignFrom: Int = 512): IvfIndex = {
    val centroids = ivfCentroids(corpus, cId, vecCol, nCells, refineIters,
        hierAssignFrom)
      .persist()
    centroids.count()
    val toAssign = corpus.select((Seq(cId, vecCol) ++ keepCols).map(col): _*)
    val postings =
      if (nCells >= hierAssignFrom)
        assignToHier(toAssign, centroids, cId, vecCol, nAssign)
      else assignTo(toAssign, centroids, cId, vecCol, nAssign)
    IvfIndex(postings = postings, centroids = centroids,
      idCol = cId, vecCol = vecCol)
  }

  /** INCREMENTAL IVF maintenance — the dense-index member of the
    * increment family (x36 exact dedup, x45 near-dup signatures, x49/x51
    * BM25 postings): fold a new vector batch into a built index WITHOUT
    * re-training or touching existing postings.
    *
    * Only the batch is assigned, against the EXISTING centroids (the
    * frozen coarse quantizer — the standard production contract: FAISS
    * `add` after `train`): cost ∝ |batch| · assignment pick, zero corpus
    * re-scan, and every already-served posting row is byte-identical
    * afterwards, so concurrent probes never see a half-updated cell. The
    * first-seen guard drops batch ids already indexed (at-least-once
    * re-delivery safe, the bm25SegmentAppend guard; at scale the
    * membership probe is a per-partition bloom / id-range metadata check,
    * not a postings scan). Appending under a frozen quantizer slowly
    * skews cell occupancy if the batch distribution drifts — that is
    * inherent to every incremental IVF, which is why [[ivfOccupancy]]
    * exists: the re-train trigger is a measured occupancy ratio, not a
    * guess (v28 reports it driver-visibly).
    *
    * `nCellsHint` skips the (persisted-centroid) count used to pick flat
    * vs two-level assignment; callers that built the index know nCells. */
  def ivfAppend(index: IvfIndex, batch: DataFrame,
                nAssign: Int = 2, hierAssignFrom: Int = 512,
                nCellsHint: Option[Int] = None): IvfIndex = {
    val keep = index.postings.columns.filterNot(_ == "ivf_cell")
    val fresh = batch
      .join(index.postings.select(col(index.idCol)).distinct(),
        Seq(index.idCol), "left_anti")
      .select(keep.map(col): _*)
    val nCells = nCellsHint.getOrElse(index.centroids.count().toInt)
    val appended =
      if (nCells >= hierAssignFrom)
        assignToHier(fresh, index.centroids, index.idCol, index.vecCol,
          nAssign)
      else assignTo(fresh, index.centroids, index.idCol, index.vecCol,
        nAssign)
    index.copy(postings =
      index.postings.unionByName(appended.select(
        index.postings.columns.map(col): _*)))
  }

  /** Per-cell posting counts — the drift audit for [[ivfAppend]]: a
    * frozen quantizer under a shifting ingest distribution shows up as
    * occupancy skew (hot cells grow, probe cost within them grows with
    * the cell), and max/mean occupancy is the standard re-train trigger.
    * One partial-aggregated groupBy over postings; nCells-row output. */
  def ivfOccupancy(index: IvfIndex): DataFrame =
    index.postings.groupBy("ivf_cell")
      .agg(count(lit(1)).as("n_postings"))

  /** One-row drift audit over [[ivfOccupancy]] — the metered quantities
    * behind the re-train decision for an append-only index
    * ([[ivfAppend]], [[graft.streaming.StreamIvf]]): live cell count,
    * max/mean occupancy, and their ratio `occ_skew`. Under the uniform
    * ideal skew ≈ 1; a frozen quantizer under a drifting ingest
    * distribution concentrates postings in few cells and skew grows —
    * and probe cost inside a hot cell grows with it (each probed cell is
    * scored in full). Note the ceiling: with nAssign-way replication a
    * fully-concentrated ingest tops out at skew = nCells/nAssign, so the
    * threshold must sit well below that for the index's geometry (a
    * production index at nCells ~ √n has ceilings in the hundreds).
    * nCells-row groupBy + one global agg: metadata cost, never a corpus
    * operation. */
  def ivfDriftReport(index: IvfIndex): DataFrame =
    ivfOccupancy(index).agg(
      sum("n_postings").as("n_postings"),
      count(lit(1)).as("n_live_cells"),
      max("n_postings").as("max_occ"),
      round(avg("n_postings"), 2).as("mean_occ"),
      round(max("n_postings") / avg("n_postings"), 2).as("occ_skew"))

  /** The re-train TRIGGER: true when max/mean cell occupancy exceeds
    * `skewThreshold`. The dense-index analogue of [[graft.streaming
    * .StreamBm25.compactionCandidates]] — a metadata-only maintenance
    * decision (one bounded 1-row collect) the background maintainer
    * polls; on true, the remedy is a re-train + re-assign (a rebuild,
    * which [[buildIvfIndex]] already is), scheduled off the serve path.
    * Threshold default 4.0: the fixture indexes measure ~1.5-2.5 under
    * uniform ingest (StreamIvfSpec pins both sides of the trigger). */
  def ivfRetrainNeeded(index: IvfIndex, skewThreshold: Double = 4.0)
      : Boolean = {
    val r = ivfDriftReport(index).select("occ_skew").head
    r.getDouble(0) > skewThreshold
  }

  /** nProbe for a target probed FRACTION of the index. Holding the
    * fraction (rather than a fixed nProbe) is what holds recall as the
    * corpus grows: with nCells ~ √n, a fixed nProbe's probed share
    * shrinks and recall decays (measured 0.38 → 0.18 across a 64×
    * blow-up at nProbe=4), while a ~10% fraction held 0.38 → 0.88 at
    * still-sub-linear probe cost (`recall_emb` scale row; SCALING.md r4).
    * Tune the fraction per recall SLO; cost ∝ fraction · n. */
  def nProbeFor(nCells: Int, probedFraction: Double): Int = {
    require(probedFraction > 0 && probedFraction <= 1,
      s"probedFraction must be in (0, 1], got $probedFraction")
    math.max(1, math.ceil(nCells * probedFraction).toInt)
  }

  /** CALIBRATED recall→fraction mapping (round-7: the measured curves in
    * SCALING.md replace the identity rule where they are trustworthy).
    *
    * The identity rule (fraction = recallTarget) is the uniform-cell null
    * bound — always safe, but measured-conservative by 2-10×: nearest-
    * cells-first probing concentrates true neighbors in the first cells
    * probed. The measured envelope, taken over the WORST of the two
    * instrumented indexes at every scale (the weak-similarity embeddings
    * index — the chunk index needs 5-20× less at every design point;
    * recall sweeps of the scale runs, SCALING.md r4 + r6 tables):
    *
    *   emb  8× (126 cells): fraction 0.032 → recall 0.40, 0.095 → 0.68
    *   emb 64× (357 cells): fraction 0.011 → 0.18,  0.098 → 0.88
    *   chunk 1×-64× (183-1469 cells): 0.02 → ≥0.85, 0.05 → ≥0.95
    *
    * Mapping = min(identity, measured envelope with headroom), stepped on
    * the target; targets above the measured range (> 0.8) fall back to
    * identity (never extrapolate an SLO). Small indexes (nCells < 64 —
    * the fixture regime, where one cell is already >1.5% of the index and
    * the sweeps don't resolve the curve) keep the identity rule, so
    * fixture-pinned spec floors are unaffected. */
  def calibratedFraction(recallTarget: Double, nCells: Int): Double = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recallTarget must be in (0, 1], got $recallTarget")
    val envelope =
      if (recallTarget <= 0.35) 0.05
      else if (recallTarget <= 0.60) 0.10
      else if (recallTarget <= 0.80) 0.12
      else recallTarget
    if (nCells < 64) recallTarget else math.min(recallTarget, envelope)
  }

  /** Probe a built index: each query picks its `nProbe` nearest cells
    * (same broadcast-packed array pick as [[assignTo]] — no ×nCells
    * expansion or window on the query side either), visits them via one
    * equi-join on `ivf_cell`, and exact cosine re-ranks inside them. */
  def probeIvf(index: IvfIndex, queries: DataFrame, qId: String,
               nProbe: Int, k: Int): DataFrame = {
    val probed = assignTo(
      queries.select(col(qId).as("q_id"), col(index.vecCol).as("q_vec")),
      index.centroids, "q_id", "q_vec", nAssign = nProbe)
    probed.join(index.postings.select(col(index.idCol).as("c_id"),
        col(index.vecCol).as("c_vec2"), col("ivf_cell")), Seq("ivf_cell"))
      // score BEFORE deduplicating, then drop the vectors: nAssign
      // replication can surface a candidate via two probed cells, and a
      // dropDuplicates here would hash-shuffle every candidate row WITH
      // both 32-dim vectors aboard (~20× the bytes of the narrow row —
      // measured as the gap to the brute kernel, SCALING.md r7). The
      // groupBy dedups on (q_id, c_id, cos)-narrow rows with map-side
      // partial aggregation; max() is a no-op value-wise (duplicate rows
      // carry the identical cosine) and keeps the agg deterministic.
      .withColumn("cos", cosine(col("q_vec"), col("c_vec2")))
      .select("q_id", "c_id", "cos")
      .groupBy("q_id", "c_id").agg(max("cos").as("cos"))
      // bounded-heap top-k instead of the rank window: candidates per
      // probed cell can be ~fraction·n — the partial agg keeps at most
      // k per (mapper, query) out of the final shuffle (TopKAgg doc;
      // bit-identical, TopKAggSpec)
      .transform(graft.functions.TopKAgg.topKByKey(_, "q_id", "cos", "c_id", k))
      .select("q_id", "rank", "c_id", "cos")
  }

  /** Probe with a RECALL TARGET instead of a cell count — the SLO form of
    * [[probeIvf]] a 100 TB caller actually wants: state "recall ≥ 0.5",
    * not "probe 8 cells". nProbe is sized by [[nProbeFor]] with the
    * probed fraction from [[calibratedFraction]]: the measured-envelope
    * mapping where the scale runs' recall sweeps resolve the curve, the
    * identity fraction (= recallTarget, the uniform-cell null bound —
    * always safe: probing a fraction f of cells catches f of the true
    * neighbors in expectation, and nearest-cells-first probing dominates
    * that baseline at every measured design point) on small indexes and
    * above the measured range. Holding a FRACTION rather than a fixed
    * nProbe is also exactly what holds recall as nCells grows with the
    * corpus (the decay a fixed nProbe suffers is measured in SCALING.md).
    * IvfSpec asserts the sized probe meets the target on the fixture.
    *
    * The centroid count is read from the index — one centroid-sized
    * `count()` action per call (memoize the index, as VectorQ does, and
    * it is a cached-table count). Output = [[probeIvf]]'s plus a
    * constant `n_probe` column so callers can log what the SLO chose. */
  def probeIvf(index: IvfIndex, queries: DataFrame, qId: String,
               k: Int, recallTarget: Double): DataFrame = {
    require(recallTarget > 0 && recallTarget <= 1,
      s"recallTarget must be in (0, 1], got $recallTarget")
    val nCells = index.centroids.count().toInt
    val nP = nProbeFor(nCells,
      probedFraction = calibratedFraction(recallTarget, nCells))
    probeIvf(index, queries, qId, nProbe = nP, k = k)
      .withColumn("n_probe", lit(nP))
  }

  /** FILTERED probe — [[probeIvf]] under a per-query metadata constraint
    * (the approximate leg of [[filteredTopK]]): the filter column is part
    * of the postings (built with `keepCols`) and joins as a SECOND equi
    * key next to `ivf_cell`, so candidates are pruned to the query's
    * category inside the probed cells BEFORE any cosine or ranking —
    * never a post-filter over ranked results. At nProbe = nCells this is
    * bit-identical to [[filteredTopK]] (FilteredSearchSpec pins it);
    * at production nProbe the recall/cost trade follows [[nProbeFor]]'s
    * probed-fraction rule unchanged, because the category fraction
    * multiplies BOTH sides of the trade. */
  def probeIvfFiltered(index: IvfIndex, queries: DataFrame, qId: String,
                       filterCol: String, nProbe: Int, k: Int): DataFrame = {
    require(index.postings.columns.contains(filterCol),
      s"postings lack '$filterCol' — build the index with keepCols")
    val probed = assignTo(
      queries.select(col(qId).as("q_id"), col(index.vecCol).as("q_vec"),
        col(filterCol)),
      index.centroids, "q_id", "q_vec", nAssign = nProbe)
    probed.join(index.postings.select(col(index.idCol).as("c_id"),
        col(index.vecCol).as("c_vec2"), col("ivf_cell"), col(filterCol)),
        Seq("ivf_cell", filterCol))
      .dropDuplicates("q_id", "c_id")
      .withColumn("cos", cosine(col("q_vec"), col("c_vec2")))
      .transform(graft.functions.TopKAgg.topKByKeys(_,
        Seq("q_id", filterCol), "cos", "c_id", k))
      .select("q_id", filterCol, "rank", "c_id", "cos")
  }

  /** CLUSTER-BALANCED sampling — the embedding-space diversity step of a
    * curation pipeline (cap each semantic cluster so head topics can't
    * dominate the training mix, the cluster-based counterpart of
    * [[graft.ext.TextOps.temperatureMixSample]]'s per-language flattening):
    * assign every vector to its nearest index cell, then keep at most
    * `cap` per cell, chosen by the deterministic md5-uniform order (so the
    * within-cell sample is unbiased, reproducible across runs/engines, and
    * stable under corpus repartitioning — NOT "first cap by id", which
    * would bias toward old documents under monotone ids).
    *
    * Scale shape: the assignment is the broadcast-packed [[assignTo]]
    * (zero corpus shuffles); the cap is ONE keyed window on `ivf_cell` —
    * with nCells ~ √n cells of ~√n rows each, no window partition is
    * pathological at any corpus size. Returns (idCol, ivf_cell, picked
    * rank). */
  def clusterBalancedSample(index: IvfIndex, corpus: DataFrame,
                            idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val assigned = assignTo(corpus.select(col(idCol), col(index.vecCol)),
      index.centroids, idCol, index.vecCol, nAssign = 1)
    assigned
      .withColumn("__u", TextOps.md5Uniform(col(idCol)))
      // ascending (u, id) pick = descending on -u with the id tiebreak
      .transform(df2 => graft.functions.TopKAgg.topKByKeyOn(df2,
        "ivf_cell", -col("__u"), idCol, "__u", cap))
      .select(col(idCol), col("ivf_cell"), col("rank").as("pick_rank"))
  }

  /** IVF top-k in one call (build + probe). For repeated query batches
    * over one corpus, use [[buildIvfIndex]]/[[probeIvf]] so the index is
    * built once. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
              vecCol: String, nCells: Int, nProbe: Int, k: Int,
              nAssign: Int = 2): DataFrame =
    probeIvf(buildIvfIndex(corpus, cId, vecCol, nCells, nAssign),
      queries, qId, nProbe, k)

  /** ANN via LSH: candidates share ANY signature band; exact cosine
    * re-ranks the candidates. The `planes`-bit signature is split into
    * `bands` OR'd bands (rowsPerBand = planes/bands bits each, same scheme
    * as [[Dedup.minHashCandidates]]): a pair is a candidate when at least
    * one band matches, so recall is 1-(1-p^r)^B instead of the single-table
    * p^planes that collapses as planes grow. Candidate generation stays ONE
    * equi-join on (band, band_sig).
    *
    * `maxBucketSize` drops degenerate buckets (duplicate-heavy corpora,
    * zero-ish vectors) BEFORE the self-join — a bucket of n rows is n²
    * pairs, so one mega-bucket otherwise dominates the job. Members of a
    * dropped bucket still pair via their other bands.
    *
    * Regime note (measured on the driver fixture): random-hyperplane LSH
    * prunes effectively only when true neighbors are strongly similar
    * (cos ≳ 0.8, i.e. near-duplicate detection). For weakly-similar corpora
    * (fixture top-10 sits at cos 0.24-0.40 over a cos≈0 background) no
    * (bands, planes) choice yields both high recall and sub-quadratic
    * candidates — that regime belongs to [[ivfTopK]], which probes by real
    * geometry, or to [[bruteForceTopK]]. */
  /** Band width (bits per band) must GROW with the corpus or candidate
    * generation goes quadratic: with fixed r-bit bands there are only
    * bands·2^r buckets, so mean occupancy is n/2^r and the bucket
    * self-join emits Θ(n²/2^r) pairs — measured in a scale run (SCALING.md),
    * a 128k-vector corpus on 8-bit bands spilled >78 GB before dying.
    * This helper sizes planes so mean bucket occupancy stays near
    * `targetBucket` regardless of n: r = log2(n/targetBucket), capped at
    * 16 bits/band (64-bit signature / 4 bands), floored at 8. */
  /** CAP REGIME: a 64-bit signature bounds r at 64/bands bits, so once
    * n > targetBucket·2^(64/bands) (~2M at the defaults) occupancy grows
    * LINEARLY with n again — n/2^r per bucket — and candidate pairs
    * quadratically. [[planesCapped]] detects the regime; past it, shard
    * the corpus (run LSH per shard / per partition-layout key), tighten
    * `maxBucketSize` (correct but recall-lossy), or switch to [[ivfTopK]]
    * whose cell count is not signature-bounded. AnnLshSpec pins the
    * boundary arithmetic and the capped-corpus behavior. */
  def suggestedPlanes(corpusSize: Long, bands: Int = 4,
                      targetBucket: Int = 32): Int = {
    val r = math.ceil(math.log(math.max(1.0, corpusSize.toDouble / targetBucket))
      / math.log(2.0)).toInt
    bands * math.min(64 / bands, math.max(8, r))
  }

  /** True when [[suggestedPlanes]] hit the 64-bit signature cap for this
    * corpus size — the regime where per-bucket occupancy (and with it the
    * bucket self-join) stops being size-independent. */
  def planesCapped(corpusSize: Long, bands: Int = 4,
                   targetBucket: Int = 32): Boolean = {
    val r = math.ceil(math.log(math.max(1.0, corpusSize.toDouble / targetBucket))
      / math.log(2.0)).toInt
    math.max(8, r) > 64 / bands
  }

  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              planes: Int, k: Int, bands: Int = 4,
              maxBucketSize: Int = 10000): DataFrame = {
    require(bands > 0 && bands <= planes && planes % bands == 0,
      s"bands ($bands) must evenly divide planes ($planes)")
    val r = planes / bands
    // signature table is referenced by both join sides + the re-rank;
    // persist so the O(planes·dim) signature pass runs once (lifecycle as
    // in Dedup.minHashCandidates: released by the ContextCleaner).
    val signed = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("sig", lshSignature(col(vecCol), planes))
      .filter(col("sig").isNotNull) // null vec = no embedding: bucket nowhere
      .persist()
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1)).as("band_sig"))
    }
    val banded = signed
      .select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_sig"))
      .withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("band", "band_sig")))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    // id1 =!= id2 (not <): each vector must rank ALL of its bucket-mates,
    // otherwise the highest-id vector in a bucket gets no neighbors and
    // "rank" stops meaning per-vector top-k
    val pairs = banded.select(col(idCol).as("id1"), col("band"), col("band_sig"))
      .join(banded.select(col(idCol).as("id2"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2").distinct()
    pairs
      .join(signed.select(col(idCol).as("id1"), col(vecCol).as("v1")), "id1")
      .join(signed.select(col(idCol).as("id2"), col(vecCol).as("v2")), "id2")
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .transform(graft.functions.TopKAgg.topKByKey(_, "id1", "cos",
        "id2", k))
      .select("id1", "id2", "cos", "rank")
  }

  /** SEMANTIC dedup — the SemDeDup curation step (Abbas et al. 2023:
    * embedding-space near-dup removal, the dedup flavor that catches
    * paraphrases MinHash/SimHash miss): drop every vector that has an
    * EARLIER (smaller-id) in-block neighbor with
    * `round(cos, 6) >= threshold`; survivors are the corpus minus the
    * dominated set. "Dominated by any earlier doc" (not greedy chaining)
    * is the policy real near-dup pipelines ship: it is order-independent,
    * one-pass, and never keeps two similar docs — at the price of
    * occasionally dropping a doc whose only dominator was itself dropped
    * (SemDedupSpec pins both properties).
    *
    * Scale shape: ONE equi-join on `blockCol` + one left_anti on the id —
    * no all-pairs term beyond the block. The block key bounds the
    * quadratic: pass a bounded-cardinality metadata key (label, shard) on
    * small corpora, or an IVF cell id from [[ivfAssign]] at 100 TB
    * ([[semanticDedupIvf]]), where cell occupancy ~ n/nCells is held
    * near-constant by sizing nCells ~ √n — the SemDeDup paper's k-means
    * blocking exactly. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    blockCol: String, threshold: Double): DataFrame = {
    val a = corpus.select(col(blockCol).as("__blk"), col(idCol).as("__id1"),
      col(vecCol).as("__v1"))
    val b = corpus.select(col(blockCol).as("__blk"), col(idCol).as("__id2"),
      col(vecCol).as("__v2"))
    val dominated = a.join(b, "__blk")
      .filter(col("__id1") < col("__id2") &&
        round(cosine(col("__v1"), col("__v2")), 6) >= threshold)
      .select(col("__id2").as(idCol)).distinct()
    corpus.join(dominated, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] blocked by IVF cell — the production form once no
    * metadata key bounds block size: nearest-centroid assignment
    * (broadcast-packed, shuffle-free) supplies the block key, so the
    * pair join is per-cell and cell occupancy is a sizing knob
    * (nCells ~ √n). Blocking can only MISS cross-cell pairs, so its
    * drops are a subset of an exact all-pairs dedup's drops — every drop
    * is still justified by a real in-cell dominator (SemDedupSpec). */
  def semanticDedupIvf(corpus: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, threshold: Double): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, nCells)
    semanticDedup(assigned, idCol, vecCol, "ivf_cell", threshold)
      .drop("ivf_cell")
  }

  /** INCREMENTAL semantic dedup — [[semanticDedup]]'s daily-increment
    * form (the x36/x45/m6/x56 maintained-index pattern applied to the
    * EMBEDDING family, the last dedup flavor without an incremental
    * member): the corpus side is ONLY the maintained
    * (id, block, vector) index — committed vectors are never re-embedded
    * or re-paired with each other — and a batch doc survives iff NO
    * index vector in its block reaches `round(cos, 6) >= threshold` AND
    * no EARLIER (smaller-id) batch doc in its block does. Committed
    * docs dominate regardless of id (they arrived first — the m6
    * contract: arrival time, not id, is seniority across the
    * index/batch boundary; ids order only WITHIN the batch), so the
    * index is append-only and the survivors ARE the rows the caller
    * appends. Re-delivered ids (already present in the index) drop up
    * front — an at-least-once re-crawl pays batch cost and appends
    * nothing.
    *
    * Scale shape: one block equi-join batch × index plus one
    * within-batch block self-join — cost ∝ |batch| · occupancy(block),
    * never index × index. Block with a bounded metadata key on small
    * corpora, or an IVF cell id assigned under the index's FROZEN
    * centroids at 100 TB (the v28 add-after-train contract — both
    * sides must share one cell geometry or blocks don't align), where
    * occupancy ~ n/nCells is held ~√n by the nCells ~ √n sizing. */
  def incrementalSemanticDedup(index: DataFrame, batch: DataFrame,
                               idCol: String, vecCol: String,
                               blockCol: String,
                               threshold: Double): DataFrame = {
    val fresh = batch.join(index.select(idCol), Seq(idCol), "left_anti")
    val domIdx = fresh
      .select(col(blockCol).as("__blk"), col(idCol).as("__id"),
        col(vecCol).as("__vb"))
      .join(index.select(col(blockCol).as("__blk"), col(vecCol).as("__vi")),
        "__blk")
      .filter(round(cosine(col("__vb"), col("__vi")), 6) >= threshold)
      .select(col("__id").as(idCol))
    val domEarlier = fresh
      .select(col(blockCol).as("__blk"), col(idCol).as("__id1"),
        col(vecCol).as("__v1"))
      .join(fresh.select(col(blockCol).as("__blk"), col(idCol).as("__id2"),
        col(vecCol).as("__v2")), "__blk")
      .filter(col("__id1") < col("__id2") &&
        round(cosine(col("__v1"), col("__v2")), 6) >= threshold)
      .select(col("__id2").as(idCol))
    fresh.join(domIdx.union(domEarlier).distinct(), Seq(idCol), "left_anti")
  }

  /** SEMANTIC cross-corpus decontamination audit — the embedding-space
    * member of the decontam family (x15/x17/x26/x29 are lexical):
    * per train vector, the max cosine against ANY benchmark vector,
    * plus the ≥ `threshold` contamination verdict. Catches the
    * paraphrase-level overlap n-gram methods structurally miss (a
    * reworded benchmark question shares no trigram but sits next to the
    * original in embedding space).
    *
    * Scale shape: benchmarks are MBs at ANY corpus scale (the x26
    * broadcast rationale), so the right 100 TB plan is no index at all —
    * the benchmark packs into ONE array-of-structs row (the
    * centroid-pack lifecycle of [[assignTo]]), broadcasts, and the train
    * side is a single scan computing an `array_max(transform(...))` fold
    * per row: O(n·|bench|·dim) work, ZERO shuffles, no pair
    * materialization. Callers keep rows with `contaminated = false`
    * (the x20 anti-join shape) or inspect near-threshold mass first —
    * the audit emits the score, not just the verdict, for exactly that
    * reason. */
  def semanticDecontam(train: DataFrame, bench: DataFrame, idCol: String,
                       vecCol: String, threshold: Double): DataFrame = {
    val packed = bench.agg(collect_list(col(vecCol)).as("__bench"))
    train.crossJoin(broadcast(packed))
      .withColumn("max_bench_cos",
        round(array_max(transform(col("__bench"),
          b => cosine(col(vecCol), b))), 6))
      // an EMPTY benchmark (or an all-null-cosine row) yields a NULL
      // max — the verdict must be an explicit false, not null: the
      // documented "keep contaminated = false" pattern would otherwise
      // silently drop the whole corpus on a misconfigured benchmark
      // filter (null is not false under a Spark filter)
      .withColumn("contaminated",
        coalesce(col("max_bench_cos") >= threshold, lit(false)))
      .drop("__bench")
  }

  /** 1-bit (sign) quantization: each 64-dim chunk of the vector packs
    * into one BIGINT whose bits are `x >= 0` in dimension order (MSB =
    * first dim of the chunk, short final chunks pack left-aligned into
    * the low bits). 32× smaller than float32 — the coarsest rung of the
    * quantization ladder (int8 = v8, PQ nibbles = v11) and the standard
    * first-pass filter of a binary-rescore funnel: a 100 TB float corpus
    * becomes a ~3 TB bit index that can be Hamming-scanned from memory.
    *
    * Sign(cos) correlation: for random hyperplane-ish dims,
    * P[sign agree] = 1 − θ/π per dim (the SimHash/LSH identity — same
    * math as [[lshSignature]], but with the data's own axes as planes),
    * so Hamming distance estimates the angle and ranks candidates. */
  def signBits(vec: Column): Column =
    transform(sequence(lit(0), floor((size(vec) - 1) / 64).cast("int")),
      i => aggregate(slice(vec, i * 64 + 1, lit(64)), lit(0L),
        // shiftleft, not acc*2: the 64th bit must WRAP into the sign bit
        // (ANSI mode throws on the equivalent long multiply overflow)
        (acc, x) => shiftleft(acc, 1).bitwiseOR(when(x >= 0, 1L).otherwise(0L))))

  /** Hamming distance between two [[signBits]] signatures (popcount of
    * XOR per word, summed). Codegen'd integer ops — the per-comparison
    * cost a binary scan pays instead of a float cosine. */
  def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary-rescore funnel: Hamming-shortlist `shortlist` candidates per
    * query from the packed sign bits alone, then exact-cosine re-rank
    * ONLY the shortlist — the corpus floats are touched for ~shortlist
    * rows per query, never in the scan. Same funnel shape as PQ's ADC
    * ([[graft.ext.Pq.adcTopK]]) with a 32× (vs 4×) compressed first
    * pass. Returns (q_id, rank, c_id, cos). */
  def binaryTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                 cId: String, vecCol: String, k: Int,
                 shortlist: Int = 50): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(vecCol).as("q_vec"),
      signBits(col(vecCol)).as("q_sig"))
    val c = corpus.select(col(cId).as("c_id"), col(vecCol).as("c_vec"),
      signBits(col(vecCol)).as("c_sig"))
    val short = c.select(col("c_id"), col("c_sig"))
      .crossJoin(broadcast(q.select(col("q_id"), col("q_sig"))))
      .withColumn("ham", hammingDist(col("q_sig"), col("c_sig")))
      // ascending rank = descending on the negated distance (exact:
      // integer Hamming negates losslessly in double)
      .transform(df2 => graft.functions.TopKAgg.topKByKeyOn(df2, "q_id",
        -col("ham").cast("double"), "c_id", "ham", shortlist))
      .select("q_id", "c_id")
    short
      .join(c.select(col("c_id"), col("c_vec")), "c_id")
      .join(broadcast(q.select(col("q_id"), col("q_vec"))), "q_id")
      .withColumn("cos", cosine(col("q_vec"), col("c_vec")))
      .transform(graft.functions.TopKAgg.topKByKey(_, "q_id", "cos",
        "c_id", k))
      .select("q_id", "rank", "c_id", "cos")
  }

  /** k-nearest-neighbour GRAPH within blocks — every vector's top-k
    * most-similar peers, the substrate of graph-based curation
    * (connected-component topic clusters, density/outlier scoring,
    * diversity-aware selection: a doc whose k-NN edges are all ≥0.9 is
    * redundant; one whose edges are weak is novel). The block key bounds
    * the pair join exactly as in [[semanticDedup]]: a metadata column
    * (label/tenant/language) when one bounds block size, an IVF cell id
    * ([[knnGraphIvf]]) at 100 TB. Requires a single-valued block key per
    * row (no nAssign replication — a pair would rank twice).
    *
    * Scale shape: one equi-join on the block key (never all-pairs), the
    * rank window partitions by source id so no partition exceeds the
    * block size, and with nCells ~ √n occupancy the IVF form does
    * Θ(n^1.5) in-block cosines — the [[semanticDedupIvf]] geometry.
    * Returns (idCol, blockCol, rank, nbr_id, cos). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               blockCol: String, k: Int): DataFrame = {
    val a = corpus.select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      col(vecCol).as("__v"))
    val b = corpus.select(col(blockCol).as("__blk"), col(idCol).as("__nbr"),
      col(vecCol).as("__nv"))
    a.join(b, "__blk")
      .filter(col("__id") =!= col("__nbr"))
      .withColumn("cos", cosine(col("__v"), col("__nv")))
      .transform(graft.functions.TopKAgg.topKByKeys(_,
        Seq("__id", "__blk"), "cos", "__nbr", k))
      .select(col("__id").as(idCol), col("__blk").as(blockCol),
        col("rank"), col("__nbr").as("nbr_id"), col("cos"))
  }

  /** [[knnGraph]] blocked by IVF cell — the production form when no
    * metadata key bounds block size (the [[semanticDedupIvf]] move):
    * nearest-centroid assignment (broadcast-packed, shuffle-free)
    * supplies the block, nCells ~ √n holds occupancy flat. Edges can
    * only be MISSED across cell boundaries, never invented: every edge
    * returned carries its exact cosine, and in-block edges are a subset
    * of the exact graph's candidate set (KnnGraphSpec verifies edge
    * exactness vs brute force). */
  def knnGraphIvf(corpus: DataFrame, idCol: String, vecCol: String,
                  nCells: Int, k: Int): DataFrame =
    knnGraph(ivfAssign(corpus, idCol, vecCol, nCells),
      idCol, vecCol, "ivf_cell", k)

  /** Maximal Marginal Relevance re-rank (Carbonell/Goldstein): greedily
    * pick, per query, the candidate maximizing λ·rel − (1−λ)·max cos to
    * the already-picked set — the standard diversity step between
    * retrieval and the generator (near-duplicate passages crowd out
    * coverage at λ=1). Input: (q_id, c_id, cos, vec) candidate lists —
    * each query's retrieval top-k with the candidates' vectors riding
    * along; `cos` is the query relevance from the retrieval leg.
    *
    * Scale shape: ONE groupByKey(q_id) over top-k-BOUNDED lists — the
    * greedy loop and its pairwise cosines run per group over ≤ k
    * candidates (k ~ tens), so per-group work is O(k²·dim) CONSTANT in
    * corpus size and queries parallelize across partitions. The fold is
    * the documented mapGroups exception (bounded group, inherently
    * sequential greedy), not a row UDF. Ties and float equality break by
    * c_id; selection is deterministic for a given candidate list.
    * Returns (q_id, rank, c_id, mmr) — rank in pick order.
    *
    * `maxCandidates` enforces the bounded-group contract instead of
    * trusting it: each group keeps only its top `maxCandidates` rows by
    * (rel desc, c_id) — the same order the greedy scan consumes — so an
    * unbounded candidate DataFrame degrades to a documented truncation,
    * not silent quadratic work / a single-executor OOM. At the default
    * 4096 the truncation is unreachable from any top-k retrieval leg. */
  def mmrRerank(candidates: DataFrame, k: Int,
                lambda: Double = 0.7,
                maxCandidates: Int = 4096): DataFrame = {
    require(maxCandidates >= k,
      s"maxCandidates ($maxCandidates) must be >= k ($k)")
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .select(col("q_id").cast("long"), col("c_id").cast("long"),
        col("cos").cast("double"), col("vec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        // bounded top-maxCandidates by (rel desc, id) via a capped heap —
        // never materializes an over-large group, so the cap bounds memory
        // as well as the greedy loop's quadratic work
        val worstFirst = Ordering
          .by[(Long, Long, Double, Seq[Double]), (Double, Long)](c => (-c._3, c._2))
        val heap =
          scala.collection.mutable.PriorityQueue.empty(worstFirst)
        it.foreach { c =>
          heap.enqueue(c)
          if (heap.size > maxCandidates) heap.dequeue()
        }
        val cand = heap.dequeueAll.reverse.toArray // rel desc, id
        def cosv(a: Seq[Double], b: Seq[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
        }
        val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(cand.toSeq: _*)
        while (out.length < k && remaining.nonEmpty) {
          val scored = remaining.map { c =>
            val maxSim =
              if (pickedVecs.isEmpty) 0.0
              else pickedVecs.map(pv => cosv(c._4, pv)).max
            (lambda * c._3 - (1 - lambda) * maxSim, c)
          }
          val (bestScore, best) = scored.minBy { case (s, c) => (-s, c._2) }
          out += ((q, out.length + 1, best._2, bestScore))
          pickedVecs += best._4
          remaining -= best
        }
        out.iterator
      }
      .toDF("q_id", "rank", "c_id", "mmr")
  }
}
