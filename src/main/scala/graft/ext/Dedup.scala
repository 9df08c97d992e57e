package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard (BASELINE.json north star).
  *
  * Scale design:
  *  - exact dedup = hash-groupBy on a digest — one shuffle of (digest, id),
  *    never of the document bodies.
  *  - MinHash+LSH = signatures computed scan-side with codegen'd
  *    higher-order functions (no UDF), then candidates found by ONE
  *    equi-join on (band, bandHash) — the classic way to avoid the O(n²)
  *    cross join; verification (signature agreement) only touches the
  *    candidate pairs.
  *  - SimHash = one 64-bit fingerprint per doc; near-dups are buckets of
  *    equal fingerprints (or small Hamming distance via band rotation).
  */
object Dedup {

  /** Exact duplicate groups by content digest; `keep` is the smallest id
    * (deterministic canonical representative). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** INCREMENTAL exact dedup — the daily-crawl shape: dedup a new `batch`
    * against itself AND an already-deduped `corpus`, returning the batch
    * rows that survive (first in-batch occurrence of their digest, digest
    * unseen in the corpus). Each run then appends the survivors' digests
    * to the corpus index, so increment N+1 never rescans increment N's
    * bodies.
    *
    * Scale shape: only 16-byte digests shuffle — one window keyed by the
    * batch's digests (batch-sized) and one left_anti against the corpus
    * DIGEST INDEX (a digest-only parquet table maintained across runs,
    * ~1/6000th of the corpus bytes). When even that index dwarfs the
    * batch, [[bloomBuild]] turns the anti-join into a scan-side
    * prefilter (the x29 pattern). Near-dup increments compose the same
    * way: [[incrementalNearDup]] probes a maintained signature index
    * with the batch in one band pass. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("digest").orderBy(col(idCol))
    val firstInBatch = batch
      .withColumn("digest", md5(col(textCol)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    val corpusDigests = corpus.select(md5(col(textCol)).as("digest")).distinct()
    firstInBatch.join(corpusDigests, Seq("digest"), "left_anti")
  }

  /** MinHash signature: for each of `k` hash functions, the minimum hash
    * over the document's shingle set. Pure column expressions — computed
    * during the scan, fully codegen'd. Empty shingle sets get a NULL
    * signature (dropped by callers).
    *
    * Cost shape: the (expensive) string hash runs ONCE per shingle; the k
    * per-function hashes rehash that 8-byte value (xxhash64(long, seed)),
    * so the per-document cost is O(|shingles| · (1 string-hash + k
    * long-hashes)) instead of O(k string-hashes) — the difference is ~10×
    * wall clock on long documents. */
  def withMinHash(docs: DataFrame, shingleCol: String, k: Int): DataFrame =
    // backed by the native MinHashSig expression: one fused codegen pass
    // (the composable form below is k interpreted array_min(transform)
    // walks — CodegenFallback; see the SimHash/LshSignature lesson)
    docs.withColumn("minhash",
      graft.functions.MinHashSig.minhash_sig(col(shingleCol), k))

  /** The composable-expression form of [[withMinHash]], kept as the
    * reference implementation (bit-identical signatures — asserted in
    * MinHashSpec). */
  def withMinHashComposed(docs: DataFrame, shingleCol: String, k: Int): DataFrame =
    // materialize the per-shingle string hashes as a real column first —
    // as a shared subexpression inside the k transforms it would be
    // re-evaluated k times (no CSE across higher-order functions)
    docs
      .withColumn("__hs", transform(col(shingleCol), s => xxhash64(s)))
      .withColumn("minhash",
        when(size(col("__hs")) > 0,
          array((0 until k).map { seed =>
            array_min(transform(col("__hs"), h => xxhash64(h, lit(seed))))
          }: _*)))
      .drop("__hs")

  /** LSH banding: split the k-length signature into `bands` bands and hash
    * each; docs sharing any (band, hash) are candidate pairs.
    * Returns (id, [carry...,] band, band_hash) — one row per band per doc.
    * `carry` names extra columns to keep through the explode (e.g. the
    * signature itself for streaming consumers that verify per-bucket).
    *
    * A null signature (empty shingle set) emits no band row. The null
    * test sits inside the explode, not in a Filter: a filter on
    * `minhash` is pushed below the signature projection, where Catalyst
    * rewrites `isnotnull(minhash)` into a scan-stage re-computation of
    * the whole minhash_sig(shingles(...)) expression with `toks` inlined
    * as split(text) — the O(tokens²) HOF-inlining trap (SCALING.md). The
    * explode's argument is no attribute, so no filter is inferred from it
    * either: an unmaterialized signed table (a streaming micro-batch,
    * [[crossCorpusCandidates]]' corpora) bands without being persisted
    * first. */
  def lshBands(docs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
               carry: Seq[String] = Nil): DataFrame = {
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((col("minhash").getItem(b * rowsPerBand) +:
          (1 until rowsPerBand).map(r => col("minhash").getItem(b * rowsPerBand + r))) :+
          lit(b): _*).as("band_hash"))
    }: _*)
    val kept = col(idCol) +: carry.map(col)
    docs
      .select(kept :+
        explode(when(col("minhash").isNotNull, bandCols)).as("bb"): _*)
      .select(kept ++ Seq(col("bb.band"), col("bb.band_hash")): _*)
  }

  private def requireBands(k: Int, bands: Int): Unit =
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands ($bands) must evenly divide signature length k ($k)")

  /** Candidate pairs from LSH buckets + estimated Jaccard = fraction of
    * agreeing signature positions. One self-equi-join on (band, band_hash);
    * signature agreement via zip_with, no re-tokenization. */
  /** `maxBucketSize` drops pathological LSH buckets (e.g. a boilerplate
    * shingle set shared by millions of docs) before the self-join — a
    * bucket of n docs contributes n² candidate pairs, so one mega-bucket
    * can dominate the whole job. Docs in dropped buckets still pair via
    * their other bands (and truly identical docs are exactGroups' job). */
  def minHashCandidates(docs: DataFrame, idCol: String, shingleCol: String,
                        k: Int, bands: Int,
                        maxBucketSize: Int = 10000): DataFrame = {
    requireBands(k, bands)
    val rows = k / bands
    // The signature table is referenced three times (both sides of the
    // band join + the agreement re-check); persist so the shingle+hash
    // pipeline runs once — at scale this is the materialized "signature
    // index" stage of any LSH dedup. Lifecycle: the cached blocks are
    // released by the ContextCleaner once this plan is unreferenced
    // (no handle is retained here), so repeated calls don't accumulate
    // past a GC cycle.
    val signed = withMinHash(docs, shingleCol, k)
      .select(col(idCol), col("minhash"))
      .persist()
    val b0 = lshBands(signed, idCol, bands, rows)
    val b = b0.withColumn("__bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_hash")))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    val left = b.select(col(idCol).as("id1"), col("band"), col("band_hash"))
    val right = b.select(col(idCol).as("id2"), col("band"), col("band_hash"))
    val pairs = left.join(right, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val s1 = signed.select(col(idCol).as("id1"), col("minhash").as("sig1"))
    val s2 = signed.select(col(idCol).as("id2"), col("minhash").as("sig2"))
    pairs.join(s1, "id1").join(s2, "id2")
      // native SigAgree: the recheck runs per candidate pair (the hot
      // path) — fused codegen, not an interpreted zip_with fold
      .withColumn("est_jaccard",
        graft.functions.SigAgree.sig_agree(col("sig1"), col("sig2"))
          .cast("double") / k)
      .select("id1", "id2", "est_jaccard")
  }

  /** Cross-corpus near-dup candidates — the DECONTAMINATION shape: find
    * training documents (corpusA) that near-duplicate a benchmark/eval
    * document (corpusB). Same machinery as [[minHashCandidates]] but the
    * buckets pair A×B instead of a self-join: both sides are signed, then
    * [[probePairs]] (with the within-probe side off) bands them in one
    * explode of the side-tagged union, shuffles the band rows once and
    * pairs each bucket's A members with its B members; signature
    * agreement estimates Jaccard. At 10⁹ training docs × 10⁶ benchmark
    * docs this stays one shuffle of band keys — never a cross join.
    *
    * `maxBucketSize` caps the SUM of a bucket's occupancy across both
    * sides before pairing (a boilerplate bucket shared by both corpora
    * otherwise emits |A|·|B| pairs). Output: (id_a, id_b, est_jaccard),
    * one row per candidate pair (ids unique within each corpus).
    *
    * Cache lifecycle: nothing is cached or checkpointed. The result is a
    * lazy plan; corpusB is signed once for the band pass and once for the
    * signature lookup of each candidate pair, corpusA once. */
  def crossCorpusCandidates(corpusA: DataFrame, corpusB: DataFrame,
                            idCol: String, shingleCol: String,
                            k: Int, bands: Int,
                            maxBucketSize: Int = 10000): DataFrame = {
    def signed(docs: DataFrame) =
      withMinHash(docs, shingleCol, k).select(col(idCol), col("minhash"))
    probePairs(signed(corpusA), signed(corpusB), idCol, k, bands,
        maxBucketSize, withinProbe = false)
      .select("id_a", "id_b", "est_jaccard")
      .distinct()
  }

  /** The one banded candidate-pair kernel, over two `(id, minhash)`
    * signature tables: a PROBE side (a new batch, or corpusA) and an
    * INDEX side (a maintained signature index, or corpusB), so an index
    * can be probed without re-signing its corpus. Ids are unique within
    * each side; an id may occur on both.
    *
    * The sides are tagged (probe 1, index 0) and banded in ONE explode
    * of their union; probe rows carry their signature through it, index
    * rows do not (that would be one copy per band of every index doc).
    * The band rows shuffle ONCE, on (band, band_hash): one window over
    * that key counts the probe rows `na` and all rows `n`, and a
    * grouping on the same key (no second exchange) collects each
    * bucket's kept members. A bucket yields two kinds of pair:
    *  - `side = 0`, an index hit: `id_b` is an index doc; the bucket
    *    pairs while its combined occupancy `n ≤ maxBucketSize`;
    *  - `side = 1`, a later probe twin (only when `withinProbe`): `id_b`
    *    is a probe doc with `id_a < id_b`; the bucket pairs while
    *    `2·na ≤ maxBucketSize`, the occupancy of the probe side paired
    *    with itself.
    * A row enters its bucket only within the cap of a kind of pair it can
    * form, so a kept bucket holds at most `maxBucketSize` members, and
    * its pairs come from two explodes of that member list. A twin
    * carries both signatures out of its bucket; an index hit looks up
    * the index signature with one join on `id_b`. Both are rechecked
    * with SigAgree in the same pipeline, so nothing above the band
    * shuffle forks (a fork would re-run it once per branch under AQE,
    * whose cached inputs defeat exchange reuse). A probe doc whose id also
    * occurs in the index is compared with each of its partners, never
    * with itself. Null signatures (empty shingle sets) form no pair.
    *
    * Returns (id_a, id_b, side, est_jaccard), one row per bucket a pair
    * shares: a pair that collides in several bands repeats. */
  private[graft] def probePairs(probe: DataFrame, index: DataFrame,
                                idCol: String, k: Int, bands: Int,
                                maxBucketSize: Int,
                                withinProbe: Boolean): DataFrame = {
    requireBands(k, bands)
    val sigs = probe.select(col(idCol), col("minhash"), lit(1).as("side"))
      .union(index.select(col(idCol), col("minhash"), lit(0).as("side")))
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_hash")
    val twin: Column =
      if (withinProbe) col("na") * 2 <= maxBucketSize else lit(false)
    val members = lshBands(sigs, idCol, bands, k / bands,
        carry = Seq("side", "minhash"))
      // the index signature is dropped before the band shuffle
      .withColumn("minhash", when(col("side") === 1, col("minhash")))
      .withColumn("na", sum(col("side")).over(bucket))
      .withColumn("n", count(lit(1)).over(bucket))
      .filter(col("n") <= maxBucketSize || (col("side") === 1 && twin))
      .groupBy("band", "band_hash")
      .agg(max(col("na")).as("na"),
        collect_list(struct(col(idCol).as("id"), col("side"),
          col("minhash").as("sig"))).as("m"))
    def ofSide(s: Int): Column = filter(col("m"), _.getField("side") === s)
    val pairs = members
      .select(col("m"), twin.as("twin"), explode(ofSide(1)).as("a"))
      .select(col("a"), explode(
        if (withinProbe) when(col("twin"), col("m")).otherwise(ofSide(0))
        else ofSide(0)).as("b"))
      .filter(col("b.side") === 0 || col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("b.side").as("side"), col("a.sig").as("sig_a"),
        col("b.sig").as("sig_b"))
    // one lookup for both kinds, so nothing forks above the band
    // shuffle: a twin carries its partner's signature, an index hit
    // finds it by id
    val lookup = index.select(col(idCol).as("id_index"),
      col("minhash").as("sig_index"))
    pairs
      .join(lookup, col("id_b") === col("id_index") && col("side") === 0,
        "left_outer")
      .select(col("id_a"), col("id_b"), col("side"),
        // native SigAgree: fused codegen per candidate pair
        (graft.functions.SigAgree.sig_agree(col("sig_a"),
          coalesce(col("sig_b"), col("sig_index"))).cast("double") / k)
          .as("est_jaccard"))
  }

  /** INCREMENTAL near-dup dedup — the MinHash complement of
    * [[incrementalDedup]]'s exact digests (the production "daily crawl vs
    * 100 TB corpus" loop): the corpus is represented ONLY by its
    * maintained `(id, minhash)` SIGNATURE INDEX (k longs per doc — bodies
    * of past increments are never rescanned); the new batch signs itself
    * once, then drops (a) members near-dup (est ≥ `threshold`) of any
    * index doc and (b) later twins within the batch (first-seen by id —
    * greedy pairwise, the x36/st3 batch semantic; the thorough
    * transitive-closure path stays [[duplicateClusters]]/x33).
    *
    * Returns the SURVIVING `(id, minhash)` rows — exactly the rows to
    * append to the index, so increment N+1's cost again never touches
    * increment N's bodies. Scale shape: one signature scan of the batch,
    * then one band explode and one band-key shuffle ([[probePairs]]:
    * index hits and within-batch twins from the same buckets), all
    * candidate generation bucket-capped — the x7/x17 linear-candidate
    * machinery end to end. The drop ids (batch-sized, never
    * index-sized) are broadcast into the anti-join.
    *
    * Cache lifecycle: `bands`, `k` and `threshold` are checked before
    * any job starts. The batch signatures are then materialized ONCE, by
    * an eager `localCheckpoint` (one job); the band pass and the
    * anti-join both read the checkpoint, so nothing enters the cache
    * manager and nothing needs an unpersist. The survivors come back as
    * a lazy plan over that checkpoint. Its blocks are
    * ContextCleaner-managed: they release when the caller drops the
    * reference, so repeated invocations (every bench sweep, every daily
    * increment) do not accumulate executor-memory state. */
  def incrementalNearDup(corpusSigs: DataFrame, batch: DataFrame,
                         idCol: String, shingleCol: String,
                         k: Int, bands: Int, threshold: Double,
                         maxBucketSize: Int = 10000): DataFrame = {
    requireBands(k, bands)
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val batchSigs = withMinHash(batch, shingleCol, k)
      .select(col(idCol), col("minhash"))
      .localCheckpoint()
    batchSigs.join(broadcast(nearDupDrops(batchSigs, corpusSigs, idCol, k,
      bands, threshold, maxBucketSize)), Seq(idCol), "left_anti")
  }

  /** The ids [[incrementalNearDup]] drops from a signed batch: the probe
    * doc of each index hit and the later doc of each batch twin with
    * est ≥ `threshold`. Ids repeat (once per shared bucket); the
    * anti-join that consumes them ignores repeats, so no distinct. */
  private[graft] def nearDupDrops(batchSigs: DataFrame, corpusSigs: DataFrame,
                                  idCol: String, k: Int, bands: Int,
                                  threshold: Double,
                                  maxBucketSize: Int): DataFrame =
    probePairs(batchSigs, corpusSigs, idCol, k, bands, maxBucketSize,
        withinProbe = true)
      .filter(col("est_jaccard") >= threshold)
      .select(when(col("side") === 0, col("id_a")).otherwise(col("id_b"))
        .as(idCol))

  /** Graded n-gram contamination — the GPT-3/PaLM-style decontamination
    * METRIC (vs [[crossCorpusCandidates]]'s binary near-dup verdict): for
    * each training document, the fraction of its DISTINCT word `k`-grams
    * that occur anywhere in the benchmark corpus. Pipelines threshold
    * this (drop > 0.x) or bucket it for audit reports.
    *
    * Scale shape: the benchmark n-gram set is ALWAYS small relative to
    * the training corpus (benchmarks are MBs; corpora are TBs) —
    * broadcast it, so the training side is one scan + explode + one
    * partial-aggregated groupBy on doc id. No shuffle ever carries
    * document bodies, and no pairwise doc×doc comparison exists at any
    * corpus size. Documents shorter than `k` tokens have no n-grams and
    * emit no row (mirrored by the oracle). */
  def ngramContamination(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, k: Int): DataFrame = {
    // `toks` MUST be a materialized column, not an inline expression:
    // higher-order functions are CodegenFallback, so an inline split
    // re-evaluates once per element_at inside the n-gram lambda —
    // O(k·|grams|) regex splits per row (measured 40 task-sec vs 1.5 at
    // sf0.1). The Project under the Generate keeps it evaluated once.
    def grams(df: DataFrame): DataFrame = df
      .withColumn("toks", TextOps.tokens(col(textCol)))
      .select(col(idCol),
        explode(TextOps.shingles(col("toks"), k)).as("ng"))
    val benchSet = grams(bench).select("ng").distinct()
      .withColumn("hit", lit(1L))
    grams(train)
      .join(broadcast(benchSet), Seq("ng"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"),
        round(sum(coalesce(col("hit"), lit(0L))) / count(lit(1)), 6)
          .as("contam_frac"))
  }

  /** [[leakFreeSplit]] with a PRECOMPUTED group key — the near-dup-aware
    * variant feeds [[duplicateClusters]] labels (coalesced to the row's
    * own id for unclustered docs), so a val example can't leak into
    * train even through a PARAPHRASED copy. Pure scan-side: the coin is
    * [[TextOps.md5Uniform]] of the group key. */
  def leakFreeSplitByKey(docs: DataFrame, groupCol: String,
                         trainFrac: Double): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1,
      s"trainFrac must be in (0,1), got $trainFrac")
    docs.withColumn("split",
      when(TextOps.md5Uniform(col(groupCol)) < trainFrac, "train")
        .otherwise("val"))
  }

  /** QUALITY-AWARE exact dedup — keep the BEST copy, not the first:
    * within each content group (md5 digest) the surviving row maximizes
    * `qualityCol` (ties → smaller id), the RefinedWeb/FineWeb "keep the
    * best-rendered duplicate" policy vs [[exactGroups]]' first-seen
    * keep-min. Two different crawls of the same page often differ in
    * extraction quality under an identical body hash's near
    * neighbourhood — and when bodies ARE identical but metadata/scoring
    * differs, the keeper choice decides what trains.
    *
    * Scale shape: winners are decided on NARROW (digest, quality, id)
    * rows — one digest-keyed window — and joined back onto the scan by
    * (digest, id); bodies never shuffle. */
  def keepBestPerContent(docs: DataFrame, idCol: String, textCol: String,
                         quality: Column): DataFrame = {
    val nullKey = lit("__null_text__")
    keepBestByKey(
      docs.withColumn("__ckey", coalesce(md5(col(textCol)), nullKey)),
      idCol, "__ckey", quality).drop("__ckey")
  }

  /** [[keepBestPerContent]] with a PRECOMPUTED content-group key (e.g. a
    * maintained digest column, or [[duplicateClusters]] labels for the
    * near-dup-aware variant). NULL keys form their own group. */
  def keepBestByKey(docs: DataFrame, idCol: String, keyCol: String,
                    quality: Column): DataFrame = {
    val narrow = docs.select(col(keyCol), col(idCol), quality.as("__q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(col("__q").desc, col(idCol))
    val winners = narrow
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(keyCol).as("__wk"), col(idCol).as("__wi"))
    // null-SAFE key equality: a NULL-key group's winner must keep its
    // row (a plain equi-join would silently drop the whole null group)
    docs.join(winners,
      col(keyCol) <=> col("__wk") && col(idCol) === col("__wi"),
      "left_semi")
  }

  /** LEAKAGE-FREE train/val split — the eval-integrity move: a document
    * and every EXACT duplicate of its content land on the SAME side of
    * the split, so a val example can never leak into train through a
    * re-crawled copy (the classic held-out-contamination hole a plain
    * per-doc random split leaves open). The split coin is flipped once
    * per CONTENT GROUP (md5 digest), keyed by the group's first-seen
    * representative (min id) through the deterministic [[TextOps
    * .md5Uniform]] — reproducible across runs, engines and partition
    * layouts. Near-dup-aware splitting is the same call over
    * [[duplicateClusters]] labels instead of digests (x33's table).
    *
    * Scale shape: one digest groupBy on (digest, id) — bodies never
    * shuffle — and one broadcast-ready rep join back; the split itself
    * is a scan-side filter. Output: every input row + its `rep` and
    * `split` ('train' | 'val'). */
  def leakFreeSplit(docs: DataFrame, idCol: String, textCol: String,
                    trainFrac: Double): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1,
      s"trainFrac must be in (0,1), got $trainFrac")
    // content groups = [[exactGroups]] (ONE definition of "same bytes"
    // for x1 and x66); the join key coalesces the NULL-text digest to a
    // sentinel so null-bodied rows form their own group instead of
    // silently vanishing through a null-unsafe equi-join
    val nullKey = lit("__null_text__")
    val reps = exactGroups(docs, idCol, textCol)
      .select(coalesce(col("digest"), nullKey).as("__digest"),
        col("keep_id").as("rep"))
    docs.withColumn("__digest", coalesce(md5(col(textCol)), nullKey))
      .join(reps, Seq("__digest"))
      .withColumn("split",
        when(TextOps.md5Uniform(col("rep")) < trainFrac, "train")
          .otherwise("val"))
      .drop("__digest")
  }

  /** ASYMMETRIC containment near-dup — the "small doc quoted inside a
    * big one" detector the symmetric MinHash family structurally misses:
    * containment C(A→B) = |S(A) ∩ S(B)| / |S(A)| stays 1.0 when A's
    * shingles all appear in a much larger B, while symmetric Jaccard
    * |A∩B|/|A∪B| → |A|/|B| → 0 (so x7/x19/x23's thresholds never fire).
    * The classic curation case: a license block, a syndicated article, a
    * benchmark prompt embedded verbatim in a longer crawl page.
    *
    * Candidates come from RARE shingles (corpus df ≤ `maxDf`): a
    * contained doc shares ALL its shingles with its container, so any
    * rare shingle of the contained side lights the pair — no all-pairs
    * comparison at any scale, and each rare shingle contributes at most
    * df²/2 ≤ maxDf²/2 pairs (the bucket-cap discipline; a doc NONE of
    * whose shingles are rare — pure boilerplate at corpus scale — is the
    * documented recall envelope, and is exactly what [[segmentDedup]] /
    * [[boilerplateRemove]] already handle). Exact containment is then
    * computed per candidate pair from the two docs' full shingle sets
    * (one candidate-sized join each side; bodies never shuffle — only
    * shingle arrays of candidate docs).
    *
    * Direction: the side with FEWER distinct shingles (ties → smaller
    * id) is reported as contained. Output:
    * (id_contained, id_container, containment ≥ `threshold`).
    *
    * Scale shape: one tokenize scan, one df groupBy on shingle text, one
    * bounded equi-join on rare shingles, one candidate-sized exact
    * recheck. The shingle table is referenced three times (df, join
    * legs, exact sets) — persisted for the call like
    * [[minHashCandidates]]'s signature table (ContextCleaner reclaims
    * when the plan is dropped). A caller holding the maintained
    * [[shingleSets]] artifact passes it as `prebuiltSets` and skips the
    * tokenize scan entirely (each body shingled once, at ingest). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, maxDf: Int = 20,
                       threshold: Double = 0.8,
                       prebuiltSets: Option[DataFrame] = None): DataFrame = {
    // materialized `toks` under the shingle lambda (the x26 HOF rule)
    val sets = prebuiltSets
      .getOrElse(shingleSets(docs, idCol, textCol, n)).persist()
    val posting = sets.select(col("__cid"), explode(col("__sh")).as("ng"))
    val rareNg = posting.groupBy("ng").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("ng")
    val rare = posting.join(rareNg, Seq("ng"))
    val cand = rare.select(col("ng"), col("__cid").as("id_a"))
      .join(rare.select(col("ng"), col("__cid").as("id_b")), Seq("ng"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    exactContainment(cand, sets, threshold)
  }

  /** Candidate-id sets at or below this size reach the stored set
    * table as a pushed-down filter (row-group pruning — past Spark's
    * in-filter threshold it degrades to a min/max range check, still
    * pruning an id-clustered write); larger ones use the plain join. */
  private val MaxSetPruneIds = 100000

  /** The exact-containment recheck shared by [[containmentPairs]] and
    * [[containmentAgainst]]: join the candidate pairs' full shingle
    * sets, direction = smaller set contained (ties → smaller id),
    * containment rounded to 6 dp and thresholded. Candidate-sized.
    *
    * `pruneSets` (the increment path): candidate ids are collected
    * (bounded by [[MaxSetPruneIds]]) and pushed into the set-table scan
    * — an increment's recheck then reads only the candidates' row
    * groups instead of every stored set. Off on the full-corpus path,
    * where candidates span the corpus and the collect buys nothing. */
  private def exactContainment(cand0: DataFrame, sets: DataFrame,
                               threshold: Double,
                               pruneSets: Boolean = false): DataFrame = {
    // persisted on the prune path: probed for the id collect and then
    // by both set joins (candidate-sized; ContextCleaner reclaims)
    val cand = if (pruneSets) cand0.persist() else cand0
    val pruned =
      if (pruneSets) {
        val ids = cand
          .select(explode(array(col("id_a"), col("id_b"))).as("__cid"))
          .distinct().limit(MaxSetPruneIds + 1).collect().map(_.get(0))
        if (ids.length <= MaxSetPruneIds)
          sets.filter(col("__cid").isInCollection(ids))
        else sets
      } else sets
    cand
      .join(pruned.select(col("__cid").as("id_a"), col("__sh").as("sh_a")),
        Seq("id_a"))
      .join(pruned.select(col("__cid").as("id_b"), col("__sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("__a_small",
        size(col("sh_a")) < size(col("sh_b")) ||
          (size(col("sh_a")) === size(col("sh_b")) &&
            col("id_a") < col("id_b")))
      .select(
        when(col("__a_small"), col("id_a")).otherwise(col("id_b"))
          .as("id_contained"),
        when(col("__a_small"), col("id_b")).otherwise(col("id_a"))
          .as("id_container"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Tokenize once into the (id, shingle-set) form both containment
    * entry points consume — and the FORM THE MAINTAINED INDEX STORES
    * ([[containmentAgainst]]): a doc's shingle set is derived from its
    * body exactly once, at ingest. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    docs.withColumn("__toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol).as("__cid"),
        TextOps.shingles(col("__toks"), n).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** INCREMENTAL containment — the increment-family member
    * (x36/x45/x49/v28) for [[containmentPairs]]: the corpus is
    * represented by its maintained SHINGLE-SET INDEX (`indexSets`:
    * (id, sh) — bodies of past increments are never re-tokenized) plus
    * its n-gram df table (`dfIndex`: (ng, ndocs) — the x55/st11
    * maintained artifact shape); the new batch tokenizes itself once
    * and pairs (a) batch × index and (b) batch × batch through RARE
    * shingles under the COMBINED df (index + batch — the
    * [[incrementalFingerprintDedup]] combined-occupancy lesson: capping
    * on either side alone admits buckets a full-corpus run would
    * drop). Exact containment then runs on the candidates' stored sets.
    *
    * Returns pairs where at least one side is a batch doc — exactly the
    * full-corpus [[containmentPairs]] output restricted to
    * batch-touching pairs (the oracle's claim). After the increment,
    * append `shingleSets(batch)` to the index and fold the batch's df
    * into the df table; increment N+1 again never touches increment
    * N's bodies.
    *
    * PER-INCREMENT COST IS O(batch), never O(index) (the r11 x70 seam,
    * both terms closed): (a) the combined-df merge is a LEFT join FROM
    * the batch's df — an index-only shingle is absent from the batch's
    * postings, so neither pair leg can ever emit it as a candidate
    * (both require the shingle in `bPost`), and enumerating the
    * index's whole df table per increment bought nothing; (b) index
    * candidate postings come from `indexPostings` when the caller
    * maintains the EXPLODED (\_\_cid, ng[, ngb]) table (the artifact
    * [[postingsOf]] mints and [[graft.streaming.StreamContainment]]
    * maintains) — a flat columnar read joined on the batch's rare
    * shingles, with an `ngb` partition column pruning the read to the
    * batch's rare-shingle buckets ([[postingsBucket]]); only a caller
    * that never materialized postings pays the per-increment explode
    * of every stored set (the legacy fallback). Batch ids must be
    * disjoint from index ids (a re-run already folded into the index
    * would self-pair at containment 1.0); the batch×index leg enforces
    * it structurally and [[graft.streaming.StreamContainment]]'s replay
    * guard enforces it at the store. */
  def containmentAgainst(indexSets: DataFrame, dfIndex: DataFrame,
                         batch: DataFrame, idCol: String, textCol: String,
                         n: Int = 5, maxDf: Int = 20,
                         threshold: Double = 0.8,
                         indexPostings: Option[DataFrame] = None): DataFrame = {
    val bSets = shingleSets(batch, idCol, textCol, n).persist()
    val bPost = bSets.select(col("__cid"), explode(col("__sh")).as("ng"))
    val bDf = bPost.groupBy("ng").agg(count(lit(1)).as("__nb"))
    // combined df: disjoint doc sets, so the merge is a plain sum —
    // from the BATCH side only (index-only shingles can't light a
    // pair). A plain left join would still SHUFFLE the whole index df
    // (Spark can't broadcast the outer side), so the index leg is an
    // inner join streamed against a BROADCAST of the batch's ≤maxDf
    // shingles: the index df is scanned once (two narrow columns, no
    // shuffle, no sort) and everything after is batch-sized. The
    // broadcast is O(batch distinct shingles) — the increment-family
    // contract that batches are bounded.
    val bRare = bDf.filter(col("__nb") <= maxDf)
    val matched = dfIndex.select(col("ng"), col("ndocs").as("__ni"))
      .join(broadcast(bRare.select("ng")), Seq("ng"))
    val rareNg = bRare.join(broadcast(matched), Seq("ng"), "left")
      .filter(col("__nb") + coalesce(col("__ni"), lit(0L)) <= maxDf)
      .select("ng").persist()
    val rb = bPost.join(rareNg, Seq("ng"))
    val ri = indexPostings match {
      case Some(p) =>
        // maintained exploded postings; prune to the batch's rare
        // buckets first when the table carries the ngb partition column
        // (a bounded ≤ PostingsBuckets driver collect — pure partition
        // metadata, no index data read outside the touched buckets)
        val pruned =
          if (p.columns.contains("ngb")) {
            val buckets = rareNg
              .select(postingsBucket(col("ng")).as("__b")).distinct()
              .collect().map(_.getLong(0))
            p.filter(col("ngb").isin(buckets: _*))
          } else p
        pruned.select(col("__cid"), col("ng")).join(rareNg, Seq("ng"))
      case None =>
        // legacy fallback: derive postings from the STORED sets (one
        // columnar explode — still never a body re-tokenize)
        indexSets.select(col("__cid"), explode(col("__sh")).as("ng"))
          .join(rareNg, Seq("ng"))
    }
    val bb = rb.select(col("ng"), col("__cid").as("id_a"))
      .join(rb.select(col("ng"), col("__cid").as("id_b")), Seq("ng"))
      .filter(col("id_a") < col("id_b"))
    // id disjointness enforced structurally: an id in BOTH the batch
    // and the index (a replayed increment) must not self-pair
    val bi = rb.select(col("ng"), col("__cid").as("__bid"))
      .join(ri.select(col("ng"), col("__cid").as("__iid")), Seq("ng"))
      .filter(col("__bid") =!= col("__iid"))
      .select(least(col("__bid"), col("__iid")).as("id_a"),
        greatest(col("__bid"), col("__iid")).as("id_b"))
    val cand = bb.select("id_a", "id_b")
      .unionByName(bi.select("id_a", "id_b")).distinct()
    // batch rows win the union so a replayed id reads its batch-side
    // set exactly once (sets are identical by the ingest contract)
    val allSets = bSets.unionByName(
      indexSets.join(bSets.select("__cid"), Seq("__cid"), "left_anti"))
    exactContainment(cand, allSets, threshold, pruneSets = true)
  }

  /** The containment detector's RECALL ENVELOPE, made observable
    * (VERDICT r11 #6): [[containmentPairs]]/[[containmentAgainst]] can
    * only light a pair through a RARE shingle (df ≤ maxDf), so a doc
    * NONE of whose shingles are rare — pure boilerplate at corpus
    * scale — can never appear in their output, silently. This query
    * counts that blind spot per run so an operator can SEE what
    * fraction of the corpus the detector can't see (and route it to
    * [[segmentDedup]]/[[boilerplateRemove]], the documented remedy).
    *
    * One row: n_docs (input), n_eligible (shingleable — ≥ n tokens,
    * ≥ 1 shingle), n_unshingled (too short: a different blind class),
    * n_covered (≥ 1 rare shingle — pairable), n_blind (all shingles
    * common), coverage (covered / eligible). Same scan shape as the
    * detector itself: one tokenize (or the prebuilt set artifact), one
    * df groupBy, one semi-join, three 1-row aggs. */
  def containmentCoverage(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, maxDf: Int = 20,
                          prebuiltSets: Option[DataFrame] = None): DataFrame = {
    val sets = prebuiltSets
      .getOrElse(shingleSets(docs, idCol, textCol, n)).persist()
    val posting = sets.select(col("__cid"), explode(col("__sh")).as("ng"))
    val rareNg = posting.groupBy("ng").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("ng")
    val covered = posting.join(rareNg, Seq("ng"))
      .select("__cid").distinct()
    docs.agg(count(lit(1)).as("n_docs"))
      // broadcast the 1-row aggregates explicitly: left to size
      // estimation the combine can plan a CartesianProduct when the
      // agg input's stats are opaque (cache/artifact mid-state) — the
      // hint pins the nested-loop-over-one-row form
      .crossJoin(broadcast(sets.agg(count(lit(1)).as("n_eligible"))))
      .crossJoin(broadcast(covered.agg(count(lit(1)).as("n_covered"))))
      .select(col("n_docs"), col("n_eligible"),
        (col("n_docs") - col("n_eligible")).as("n_unshingled"),
        col("n_covered"),
        (col("n_eligible") - col("n_covered")).as("n_blind"),
        round(col("n_covered").cast("double") /
          col("n_eligible").cast("double"), 6).as("coverage"))
  }

  /** Bucket count for the maintained exploded-postings layout (writer
    * and reader must agree — [[postingsBucket]]). */
  val PostingsBuckets = 64

  /** The ngb partition value for a shingle — pmod of a 64-bit hash, so
    * the batch's rare shingles map to a bounded bucket set and a
    * partitioned postings table prunes its read to those buckets. */
  def postingsBucket(ng: Column): Column =
    pmod(xxhash64(ng), lit(PostingsBuckets.toLong))

  /** Explode stored shingle sets into the maintained postings layout
    * (\_\_cid, ng, ngb) — the artifact [[containmentAgainst]] consumes
    * instead of re-exploding every set per increment. Write it
    * `partitionBy("ngb")` so bucket pruning is partition pruning. */
  def postingsOf(sets: DataFrame): DataFrame =
    sets.select(col("__cid"), explode(col("__sh")).as("ng"))
      .withColumn("ngb", postingsBucket(col("ng")))

  /** Segment-level exact dedup — the C4/RefinedWeb "line dedup" shape
    * adapted to untokenized text: chop each document into non-overlapping
    * `segTokens`-token segments, keep only the globally FIRST occurrence
    * of each distinct segment (ordered by doc id, then position), and
    * reassemble the survivors in document order. Kills boilerplate that
    * repeats across documents (headers, footers, license blocks) without
    * dropping whole docs; a document whose every segment was seen earlier
    * disappears entirely (mirrored by the oracle).
    *
    * Scale shape: one explode, one shuffle keyed by segment text (the
    * first-occurrence window — segments hash-partition evenly; the
    * celebrity-segment skew AQE handles), one groupBy on doc id to
    * reassemble. No pairwise comparisons; cost is linear in corpus token
    * count. Output: (idCol, text_dedup, n_kept). */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    // native fused windowing (r16, [[graft.functions.TokenWindows]]) —
    // the composable transform/slice/array_join chain was interpreted
    // per segment (TokenWindowsSpec parity)
    val toks = col("toks")
    val segs = graft.functions.TokenWindows.token_windows(
      toks, segTokens, segTokens)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy(idCol, "pos")
    docs.withColumn("toks", TextOps.tokens(col(textCol)))
      .select(col(idCol), posexplode(segs).as(Seq("pos", "seg")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          p => p.getField("seg")), " ").as("text_dedup"),
        count(lit(1)).as("n_kept"))
  }

  /** WITHIN-document repeated-segment removal — the crawl-artifact
    * cleanup (pagination echoes, duplicated paragraphs from template
    * rendering): inside each doc, keep only the FIRST occurrence of each
    * distinct `segTokens`-token segment. Complements [[segmentDedup]]
    * (cross-doc keep-first) and [[boilerplateRemove]] (cross-doc
    * doc-frequency cut) — this one never looks across documents at all.
    *
    * Scale shape: ZERO shuffles — the whole op is one per-row
    * `aggregate` HOF fold (append segment iff not already seen; the
    * fold's accumulator IS the in-order first-occurrence list); a
    * 100 TB corpus cleans itself in one scan. Per-doc cost is
    * O(segments · distinct) with segments = tokens/segTokens — ~200
    * for a 2048-token doc, trivial against the I/O. The fold form is
    * deliberate: a `filter(segs, (s, i) => array_position(segs, s) ==
    * i+1)` would reference `segs` INSIDE the lambda and re-evaluate
    * the whole segment transform per element (the Catalyst HOF
    * re-evaluation trap — NOTES.md); the fold references each derived
    * column exactly once. Output: (idCol, text_clean, n_kept,
    * n_removed) — every doc survives. */
  def intraDocDedup(docs: DataFrame, idCol: String, textCol: String,
                    segTokens: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val toks = col("toks")
    // native fused windowing (r16) — see [[segmentDedup]]
    val segs = graft.functions.TokenWindows.token_windows(
      toks, segTokens, segTokens)
    docs.withColumn("toks", TextOps.tokens(col(textCol)))
      .withColumn("segs", segs)
      // r16: the append-iff-unseen `aggregate` fold IS first-occurrence
      // distinct — array_distinct computes the identical list (byte
      // equality, first occurrence kept, and segment strings are never
      // null) without the fold's O(segments²) array-copy accumulator
      .withColumn("kept", array_distinct(col("segs")))
      .select(col(idCol),
        array_join(col("kept"), " ").as("text_clean"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("segs")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** BOILERPLATE removal by document frequency — the CCNet/RefinedWeb
    * complement to [[segmentDedup]]: instead of keeping each segment's
    * first occurrence, segments that appear in ≥ `minDf` DISTINCT
    * documents are boilerplate (nav bars, cookie banners, license
    * blocks) and are removed from EVERY document, including the first.
    * Singleton content is untouched; every input doc survives (possibly
    * with empty text), so downstream row accounting is stable.
    *
    * Scale shape: one segment explode + one distinct-doc-count groupBy
    * (shuffles (segment, id) pairs — bodies never shuffle whole), then
    * the boilerplate SET — heavy hitters only, small by construction —
    * broadcasts into a left-anti prune at the scan, and one groupBy on
    * doc id reassembles. If a pathological corpus made the df ≥ minDf
    * set huge, drop the `broadcast` hint and the same plan runs as a
    * shuffle anti-join. Output: (idCol, text_clean, n_kept, n_removed). */
  def boilerplateRemove(docs: DataFrame, idCol: String, textCol: String,
                        segTokens: Int, minDf: Int): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    require(minDf >= 2, s"minDf < 2 would remove everything, got $minDf")
    val toks = col("toks")
    val nSegs = (floor((size(toks) - 1) / segTokens) + 1).cast("long")
    // native fused windowing (r16) — see [[segmentDedup]]
    val segs = graft.functions.TokenWindows.token_windows(
      toks, segTokens, segTokens)
    val exploded = docs.withColumn("toks", TextOps.tokens(col(textCol)))
      .select(col(idCol), posexplode(segs).as(Seq("pos", "seg")))
    val bp = exploded.groupBy("seg")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf)
      .select("seg")
    val kept = exploded.join(broadcast(bp), Seq("seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          p => p.getField("seg")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    docs.withColumn("toks", TextOps.tokens(col(textCol)))
      .select(col(idCol), nSegs.as("n_segs"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  // ---- Bloom filter: broadcast seen-set membership without a shuffle ----

  /** 2^i masks as a literal lookup array — the Scala `shiftleft`/
    * `shiftright` APIs only take literal shift amounts, so bit tests
    * against a column-valued position go through `element_at` on this
    * table instead. Stays codegen'd. */
  private val pow2: Seq[Long] = Seq.tabulate(64)(i => 1L << i)

  /** Build a Bloom filter over the values of `key`: `numHashes`
    * xxhash64-seeded bit positions per value, OR-folded into a packed
    * `numBits/64`-word array. The build is one explode + one tiny
    * `bit_or` groupBy on word index (≤ numBits/64 groups) + a driver
    * collect of the non-zero words — the same collapse-and-broadcast
    * lifecycle as the IVF centroid pack ([[Similarity.assignTo]]).
    *
    * Sizing: fp ≈ (1 − e^(−k·n/m))^k; the defaults used by
    * [[segmentDecontam]] (m = 2^18 bits = 32 KB, k = 5) hold fp < 0.1%
    * up to n ≈ 15k distinct members. At 100 TB the benchmark/seen side
    * stays small (MBs of bits for 10^8 members at 10 bits/member), so
    * the array broadcasts to every executor for free compared to the
    * shuffle it replaces. */
  def bloomBuild(df: DataFrame, key: Column, numBits: Int,
                 numHashes: Int): Array[Long] = {
    require(numBits > 0 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64, got $numBits")
    require(numHashes > 0 && numHashes <= 16,
      s"numHashes must be in [1, 16], got $numHashes")
    val p2 = typedlit(pow2)
    val bitMasks = (0 until numHashes).map { i =>
      val h = pmod(xxhash64(lit(i), key), lit(numBits.toLong))
      struct((h / 64).cast("int").as("w"),
        element_at(p2, (h % 64).cast("int") + 1).as("m"))
    }
    val words = df.select(explode(array(bitMasks: _*)).as("bm"))
      .select(col("bm.w").as("w"), col("bm.m").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      .collect()
    val arr = new Array[Long](numBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership test against a [[bloomBuild]] array, as a pure built-in
    * (codegen'd) boolean column: AND over the k bit probes, each an
    * `element_at` into the packed-words literal masked via the pow2
    * table. False positives possible (bounded by the build sizing),
    * false negatives impossible — which is what makes it a safe
    * PREFILTER: rows the bloom rejects provably aren't in the set and
    * skip the exact-confirm join entirely. */
  def bloomMightContain(bits: Array[Long], numHashes: Int,
                        key: Column): Column = {
    val numBits = bits.length * 64L
    val bitsLit = typedlit(bits.toSeq)
    val p2 = typedlit(pow2)
    (0 until numHashes).map { i =>
      val h = pmod(xxhash64(lit(i), key), lit(numBits))
      bitsLit.getItem((h / 64).cast("int"))
        .bitwiseAND(element_at(p2, (h % 64).cast("int") + 1)) =!= 0L
    }.reduce(_ && _)
  }

  /** Segment-overlap DECONTAMINATION (the Lee et al. substring-overlap
    * contamination rule at [[segmentDedup]]'s segment granularity): a
    * training doc is contaminated iff it shares ANY `segTokens`-token
    * segment with the benchmark corpus; the clean train corpus is
    * returned. Segment definition is exactly [[segmentDedup]]'s
    * (non-overlapping windows of the whitespace tokens).
    *
    * Scale shape — the Bloom plan: the benchmark segment set collapses
    * into a broadcast bit array ([[bloomBuild]]); the train side's
    * exploded segments are prefiltered by [[bloomMightContain]] IN THE
    * SCAN STAGE, so only bloom hits (true overlaps + the fp ≈ 0.1%
    * residue) reach the exact-confirm semi-join. Without the bloom,
    * every train segment is shuffled into that join; with it, the join
    * input is ~|overlap| regardless of corpus size — the broadcast
    * runtime-filter pattern, spelled out. No false negatives ⇒ output
    * is hash-identical to the plain semi-join (BloomSpec proves it).
    *
    * `prebuilt`: pass a memoized [[bloomBuild]] array to amortize the
    * benchmark-side scan across repeated runs (the bench does). */
  def segmentDecontam(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, segTokens: Int,
                      bloomBits: Int = 1 << 18, bloomHashes: Int = 5,
                      prebuilt: Option[Array[Long]] = None): DataFrame = {
    val benchSegs = segmentsOf(bench, idCol, textCol, segTokens)
      .select("__seg").distinct()
    val bloom = prebuilt.getOrElse(
      bloomBuild(benchSegs, col("__seg"), bloomBits, bloomHashes))
    val contaminated = segmentsOf(train, idCol, textCol, segTokens)
      .filter(bloomMightContain(bloom, bloomHashes, col("__seg")))
      .join(benchSegs, Seq("__seg"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** One row per (doc, non-overlapping `segTokens`-token segment) —
    * the exploded form [[segmentDecontam]] matches on; same windowing
    * as [[segmentDedup]]. */
  private[graft] def segmentsOf(docs: DataFrame, idCol: String,
                                textCol: String, segTokens: Int): DataFrame = {
    val toks = col("__toks")
    // native fused windowing (r16) — see [[segmentDedup]]
    val segs = graft.functions.TokenWindows.token_windows(
      toks, segTokens, segTokens)
    docs.withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol), explode(segs).as("__seg"))
  }

  /** Transitive closure of candidate pairs → duplicate clusters: the step
    * every real dedup pipeline needs between pair generation
    * ([[minHashCandidates]], [[exactGroups]]-derived edges) and the final
    * "keep one per cluster" filter. A is a near-dup of B and B of C ⇒
    * {A, B, C} is one cluster even if (A, C) was never a candidate pair.
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each node starts labelled with its own id; every round each node
    * takes the min of (its label, its neighbours' labels, the label OF
    * its label). The third term is the pointer-doubling step: it halves
    * label-chain depth every round, so convergence is O(log diameter)
    * rounds, not O(diameter) — a 64-node chain closes in ~7 rounds where
    * plain neighbour-min needs 63 (DupClusterSpec pins this). Every round
    * is two equi-joins + one partial-aggregated groupBy, no driver-side
    * graph state; intermediate labels persisted, previous round
    * unpersisted.
    *
    * Input: one row per undirected candidate edge. Output: (id,
    * cluster_id) for every node that appears in at least one edge
    * (singletons never enter the pair stream — left-join the corpus if
    * they're needed). */
  /** Checkpoint-file location of a reliably-checkpointed DataFrame (the
    * LogicalRDD leaf the checkpoint() call produced), for eager cleanup. */
  private def checkpointFileOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.flatMap(_.getCheckpointFile)

  private def deleteCheckpoint(df: DataFrame, path: Option[String]): Unit =
    path.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(hp, true)
    }

  /** Exact connected components of a SMALL (metadata-sized) graph as ONE
    * single-task Spark job: the deduped directed edge list coalesces to
    * one partition and a classic union–find (path halving + union by
    * size, O(E·α)) labels every node with its component's MIN id — the
    * same canonical label the distributed loop's min-propagation
    * converges to, so the two paths are interchangeable (DupClusterSpec
    * pins them identical on random graphs).
    *
    * This runs on an EXECUTOR (mapPartitions), not the driver — no
    * collect. Primitive-array storage (id→dense-index map + int
    * parent/size arrays) keeps 8M nodes under ~400 MB. Only integral id
    * types are accepted; the caller routes everything else to the loop. */
  private def unionFindClusters(edges: DataFrame,
                                idType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    val spark = edges.sparkSession
    val rdd = edges.rdd.coalesce(1).mapPartitions { it =>
      val index = new java.util.HashMap[java.lang.Long, Integer]()
      var ids = new Array[Long](1024)
      var parent = new Array[Int](1024)
      var size = new Array[Int](1024)
      var n = 0
      def asLong(v: Any): Long = v match {
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case s: java.lang.Short   => s.longValue()
        case b: java.lang.Byte    => b.longValue()
        case other => throw new IllegalArgumentException(
          s"non-integral cluster id: $other")
      }
      def nodeOf(v: Long): Int = {
        val got = index.get(v)
        if (got != null) got.intValue()
        else {
          if (n == ids.length) {
            ids = java.util.Arrays.copyOf(ids, n * 2)
            parent = java.util.Arrays.copyOf(parent, n * 2)
            size = java.util.Arrays.copyOf(size, n * 2)
          }
          ids(n) = v; parent(n) = n; size(n) = 1
          index.put(v, n); n += 1; n - 1
        }
      }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      it.foreach { r =>
        val ra = find(nodeOf(asLong(r.get(0))))
        val rb = find(nodeOf(asLong(r.get(1))))
        if (ra != rb) {
          if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
          else { parent(ra) = rb; size(rb) += size(ra) }
        }
      }
      // canonical label = min id per component (union-by-size roots are
      // arbitrary; a second pass computes the min, exactly like the
      // loop's min-label fixpoint)
      val minOf = new java.util.HashMap[Integer, java.lang.Long]()
      var i = 0
      while (i < n) {
        val r = Integer.valueOf(find(i))
        val m = minOf.get(r)
        if (m == null || ids(i) < m.longValue())
          minOf.put(r, java.lang.Long.valueOf(ids(i)))
        i += 1
      }
      (0 until n).iterator.map { j =>
        org.apache.spark.sql.Row(ids(j), minOf.get(Integer.valueOf(find(j))).longValue())
      }
    }
    val longSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType)))
    val asLongDf = spark.createDataFrame(rdd, longSchema)
    if (idType == org.apache.spark.sql.types.LongType) asLongDf
    else asLongDf.select(col("id").cast(idType).as("id"),
      col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** `checkpointDir`: when set, each round's labels are RELIABLY
    * checkpointed there (HDFS/object store on a cluster) instead of
    * `localCheckpoint` — local checkpoint blocks live on executors and an
    * executor loss mid-loop kills the job; the reliable variant survives
    * it at the cost of a per-round write. Round N-1's checkpoint files
    * are deleted eagerly once round N is materialized (nothing reads them
    * again), so the dir holds at most two rounds of (id, label) pairs —
    * only the FINAL labels' files remain at return (DupClusterSpec
    * asserts this), and those fall to the ContextCleaner.
    *
    * `smallGraphMax`: graphs whose deduped DIRECTED edge list (2× the
    * undirected pairs) fits this row budget run as ONE single-task
    * union–find job ([[unionFindClusters]]) instead of the multi-round
    * distributed loop. The loop's per-round barriers (3 shuffles ×
    * O(log diameter) rounds, each at full shuffle parallelism) are pure
    * overhead on a metadata-sized graph — x56's CONTRACTED graph
    * (≤ 2·|batch edges| nodes by construction) was paying 94.6 task-sec
    * for work a single core does in milliseconds (VERDICT r9). The
    * default (4M directed rows ⇒ ≤ 8M nodes, ≲ 400 MB of primitive
    * arrays + id map) fits any reasonable executor; pass 0 to force the
    * distributed loop (big-graph path — DupClusterSpec pins both paths
    * identical). Non-integral id types always take the loop. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id1",
                        idB: String = "id2", maxIter: Int = 20,
                        checkpointDir: Option[String] = None,
                        smallGraphMax: Long = 4000000L): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count materializes the persist (the loop's first round paid this
    // anyway) and sizes the path choice; empty graphs return immediately —
    // an incremental batch whose edges all landed inside committed
    // components contracts to NOTHING, and the loop's fixed costs are
    // pure waste there (VERDICT r9 early-exit ask).
    val spark = pairs.sparkSession
    val idType = edges.schema("src").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster_id", idType)))
    val nEdges = edges.count()
    val integral = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (nEdges == 0L) {
      edges.unpersist()
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    if (integral && nEdges <= smallGraphMax) {
      val labels0 = unionFindClusters(edges, idType)
      // sever lineage + materialize before releasing the edge cache, so
      // downstream consumers (x56 reads the labels twice) never re-run
      // the union-find or re-shuffle the edges; reliable when a
      // checkpoint dir is given (same policy as the loop's rounds)
      val labels =
        if (checkpointDir.isDefined) labels0.checkpoint()
        else labels0.localCheckpoint(eager = true)
      edges.unpersist()
      return labels
    }
    // Checkpoint (not persist) on each round's labels: persist caches DATA
    // but keeps the full logical plan, and the self-join doubles that plan
    // every round — exponential planner blowup by ~iteration 12.
    // Checkpointing severs lineage so round N's plan is O(1).
    //
    // The default (local) path marks the checkpoint LAZILY and lets the
    // round's convergence aggregate materialize it — ONE job per round
    // instead of checkpoint-job + convergence-job. The reliable path
    // checkpoints eagerly (the write job is the reliability feature) and
    // its convergence check is then a cheap scan of the checkpoint files.
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(eager = false)
    var labels = truncate(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var prevCheckpoint = checkpointFileOf(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // min label among each node's neighbours
      val fromNeighbours = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nlabel"))
      // pointer jump: the label of my label (labels are always node ids,
      // so the inner join always hits)
      val jumped = labels
        .join(labels.select(col("id").as("__lid"), col("label").as("jlabel")),
          col("label") === col("__lid"))
        .select(col("id"), col("jlabel"))
      val next = truncate(labels
        .join(fromNeighbours, Seq("id"), "left")
        .join(jumped, Seq("id"))
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label")),
            col("jlabel")).as("label"),
          (coalesce(col("nlabel"), col("label")) < col("label") ||
            col("jlabel") < col("label")).as("__changed")))
      // full-scan aggregate (no limit short-circuit): computes every
      // partition, so the same job materializes the lazy checkpoint AND
      // answers convergence. NULL sum = empty input = nothing to relabel.
      val changed = next.agg(sum(col("__changed").cast("long"))).first()
      converged = changed.isNullAt(0) || changed.getLong(0) == 0L
      // round N is materialized; round N-1's reliable-checkpoint files
      // are unreachable from here on — reclaim them now
      deleteCheckpoint(next, prevCheckpoint)
      prevCheckpoint = checkpointFileOf(next)
      labels = next.drop("__changed")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds — labels " +
          "would be silently wrong; raise maxIter (rounds needed ~ " +
          "log2(component diameter) + 2)")
    edges.unpersist()
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** INCREMENTAL cluster maintenance — [[duplicateClusters]]'s
    * daily-increment form (the x36/x45/m6 pattern for the CLUSTER
    * table, closing the dedup lifecycle: signatures already extend
    * incrementally, now their transitive closure does too): the corpus
    * side is ONLY the maintained (id, cluster_id) assignment table, and
    * a batch of NEW candidate edges (within-batch + batch-vs-corpus)
    * merges in WITHOUT re-running connected components over the corpus
    * graph.
    *
    * Algorithm — component CONTRACTION: every committed component is
    * one node, represented by its root (= its min id, which is what
    * `cluster_id` holds). New edges map their endpoints to committed
    * roots (identity for unseen docs), self-loops drop (an edge inside
    * one committed component merges nothing), and the O(log diameter)
    * CC loop runs over that contracted graph ONLY — nodes ≤ 2·|new
    * edges|, never corpus-sized. Committed rows relabel through one
    * broadcast-sized join (old root → merged root; untouched components
    * pass through); unseen docs take their contracted label directly.
    * Contraction is exact: committed components are closed equivalence
    * classes and each root is its component's min, so the merged root
    * is the true min of the merged component — the result equals
    * [[duplicateClusters]] over the full edge union (spec-pinned, and
    * x56's DuckDB oracle proves it on real data). Idempotent: replayed
    * edges contract to self-loops and change nothing. */
  def incrementalClusters(assigned: DataFrame, newPairs: DataFrame,
                          idA: String = "id1", idB: String = "id2",
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val m = assigned.select(col("id"), col("cluster_id"))
    val (newRows, rootDelta) = incrementalClusterParts(assigned, newPairs,
      idA, idB, maxIter, checkpointDir)
    val relabeled = m
      .join(rootDelta.select(col("old_root").as("cluster_id"),
        col("new_root").as("__new_root")), Seq("cluster_id"), "left")
      .select(col("id"),
        coalesce(col("__new_root"), col("cluster_id")).as("cluster_id"))
    relabeled.unionByName(newRows)
  }

  /** The two DELTAS a batch of new edges induces on a maintained
    * cluster table, without touching committed rows — the storage-side
    * split of [[incrementalClusters]] (the [[graft.streaming
    * .StreamClusters]] sink applies them as a partition append + a
    * metadata-overlay rewrite instead of a full-table relabel):
    *
    *   - `newMembers` — (id, cluster_id) rows for ids NOT in `assigned`
    *     (their root is already final for this batch);
    *   - `rootDelta` — (old_root, new_root) rows for every COMMITTED
    *     root whose component merged into a smaller one — the
    *     broadcast-sized relabel map. Identity rows are excluded;
    *     values are final merged roots (the contracted CC loop is
    *     complete, so one-step resolution holds).
    *
    * `incrementalClusters(assigned, pairs) ≡ assigned relabeled through
    * rootDelta ∪ newMembers` — spec-pinned (IncrementalClusterSpec). */
  def incrementalClusterParts(assigned: DataFrame, newPairs: DataFrame,
                              idA: String = "id1", idB: String = "id2",
                              maxIter: Int = 20,
                              checkpointDir: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val m = assigned.select(col("id"), col("cluster_id"))
    val rootEdges = newPairs
      .select(col(idA).as("__a"), col(idB).as("__b"))
      .join(m.select(col("id").as("__a"), col("cluster_id").as("__ra")),
        Seq("__a"), "left")
      .join(m.select(col("id").as("__b"), col("cluster_id").as("__rb")),
        Seq("__b"), "left")
      .select(coalesce(col("__ra"), col("__a")).as("id1"),
        coalesce(col("__rb"), col("__b")).as("id2"))
      .filter(col("id1") =!= col("id2"))
    val rootCc = duplicateClusters(rootEdges, "id1", "id2", maxIter,
      checkpointDir)
    val newMembers = rootCc.join(m.select("id"), Seq("id"), "left_anti")
    // committed roots are m.cluster_id values; a rootCc node that IS one
    // and maps to a different (smaller) root is a merge to record
    val rootDelta = rootCc
      .join(m.select(col("cluster_id").as("id")).distinct(), Seq("id"))
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as("old_root"), col("cluster_id").as("new_root"))
    (newMembers, rootDelta)
  }

  /** SimHash near-dup pairs — completes the SimHash pipeline the way
    * [[minHashCandidates]] completes MinHash: fingerprints sharing any
    * (64/bands)-bit band are candidates (ONE equi-join on
    * (band, band_val)), and exact Hamming distance (`bit_count(xor)`,
    * codegen) verifies.
    *
    * By pigeonhole, two 64-bit fingerprints within Hamming distance
    * `bands - 1` differ in fewer bands than exist, so at least one band
    * matches — candidate RECALL IS EXACT (100%) for
    * maxHamming ≤ bands − 1 (spec-pinned at the default bands = 4 /
    * maxHamming ≤ 3). Raising `bands` is the exactness upgrade path:
    * 8 bands of 8 bits are pigeonhole-exact to Hamming 7 (spec-pinned
    * too) — at the cost of 2^(64/bands)-ary buckets, whose occupancy
    * (and with it the self-join) grows with corpus size exactly as in
    * [[Similarity.suggestedPlanes]]'s cap analysis; past that, recall
    * beyond the pigeonhole bound needs multi-probe/rotation schemes.
    *
    * MEASURED heuristic-regime recall (driver fixture, sf0.01, 500 docs,
    * default bands = 4, maxHamming = 16 — SimHashSpec pins the shape):
    * Hamming 0-3 → 1.000 (pigeonhole), 4-8 → 0.388, 9-12 → 0.106,
    * 13-16 → 0.024; overall 0.052. The banded join is a CANDIDATE
    * generator tuned for near-duplicates — treat distances past
    * ~2·(bands−1) as "surfaces the closest pairs", not "finds all pairs".
    *
    * `maxBucketSize` drops degenerate bands (all-identical boilerplate
    * fingerprints) before the self-join, like every bucketed join here. */
  def simHashPairs(docs: DataFrame, idCol: String, tokensCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = 10000, bands: Int = 4): DataFrame =
    fingerprintPairs(simHash(docs, idCol, tokensCol, "fp"), idCol, "fp",
      maxHamming, maxBucketSize, bands)

  /** Banded-Hamming pairing over an ARBITRARY 64-bit fingerprint column —
    * the candidate kernel [[simHashPairs]] is built on, extracted so any
    * 64-bit locality hash rides the same scale shape (the multimodal
    * perceptual hash `m5` is the second consumer): fingerprints split
    * into `bands` equi-join buckets, pairs sharing a band recheck exact
    * Hamming. All guarantees of the simHash doc above (pigeonhole-exact
    * recall ≤ bands − 1, bucket cap, no O(n²)) are properties of THIS
    * kernel and carry over to every fingerprint family. */
  def fingerprintPairs(fp0: DataFrame, idCol: String, fpCol: String,
                       maxHamming: Int = 3,
                       maxBucketSize: Int = 10000, bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands ($bands) must be >= 2 and divide 64")
    val fp = fp0.select(col(idCol), col(fpCol).as("fp"))
    val banded = fpBands(fp, idCol, bands)
      .withColumn("__bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_val")))
      .filter(col("__bucket_n") <= maxBucketSize)
      .drop("__bucket_n")
    val pairs = banded.select(col(idCol).as("id1"), col("band"), col("band_val"))
      .join(banded.select(col(idCol).as("id2"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    pairs
      .join(fp.select(col(idCol).as("id1"), col("fp").as("fp1")), "id1")
      .join(fp.select(col(idCol).as("id2"), col("fp").as("fp2")), "id2")
      .withColumn("hamming",
        bit_count(col("fp1").bitwiseXOR(col("fp2"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** One banded row per (id, band): the band-split both fingerprint
    * kernels join on. */
  private def fpBands(fp: DataFrame, idCol: String, bands: Int): DataFrame = {
    val w = 64 / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), b * w).bitwiseAND(lit((1L << w) - 1)).as("band_val"))
    }
    fp.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_val"))
  }

  /** TWO-SIDED banded-Hamming candidates — [[fingerprintPairs]]'s kernel
    * with the self-join split into (batch × index): candidates come from
    * band equi-joins of the SMALL batch side against the maintained
    * index side, so an incremental pass pays batch-sized join cost, not
    * the corpus-sized self-join. Same guarantees (pigeonhole-exact
    * recall to Hamming ≤ bands − 1, no O(n²)); the bucket cap is the
    * COMBINED (a + b) occupancy per (band, value) — two tiny aggs on
    * band keys, the cap [[probePairs]] puts on index hits — so a
    * degenerate boilerplate bucket is dropped no matter which side its
    * mass sits on. Returns (id_a from `fpA`, id_b from `fpB`, hamming). */
  def fingerprintPairsAgainst(fpA: DataFrame, fpB: DataFrame, idCol: String,
                              fpCol: String, maxHamming: Int = 3,
                              maxBucketSize: Int = 10000,
                              bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands ($bands) must be >= 2 and divide 64")
    val a = fpA.select(col(idCol), col(fpCol).as("fp"))
    val b = fpB.select(col(idCol), col(fpCol).as("fp"))
    val bA = fpBands(a, idCol, bands)
    val bB = fpBands(b, idCol, bands)
    val cA = bA.groupBy("band", "band_val").agg(count(lit(1)).as("na"))
    val cB = bB.groupBy("band", "band_val").agg(count(lit(1)).as("nb"))
    val keep = cA.join(cB, Seq("band", "band_val"))
      .filter(col("na") + col("nb") <= maxBucketSize)
      .select("band", "band_val")
    bA.select(col(idCol).as("id_a"), col("band"), col("band_val"))
      .join(keep, Seq("band", "band_val"))
      .join(bB.select(col(idCol).as("id_b"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .select("id_a", "id_b").distinct()
      .join(a.select(col(idCol).as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(b.select(col(idCol).as("id_b"), col("fp").as("fp_b")), "id_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** INCREMENTAL fingerprint dedup ([[incrementalNearDup]]'s shape for
    * 64-bit perceptual/SimHash fingerprints): the corpus side is ONLY
    * its maintained (id, fingerprint) index — bodies are never decoded
    * or rescanned — and a batch survives iff it is within `maxHamming`
    * of neither an index fingerprint nor an earlier (smaller-id) batch
    * fingerprint — both candidate legs run the banded kernel under ONE
    * keep-set capped on the COMBINED (batch + index) bucket occupancy,
    * so the cap discipline matches a full-scan [[fingerprintPairs]]
    * over index ∪ batch exactly (a straddling degenerate bucket drops
    * the same candidates either way). Returns the surviving
    * (id, fingerprint) rows —
    * exactly what the caller appends to the index, so a re-crawl pays
    * batch cost, not corpus cost (m6's contract; the media decode
    * happens once per NEW byte payload, ever). */
  def incrementalFingerprintDedup(indexFp: DataFrame, batchFp: DataFrame,
                                  idCol: String, fpCol: String,
                                  maxHamming: Int = 3,
                                  maxBucketSize: Int = 10000,
                                  bands: Int = 4): DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands ($bands) must be >= 2 and divide 64")
    val a = batchFp.select(col(idCol), col(fpCol).as("fp"))
    val b = indexFp.select(col(idCol), col(fpCol).as("fp"))
    val bA = fpBands(a, idCol, bands)
    val bB = fpBands(b, idCol, bands)
    val cA = bA.groupBy("band", "band_val").agg(count(lit(1)).as("na"))
    val cB = bB.groupBy("band", "band_val").agg(count(lit(1)).as("nb"))
    // ONE keep-set from the COMBINED (batch + index) occupancy caps BOTH
    // legs (ADVICE r9): the full-scan form — fingerprintPairs over
    // index ∪ batch — sees one bucket mass per (band, value), so the
    // incremental split must cap on that same number; a degenerate
    // bucket whose mass straddles the two sides would otherwise drop
    // different candidates here than the scan would (the batch-only
    // count could sit under the cap while the union count is over it).
    // Left join: a batch bucket with no index mass still self-joins.
    val keep = cA.join(cB, Seq("band", "band_val"), "left")
      .filter(col("na") + coalesce(col("nb"), lit(0L)) <= maxBucketSize)
      .select("band", "band_val")
    val keptA = bA.join(keep, Seq("band", "band_val"))
    val vsIndex = keptA.select(col(idCol).as("id_a"), col("band"),
        col("band_val"))
      .join(bB.select(col(idCol).as("id_b"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .select("id_a", "id_b").distinct()
      .join(a.select(col(idCol).as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(b.select(col(idCol).as("id_b"), col("fp").as("fp_b")), "id_b")
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int")
        <= maxHamming)
      .select(col("id_a").as(idCol))
    val laterTwins = keptA.select(col(idCol).as("id1"), col("band"),
        col("band_val"))
      .join(keptA.select(col(idCol).as("id2"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
      .join(a.select(col(idCol).as("id1"), col("fp").as("fp1")), "id1")
      .join(a.select(col(idCol).as("id2"), col("fp").as("fp2")), "id2")
      .filter(bit_count(col("fp1").bitwiseXOR(col("fp2"))).cast("int")
        <= maxHamming)
      .select(col("id2").as(idCol)) // id1 < id2: the earlier twin wins
    batchFp.join(vsIndex.union(laterTwins).distinct(), Seq(idCol),
      "left_anti")
  }

  /** 64-bit SimHash over a token array: per-token xxhash64, then for each
    * of 64 bits a majority vote (+1 if the bit is set, −1 otherwise; bit
    * set in the fingerprint iff the vote is positive).
    *
    * Shape: explode → codegen'd hash aggregate of 64 arithmetic sums,
    * keyed by `idCol`. NOT an array fold: higher-order functions
    * (`aggregate`/`transform`) are CodegenFallback — 64 interpreted folds
    * per row measured ~1 ms/doc, ~50× the cost of this form. The explode
    * multiplies rows but every expression stays inside whole-stage
    * codegen, and map-side partial aggregation collapses each doc back to
    * one 64-counter buffer before the (tiny) shuffle.
    *
    * Returns (idCol, outCol) — join back on `idCol` if other columns are
    * needed. Empty/missing token arrays get fingerprint 0. */
  def simHash(docs: DataFrame, idCol: String, tokensCol: String,
              outCol: String): DataFrame = {
    // explode_outer keeps empty/null-token docs as one null row — their
    // vote is pinned to 0 (xxhash64(null) returns the SEED, not null, so
    // an unguarded sum would fingerprint empty docs as hash(seed))
    val exploded = docs
      .select(col(idCol), explode_outer(col(tokensCol)).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val bitSums = (0 until 64).map { bit =>
      sum(when(col("__t").isNull, lit(0L))
        .otherwise(shiftright(col("__h"), bit).bitwiseAND(lit(1L)) * 2 - 1))
        .as(s"__b$bit")
    }
    val voted = exploded.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { bit =>
      when(col(s"__b$bit") > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    voted.select(col(idCol), fp.as(outCol))
  }
}
