package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ext.TextOps

/** Streaming corpus curation — "curate a firehose": the x21 composite
  * quality filter and the st3 first-seen exact dedup composed into one
  * pipeline that runs identically over a batch corpus and a
  * `readStream`/`MemoryStream` micro-batched one (the §2.10 batch≡stream
  * portability story, applied to the LLM-data ops).
  *
  * The quality verdict is the ROW-SHAPED form of x21's predicate: the
  * repetition signals come from per-row array expressions over the token
  * array instead of x21's explode + two groupBys — algebraically the same
  * numbers (StreamCurationSpec asserts set equality against the aggregate
  * form on the fixture), and stateless-per-row means the filter needs no
  * streaming aggregation state: the only state in the pipeline is the
  * dedup's one marker per distinct digest.
  *
  * Scale note: the row-shaped `maxn` is O(distinct·total) per document
  * versus the aggregate form's O(total) — right for a streaming filter
  * (documents are bounded, state-free beats a shuffled agg per
  * micro-batch), while the batch x21 keeps the partial-agg explode that
  * wins on a 100 TB scan.
  */
object StreamCurate extends ManagedSink {

  /** x21's keep/drop verdict as one per-row boolean column.
    * Signals: composite quality score ≥ 0.5, repeat_ratio ≤ 0.8,
    * top-token share ≤ 0.3, length floor n_chars ≥ 50. */
  def qualityOk(text: Column, nChars: Column, stops: Seq[String]): Column = {
    val toks = TextOps.tokens(text)
    val total = size(toks).cast("double")
    val nd = size(array_distinct(toks)).cast("double")
    val maxn = array_max(transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))).cast("double")
    TextOps.qualityScore(text, stops) >= 0.5 &&
      (lit(1.0) - nd / total) <= 0.8 &&
      (maxn / total) <= 0.3 && nChars >= 50
  }

  /** The curation pipeline over a (doc_id, text, n_chars) frame — batch
    * or streaming: quality-filter, digest, emit only each digest's first
    * arrival. On a streaming input this is the online curator (update
    * output mode, one state marker per distinct surviving digest); on a
    * batch input `flatMapGroupsWithState` degenerates to one stateless
    * group pass and the result is the batch keep-min form. */
  def curate(docs: DataFrame, stops: Seq[String]): Dataset[KeptDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    StreamDedup.streamKeepFirst(
      docs.filter(qualityOk(col("text"), col("n_chars"), stops))
        .select(col("doc_id"), md5(col("text")).as("digest"))
        .as[DocEvent])
  }

  // ---------------------------------------------------------------------
  // ON-DISK streamed curation: the x53 nightly-ingest chain as a
  // foreachBatch sink with manifest-committed state — the curation
  // family's member of the maintained-artifact streaming set (st6/st7
  // sparse index, st8 dense index, st9 curated corpus).

  /** Byte budget for an inlined isin literal list (a guard on top of
    * the key-count cap: even the id column could be a wide string). */
  private val maxPushdownBytes = 8L << 20

  private def seenDir(dir: String) = s"$dir/seen"
  private def corpusDir(dir: String) = s"$dir/corpus"
  private def digestMapDir(dir: String) = s"$dir/digestmap"
  private def fpDir(dir: String) = s"$dir/fpstate"
  private def fpShardDir(dir: String) = s"$dir/fpshard"
  private def binsDir(dir: String) = s"$dir/bins"

  /** Every state family expires with history; the id ledger is the
    * families ids are minted in — seen, corpus and tombstones (the
    * digest-map, fingerprint and bins partitions reuse their batch's
    * id). */
  protected def vacuumFamilies(dir: String): Seq[(String, String)] = Seq(
    corpusDir(dir) -> "batch_id=", seenDir(dir) -> "batch_id=",
    digestMapDir(dir) -> "batch_id=", fpDir(dir) -> "batch_id=",
    fpShardDir(dir) -> "batch_id=", binsDir(dir) -> "batch_id=",
    tombDir(dir) -> "ts_id=")
  protected def ledgerFamilies(dir: String): Seq[(String, String)] = Seq(
    seenDir(dir) -> "batch_id=", corpusDir(dir) -> "batch_id=",
    tombDir(dir) -> "ts_id=")

  /** Bin count of the PER-SHARD fingerprint partials
    * ([[fingerprintShardState]]): 1024 fixed bins over the same
    * `md5U(doc_id)` draw as [[graft.ext.TextOps.trainingShards]]. A
    * power of two, so any power-of-two `nShards ≤ 1024` folds EXACTLY:
    * shard = ⌊u·n⌋ = ⌊bin/(B/n)⌋ holds bit-for-bit in double
    * arithmetic because scaling by 2^t is exact (fl(u·B) = fl(u·n)·2^t
    * — the rounding error scales with the value). */
  val FpShardBins = 1024

  /** The per-row 60-bit hash under the MAINTAINED fingerprint state
    * ([[fingerprintState]]) — [[graft.ext.TextOps.corpusFingerprint]]'s
    * row hash (per-column md5, no concatenation ambiguity, NULL-safe)
    * over the payload columns in SORTED-NAME order (the order must be
    * a pure function of the schema: append partials, delete partials
    * and the compaction base all have to hash the same row
    * identically). */
  private def fpRowHash(payload: Seq[String]): Column =
    graft.ext.TextOps.fingerprintHash(payload.sorted)

  /** One signed fingerprint partial over `df`: (n·sign, XOR of row
    * hashes). XOR is its own inverse, so a delete's partial is just
    * another row in the fold; `sign = -1` keeps the COUNT honest too. */
  private def fpPartial(df: DataFrame, sign: Int): DataFrame = {
    val payload = df.columns.filterNot(_ == "batch_id").toSeq
    df.agg((count(lit(1)) * sign).as("n"),
      bit_xor(fpRowHash(payload)).as("fp"))
  }

  /** One signed PER-BIN fingerprint partial over `df` — the
    * [[fpPartial]] row keyed by the [[FpShardBins]]-way training-shard
    * draw of `doc_id` (the sink's id contract): (bin, n·sign, xor).
    * ≤1024 metadata rows per commit; the batch-level partial FOLDS
    * from it (sum/xor are associative), so both states cost ONE pass
    * over the just-written partition. Zero rows for an empty frame —
    * coverage is the partial FILE's presence, never a row. */
  private def fpShardPartial(df: DataFrame, sign: Int): DataFrame = {
    require(df.columns.contains("doc_id"),
      "the curate sink's per-shard partials bin on doc_id (the " +
        s"appendBatch contract); got schema ${df.columns.mkString(", ")}")
    val payload = df.columns.filterNot(_ == "batch_id").toSeq
    df.withColumn("__bin",
        floor(graft.ext.TextOps.md5Uniform(col("doc_id")) * FpShardBins)
          .cast("int"))
      .groupBy(col("__bin").as("bin"))
      .agg((count(lit(1)) * sign).as("n"),
        bit_xor(fpRowHash(payload)).as("fp"))
  }

  /** The zero-row per-bin partial an empty commit writes (schema-only
    * parquet: the file proves coverage, the fold sees no rows). */
  private def emptyFpShard(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0).select(lit(0).as("bin"), lit(0L).as("n"), lit(0L).as("fp"))

  /** Write the per-bin partial AND fold the batch-level (n, fp) partial
    * from it — one source pass, two maintained families in the same
    * flip. Returns nothing; both partitions are staged directly. */
  private def writeFpPartials(src: Option[DataFrame],
                              s: org.apache.spark.sql.SparkSession,
                              dir: String, id: Int, sign: Int): Unit = {
    val perBin = src.map(fpShardPartial(_, sign))
      .getOrElse(emptyFpShard(s)).persist()
    try {
      perBin.count()
      perBin.select(col("bin"), col("n"), col("fp"))
        .coalesce(1) // direct partition write — no shared-root staging
        .write.mode("overwrite")
        .parquet(s"${fpShardDir(dir)}/batch_id=$id")
      // the batch partial folds from the bins: sum/xor associativity
      // makes it bit-identical to [[fpPartial]] over the same rows
      // (empty source ⇒ the (0, NULL) identity row, as before)
      perBin.agg(coalesce(sum("n"), lit(0L)).as("n"),
          bit_xor(col("fp")).as("fp"))
        .select(col("n"), col("fp"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${fpDir(dir)}/batch_id=$id")
    } finally perBin.unpersist()
  }

  /** A pre-family tombstone id has neither a corpus nor a seen
    * partition ([[ManagedSink.families]]; the r10 fix there also stops
    * a losing compaction's stranded `batch_id=` orphan serving under a
    * live tombstone id, duplicating every corpus row). */
  override protected def dataFamilies(dir: String): Seq[(String, String)] =
    Seq(corpusDir(dir) -> "batch_id=", seenDir(dir) -> "batch_id=")

  /** Live tombstone masks as of a generation: each partition read
    * SEPARATELY, one single-column frame per distinct key-column name.
    * Two deletes with different `idCol`s write different schemas; a
    * merged read would silently resolve to one of them and RESURRECT
    * the other's deleted keys (ADVICE r10, low) — per-partition reads
    * (takedown-sized frames) make mixed schemas structurally safe. */
  private def tombstoneMasks(s: org.apache.spark.sql.SparkSession,
                             dir: String, asOfGen: Option[Int])
      : Seq[DataFrame] =
    familiesAt(s, dir, asOfGen)
      .map { case (_, tombs) => maskFrames(s, dir, tombs) }
      .getOrElse(Nil)

  /** Mask frames for an EXPLICIT tombstone-id set (one frame per
    * distinct key-column name — the mixed-idCol discipline above);
    * [[diffSnapshots]] feeds it the tombstone DELTA between two
    * generations. */
  private def maskFrames(s: org.apache.spark.sql.SparkSession,
                         dir: String, tombs: Set[Int]): Seq[DataFrame] = {
    val fs = fsOf(s, tombDir(dir))
    val frames = tombs.toSeq.sorted
      .map(id => s"${tombDir(dir)}/ts_id=$id")
      .filter(p => Manifest.hasDataFiles(fs,
        new org.apache.hadoop.fs.Path(p)))
      .map(p => s.read.parquet(p))
    frames.groupBy(_.columns.head).map { case (_, fs) =>
      fs.reduce(_ unionByName _)
    }.toSeq
  }

  /** TAKEDOWN on the curated corpus — the [[StreamBm25.deleteDocs]]
    * pattern on the sink that holds the actual BODIES (where a
    * right-to-be-forgotten request lands): `ids` become a tombstone
    * partition committed in the SAME live set as the corpus batches
    * (one commit point — no resurrect window), the serve masks them
    * immediately ([[loadAt]] anti-joins), and [[compact]] physically
    * reclaims. The SEEN digest index is deliberately untouched: a
    * re-crawl of a taken-down document carries the same digest and the
    * processed-set guard keeps it from re-entering the corpus — the
    * takedown point, structurally. Scoped to currently-served keys
    * (unknown/already-deleted ids no-op; an empty effective set commits
    * no generation); CAS like every maintainer. */
  def deleteCurated(s: org.apache.spark.sql.SparkSession, dir: String,
                    ids: DataFrame, idCol: String = "doc_id"): Unit = {
    // commit-base generation BEFORE the corpus snapshot (the
    // StreamBm25.deleteDocs ordering): a concurrent append between the
    // reads fails our CAS instead of slipping its key past the scope
    val st = Manifest.readLiveWithGen(s, dir)
    val corpus = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no curated state at $dir"))
    val live = st.map(_._2).getOrElse(Manifest.Live(
      partitionIds(s, seenDir(dir)) ++ partitionIds(s, corpusDir(dir)),
      Set.empty))
    val del = ids.select(col(idCol)).distinct()
      .join(corpus.select(idCol), Seq(idCol), "left_semi")
      .persist()
    try {
      if (del.count() == 0) return
      val tsId = nextCompactId(s, dir) // claimed — uniquely ours
      del.coalesce(1) // takedown-sized, not corpus-sized
        .write.mode("overwrite").parquet(s"${tombDir(dir)}/ts_id=$tsId")
      // NEGATIVE fingerprint partials ([[fingerprintState]] +
      // [[fingerprintShardState]]): the rows this delete removes from
      // the serve, XORed out and counted out — per-bin and batch-level
      // in one pass, committed in the SAME flip as the tombstone,
      // keyed by its id (cleared together at compaction, reclaimed
      // together at vacuum)
      writeFpPartials(Some(corpus.join(del, Seq(idCol), "left_semi")
        .drop("batch_id")), s, dir, tsId, sign = -1)
      // a lost CAS reclaims the staged tombstone AND its fingerprint
      // partials; the retry re-scopes fresh
      commitStaged(s, dir, live.copy(tombs = live.tombs + tsId),
        basedOn = st.map(_._1).getOrElse(-1), staged = Seq(
          s"${tombDir(dir)}/ts_id=$tsId", s"${fpDir(dir)}/batch_id=$tsId",
          s"${fpShardDir(dir)}/batch_id=$tsId"))
    } finally del.unpersist()
  }

  /** Fold the whole curated state into single base partitions (negative
    * namespace): the masked corpus view and the seen-digest index each
    * rewrite as one `batch_id=<into>` partition and the tombstones drop
    * out of the live set in the same flip — PHYSICAL reclaim of every
    * taken-down body. The seen index rides through, so the re-crawl
    * guard survives compaction (the st11 invariant). Folded partitions
    * stay as time-travel history until [[vacuum]].
    *
    * `clusterBins` > 1 writes the corpus base SHARD-CLUSTERED (VERDICT
    * r14 #1): sub-partitioned by `cb = ⌊md5U(doc_id)·clusterBins⌋` —
    * the same uniform draw as [[graft.ext.TextOps.trainingShards]] and
    * the [[fingerprintShardState]] bins — so a later
    * [[graft.streaming.Release.publishDelta]] state-tier content read
    * PARTITION-PRUNES to the touched shards' cluster dirs instead of
    * scanning the whole base (the r14 verdict's one remaining
    * O(corpus) read behind an O(diff) decision). Must be a power of
    * two dividing [[FpShardBins]] (the exact-fold argument on
    * [[fingerprintShardState]]); the granularity trades pruning
    * factor (up to `clusterBins`×) against base file count. Serve
    * reads are layout-transparent ([[loadAt]] unions clustered and
    * flat partitions), so 1 (flat, the default) and any mix of folded
    * generations interoperate. */
  def compact(s: org.apache.spark.sql.SparkSession, dir: String,
              into: Int, clusterBins: Int = 1): Unit = {
    requireFreshMergedId(s, dir, into)
    require(clusterBins >= 1 &&
      (clusterBins == 1 || FpShardBins % clusterBins == 0),
      s"clusterBins must be 1 (flat) or a power of two dividing " +
        s"$FpShardBins, got $clusterBins")
    val st = Manifest.readWithGen(s, dir)
    val corpus = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no curated state at $dir"))
    val seenD = seen(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no seen state at $dir"))
    if (clusterBins > 1) {
      require(corpus.columns.contains("doc_id"),
        "shard-clustered compaction bins on doc_id (the appendBatch " +
          s"contract); got schema ${corpus.columns.mkString(", ")}")
      require(!corpus.columns.contains("cb"),
        "'cb' is the reserved cluster-partition column — a payload " +
          "column of that name cannot ride a clustered base")
      corpus.drop("batch_id")
        .withColumn("cb",
          floor(graft.ext.TextOps.md5Uniform(col("doc_id")) * clusterBins)
            .cast("int"))
        .repartition(clusterBins, col("cb"))
        .write.mode("overwrite").partitionBy("cb")
        .parquet(s"${corpusDir(dir)}/batch_id=$into")
      // the granularity marker readers prune by ([[clusterBinsOf]]):
      // an underscore name, so Spark's data-file listing ignores it
      val out = fsOf(s, dir).create(new org.apache.hadoop.fs.Path(
        s"${corpusDir(dir)}/batch_id=$into/_clusterbins"), true)
      try out.write(clusterBins.toString.getBytes("UTF-8"))
      finally out.close()
    } else corpus.drop("batch_id").write.mode("overwrite")
      .parquet(s"${corpusDir(dir)}/batch_id=$into")
    seenD.drop("batch_id").write.mode("overwrite")
      .parquet(s"${seenDir(dir)}/batch_id=$into")
    // the content-address map rides through like the seen index (absent
    // on dirs whose batches all predate it)
    digestMap(s, dir).foreach(_.drop("batch_id").write.mode("overwrite")
      .parquet(s"${digestMapDir(dir)}/batch_id=$into"))
    // fresh EXACT fingerprint bases ([[fingerprintState]] +
    // [[fingerprintShardState]]) computed from the folded corpus
    // itself (not from the partials) — this is also the migration
    // path: a dir with pre-upgrade batches becomes incrementally
    // fingerprintable (batch-level AND per-shard) at its first fold
    writeFpPartials(Some(corpus.drop("batch_id")), s, dir, into, sign = 1)
    // admission-reference partials ([[admitBatch]]) fold by METADATA —
    // the summed (bin, n) over live coverage becomes the base's
    // partial; a dir without full coverage skips (the gate falls back
    // to the scan form until an admitted batch re-seeds the partials)
    binCounts(s, dir).foreach(_
      .select(col("bin"), col("n"))
      .coalesce(1) // direct partition write — no shared-root staging
      .write.mode("overwrite").parquet(s"${binsDir(dir)}/batch_id=$into"))
    commitStaged(s, dir, Manifest.Live(Set(into), Set.empty),
      basedOn = st.map(_._1).getOrElse(-1),
      staged = Seq(corpusDir(dir), seenDir(dir), digestMapDir(dir),
        fpDir(dir), fpShardDir(dir), binsDir(dir))
        .map(d => s"$d/batch_id=$into"))
  }

  /** CONTENT-ADDRESSED takedown: forget by the BYTES, not by internal
    * ids — the shape a DMCA/right-to-be-forgotten request actually
    * arrives in. `texts` rows are digested (the same md5 the seen index
    * keys on), resolved to corpus ids through the maintained
    * content-address map ([[appendBatch]]'s `digestmap` table), and
    * handed to [[deleteCurated]] — everything downstream (mask,
    * re-crawl blocking via the untouched seen index, compaction
    * reclaim, vacuum) is the by-id lifecycle.
    *
    * LOUD per-digest guard: a requested digest the seen index KNOWS but
    * the map cannot resolve means the doc entered before the map
    * existed (a pre-upgrade batch) — silently skipping would report a
    * forget that never happened, so the call refuses and names the
    * digests; the operator deletes those by id (the map covers
    * everything ingested since). Digests never seen at all are no-ops
    * (unknown content). */
  def deleteCuratedByContent(s: org.apache.spark.sql.SparkSession,
                             dir: String, texts: DataFrame,
                             textCol: String = "text"): Unit =
    resolveContentIds(s, dir, texts, textCol).foreach(ids =>
      deleteCurated(s, dir, ids, "doc_id"))

  /** Resolve content (bytes) to the corpus ids that carry it — the
    * content-addressed entry point [[deleteCuratedByContent]] and
    * [[Takedown.forgetByContent]] share. Returns a one-column
    * (`doc_id`) frame; None = nothing ever ingested. Throws the
    * pre-map loud refusal described on [[deleteCuratedByContent]]. */
  private[streaming] def resolveContentIds(
      s: org.apache.spark.sql.SparkSession, dir: String,
      texts: DataFrame, textCol: String): Option[DataFrame] = {
    val digests = texts.select(md5(col(textCol)).as("digest")).distinct()
    val known = seen(s, dir) match {
      case Some(sd) => digests.join(sd.select("digest"), Seq("digest"),
        "left_semi")
      case None => return None // nothing ever ingested
    }
    // materialize the request-sized resolution ONCE (r16): the md5 scan
    // of the request texts + seen/map joins used to re-execute for the
    // unresolved guard below, again for the consumer's size probe
    // ([[Takedown.attest]]), and again inside the final per-sink plan —
    // 3× the resolve cost per attestByContent/forgetByContent call. The
    // set is takedown-sized (one row per requested digest) by contract.
    val mapped = digestMap(s, dir).map(m =>
      known.join(m.select("digest", "id"), Seq("digest"), "left"))
      .getOrElse(known.withColumn("id", lit(null).cast("long")))
      .localCheckpoint()
    val unresolved = mapped.filter(col("id").isNull)
      .select("digest").limit(5).collect().map(_.getString(0))
    if (unresolved.nonEmpty)
      throw new IllegalStateException(
        s"content known to $dir but ingested before the digest map " +
          s"existed (${unresolved.mkString(", ")}…) — content-addressed " +
          "takedown cannot resolve their ids; delete those by id")
    Some(mapped.select(col("id").as("doc_id")))
  }

  /** The maintained (digest, id) content-address map, snapshot-isolated
    * like every state table; None when no live batch has one (all
    * batches predate the map). */
  private def digestMap(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[DataFrame] =
    snapshotRead(s, dir, digestMapDir(dir), asOfGen = None)

  /** CROSS-GENERATION SNAPSHOT DIFF — the reproducibility-audit verb
    * ("what changed between the corpus snapshot run A trained on and
    * the one run B did?"): every row a reader pinned to `genB` serves
    * that a reader pinned to `genA` did not (`change = 'added'`) and
    * vice versa (`'removed'`), at full-row SET granularity — a
    * re-ingested changed body shows as an `added` row next to its
    * still-served predecessor, a takedown as `removed`. `None` = the
    * latest generation; diffing B→A inverts the labels exactly.
    *
    * Scale shape (the reason this is a sink verb and not
    * `a.except(b)` homework): when the audited window is FORWARD-ONLY
    * — every data partition and tombstone live at A is still live at B,
    * i.e. the window saw appends and new deletes but no compaction fold
    * — immutable partitions make the diff computable from the DELTA:
    * `added` reads exactly the new data partitions (masked by B's
    * tombstones, then verified against A restricted to the candidate
    * keys — pushed into the scan as an isin predicate below the
    * [[Takedown.MaxPushdownKeys]] cap, so row-group stats prune the
    * shared history to ~nothing; never a corpus shuffle), and `removed`
    * probes A the same way once per NEW mask (no A read at all when no
    * tombstone was added). Every shuffle in the fast path is
    * delta-sized. A compaction inside the window rewrites partition
    * ids, so the general path runs instead: `EXCEPT` both ways — always
    * correct, but it shuffles both snapshots. At 100 TB you schedule
    * audits between folds, not across them. */
  def diffSnapshots(s: org.apache.spark.sql.SparkSession, dir: String,
                    genA: Option[Int], genB: Option[Int],
                    idCol: String = "doc_id"): DataFrame = {
    val a = loadAt(s, dir, genA)
    val b = loadAt(s, dir, genB)
    def payloadOf(df: DataFrame): Seq[String] =
      df.columns.filterNot(_ == "batch_id").toSeq
    def tag(df: DataFrame, label: String, payload: Seq[String]): DataFrame =
      df.select(lit(label).as("change") +: payload.map(col): _*)
    (a, b) match {
      case (None, None) => throw new IllegalArgumentException(
        s"no curated state at $dir in either generation")
      case (None, Some(bb)) =>
        tag(bb.dropDuplicates(payloadOf(bb)), "added", payloadOf(bb))
      case (Some(aa), None) =>
        tag(aa.dropDuplicates(payloadOf(aa)), "removed", payloadOf(aa))
      case (Some(aa), Some(bb)) =>
        val payload = payloadOf(bb)
        require(payloadOf(aa).sorted == payload.sorted,
          s"snapshot schemas differ: ${payloadOf(aa)} vs $payload")
        require(payload.contains(idCol),
          s"key column $idCol not in the corpus schema $payload")
        val pa = aa.select(payload.map(col): _*)
        val pb = bb.select(payload.map(col): _*)
        val fast = (familiesAt(s, dir, genA),
          familiesAt(s, dir, genB)) match {
          case (Some((dA, tA)), Some((dB, tB)))
              if dA.subsetOf(dB) && tA.subsetOf(tB) =>
            // A-side probes push the (delta-sized) key set into the
            // scan as an isin predicate when it is driver-small — the
            // Takedown.MaxPushdownKeys discipline: parquet row-group
            // stats on the key column prune the shared history to
            // ~nothing; the semi-join fallback engages past the cap
            // the isin path only for the NARROW key column: tombstone
            // masks can be keyed by the text column (mixed-idCol
            // takedowns are supported), and collecting 100k bodies to
            // inline as a literal list is a driver OOM / plan blowup —
            // wide keys go straight to the broadcast semi-join
            def probeA(keys: DataFrame, key: String): DataFrame = {
              val vals =
                if (key == idCol) keys.select(key).distinct()
                  .limit(Takedown.MaxPushdownKeys + 1).collect().map(_.get(0))
                else Array.empty[Any]
              val bytes = vals.iterator.map {
                case s: String => 16L + 2L * s.length
                case b: Array[Byte] => 16L + b.length
                case _ => 16L
              }.sum
              if (key == idCol && vals.length <= Takedown.MaxPushdownKeys &&
                  bytes <= maxPushdownBytes)
                pa.filter(col(key).isInCollection(vals))
              else pa.join(broadcast(keys.select(key).distinct()),
                Seq(key), "left_semi")
            }
            val masksB = maskFrames(s, dir, tB)
            val added = readDataPartitions(s, corpusDir(dir), dB -- dA)
              .map { raw =>
                val cand = masksB
                  .foldLeft(raw.select(payload.map(col): _*))((c, m) =>
                    c.join(broadcast(m), Seq(m.columns.head), "left_anti"))
                  .dropDuplicates(payload)
                  .persist() // delta-sized; probed twice (keys + anti)
                // SET correctness vs A (a changed body can re-ingest a
                // payload-identical row): A probed once, column-pruned
                // and key-pruned; the matches are delta-sized
                cand.join(broadcast(probeA(cand, idCol)), payload,
                  "left_anti")
              }
            // removed legs dedupe ACROSS mask frames (two new masks
            // with different key columns can cover the same A row —
            // e.g. a delete by text and a delete by id — and the
            // general EXCEPT path's set semantics must hold)
            val removedFrames = maskFrames(s, dir, tB -- tA)
              .map(m => probeA(m, m.columns.head))
            val removed = removedFrames
              .reduceOption(_ unionByName _)
              .map(_.dropDuplicates(payload))
            val legs = added.map(tag(_, "added", payload)).toSeq ++
              removed.map(tag(_, "removed", payload))
            Some(
              if (legs.isEmpty) tag(pb.limit(0), "added", payload)
              else legs.reduce(_ unionByName _))
          case _ => None
        }
        // general path: EXCEPT both ways — any two generations,
        // including across a compaction fold (ids rewritten wholesale)
        fast.getOrElse(
          tag(pb.except(pa), "added", payload)
            .unionByName(tag(pa.except(pb), "removed", payload)))
    }
  }

  /** The MAINTAINED corpus fingerprint — [[graft.ext.TextOps
    * .corpusFingerprint]] of the SERVED corpus answered from
    * METADATA-SIZED state, never a corpus scan: every append commits a
    * one-row (n, xor) partial computed from its just-written partition,
    * every takedown commits the removed rows' NEGATIVE partial in the
    * same flip (XOR is its own inverse — a delete is just another fold
    * row), and every compaction writes a fresh exact base (which is
    * also the migration path for pre-upgrade dirs). Serve = sum/xor
    * over one row per live id. The audit that lets a training job
    * verify "this is byte-for-byte the corpus snapshot X" in
    * milliseconds at any corpus size.
    *
    * Returns a 1-row (n_rows, fingerprint) frame — equal by
    * construction to `corpusFingerprint(load(dir), sortedPayloadCols,
    * Seq())` (FingerprintStateSpec pins it at every lifecycle point).
    * None when coverage is unprovable: some live batch or tombstone
    * predates the fingerprint state (ingested before this upgrade) —
    * fall back to the scan form, or compact once to mint a base.
    * Assumes a stable corpus schema across batches (the row hash is
    * over sorted column names; a schema evolution mid-stream needs a
    * fold to re-base). */
  def fingerprintState(s: org.apache.spark.sql.SparkSession,
                       dir: String): Option[DataFrame] =
    familiesAt(s, dir, None).flatMap { case (data, tombs) =>
      val fs = fsOf(s, dir)
      def has(d: String) =
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(d))
      val dataUncovered = data.exists(id =>
        has(s"${corpusDir(dir)}/batch_id=$id") &&
          !has(s"${fpDir(dir)}/batch_id=$id"))
      val tombUncovered = tombs.exists(id =>
        has(s"${tombDir(dir)}/ts_id=$id") &&
          !has(s"${fpDir(dir)}/batch_id=$id"))
      val paths = (data ++ tombs).toSeq.sorted
        .map(id => s"${fpDir(dir)}/batch_id=$id").filter(has)
      if (dataUncovered || tombUncovered || paths.isEmpty) None
      // all-deleted degenerate case: the scan form's zero-row global agg
      // yields (0, NULL) — null the netted-to-nothing fingerprint too so
      // "equal by construction" holds at every lifecycle point
      else Some(s.read.option("basePath", fpDir(dir)).parquet(paths: _*)
        .agg(sum(col("n")).as("n_rows"),
          bit_xor(coalesce(col("fp"), lit(0L))).as("fingerprint"))
        .select(col("n_rows"),
          when(col("n_rows") === 0L, lit(null).cast("long"))
            .otherwise(col("fingerprint")).as("fingerprint")))
    }

  /** The MAINTAINED PER-SHARD corpus fingerprint —
    * [[fingerprintState]]'s release-grade sibling (VERDICT r13 #3):
    * [[graft.ext.TextOps.corpusFingerprint]] of the SERVED corpus
    * grouped by the [[graft.ext.TextOps.trainingShards]] assignment at
    * `nShards`, answered from METADATA-SIZED state — ≤[[FpShardBins]]
    * rows per commit, same signed-fold lifecycle as the batch partials
    * (appends positive, takedowns negative, compaction re-bases). This
    * is what lets [[Release.publishDelta]] decide rewritten/copied/
    * emptied shards across a compaction FOLD without reading a corpus
    * byte.
    *
    * `nShards` must divide [[FpShardBins]] (any power of two ≤ 1024) —
    * shard = ⌊bin/(B/n)⌋ then matches ⌊u·n⌋ exactly (power-of-two
    * scaling is exact in doubles). `payloadCols` guards HASH
    * compatibility: the partials hash the corpus's full payload in
    * sorted-name order, so a caller comparing against fingerprints of
    * a projection (the release stats hash exactly (id, text)) must ask
    * for exactly the corpus's payload — a mismatch returns None, never
    * a silently-different hash.
    *
    * Returns (shard, n_rows, fingerprint) for non-empty shards — equal
    * by construction to `corpusFingerprint(trainingShards(load(dir)),
    * payload, Seq("shard"))` (FingerprintStateSpec pins it at every
    * lifecycle point). `gen` pins the answer to a committed generation
    * (None = latest): partials are per-batch immutable files, so the
    * state serves ANY generation whose partials still exist — a
    * publisher resolving a generation first and folding the state for
    * exactly that snapshot has no read-vs-resolve race. None when
    * coverage is unprovable (some live batch or tombstone predates
    * this upgrade — compact once to mint a base), when `nShards`
    * doesn't divide the bins, or when the payload differs. */
  def fingerprintShardState(s: org.apache.spark.sql.SparkSession,
                            dir: String, nShards: Int,
                            payloadCols: Seq[String],
                            gen: Option[Int] = None): Option[DataFrame] = {
    if (nShards <= 0 || FpShardBins % nShards != 0) return None
    // ADVICE r14: the partials hash in SORTED-NAME order (fpRowHash),
    // so a caller declaring a different payload order would silently
    // compare against differently-ordered hashes — require the
    // declared order to BE the hash order, refuse otherwise (the
    // "never a silently-different hash" contract, enforced on the
    // order as well as the set)
    if (payloadCols != payloadCols.sorted) return None
    // payload guard from ONE data file's footer, not a full corpus
    // listing (r15): `load()` here built a file index over every
    // partition — on a 1024-dir clustered base that listing dominated
    // the otherwise-metadata-sized state fold (the corpus schema is
    // stable across batches by this state's own contract, so any one
    // file names the payload; partition columns live in dir names and
    // never in the file). The probe takes the first READABLE footer of
    // a bounded candidate set, not the first file unconditionally: this
    // guard is a schema-order check, not an integrity sweep, and the
    // state tier's whole point is deciding without touching untouched
    // shards — one corrupt file in a shard the delta never rewrites
    // must not kill the metadata-sized fold (ReleaseSpec's clustered
    // pruning leg corrupts exactly such a file and the walk-order
    // probe picked it — the inherited mid-r15 defect this fixes).
    val schemaOk = firstDataFiles(s, corpusDir(dir), limit = 16)
      .iterator // lazy: the common case reads exactly ONE footer
      .flatMap { f =>
        try Some(s.read.parquet(f).schema.fieldNames.sorted.toSeq)
        catch { case _: Exception => None } // unreadable footer → next
      }
      .nextOption().contains(payloadCols.sorted)
    if (!schemaOk) return None
    familiesAt(s, dir, gen).flatMap { case (data, tombs) =>
      val fs = fsOf(s, dir)
      def has(d: String) =
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(d))
      val dataUncovered = data.exists(id =>
        has(s"${corpusDir(dir)}/batch_id=$id") &&
          !has(s"${fpShardDir(dir)}/batch_id=$id"))
      val tombUncovered = tombs.exists(id =>
        has(s"${tombDir(dir)}/ts_id=$id") &&
          !has(s"${fpShardDir(dir)}/batch_id=$id"))
      val paths = (data ++ tombs).toSeq.sorted
        .map(id => s"${fpShardDir(dir)}/batch_id=$id").filter(has)
      if (dataUncovered || tombUncovered || paths.isEmpty) None
      // netted-to-zero shards drop (a shard with no rows is no group in
      // the scan form); a fully-cancelled bin xors itself back to 0 and
      // contributes the identity to its shard's fold
      else Some(s.read.option("basePath", fpShardDir(dir))
        .parquet(paths: _*)
        .groupBy(floor(col("bin") / (FpShardBins / nShards)).cast("int")
          .as("shard"))
        .agg(sum(col("n")).as("n_rows"),
          bit_xor(col("fp")).as("fingerprint"))
        .filter(col("n_rows") > 0))
    }
  }

  /** The general (EXCEPT-both-ways) diff path unconditionally — the
    * spec's fast ≡ general parity pin calls this next to
    * [[diffSnapshots]] on a forward-only window. */
  private[graft] def diffSnapshotsGeneral(
      s: org.apache.spark.sql.SparkSession, dir: String,
      genA: Option[Int], genB: Option[Int]): DataFrame = {
    val aa = loadAt(s, dir, genA).getOrElse(
      throw new IllegalArgumentException(s"no curated state at $dir"))
    val bb = loadAt(s, dir, genB).getOrElse(
      throw new IllegalArgumentException(s"no curated state at $dir"))
    val payload = bb.columns.filterNot(_ == "batch_id").toSeq
    val pa = aa.select(payload.map(col): _*)
    val pb = bb.select(payload.map(col): _*)
    def tag(df: DataFrame, label: String): DataFrame =
      df.select(lit(label).as("change") +: payload.map(col): _*)
    tag(pb.except(pa), "added").unionByName(tag(pa.except(pb), "removed"))
  }

  /** Segment the generation walk [genA..genB] for a COMPOSED forward
    * diff ACROSS COMPACTION FOLDS ([[graft.streaming.Release
    * .publishDelta]]'s generalized diff eligibility, VERDICT r13 #3):
    * each consecutive manifest step is classified FORWARD-ONLY (data
    * and tombstones both grow — an append or a takedown) or PROVABLY
    * CONTENT-NEUTRAL (a compaction fold: the maintained fpstate
    * partials at both ends fold to the same (n, xor), pure metadata).
    * Neutral steps contribute nothing to a diff and are skipped; the
    * forward runs between them become segments whose [[diffSnapshots]]
    * each ride the delta-sized fast path. An empty result = the whole
    * window is content-neutral (e.g. republish right after a fold).
    *
    * Neutrality is proven PER BIN when the fpshard partials cover both
    * ends of the step (≤[[FpShardBins]] (n, xor) pairs must ALL match
    * — ~1024× the collision resistance of the single batch-level pair,
    * for the same metadata read; VERDICT r14 #2), falling back to the
    * batch-level (n, xor) equality only when per-bin coverage is
    * missing on either end.
    *
    * None when the walk is not provable — a generation in the window
    * was vacuumed past, a step is neither forward nor neutral, fpstate
    * coverage breaks, or a partition a segment diff would read is gone
    * — the caller falls back to a snapshot-level strategy. All checks
    * are metadata-sized (manifest files, partition listings, ≤1024-row
    * fpstate partials); no corpus bytes are read here. */
  private[graft] def diffSegments(s: org.apache.spark.sql.SparkSession,
                                  dir: String, genA: Int, genB: Int)
      : Option[Seq[(Int, Int)]] = {
    require(genA <= genB, s"walk runs forward (got $genA > $genB)")
    if (genA == genB) return Some(Seq.empty)
    val have = Manifest.generations(s, dir).toSet
    if (!(genA to genB).forall(have.contains)) return None
    val fs = fsOf(s, dir)
    def has(p: String) =
      Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(p))
    val lives = (genA to genB).flatMap(g =>
      Manifest.readLiveAt(s, dir, Some(g)).map(g -> _)).toMap
    if (lives.size != genB - genA + 1) return None
    // every partition any segment diff could read must still exist
    val present = (genA to genB).forall { g =>
      lives(g).data.forall(id => has(s"${corpusDir(dir)}/batch_id=$id")) &&
        lives(g).tombs.forall(id => has(s"${tombDir(dir)}/ts_id=$id"))
    }
    if (!present) return None
    // the (n, xor) fold at a pinned generation, from fpstate metadata
    def fpAt(g: Int): Option[(Long, Long)] = {
      val ids = (lives(g).data ++ lives(g).tombs).toSeq.sorted
      val paths = ids.map(id => s"${fpDir(dir)}/batch_id=$id")
      if (ids.isEmpty || !paths.forall(has)) None
      else {
        val r = s.read.option("basePath", fpDir(dir)).parquet(paths: _*)
          .agg(coalesce(sum(col("n")), lit(0L)),
            bit_xor(coalesce(col("fp"), lit(0L)))).head()
        Some((r.getLong(0), if (r.getLong(0) == 0L) 0L else r.getLong(1)))
      }
    }
    // the PER-BIN (n, xor) fold at a pinned generation, from the
    // fpshard partials (VERDICT r14 #2): bins netted to the (0, 0)
    // identity drop, so a fully-cancelled bin equals an absent one
    def fpShardAt(g: Int): Option[Map[Int, (Long, Long)]] = {
      val ids = (lives(g).data ++ lives(g).tombs).toSeq.sorted
      val paths = ids.map(id => s"${fpShardDir(dir)}/batch_id=$id")
      if (ids.isEmpty || !paths.forall(has)) None
      else Some(
        s.read.option("basePath", fpShardDir(dir)).parquet(paths: _*)
          .groupBy("bin")
          .agg(sum(col("n")).as("n"), bit_xor(col("fp")).as("fp"))
          .collect() // ≤1024 rows by construction
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap.filterNot { case (_, nf) => nf == ((0L, 0L)) })
    }
    val segs = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
    var segStart = genA
    var g = genA
    while (g < genB) {
      val (a, b) = (lives(g), lives(g + 1))
      val forward = a.data.subsetOf(b.data) && a.tombs.subsetOf(b.tombs)
      if (!forward) {
        // per-bin equality when both ends carry fpshard coverage —
        // a bin-level divergence the batch-level xor would cancel
        // refuses neutrality here; batch-level only as the coverage
        // fallback (VERDICT r14 #2)
        val neutral = (fpShardAt(g), fpShardAt(g + 1)) match {
          case (Some(x), Some(y)) => x == y
          case _ => (fpAt(g), fpAt(g + 1)) match {
            case (Some(x), Some(y)) => x == y
            case _ => false
          }
        }
        if (!neutral) return None
        if (segStart < g) segs += ((segStart, g))
        segStart = g + 1
      }
      g += 1
    }
    if (segStart < genB) segs += ((segStart, genB))
    Some(segs.toList)
  }

  /** The COMPOSED diff over [[diffSegments]]' windows: per-segment
    * [[diffSnapshots]] (each fast/delta-sized by construction) netted
    * by full-payload sign — a row added in one segment and removed in a
    * later one cancels, a removed-then-re-added row cancels the other
    * way; alternation bounds every net in {−1, 0, +1}. The netting
    * shuffle is DELTA-sized (only changed rows ever enter a leg). */
  private[streaming] def diffAcross(s: org.apache.spark.sql.SparkSession,
                                    dir: String, segs: Seq[(Int, Int)],
                                    idCol: String): DataFrame = {
    require(segs.nonEmpty,
      "a fold-only window diffs to nothing — handle it without a read")
    if (segs.size == 1)
      diffSnapshots(s, dir, Some(segs.head._1), Some(segs.head._2), idCol)
    else {
      val u = segs.map { case (a, b) =>
          diffSnapshots(s, dir, Some(a), Some(b), idCol)
            .withColumn("__sign",
              when(col("change") === "added", 1).otherwise(-1))
            .drop("change")
        }.reduce(_ unionByName _)
      val payload = u.columns.filterNot(_ == "__sign").toSeq
      u.groupBy(payload.map(col): _*)
        .agg(sum("__sign").as("__net"))
        .filter(col("__net") =!= 0)
        .select(when(col("__net") > 0, lit("added"))
          .otherwise(lit("removed")).as("change") +: payload.map(col): _*)
    }
  }

  /** `foreachBatch` sink body: micro-batch → first-seen dedup against
    * the ON-DISK seen-digest index (within-batch keep-min first), then
    * the caller's curation stage (quality → decontam → sample — the
    * sink owns dedup + state, the query owns policy), survivors
    * appended to the curated corpus. Both state tables are `batch_id=`
    * partition adds under ONE [[Manifest]] commit, so a crash anywhere
    * leaves nothing visible and the engine's same-id retry wipes the
    * uncommitted leftovers (the [[StreamBm25.appendBatch]] protocol).
    *
    * EVERY fresh digest is recorded as seen — including docs `curate`
    * then rejects: a re-crawl of a quality-dropped page must not
    * re-enter the pipeline (the production contract: the seen index is
    * the processed-set, the corpus is the kept-set). Batch cost: one
    * digest anti-join (ids/digests only — bodies never shuffle) + the
    * curation stage on the deduped batch. */
  def appendBatch(dir: String, batch: DataFrame, batchId: Long,
                  curate: DataFrame => DataFrame,
                  bins: Option[(org.apache.spark.sql.Column, Int)] = None)
      : Unit = {
    val spark = batch.sparkSession
    // the shared append entry ([[ManagedSink.enterAppend]]): id guard,
    // legacy adoption ([[beforeAppend]]), birth commit, same-batchId
    // crash-retry wipe, ONE manifest read shared by guard and commit
    val (gen, manifest, referenced) = enterAppend(spark, dir, batchId,
      seenDir(dir), Seq(seenDir(dir), corpusDir(dir), digestMapDir(dir),
        fpDir(dir), fpShardDir(dir), binsDir(dir))
        .map(d => s"$d/batch_id=${batchId.toInt}"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__digest").orderBy(col("doc_id"))
    val firstInBatch = batch.withColumn("__digest", md5(col("text")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
    val fresh = (seen(spark, dir) match {
      case Some(s) => firstInBatch.join(s.select(col("digest")
          .as("__digest")), Seq("__digest"), "left_anti")
      case None => firstInBatch
    }).persist()
    try {
      // one materialized snapshot drives both writes (the st6 listing-
      // consistency discipline)
      if (fresh.count() == 0) return
      refuseReset(dir, batchId, referenced, "unseen documents")
      // every staged partition writes DIRECTLY to its path (no dynamic-
      // partition append into a table root: concurrent committers would
      // race on the root's shared _temporary staging dir)
      fresh.select(col("__digest").as("digest"))
        .write.mode("overwrite")
        .parquet(s"${seenDir(dir)}/batch_id=${batchId.toInt}")
      // the CONTENT-ADDRESS map (digest → id), written going forward
      // next to the seen index as its OWN table — content-addressed
      // takedown ([[deleteCuratedByContent]]) resolves ids from it.
      // A separate family instead of a seen-schema change: no
      // mixed-schema partition reads, no migration; pre-upgrade batches
      // simply have no map partition and content-deleting their docs
      // fails loudly (the by-id verb still covers them).
      fresh.select(col("__digest").as("digest"), col("doc_id").as("id"))
        .write.mode("overwrite")
        .parquet(s"${digestMapDir(dir)}/batch_id=${batchId.toInt}")
      val survivors = curate(fresh.drop("__digest"))
      survivors
        .write.mode("overwrite")
        .parquet(s"${corpusDir(dir)}/batch_id=${batchId.toInt}")
      // MAINTAINED fingerprint partials ([[fingerprintState]] +
      // [[fingerprintShardState]]): per-bin (≤1024 rows) and
      // batch-level (one row, folded from the bins) partials, computed
      // from the JUST-WRITTEN corpus partition (byte-identical to what
      // will serve — never a re-evaluation of the policy plan) WITH
      // the current tombstone masks applied — [[loadAt]] masks
      // tombstoned keys against EVERY live partition, so a batch
      // re-ingesting a previously-deleted key (fresh digest, same key)
      // appends a row that never serves; hashing it in would make the
      // state diverge from the serve with no refusal. Empty-survivor
      // batches write empty/identity partials so coverage stays
      // provable.
      val writtenPath = s"${corpusDir(dir)}/batch_id=${batchId.toInt}"
      val written = Manifest.hasDataFiles(fsOf(spark, dir),
        new org.apache.hadoop.fs.Path(writtenPath))
      writeFpPartials(
        if (written)
          Some(tombstoneMasks(spark, dir, asOfGen = None)
            .foldLeft(spark.read.parquet(writtenPath))((c, m) =>
              c.join(m, Seq(m.columns.head), "left_anti")))
        else None,
        spark, dir, batchId.toInt, sign = 1)
      // MAINTAINED admission-reference partial ([[admitBatch]]): this
      // batch's kept rows counted per clamped bin — nBins rows of
      // metadata riding the same flip, so the gate's reference
      // distribution never needs a corpus scan. The bin expression is
      // the dir's contract: pass the SAME (bin, nBins) every call.
      bins.foreach { case (bin, nBins) =>
        val src =
          if (written)
            graft.ext.TextOps.psiBinCounts(
              spark.read.parquet(writtenPath), bin, nBins)
          else spark.range(0).select(col("id").as("bin"),
            col("id").as("n"))
        src.select(col("bin"), col("n"))
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"${binsDir(dir)}/batch_id=${batchId.toInt}")
      }
      // unreachable None after entry-time adoption (every path above
      // leaves a committed manifest); the listing fallback stays as
      // belt-and-braces with this batch's just-staged partitions excluded
      commitAppend(spark, dir, batchId, gen, manifest)(Manifest.Live(
        (partitionIds(spark, seenDir(dir)) ++
          partitionIds(spark, corpusDir(dir))) - batchId.toInt, Set.empty))
    } finally fresh.unpersist()
  }

  /** LEGACY (pre-manifest) dir: adopt the on-disk batches as the first
    * manifest generation BEFORE entering the protocol — upgrade on
    * first touch. Two reasons this must happen at entry, not at the
    * commit: (a) an empty baseline would silently drop every
    * pre-manifest batch from the live set; (b) this sink writes TWO
    * state dirs, and Spark's recacheByPath re-materializes the cached
    * anti-join when the seen dir is written — on a manifest-less dir
    * the refreshed listing includes the batch's OWN just-written
    * digests, so the corpus write would see an empty frame and the
    * batch's documents would be recorded as seen but never kept. The
    * manifest filter (staged ≠ live) is what makes the cached plan
    * re-evaluation-stable. Adoption trusts the on-disk state as-is —
    * the legacy protocol's own guarantee level; a crashed pre-manifest
    * last batch is adopted like any other (indistinguishable, and
    * dropping data would be worse). */
  override protected def beforeAppend(s: org.apache.spark.sql.SparkSession,
                                      dir: String,
                                      seen: Option[(Int, Manifest.Live)])
      : Option[(Int, Manifest.Live)] =
    if (seen.nonEmpty) seen
    else {
      val baseline = partitionIds(s, seenDir(dir)) ++
        partitionIds(s, corpusDir(dir))
      if (baseline.isEmpty) seen
      else {
        Manifest.commitAfter(s, dir, baseline, basedOn = -1)
        Manifest.readLiveWithGen(s, dir)
      }
    }

  private def quarantineDir(dir: String) = s"$dir/quarantine"

  /** PSI-GATED batch admission — the x63 drift monitor wired to a
    * POLICY (VERDICT r11 #5): before a batch enters the pipeline, its
    * distribution over `bin` (e.g. doc-length deciles) is compared to
    * the SERVED corpus via the population stability index; a batch past
    * `threshold` is QUARANTINED — written to an operator outbox under
    * the sink, NOT ingested, its digests NOT recorded as seen — so a
    * reviewed batch can later re-enter through a plain [[appendBatch]]
    * (or this verb) under a fresh batch id. An admitted batch ingests
    * through [[appendBatch]] unchanged. The first batch (no reference)
    * auto-admits with a NULL psi.
    *
    * Returns the one-row DECISION (batch_id, n_batch, psi, threshold,
    * admitted, action) — the row a monitoring pipeline logs/alerts on.
    * PSI is computed on the RAW arriving batch (admission happens at
    * the door, before dedup/policy) against the kept-set reference.
    *
    * Scale note: the reference side here scans the served corpus's bin
    * column (one columnar scan, two nBins-row groupBys — the x63
    * shape); at 100 TB the reference is the same maintained
    * metadata-partial discipline as [[fingerprintState]] (an nBins-row
    * partial per commit), which changes the cost, not the decision. */
  def admitBatch(dir: String, batch: DataFrame, batchId: Long,
                 curate: DataFrame => DataFrame,
                 bin: org.apache.spark.sql.Column, nBins: Int,
                 threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val nBatch = batch.count()
    // reference: the MAINTAINED bin partials when every live corpus
    // partition carries one (O(state) — nBins rows per live id), else
    // the served-corpus scan (the pre-upgrade/fold fallback; a fold
    // drops partial coverage and the next admitted batch re-enters
    // the maintained path going forward)
    val psiOpt = binCounts(spark, dir) match {
      case Some(refCounts) =>
        Some(graft.ext.TextOps
          .psiDriftFromCounts(refCounts, batch, bin, nBins)
          .filter(col("bin") === -1L).head().getDouble(3))
      case None => load(spark, dir).map { corpus =>
        graft.ext.TextOps.psiDrift(corpus, batch, bin, nBins)
          .filter(col("bin") === -1L).head().getDouble(3)
      }
    }
    val admitted = psiOpt.forall(_ <= threshold)
    if (admitted)
      appendBatch(dir, batch, batchId, curate, bins = Some((bin, nBins)))
    else batch.write.mode("overwrite")
      .parquet(s"${quarantineDir(dir)}/batch_id=${batchId.toInt}")
    spark.range(1).select(
      lit(batchId.toInt).as("batch_id"),
      lit(nBatch).as("n_batch"),
      psiOpt.map(p => lit(p)).getOrElse(lit(null)).cast("double").as("psi"),
      lit(threshold).as("threshold"),
      lit(admitted).as("admitted"),
      lit(if (admitted) "ingested" else "quarantined").as("action"))
  }

  /** The operator outbox [[admitBatch]] refuses into; None when nothing
    * was ever quarantined. Rows carry the raw arriving batch. */
  def quarantine(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[DataFrame] = {
    if (!Manifest.hasDataFiles(fsOf(s, dir),
        new org.apache.hadoop.fs.Path(quarantineDir(dir)))) None
    else Some(s.read.option("basePath", quarantineDir(dir))
      .parquet(quarantineDir(dir)))
  }

  /** RELEASE a quarantined batch back into the pipeline after review —
    * the verb that closes [[admitBatch]]'s loop: the outboxed rows
    * re-deliver under a FRESH batch id (`newBatchId` — the original id
    * stays burned in the decision log), either back through the gate
    * (default: the corpus may have drifted toward the batch since, or
    * the operator raised the threshold) or FORCED past it (`force` —
    * the human reviewed the bytes; the gate's opinion is noted but
    * overruled). Returns the same one-row decision shape as
    * [[admitBatch]] (`action` = `ingested_forced` on a forced release).
    * The original outbox partition clears on ANY outcome — a
    * re-refused release re-outboxes under the new id, so exactly one
    * copy of the rows exists at all times. */
  def releaseQuarantine(s: org.apache.spark.sql.SparkSession, dir: String,
                        quarantinedId: Long, newBatchId: Long,
                        curate: DataFrame => DataFrame,
                        bin: org.apache.spark.sql.Column, nBins: Int,
                        threshold: Double, force: Boolean = false)
      : DataFrame = {
    require(newBatchId != quarantinedId,
      s"release needs a FRESH batch id (got $newBatchId for both): a " +
        "re-refused release re-outboxes under the new id, and the old " +
        "partition clears — the ids must differ or the rows are lost")
    val qPath = s"${quarantineDir(dir)}/batch_id=${quarantinedId.toInt}"
    val fs = fsOf(s, dir)
    require(Manifest.hasDataFiles(fs,
        new org.apache.hadoop.fs.Path(qPath)),
      s"no quarantined batch $quarantinedId at $dir")
    // the target outbox partition must be VIRGIN: a re-refused release
    // (and the forced path's decision log) writes
    // quarantine/batch_id=<newBatchId> with mode(overwrite), so a
    // newBatchId colliding with a DIFFERENT still-quarantined batch
    // would silently destroy that batch's only copy of rows — breaking
    // the "exactly one copy at all times" contract. Fail loudly like
    // the other guards (ADVICE r12, medium).
    require(!Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(
        s"${quarantineDir(dir)}/batch_id=${newBatchId.toInt}")),
      s"batch id $newBatchId already holds a quarantined batch at $dir " +
        "— releasing under it would overwrite that batch's only copy " +
        "of rows; pick a fresh id")
    // materialize the rows BEFORE clearing the outbox: the decision/
    // ingest below must not read a deleted path
    val rows = s.read.parquet(qPath).persist()
    try {
      rows.count()
      val decision =
        if (force) {
          appendBatch(dir, rows, newBatchId, curate,
            bins = Some((bin, nBins)))
          s.range(1).select(
            lit(newBatchId.toInt).as("batch_id"),
            lit(rows.count()).as("n_batch"),
            lit(null).cast("double").as("psi"),
            lit(threshold).as("threshold"),
            lit(true).as("admitted"),
            lit("ingested_forced").as("action"))
        } else admitBatch(dir, rows, newBatchId, curate, bin, nBins,
          threshold)
      // admitBatch/appendBatch ran EAGERLY above (ingest or re-outbox
      // already committed) and the decision frame is literal rows, so
      // clearing the old outbox partition now orphans nothing
      fs.delete(new org.apache.hadoop.fs.Path(qPath), true)
      decision
    } finally rows.unpersist()
  }

  /** The MAINTAINED admission-reference distribution: the summed
    * per-commit (bin, n) partials over the live data ids — nBins-row
    * metadata, never a corpus scan. None when some live corpus
    * partition predates the partials (pre-upgrade dir, or a compaction
    * fold without bin coverage) — [[admitBatch]] then falls back to
    * the scan form. The reference tracks the INGEST distribution:
    * takedowns are distribution-neutral at admission granularity. */
  def binCounts(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[DataFrame] =
    familiesAt(s, dir, asOfGen = None).flatMap { case (dataIds, _) =>
      val fs = fsOf(s, dir)
      def has(d: String) =
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(d))
      val uncovered = dataIds.exists(id =>
        has(s"${corpusDir(dir)}/batch_id=$id") &&
          !has(s"${binsDir(dir)}/batch_id=$id"))
      val paths = dataIds.toSeq.sorted
        .map(id => s"${binsDir(dir)}/batch_id=$id").filter(has)
      if (uncovered || paths.isEmpty) None
      else Some(s.read.option("basePath", binsDir(dir))
        .parquet(paths: _*)
        .groupBy("bin").agg(sum("n").as("n")))
    }

  /** The curated corpus so far (manifest-committed batches only);
    * None before the first batch. */
  def load(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[DataFrame] = loadAt(s, dir, asOfGen = None)

  /** TIME-TRAVEL read ([[Manifest.readAt]]): the curated corpus exactly
    * as of a committed manifest generation — reproducible training-set
    * snapshots ("the corpus the run trained on") for free from the
    * commit protocol. None = latest. */
  def loadAt(s: org.apache.spark.sql.SparkSession, dir: String,
             asOfGen: Option[Int]): Option[DataFrame] =
    snapshotRead(s, dir, corpusDir(dir), asOfGen).map { corpus =>
      // takedown masks ([[deleteCurated]]): tombstoned keys never
      // serve; each tombstone frame's column name IS the key column it
      // masks, and frames with DIFFERENT key columns anti-join
      // independently ([[tombstoneMasks]] — mixed idCols are safe)
      tombstoneMasks(s, dir, asOfGen).foldLeft(corpus)((c, m) =>
        c.join(m, Seq(m.columns.head), "left_anti"))
    }

  /** [[loadAt]] PARTITION-PRUNED to the `shards` of a
    * [[graft.ext.TextOps.trainingShards]] layout at `nShards` (VERDICT
    * r14 #1 — [[graft.streaming.Release.publishDelta]]'s state-tier
    * content read): shard-clustered base partitions ([[compact]]'s
    * `clusterBins`) list only the `cb=` cluster dirs whose md5-uniform
    * interval intersects a kept shard's (±1 cluster of boundary slack
    * for non-power-of-two `nShards`' float rounding), so at scale the
    * one-dirty-shard rewrite reads ~|shard| bytes instead of the
    * corpus; flat partitions (appends since the last fold — O(churn))
    * read fully. Returns a SUPERSET of the kept shards' rows — the
    * caller applies its exact `shard ∈ shards` filter downstream, so
    * pruning can never change an answer, only the bytes read.
    * Tombstone masks apply exactly as in [[loadAt]]. */
  private[graft] def loadAtShards(s: org.apache.spark.sql.SparkSession,
                                  dir: String, asOfGen: Option[Int],
                                  nShards: Int, shards: Set[Int])
      : Option[DataFrame] = {
    val keep: (Int, Int) => Boolean = (c, k) => shards.exists { sh =>
      (k.toLong - 1) * nShards < (sh.toLong + 1) * c &&
        (k.toLong + 2) * nShards > sh.toLong * c
    }
    snapshotRead(s, dir, corpusDir(dir), asOfGen, Some(keep))
      .map { corpus =>
        tombstoneMasks(s, dir, asOfGen).foldLeft(corpus)((c, m) =>
          c.join(m, Seq(m.columns.head), "left_anti"))
      }
  }

  /** SNAPSHOT-ISOLATED state read (the StreamBm25.loadAt discipline):
    * manifest mode reads exactly the live partitions' paths — immutable,
    * so an in-flight append's staged-partition wipe can race nothing —
    * never a directory listing; legacy dirs keep the listing, with an
    * existing-but-empty dir meaning "no state yet" rather than an
    * unreadable-parquet error. */
  private def snapshotRead(s: org.apache.spark.sql.SparkSession,
                           dir: String, dataDir: String,
                           asOfGen: Option[Int],
                           keepBin: Option[(Int, Int) => Boolean] = None)
      : Option[DataFrame] =
    familiesAt(s, dir, asOfGen) match {
      case Some((dataIds, _)) =>
        // DATA-family ids only: a tombstone id must never be probed
        // against this table — a losing compaction's stranded
        // batch_id=<id> orphan under a live tombstone id would serve
        // (every corpus row duplicated; ADVICE r10, medium)
        readDataPartitions(s, dataDir, dataIds, keepBin)
      case None =>
        // legacy (manifest-less) dirs are never clustered — a
        // clustered base only exists under [[compact]]'s commit
        if (!Manifest.hasDataFiles(fsOf(s, dataDir),
            new org.apache.hadoop.fs.Path(dataDir))) None
        else Some(s.read.parquet(dataDir)
          .withColumn("batch_id", col("batch_id").cast("int")))
    }

  /** First `limit` real data files under `dir` (depth-first, `_`/`.`
    * names skipped, lazily — listings stop once `limit` files are
    * found) — the O(few-listings) schema-probe candidates
    * [[fingerprintShardState]] uses instead of building a corpus-wide
    * file index. Empty when nothing exists. */
  private def firstDataFiles(s: org.apache.spark.sql.SparkSession,
                             dir: String, limit: Int): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(s, dir)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Unit = {
      if (depth > 4 || out.size >= limit || !fs.exists(p)) return
      val kids = fs.listStatus(p).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      kids.iterator.takeWhile(_ => out.size < limit).foreach { st =>
        if (st.isFile) out += st.getPath.toString
        else walk(st.getPath, depth + 1)
      }
    }
    walk(root, 0)
    out.toList
  }

  /** Cluster granularity of one `batch_id=` partition dir — the
    * `_clusterbins` marker a shard-clustered [[compact]] writes; None
    * for flat partitions (appends, pre-clustering folds). */
  private def clusterBinsOf(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): Option[Int] = {
    val m = new org.apache.hadoop.fs.Path(p, "_clusterbins")
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Read an EXPLICIT set of `batch_id=` partitions under a state table
    * — the shared core of [[snapshotRead]] and [[diffSnapshots]]'s
    * partition-pruned fast path (which reads only the data DELTA
    * between two generations). Ids with no partition dir are skipped
    * (a batch whose survivors were empty writes seen but may not
    * materialize a corpus partition); None = nothing readable.
    *
    * LAYOUT-TRANSPARENT over flat and shard-clustered partitions
    * ([[compact]]'s `clusterBins`): clustered partitions read through
    * their `cb=` cluster dirs (the `cb` partition column is dropped —
    * serve schema is identical either way), flat ones as before, and
    * the two unions. `keepBin` (granularity, cbValue) ⇒ keep is the
    * PRUNING hook (VERDICT r14 #1): cluster dirs it rejects are never
    * listed into the scan — true partition pruning — while flat
    * partitions always read fully; the caller owns the exact row-level
    * filter, so pruning is a superset optimization, never a semantics
    * change. */
  private def readDataPartitions(s: org.apache.spark.sql.SparkSession,
                                 dataDir: String, ids: Set[Int],
                                 keepBin: Option[(Int, Int) => Boolean] =
                                   None)
      : Option[DataFrame] =
    if (ids.isEmpty) None
    else {
      val paths = ids.toSeq.sorted.map(id => s"$dataDir/batch_id=$id")
      val fs = fsOf(s, dataDir)
      val present = paths.filter(p =>
        Manifest.hasDataFiles(fs, new org.apache.hadoop.fs.Path(p)))
      if (present.isEmpty) None
      else {
        val tagged = present.map(p =>
          p -> clusterBinsOf(fs, new org.apache.hadoop.fs.Path(p)))
        val flat = tagged.collect { case (p, None) => p }
        val clusterLeaves = tagged.collect { case (p, Some(c)) =>
          fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
            .map(_.getPath.getName)
            .filter(_.startsWith("cb="))
            .filter(n => keepBin.forall(
              _(c, n.stripPrefix("cb=").toInt)))
            .map(n => s"$p/$n")
        }.flatten
        val flatDf =
          if (flat.isEmpty) None
          else Some(s.read.option("basePath", dataDir)
            .parquet(flat: _*))
        val clDf =
          if (clusterLeaves.isEmpty) None
          else Some(s.read.option("basePath", dataDir)
            .parquet(clusterLeaves: _*).drop("cb"))
        val both = (flatDf, clDf) match {
          case (Some(a), Some(b)) => Some(a.unionByName(b))
          case (a, b) => a.orElse(b)
        }
        both.map(_.withColumn("batch_id", col("batch_id").cast("int")))
      }
    }

  /** The processed-set (seen digests), snapshot-isolated like the
    * corpus ([[snapshotRead]]). */
  private def seen(s: org.apache.spark.sql.SparkSession, dir: String)
      : Option[DataFrame] =
    snapshotRead(s, dir, seenDir(dir), asOfGen = None)
}
