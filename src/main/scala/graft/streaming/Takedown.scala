package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The operator-facing right-to-be-forgotten verb: ONE call fans a
  * delete across every maintained artifact that derives from the
  * forgotten content — a takedown that stops at the postings is not a
  * forget (the doc's vectors, signatures, cluster membership, overlap
  * contributions, and body are all its content). Two phases:
  *
  *   - [[forget]] — logical deletes on every configured sink, in the
  *     CASCADE ORDER the derivatives require: the ngram-df sink needs
  *     the deleted TEXTS (its delete is a negative delta,
  *     [[StreamNgramDf.deleteDocs]]), so it runs FIRST, resolving the
  *     bodies from the curated corpus while that sink still serves
  *     them; the id-keyed derivatives (postings, vectors, membership)
  *     follow in any order; the CORPUS — the bodies themselves — goes
  *     LAST. Each sink's delete is the sink's own idempotent,
  *     CAS-committed verb; a crash mid-cascade leaves a PREFIX of sinks
  *     deleted and the call safe to re-run (already-deleted sinks
  *     no-op).
  *   - [[reclaim]] — the physical pass: fold every configured sink
  *     (merges absorb masks/negative deltas and re-derive metadata from
  *     survivors) and vacuum its history under one retention window —
  *     the step after which no on-disk file holds the forgotten
  *     content. Retention is the legal dial ([[Manifest.vacuumHistory]]
  *     scaladoc): run reclaim on the schedule that matches the
  *     deployment's "forgetting becomes irreversible after N days"
  *     promise.
  *   - [[attest]] — the residual PROOF: one row per configured sink
  *     with what it still serves and how much of that is deleted
  *     content (0 everywhere = the cascade completed). The report a
  *     compliance pipeline files, and the alarm that catches a crashed
  *     cascade leg before the law does.
  *
  * Deliberately NOT atomic across sinks: each sink keeps its own
  * one-commit-point guarantee, and the cascade is an at-least-once
  * retry loop over idempotent verbs — the same availability trade
  * every multi-store deletion pipeline makes (there is no cross-store
  * transaction to borrow). TakedownSpec drives the full cascade over
  * all six sinks and asserts every derivative forgot.
  */
object Takedown {

  /** Takedown batches above this size resolve bodies via a semi-join
    * instead of a pushed-down isin predicate (a literal list this long
    * stops being a planning win). */
  val MaxPushdownKeys = 100000

  /** The configured sink set one logical corpus maintains. Every field
    * None/empty = that sink is not deployed; `forget`/`reclaim` skip it. */
  case class Sinks(
      /** Curated-corpus dir ([[StreamCurate]]) — the BODIES. Also the
        * source the ngram-df cascade resolves deleted texts from. */
      curateDir: Option[String] = None,
      /** BM25 index dir ([[StreamBm25]]); blockRecrawl opts into the
        * persistent re-crawl blocklist. */
      bm25Dir: Option[String] = None,
      bm25BlockRecrawl: Boolean = false,
      /** Dense IVF index: (dir, idCol, vecCol) ([[StreamIvf]]). */
      ivf: Option[(String, String, String)] = None,
      /** Cluster-table dir ([[StreamClusters]]). */
      clustersDir: Option[String] = None,
      /** Containment index dir ([[StreamContainment]]) — self-sufficient
        * on delete (the negative df derives from its own stored sets,
        * never the corpus), so it runs with the id-keyed derivatives. */
      containmentDir: Option[String] = None,
      /** N-gram df index: (dir, n) ([[StreamNgramDf]]) — requires
        * `curateDir` (the negative delta needs the bodies). */
      ngramDf: Option[(String, Int)] = None,
      /** The corpus key column (and the text column for the ngram-df
        * leg). */
      idCol: String = "doc_id",
      textCol: String = "text",
      /** Cluster granularity for curate-corpus folds (r15 — the
        * [[StreamCurate.compact]] `clusterBins` the maintainer and
        * [[reclaim]] pass through): > 1 writes the folded base
        * SHARD-CLUSTERED so a later [[Release.publishDelta]]
        * state-tier content read partition-prunes to the touched
        * shards' cluster dirs. 1 = flat (the default; power of two
        * dividing [[StreamCurate.FpShardBins]] otherwise). The
        * production setting: match the release shard granularity. */
      curateClusterBins: Int = 1)

  /** Phase 1 — logical deletes everywhere, derivatives first, bodies
    * last. `ids` is a one-column frame of `sinks.idCol` keys. Safe to
    * re-run after a partial failure (every leg is idempotent). */
  def forget(s: SparkSession, ids: DataFrame, sinks: Sinks): Unit = {
    val keys = ids.select(col(sinks.idCol)).distinct()
    // 1. the text-derived index FIRST, while the corpus still serves
    //    the bodies it needs (cascade-order contract)
    sinks.ngramDf.foreach { case (dir, n) =>
      val corpusDir = sinks.curateDir.getOrElse(
        throw new IllegalArgumentException(
          "the ngram-df cascade needs the deleted texts: configure " +
            "curateDir (run forget BEFORE the bodies are reclaimed)"))
      StreamCurate.load(s, corpusDir) match {
        case Some(corpus) =>
          // resolve the deleted BODIES with a pushed-down id predicate
          // when the takedown batch is driver-small (they are
          // human-complaint-sized by nature): an isin filter reaches
          // the parquet scan and prunes row groups by the id column's
          // min/max stats, so resolving 100 bodies never scans the
          // corpus's text column end-to-end — the semi-join fallback
          // (which does) only engages past the cap
          val keyVals = keys.limit(MaxPushdownKeys + 1).collect()
            .map(_.get(0))
          val resolved = (
            if (keyVals.length <= MaxPushdownKeys)
              corpus.filter(col(sinks.idCol).isInCollection(keyVals))
            else corpus.join(keys, Seq(sinks.idCol), "left_semi")
          ).select(col(sinks.idCol), col(sinks.textCol))
          // PER-KEY loud-failure guard: a requested key the ngram sink
          // still COUNTS (seen minus already-deleted) but whose body
          // the corpus cannot resolve (policy-rejected, tombstoned
          // outside the cascade) would be silently un-forgettable —
          // its gram contributions would survive forever once the
          // bodies are gone. Refuse instead (r11 second-review #2).
          StreamNgramDf.countedIds(s, dir).foreach { counted =>
            val unresolved = keys
              .join(counted.select(col("id").as(sinks.idCol)),
                Seq(sinks.idCol), "left_semi")
              .join(resolved.select(sinks.idCol), Seq(sinks.idCol),
                "left_anti")
              .limit(5).collect().map(_.get(0))
            if (unresolved.nonEmpty)
              throw new IllegalStateException(
                s"ngram-df index at $dir still counts keys whose bodies " +
                  s"the corpus at $corpusDir cannot resolve " +
                  s"(${unresolved.mkString(", ")}…) — their negative " +
                  "deltas cannot be derived, so the cascade refuses " +
                  "rather than silently leaving their contributions")
          }
          StreamNgramDf.deleteDocs(s, dir, resolved, sinks.idCol,
            sinks.textCol, n)
        case None =>
          // a configured corpus with NO committed state cannot resolve
          // the bodies — if the ngram sink HAS state, skipping would
          // report a forget that silently never reached it (the
          // contributions would survive forever, unrecoverably once
          // the bodies are gone). Fail loudly instead.
          if (StreamNgramDf.load(s, dir).nonEmpty)
            throw new IllegalStateException(
              s"ngram-df index at $dir has state but the corpus at " +
                s"$corpusDir has none — the deleted texts cannot be " +
                "resolved, so the ngram-df cascade cannot run (forget " +
                "must run while the corpus still serves the bodies)")
      }
    }
    // 2. id-keyed derivatives, any order
    sinks.bm25Dir.foreach(d => StreamBm25.deleteDocs(s, d, keys,
      sinks.idCol, blockRecrawl = sinks.bm25BlockRecrawl))
    sinks.ivf.foreach { case (d, idCol, vecCol) =>
      StreamIvf.deleteVecs(s, d,
        keys.select(col(sinks.idCol).as(idCol)), idCol, vecCol)
    }
    sinks.clustersDir.foreach(d => StreamClusters.deleteNodes(s, d,
      keys.select(col(sinks.idCol).as("id"))))
    sinks.containmentDir.foreach(d => StreamContainment.deleteDocs(s, d,
      keys.select(col(sinks.idCol).as("id"))))
    // 3. the bodies LAST
    sinks.curateDir.foreach(d => StreamCurate.deleteCurated(s, d,
      keys, sinks.idCol))
  }

  /** [[forget]] addressed by CONTENT instead of ids — the shape a
    * DMCA/right-to-be-forgotten request actually arrives in: the bytes
    * are digested and resolved to corpus ids through the curation
    * sink's content-address map ([[StreamCurate.deleteCuratedByContent]]
    * semantics, including the loud pre-map refusal), then the full
    * id-keyed cascade runs. Requires `curateDir` (the map lives there). */
  def forgetByContent(s: SparkSession, texts: DataFrame, sinks: Sinks,
                      textCol: String = "text"): Unit = {
    val corpusDir = sinks.curateDir.getOrElse(
      throw new IllegalArgumentException(
        "content-addressed forget resolves ids through the curation " +
          "sink's digest map: configure curateDir"))
    StreamCurate.resolveContentIds(s, corpusDir, texts, textCol)
      .foreach { ids =>
        val keyed =
          if (sinks.idCol == "doc_id") ids
          else ids.select(col("doc_id").as(sinks.idCol))
        forget(s, keyed, sinks)
      }
  }

  /** Phase 3 — ATTESTATION: the per-sink residual PROOF a compliance
    * pipeline files after [[forget]] — one row per configured sink with
    * the count of entities the sink still serves (`n_served`) and how
    * many of those are in the deleted id set (`n_residual`, the number
    * the report exists for: 0 everywhere = every derivative forgot;
    * anything else names the sink that still serves deleted content —
    * a crashed cascade leg, a sink added after the takedown, a bug).
    *
    * The entity each sink is attested BY is its served identity: corpus
    * rows, distinct BM25 doc keys, distinct IVF vector ids, cluster
    * members, containment set docs, and the ngram-df sink's
    * counted-contribution ids (its state is df SUMS, so the id ledger —
    * seen minus deleted — is the attestable view; st13 pins the sums
    * netting to a survivor recompute). A configured sink with no
    * committed state attests (0, 0) — deployed, empty, nothing served.
    *
    * Scale shape: per sink one metadata-narrow column scan + one
    * broadcast left join against the takedown-sized key set folding
    * into a single 1-row count pair — no bodies, no index payloads,
    * no shuffles wider than the key column. Safe to run on a
    * schedule. */
  def attest(s: SparkSession, ids: DataFrame, sinks: Sinks): DataFrame = {
    val keys0 = ids.select(col(sinks.idCol).as("__key")).distinct()
      .withColumn("__del", lit(1))
    // mirror [[forget]]'s size discipline (ADVICE r12): takedown batches
    // are human-complaint-sized by nature, but an oversized id set must
    // not be force-broadcast — past the cap the hint is dropped and the
    // join planner (AQE) picks the strategy from real sizes.
    val keys =
      if (keys0.limit(MaxPushdownKeys + 1).count() <= MaxPushdownKeys)
        broadcast(keys0)
      else keys0
    def row(sink: String, served: DataFrame, keyCol: String): DataFrame =
      served.select(col(keyCol).as("__key"))
        .join(keys, Seq("__key"), "left")
        .agg(count(lit(1)).as("n_served"),
          count(col("__del")).as("n_residual"))
        .select(lit(sink).as("sink"), col("n_served"), col("n_residual"))
    union("attest", reported(s, sinks).map(m => m.served()
      .map { case (served, keyCol) => row(m.name, served, keyCol) }
      .getOrElse(s.range(1).select(lit(m.name).as("sink"),
        lit(0L).as("n_served"), lit(0L).as("n_residual")))))
  }

  /** Live data partitions at or above this count recommend a fold in
    * [[maintenanceReport]] — every serve unions the live deltas, so an
    * unbounded delta chain degrades reads even when nothing is masked. */
  val MaxLiveParts = 8

  /** The per-sink HEALTH report a background maintainer polls — every
    * signal the deployment's policy verbs already expose, in one frame
    * (one row per configured sink):
    *
    *   - `n_data` / `n_tombstones` / `n_aux` — the manifest's declared
    *     families: live delta partitions, unabsorbed masks, permanent
    *     ledgers (delete records, the re-crawl blocklist).
    *   - `n_generations` — time-travel history depth (the vacuum dial).
    *   - `n_quarantined` — rows waiting in the admission outbox
    *     (curation sink only; 0 elsewhere).
    *   - `fingerprint_ok` — whether the maintained O(state) checksum
    *     covers every live partition (curate/bm25/ivf; NULL for sinks
    *     without one). False = a pre-upgrade dir — one fold migrates.
    *   - `needs_compaction` — the fold trigger: unabsorbed TOMBSTONES
    *     (every serve pays their anti-join), a delta chain at
    *     [[MaxLiveParts]], or the sink's own policy (BM25's tiered
    *     small-segment rule, the cluster table's overlay-share rule).
    *     Deliberately NOT triggered by `n_aux` (permanent ledgers) or
    *     by LSM negative deltas (already netted by the keyed serve) —
    *     the report distinguishes "masks cost reads NOW" from "state a
    *     fold would merely tidy".
    *
    * Metadata-only: manifests, nBins/segment-count stats tables and the
    * cluster overlay count — never postings, vectors or bodies. */
  def maintenanceReport(s: SparkSession, sinks: Sinks): DataFrame =
    union("maintenanceReport", reported(s, sinks).map(health(s, _)._1))

  /** One sink's [[maintenanceReport]] row (a frame of literals read
    * now) and its fold trigger. */
  private def health(s: SparkSession, m: Managed): (DataFrame, Boolean) = {
    val l = Manifest.readLiveWithGen(s, m.dir).map(_._2)
    val (nd, nt, na) = l
      .map(x => (x.data.size.toLong, x.tombs.size.toLong, x.aux.size.toLong))
      .getOrElse((0L, 0L, 0L))
    val needs = l.isDefined &&
      (nt > 0 || nd >= MaxLiveParts || m.extraNeeds())
    // an unborn sink has no coverage to judge: fingerprint_ok stays
    // NULL until the first commit, like the no-checksum sinks
    val fp = if (l.isEmpty) None else m.fingerprintOk()
    (s.range(1).select(lit(m.name).as("sink"),
      lit(nd).as("n_data"), lit(nt).as("n_tombstones"), lit(na).as("n_aux"),
      lit(Manifest.generations(s, m.dir).size.toLong).as("n_generations"),
      lit(m.quarantined()).as("n_quarantined"),
      fp.map(b => lit(b)).getOrElse(lit(null)).cast("boolean")
        .as("fingerprint_ok"),
      lit(needs).as("needs_compaction")), needs)
  }

  /** RETENTION DRY RUN across the configured sinks — what WOULD a
    * vacuum under `retainMillis` delete, per sink, without deleting
    * anything: (sink, n_generations, n_expire, n_reclaimable,
    * n_orphans). The operator's pre-flight for [[reclaim]]'s
    * irreversibility dial: `n_expire` names the time-travel history
    * that would stop serving, `n_reclaimable` the folded-away
    * partitions whose bytes actually come back (the compact+vacuum
    * pairing made visible — a vacuum after a forget with NO fold
    * reclaims nothing, because the latest generation still references
    * every partition), `n_orphans` the staged-but-never-committed
    * leftovers an `includeOrphans` pass would also take. Pure manifest
    * metadata + directory listings — zero data reads, zero writes. */
  def retentionReport(s: SparkSession, sinks: Sinks,
                      retainMillis: Option[Long] = None): DataFrame =
    union("retentionReport", reported(s, sinks).map { m =>
      val (g, e, r, o) = m.sink.vacuumPlan(s, m.dir, retainMillis)
        .getOrElse((0L, 0L, 0L, 0L))
      s.range(1).select(lit(m.name).as("sink"),
        lit(g).as("n_generations"), lit(e).as("n_expire"),
        lit(r).as("n_reclaimable"), lit(o).as("n_orphans"))
    })

  /** BYTES-level retention dry run — [[retentionReport]] plus what the
    * vacuum actually gives BACK: (sink, n_generations, n_expire,
    * n_reclaimable, bytes_reclaimable, n_orphans, bytes_orphans). The
    * number an operator sizes storage against ("how many TB does
    * running retention now buy"), next to the partition counts the
    * plain report names.
    *
    * Scale shape ([[Manifest.vacuumPlanBytes]]): committed partitions
    * are immutable, so each one's size is summed ONCE in its lifetime
    * and memoized in a bytes-sized ledger riding the manifest dir —
    * a scheduled report costs O(partitions folded since the last
    * report) listings, never a live `listStatus` storm over the whole
    * index. Zero data reads, zero Spark jobs beyond the literal report
    * rows. */
  def retentionBytesReport(s: SparkSession, sinks: Sinks,
                           retainMillis: Option[Long] = None): DataFrame =
    union("retentionBytesReport", reported(s, sinks).map { m =>
      val (g, e, r, o, rb, ob) = m.sink.vacuumPlanBytes(s, m.dir, retainMillis)
        .getOrElse((0L, 0L, 0L, 0L, 0L, 0L))
      s.range(1).select(lit(m.name).as("sink"),
        lit(g).as("n_generations"), lit(e).as("n_expire"),
        lit(r).as("n_reclaimable"), lit(rb).as("bytes_reclaimable"),
        lit(o).as("n_orphans"), lit(ob).as("bytes_orphans"))
    })

  /** [[attest]] addressed by CONTENT — the DMCA-shaped PROOF: the
    * request's bytes are digested and resolved to every corpus id ever
    * seen with that content through the curation sink's digest map
    * (the same resolution [[forgetByContent]] deletes through,
    * including ids a re-upload re-introduced AFTER the takedown —
    * that's the case this report exists to catch), then the standard
    * per-sink residual attestation runs over the resolved id set.
    * n_residual = 0 everywhere proves no sink serves the content under
    * ANY id; a planted re-upload shows up as a corpus residual even
    * though the original ids were fully forgotten. Unresolvable texts
    * (never ingested under any id) contribute no ids — content the
    * corpus never saw attests clean by construction. Requires
    * `curateDir` (the digest map lives there). */
  def attestByContent(s: SparkSession, texts: DataFrame, sinks: Sinks,
                      textCol: String = "text"): DataFrame = {
    val corpusDir = sinks.curateDir.getOrElse(
      throw new IllegalArgumentException(
        "content-addressed attest resolves ids through the curation " +
          "sink's digest map: configure curateDir"))
    val ids = StreamCurate
      .resolveContentIds(s, corpusDir, texts, textCol)
      .map(r =>
        if (sinks.idCol == "doc_id") r
        else r.select(col("doc_id").as(sinks.idCol)))
      .getOrElse(s.range(0).select(lit(0L).as(sinks.idCol)))
    attest(s, ids, sinks)
  }

  /** The policy CONSUMER for [[maintenanceReport]] — the verb a
    * scheduled maintainer actually calls: reads the report and folds
    * exactly the sinks whose trigger fired, leaving healthy sinks
    * untouched (an unconditional fold loop burns write amplification
    * and — the StreamClustersSpec lesson — can starve concurrent
    * appends' CAS). BM25 refinement: tombstones force a FULL fold
    * (masks must absorb); a tiered-rule-only trigger folds just the
    * small-segment candidate set, preserving the big segments.
    *
    * Returns the report it acted on plus an `acted` column — the
    * maintenance log line. Vacuum is deliberately NOT run here:
    * retention is the legal dial and [[reclaim]] owns it. Idempotent:
    * a fold clears its own trigger, so the next run acts on nothing. */
  def maintain(s: SparkSession, sinks: Sinks): DataFrame = {
    val rows = reported(s, sinks).map(m => (m, health(s, m)))
    rows.foreach { case (m, (_, needs)) => if (needs) m.fold(true) }
    union("maintain", rows.map { case (_, (row, needs)) =>
      row.withColumn("acted", lit(needs))
    })
  }

  /** [[maintain]] on a Structured Streaming TRIGGER — the maintainer as
    * a stream, not a cron (VERDICT r12 #6 / the r12 close's candidate
    * #2): a rate-source stream whose every micro-batch runs one
    * maintain() pass over the configured sinks, so the fold policy
    * rides the engine's trigger/retry/shutdown lifecycle instead of an
    * external scheduler.
    *
    * CONCURRENCY CONTRACT: each pass's per-sink folds are the sinks'
    * own CAS-committed verbs ([[Manifest.commitLiveAfter]] + claimed
    * negative ids), so racing a live append/takedown is SAFE by
    * construction — the storm suite proves end-state ≡ scratch with
    * all three actors pounding one manifest. A pass that loses a CAS
    * throws `ConcurrentModificationException` mid-fold; the stream
    * treats that as "state moved under me" and simply lets the NEXT
    * trigger re-read fresh state (maintain is idempotent and a lost
    * CAS committed nothing), rather than failing the query. Any other
    * exception fails the stream loudly — a broken sink must not be
    * silently re-polled forever.
    *
    * `onReport` sees each completed pass's report (the maintenance log
    * line); the default discards it. Stop with the returned query's
    * `stop()`. */
  def maintainStream(s: SparkSession, sinks: Sinks,
                     intervalMs: Long = 1000L,
                     onReport: DataFrame => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    s.readStream.format("rate").option("rowsPerSecond", 1L).load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(intervalMs))
      .foreachBatch { (_: DataFrame, _: Long) =>
        ManagedSink.skipOnLostCas(onReport(maintain(s, sinks)))
      }
      .start()

  /** Phase 2 — physical reclaim: fold every configured sink (the merge
    * absorbs masks and negative deltas) and vacuum its history under
    * `retainMillis` (None = expire everything but the latest snapshot
    * — forgetting is immediately irreversible), in cascade order. A
    * configured sink with no committed state (unborn, or holding only
    * its empty birth commit) is skipped — deployed but empty, as
    * [[attest]] and the reports read it: nothing to fold or expire, no
    * id claimed, nothing created under its dir, and the sinks after it
    * are still reclaimed. */
  def reclaim(s: SparkSession, sinks: Sinks,
              retainMillis: Option[Long] = None): Unit =
    configured(s, sinks).foreach { m =>
      if (Manifest.read(s, m.dir).exists(_.nonEmpty)) {
        m.fold(false)
        m.sink.vacuum(s, m.dir, retainMillis = retainMillis)
      }
    }

  /** One configured sink as the maintenance verbs see it: its report
    * name, dir and [[ManagedSink]] layout, plus the per-sink parts —
    *
    *   - `served`: the entities [[attest]] counts and their key column
    *     (None = no committed state);
    *   - `quarantined`: rows waiting in the admission outbox;
    *   - `fingerprintOk`: whether the maintained checksum covers every
    *     live partition (None = the sink keeps none);
    *   - `extraNeeds`: the sink's own fold trigger, beyond masks and
    *     delta-chain depth;
    *   - `fold`: fold the live partitions into a merged base; `tiered`
    *     lets BM25 fold just its small-segment candidates. */
  private case class Managed(
      name: String, dir: String, sink: ManagedSink,
      served: () => Option[(DataFrame, String)],
      quarantined: () => Long = () => 0L,
      fingerprintOk: () => Option[Boolean] = () => None,
      extraNeeds: () => Boolean = () => false,
      fold: Boolean => Unit)

  /** The configured sinks in CASCADE ORDER ([[forget]]): the ngram-df
    * sink first, the id-keyed derivatives next, the corpus last. */
  private def configured(s: SparkSession, sinks: Sinks): Seq[Managed] = Seq(
    sinks.ngramDf.map { case (d, _) => Managed("ngram_df", d, StreamNgramDf,
      served = () => StreamNgramDf.countedIds(s, d).map(_ -> "id"),
      fold = _ => StreamNgramDf.compact(s, d,
        StreamNgramDf.nextCompactId(s, d)))
    },
    sinks.bm25Dir.map(d => Managed("bm25", d, StreamBm25,
      served = () => StreamBm25.load(s, d)
        .map(_.postings.select("key").distinct() -> "key"),
      fingerprintOk = () => Some(StreamBm25.fingerprintState(s, d).isDefined),
      extraNeeds = () => StreamBm25.compactionCandidates(s, d).nonEmpty,
      fold = tiered => foldBm25(s, d, tiered))),
    sinks.ivf.map { case (d, idCol, vecCol) => Managed("ivf", d, StreamIvf,
      served = () => StreamIvf.load(s, d, idCol, vecCol)
        .map(_.postings.select(idCol).distinct() -> idCol),
      fingerprintOk = () => Some(StreamIvf.fingerprintState(s, d).isDefined),
      fold = _ => StreamIvf.compactAll(s, d, StreamIvf.nextCompactId(s, d),
        idCol, vecCol))
    },
    sinks.clustersDir.map(d => Managed("clusters", d, StreamClusters,
      served = () => StreamClusters.load(s, d).map(_ -> "id"),
      extraNeeds = () => StreamClusters.needsCompaction(s, d),
      fold = _ => StreamClusters.compact(s, d,
        StreamClusters.nextCompactId(s, d)))),
    sinks.containmentDir.map(d => Managed("containment", d, StreamContainment,
      served = () => StreamContainment.loadSets(s, d).map(_ -> "__cid"),
      fold = _ => StreamContainment.compact(s, d,
        StreamContainment.nextCompactId(s, d)))),
    sinks.curateDir.map(d => Managed("corpus", d, StreamCurate,
      served = () => StreamCurate.load(s, d).map(_ -> sinks.idCol),
      quarantined = () =>
        StreamCurate.quarantine(s, d).map(_.count()).getOrElse(0L),
      fingerprintOk = () =>
        Some(StreamCurate.fingerprintState(s, d).isDefined),
      fold = _ => StreamCurate.compact(s, d, StreamCurate.nextCompactId(s, d),
        clusterBins = sinks.curateClusterBins)))
  ).flatten

  /** Row order of the per-sink reports: the corpus first, ngram-df last. */
  private val ReportOrder =
    Seq("corpus", "bm25", "ivf", "clusters", "containment", "ngram_df")

  private def reported(s: SparkSession, sinks: Sinks): Seq[Managed] =
    configured(s, sinks).sortBy(m => ReportOrder.indexOf(m.name))

  /** The per-sink rows of a report verb as one frame. */
  private def union(verb: String, rows: Seq[DataFrame]): DataFrame = {
    require(rows.nonEmpty, s"$verb needs at least one configured sink")
    rows.reduce(_ unionByName _)
  }

  /** BM25's fold. Tombstones force a FULL fold (masks must absorb); a
    * `tiered` fold otherwise takes just the small-segment candidates. A
    * fired trigger with an EMPTY candidate set (a delta chain at
    * [[MaxLiveParts]] made of segments the tiered rule keeps) folds
    * fully too: acting on nothing would leave the trigger set forever
    * and re-act every run, breaking "a fold clears its own trigger"
    * (ADVICE r12). */
  private def foldBm25(s: SparkSession, dir: String, tiered: Boolean)
      : Unit = {
    val cands =
      if (!tiered || Manifest.readLiveWithGen(s, dir)
            .exists(_._2.tombs.nonEmpty)) Set.empty[Int]
      else StreamBm25.compactionCandidates(s, dir)
    val target =
      if (cands.nonEmpty) cands else Manifest.read(s, dir).getOrElse(Set())
    if (target.nonEmpty)
      StreamBm25.compactSet(s, dir, target,
        into = StreamBm25.nextCompactId(s, dir))
  }
}
