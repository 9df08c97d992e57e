package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifact, Tables}
import graft.ext.Multimodal
import graft.streaming.Sessionize

/** Multimodal plumbing + streaming-shaped operators (tumbling windows,
  * sessionization) in their batch forms (SURVEY.md §2.10; BASELINE.json
  * north star).
  */
object ExtQ {
  type Q = (SparkSession, String) => DataFrame

  /** The st6 segment DIR — the full-corpus streamed-BM25 lifecycle
    * PREFIX: st7 (+compact) branches from this committed dir (r16, the
    * st9→st15/x58 rationale — the 3-batch tokenize+index ingest is the
    * corpus-sized cost; the branch is an MB-sized file copy). */
  private val streamedBm25Dir = Artifact("streamedBm25Dir") { (s, d) =>
    val spec = "v2 3batches mod3 partdirs"
    def ingest(dir: String): Unit = {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      (0 to 2).foreach { i =>
        graft.streaming.StreamBm25.appendBatch(dir,
          docs.filter(col("doc_id") % 3 === i), i, "doc_id", "text")
      }
    }
    // the segment dir IS the maintained artifact of the streaming
    // ingest — under the ArtifactStore it is written once per fixture
    // and every later JVM (and every clearCaches rebuild) reloads it
    Artifact.storedDir(d, "st6segs", spec)(ingest)
  }

  /** The STREAM-MAINTAINED segmented BM25 index ([[graft.streaming
    * .StreamBm25]]): the corpus ingested as three arrival batches through
    * the SAME `foreachBatch` sink body the firehose runs (the st4/st5
    * batch-degenerate precedent), each batch landing as an immutable
    * on-disk parquet segment, then loaded back — so st6 serves from the
    * disk-round-tripped maintained artifact, not in-memory lineage
    * (x51's form). Memoized per (session, sfDir): the index IS the
    * maintained artifact of the streaming ingest, the x45 signature-index
    * rationale. StreamBm25Spec proves a REAL MemoryStream micro-batch
    * ingest through the identical sink body is bit-equal to scratch. */
  private val streamedBm25 = Artifact("streamedBm25") { (s, d) =>
    val segs = graft.streaming.StreamBm25
      .load(s, streamedBm25Dir(s, d)).get
    val postings = segs.postings.persist(); postings.count()
    val stats = segs.segStats.persist(); stats.count()
    val termDf = segs.termDf.persist(); termDf.count()
    graft.ext.TextOps.Bm25Segments(postings, stats, termDf)
  }

  /** st7's COMPACTED streamed index: the same 3-batch ingest as
    * [[streamedBm25]] into its own directory, then the on-disk
    * background merge ([[graft.streaming.StreamBm25.compact]]) folds
    * segments 0-1 into merged segment -1 (the negative merged-id
    * namespace) — the full Lucene maintenance
    * lifecycle (ingest → serve → merge) on the parquet layout. Kept
    * separate from the st6 dir, which must stay 3-segment for st6's
    * streamed ≡ scratch claim. */
  private val compactedBm25 = Artifact("compactedBm25", streamedBm25) { (s, d) =>
    // v4 (r16): BRANCH the committed st6 prefix instead of
    // re-running the identical 3-batch ingest; the fold is unchanged.
    val spec = "v4 branch=st6 compact upTo=1 into=-1 partdirs"
    def build(dir: String): Unit = {
      graft.ArtifactStore.branchFrom(streamedBm25Dir(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamBm25.compact(s, dir, upTo = 1, into = -1)
    }
    val dir = Artifact.storedDir(d, "st7segs", spec)(build)
    val segs = graft.streaming.StreamBm25.load(s, dir).get
    val postings = segs.postings.persist(); postings.count()
    val stats = segs.segStats.persist(); stats.count()
    val termDf = segs.termDf.persist(); termDf.count()
    graft.ext.TextOps.Bm25Segments(postings, stats, termDf)
  }

  /** The x57/x60 shared lifecycle PREFIX (r16): the 2-batch ingest of
    * the x48 corpus slice, committed once — the two takedown lifecycles
    * diverge only at the delete verb (plain vs `blockRecrawl = true`),
    * so each branches from this dir instead of re-tokenizing the slice. */
  private val bm25TwoBatchBase = Artifact("bm25TwoBatchBase") { (s, d) =>
    val spec = "v1 2batches mod2 corpus=%97!=3 partdirs"
    def ingest(dir: String): Unit = {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 97 =!= 3)
      (0 to 1).foreach { i =>
        graft.streaming.StreamBm25.appendBatch(dir,
          docs.filter(col("doc_id") % 2 === i), i, "doc_id", "text")
      }
    }
    Artifact.storedDir(d, "x48b2", spec)(ingest)
  }

  /** Memoized TAKEDOWN-lifecycle index for x57 — the full
    * delete-then-reclaim story on the streamed BM25 layout: ingest the
    * x48 corpus (doc_id % 97 != 3) as 2 micro-batches, tombstone the
    * doc_id % 10 == 0 slice ([[graft.streaming.StreamBm25.deleteDocs]]
    * — Lucene liveDocs: masked immediately, df stale until merge), then
    * a FULL compaction physically reclaims the deleted docs and
    * re-derives df/stats from the survivors — after which the index is
    * bit-equal to one never containing them, which is exactly what the
    * DuckDB oracle recomputes. */
  private val takedownBm25 = Artifact("takedownBm25", bm25TwoBatchBase) { (s, d) =>
    // v2 (r16): BRANCH the committed 2-batch base; takedown verbs
    // unchanged.
    val spec = "v2 branch=x48b2 delete=%10==0 fullcompact"
    def build(dir: String): Unit = {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 97 =!= 3)
      graft.ArtifactStore.branchFrom(bm25TwoBatchBase(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamBm25.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"),
        "doc_id")
      graft.streaming.StreamBm25.compactSet(s, dir,
        graft.streaming.Manifest.read(s, dir).get,
        into = graft.streaming.StreamBm25.nextCompactId(s, dir))
    }
    val dir = Artifact.storedDir(d, "x57segs", spec)(build)
    val segs = graft.streaming.StreamBm25.load(s, dir).get
    val postings = segs.postings.persist(); postings.count()
    val stats = segs.segStats.persist(); stats.count()
    val termDf = segs.termDf.persist(); termDf.count()
    graft.ext.TextOps.Bm25Segments(postings, stats, termDf)
  }

  /** Memoized BLOCKLIST-lifecycle index for x60 — x57's takedown with
    * `blockRecrawl = true`, then the part x57 cannot promise: after the
    * FULL fold physically reclaimed the deleted docs (tombstones
    * cleared), the exact keys are RE-DELIVERED as a fresh crawl batch —
    * and stay out, because the blocklist partition rides the manifest's
    * `aux` family through every fold (the x58 seen-digest semantics
    * brought to the index sink, closing the r10 x57/x58 asymmetry).
    * The served index is therefore bit-equal to one that never
    * contained the deleted docs even though their bytes arrived twice,
    * which is exactly what the oracle recomputes. */
  private val blocklistBm25 = Artifact("blocklistBm25", bm25TwoBatchBase) { (s, d) =>
    // v2 (r16): BRANCH the committed 2-batch base (shared with x57);
    // the blocklist delete + fold + re-crawl legs are unchanged.
    val spec = "v2 branch=x48b2 block=%10==0 fullcompact recrawl"
    def build(dir: String): Unit = {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 97 =!= 3)
      graft.ArtifactStore.branchFrom(bm25TwoBatchBase(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamBm25.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"),
        "doc_id", blockRecrawl = true)
      graft.streaming.StreamBm25.compactSet(s, dir,
        graft.streaming.Manifest.read(s, dir).get,
        into = graft.streaming.StreamBm25.nextCompactId(s, dir))
      // the re-crawl AFTER reclaim: same keys, same bytes — the
      // blocklist (not the long-gone tombstone) keeps them out
      graft.streaming.StreamBm25.appendBatch(dir,
        docs.filter(col("doc_id") % 10 === 0), 5, "doc_id", "text")
    }
    val dir = Artifact.storedDir(d, "x60segs", spec)(build)
    val segs = graft.streaming.StreamBm25.load(s, dir).get
    val postings = segs.postings.persist(); postings.count()
    val stats = segs.segStats.persist(); stats.count()
    val termDf = segs.termDf.persist(); termDf.count()
    graft.ext.TextOps.Bm25Segments(postings, stats, termDf)
  }

  /** Memoized media FINGERPRINT index for m6 — the maintained
    * (doc_id, phash) artifact an incremental media-dedup loop carries
    * between crawls (the x45 signature-index rationale applied to the
    * perceptual hashes): in production it is written once per corpus
    * snapshot and every re-crawl batch bandjoins against it WITHOUT
    * re-decoding a single committed payload — the decode scan (m5's
    * linear leg, SCALING.md exp 0.96) becomes a one-time build cost.
    * Index side = the doc_id % 4 != 0 slice; the % 4 == 0 slice plays
    * the arriving crawl batch. */
  private[graft] val mediaFingerprintIndex = Artifact("mediaFingerprintIndex") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "phashidx",
      "v1 ahash corpus=doc_id%4!=0") {
      Multimodal.perceptualHash(
        Multimodal.mediaTable(Tables.documents(s, d)
          .filter(col("doc_id") % 4 =!= 0)),
        new Multimodal.ImageIoAHash())
        .select("doc_id", "phash")
    }
    val idx = loaded.persist()
    idx.count() // materialize inside the lock (shared await)
    idx
  }

  /** Memoized MAINTAINED-FINGERPRINT BM25 dir for st17 — a full
    * lifecycle that exercises the trickiest leg of the partial algebra:
    * three mod-3 appends of the doc_id % 4 != 0 slice, a % 10 == 0
    * takedown (negative partial rides the tombstone), and a PARTIAL
    * fold of segments {0, 1} — the tombstones stay live and keep
    * subtracting, so the merged partial must carry the folded segments'
    * RAW contributions ([[graft.streaming.StreamBm25.fingerprintState]]).
    * The serve is O(state): one (n, xor) row per live id, never an
    * index scan. */
  private val fpBm25Dir = Artifact("fpBm25Dir") { (s, d) =>
    val spec = "v1 3batches mod3 corpus=%4!=0 delete=%10==0 " +
      "partialcompact01 fpstate"
    def build(dir: String): Unit = {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 4 =!= 0)
      (0 to 2).foreach { i =>
        graft.streaming.StreamBm25.appendBatch(dir,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i,
          "doc_id", "text")
      }
      graft.streaming.StreamBm25.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"),
        "doc_id")
      graft.streaming.StreamBm25.compactSet(s, dir, Set(0, 1),
        into = graft.streaming.StreamBm25.nextCompactId(s, dir))
    }
    Artifact.storedDir(d, "st17bm25fp", spec)(build)
  }

  /** Prewarm DAG (r15): see [[graft.queries.TextQ.prewarmTasks]]. Every
    * streamed-BM25 lifecycle builder owns its own sink dir; the edges are
    * the r16 branch edges (st7 copies st6's committed prefix, x57/x60 the
    * shared 2-batch base, [[graft.ArtifactStore.branchFrom]]).
    * Heaviest-first (cold walls, r15). */
  private val prewarmed: Seq[Artifact[_]] = Seq(streamedBm25,
    bm25TwoBatchBase, compactedBm25, takedownBm25, blocklistBm25, fpBm25Dir,
    mediaFingerprintIndex)

  private[graft] def prewarmTasks(s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] = Artifact.tasks(prewarmed, s, d)

  val queries: Map[String, Q] = Map(
    // M1 — multimodal metadata extraction: opaque binary payload →
    // mapPartitions batch decode. Default codec is the REAL
    // javax.imageio decoder: decodable payloads get true header
    // dimensions; the fixture's synthetic (non-image) payloads take its
    // deterministic fallback, so the DuckDB oracle is unchanged by
    // construction (fallback parity — MultimodalSpec decodes a real PNG
    // through the same default).
    "m1_media_meta" -> ((s, d) =>
      Multimodal.extractMeta(
          Multimodal.mediaTable(Tables.documents(s, d)),
          new Multimodal.ImageIoDecoder())
        .toDF()
        .orderBy("doc_id")),

    // M2 — multimodal feature extraction: payload → 8-dim embedding via a
    // per-partition stub extractor (the "vision model over a batch" stage).
    // The oracle compares the 16-bit quantization of each component —
    // integer-exact on both engines, no float-rounding hazard; the float
    // vector itself (and its flow into the similarity kernel) is pinned by
    // MultimodalSpec.
    "m2_media_embed" -> ((s, d) =>
      Multimodal.extractFeatures(
          Multimodal.mediaTable(Tables.documents(s, d)), Multimodal.StubExtractor)
        .toDF()
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim"),
          round(col("v") * 65535.0, 0).cast("int").as("q"))
        .orderBy("doc_id", "dim")),

    // M3 — multimodal resize: aspect-preserving integer fit into 512×384
    // (the batch image-transform stage). Real codecs by default: imageio
    // header decode + bilinear PNG re-encode for decodable payloads,
    // deterministic fallbacks (incl. the truncation re-encode the oracle
    // replicates) for everything else — fixture payloads are synthetic,
    // so m3's oracle hashes are unchanged by construction.
    "m3_media_resize" -> ((s, d) =>
      Multimodal.resize(
          Multimodal.mediaTable(Tables.documents(s, d)),
          new Multimodal.ImageIoDecoder(),
          maxW = 512, maxH = 384, resizer = new Multimodal.ImageIoResizer())
        .toDF()
        .select("doc_id", "kind", "width", "height", "out_w", "out_h", "n_bytes_out")
        .orderBy("doc_id")),

    // M4 — video frame sampling: every 2nd frame, one row per frame via an
    // iterator-to-iterator flatMap (rows-out ≠ rows-in batch stage).
    "m4_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
          Multimodal.mediaTable(Tables.documents(s, d))
            .filter(col("kind") === "video"),
          new Multimodal.ImageIoDecoder(), stride = 2)
        .toDF()
        .select("doc_id", "frame_idx", "offset", "frame_len")
        .orderBy("doc_id", "frame_idx")),

    // M5 — perceptual-hash media near-dup: the multimodal member of the
    // dedup family. mapPartitions aHash stage (REAL javax.imageio
    // average-hash for decodable payloads; md5-derived fallback for the
    // fixture's synthetic bytes — exact-dup-only semantics, so the
    // DuckDB oracle replicates it bit-for-bit) → the SAME banded-Hamming
    // kernel text SimHash uses ([[Dedup.fingerprintPairs]]): candidates
    // from 4 16-bit-band equi-joins (pigeonhole-exact to Hamming 3),
    // never O(n²). The corpus carries a planted RE-CRAWL slice
    // (doc_id % 11 == 0 re-keyed +2·10¹⁰, past any real doc_id — the
    // realistic media-dup source), so every SF yields Hamming-0 pairs;
    // the gate-SF fixture has no native byte-dups. MultimodalSpec pins
    // the real-codec path: a one-pixel edit pairs at small Hamming, an
    // inverted image doesn't.
    "m5_media_phash_dup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val recrawl = docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 20000000000L)
      graft.ext.Dedup.fingerprintPairs(
          Multimodal.perceptualHash(
            Multimodal.mediaTable(docs.unionByName(recrawl)),
            new Multimodal.ImageIoAHash()),
          "doc_id", "phash", maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // M6 — INCREMENTAL media near-dup ([[graft.ext.Dedup
    // .incrementalFingerprintDedup]]): m5's banded-Hamming pairing
    // against the MAINTAINED fingerprint index instead of a full-corpus
    // decode scan — the x45 daily-increment pattern for media. The
    // corpus side is ONLY its persisted (doc_id, phash) index (built
    // from the doc_id % 4 != 0 slice; the carried artifact in
    // production); the arriving batch = the % 4 == 0 slice PLUS a
    // byte-identical RE-CRAWL of the % 11 == 0 docs (re-keyed +2·10¹⁰ —
    // the realistic media-dup source). Only the BATCH decodes; a batch
    // doc survives iff within Hamming 3 of neither an index fingerprint
    // nor an earlier batch doc's. Output = the (doc_id) rows appended
    // to the index. Oracle-exact: the fixture's synthetic payloads take
    // the md5 fallback hash, which DuckDB replicates bit-for-bit (the
    // m5 oracle pattern), and banded recall is pigeonhole-exact at
    // Hamming ≤ 3 — so the quadratic SQL check IS this query's answer.
    "m6_media_phash_increment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batchDocs = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 20000000000L))
      val batchFp = Multimodal.perceptualHash(
          Multimodal.mediaTable(batchDocs), new Multimodal.ImageIoAHash())
        .select("doc_id", "phash")
      graft.ext.Dedup.incrementalFingerprintDedup(
          mediaFingerprintIndex(s, d), batchFp, "doc_id", "phash",
          maxHamming = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // M7 — TAKEDOWN cascaded to the media-fingerprint index (m6's
    // maintained artifact; the x59 pattern on the perceptual-hash
    // family): the index is id-keyed, so the cascade is one anti-join —
    // no payload is re-decoded. Semantics pinned by the output: a batch
    // image whose ONLY Hamming-3 partner was a deleted index doc now
    // survives into the corpus — perceptual similarity to forgotten
    // media is itself forgotten. Oracle = m6's SQL with the deleted
    // slice excluded from the index CTE.
    "m7_phash_takedown" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batchDocs = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 20000000000L))
      val batchFp = Multimodal.perceptualHash(
          Multimodal.mediaTable(batchDocs), new Multimodal.ImageIoAHash())
        .select("doc_id", "phash")
      graft.ext.Dedup.incrementalFingerprintDedup(
          mediaFingerprintIndex(s, d).filter(col("doc_id") % 10 =!= 0),
          batchFp, "doc_id", "phash", maxHamming = 3)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // ST1 — event-time tumbling window aggregation (Structured Streaming's
    // window() primitive, batch-executed; epoch-aligned 6h windows).
    "st1_tumbling_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("total"))
        .select(col("window.start").as("wstart"), col("window.end").as("wend"),
          col("event_type"), col("n"), col("total"))
        .orderBy("wstart", "event_type")),

    // ST2 — gap-based sessionization, batch form (window algebra); the
    // same state kernel runs in flatMapGroupsWithState (StreamingSpec).
    "st2_sessionize" -> ((s, d) =>
      Sessionize.batchSessions(Tables.events(s, d), gapSec = 3600,
          orderCols = Seq("ts", "event_id"))
        .orderBy("user_id", "session_idx")),

    // ST3 — online exact dedup, batch form (keep first arrival per
    // digest); the streaming twin is StreamDedup.streamKeepFirst
    // (mapGroupsWithState, StreamDedupSpec proves cross-batch agreement).
    "st3_dedup_keep_first" -> ((s, d) =>
      graft.streaming.StreamDedup.batchKeepFirst(
          graft.streaming.StreamDedup.digested(Tables.documents(s, d)))
        .orderBy("doc_id")),

    // ST4 — the streaming CURATION pipeline (x21 quality verdict ∘
    // first-seen dedup), batch-executed through the SAME code path the
    // firehose runs (StreamCurate.curate: row-shaped signals +
    // flatMapGroupsWithState, which degenerates to one stateless group
    // pass on a batch input). Oracle: x21's predicate + keep-min per
    // digest — StreamCurationSpec proves batch ≡ micro-batched stream.
    "st4_curate" -> ((s, d) =>
      graft.streaming.StreamCurate.curate(
          Tables.documents(s, d).select("doc_id", "text", "n_chars"),
          TextQ.stops)
        .toDF()
        .orderBy("doc_id")),

    // ST5 — ONLINE near-dup candidate detection (the streaming form of
    // x7's MinHash+LSH pairing), batch-executed through the SAME code
    // path the firehose runs (StreamNearDup.candidates: stateless banded
    // signatures + flatMapGroupsWithState per bucket). Distinct pairs at
    // x7's parameters; rows-only like x7 (hash-family-specific) —
    // StreamNearDupSpec proves stream ≡ batch candidates cross-batch.
    "st5_neardup_stream" -> ((s, d) =>
      graft.streaming.StreamNearDup.candidates(
          Tables.documents(s, d).select("doc_id", "text"), k = 32, bands = 16)
        .toDF()
        .filter(col("est_jaccard") >= 0.25)
        .dropDuplicates("id1", "id2")
        .select(col("id1"), col("id2"), round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id1", "id2")),

    // ST6 — STREAMING sparse-index maintenance ([[graft.streaming
    // .StreamBm25]]): the corpus ingested as micro-batch-shaped arrival
    // batches through the firehose's `foreachBatch` sink body, each batch
    // one immutable ON-DISK parquet segment (partition add — the segment
    // lifecycle x51 models in memory, made durable), then served with
    // query-time df ([[graft.ext.TextOps.bm25SearchSegmented]]) from the
    // loaded artifact. The DuckDB oracle builds the index from scratch
    // over the full corpus, so the driver compare proves streamed-
    // appended-segments ≡ scratch on real data, THROUGH the disk round
    // trip. StreamBm25Spec runs the genuinely-streaming form (MemoryStream
    // micro-batches through the same sink) and pins batch ≡ stream +
    // re-delivery no-op.
    "st6_bm25_stream" -> ((s, d) =>
      graft.ext.TextOps.bm25SearchSegmented(streamedBm25(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 101 === 7),
          "doc_id", "text", k = 5, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")),

    // ST7 — the COMPACTED streamed index: same firehose ingest, then the
    // on-disk background merge ([[graft.streaming.StreamBm25.compact]] —
    // Lucene's tiered merge on the parquet layout: postings of the folded
    // segments relabeled into one fresh partition, dictionaries summed,
    // stats rows collapsed, old partitions dropped last). The DuckDB
    // oracle builds from scratch, so the driver compare proves
    // streamed + COMPACTED ≡ scratch on real data — serve cost over a
    // distinct query slice from st6's, through the merged artifact.
    "st7_bm25_compacted" -> ((s, d) =>
      graft.ext.TextOps.bm25SearchSegmented(compactedBm25(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 101 === 11),
          "doc_id", "text", k = 5, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")),

    // X57 — TAKEDOWN lifecycle on the streamed index ([[takedownBm25]]:
    // StreamBm25.deleteDocs + full compaction). Tombstoned docs are
    // masked the instant the delete commits (Lucene liveDocs — df stays
    // stale until merge, spec-pinned), re-crawls of taken-down keys stay
    // out via the first-seen guard, and the full merge PHYSICALLY
    // reclaims them, re-deriving df/stats from the survivors — so the
    // served index is bit-equal to one that never contained the deleted
    // docs, which is exactly what the oracle recomputes (x48's SQL with
    // the deleted slice filtered out of the corpus CTE).
    "x57_bm25_takedown" -> ((s, d) =>
      graft.ext.TextOps.bm25SearchSegmented(takedownBm25(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 97 === 3),
          "doc_id", "text", k = 10, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")),

    // X60 — PERSISTENT-BLOCKLIST takedown ([[blocklistBm25]]: x57's
    // lifecycle with blockRecrawl=true, a FULL physical reclaim, and
    // then the deleted keys RE-DELIVERED as a fresh crawl). The
    // blocklist rides the manifest's aux family through the fold, so
    // the re-crawl appends nothing — the served index equals one that
    // never contained the deleted docs even though their bytes arrived
    // twice (the x58 seen-digest guarantee, now on the index sink; the
    // r10 x57/x58 "forgotten means different things" asymmetry closed).
    // Same oracle SHAPE as x57 over a disjoint query slice.
    "x60_bm25_blocklist" -> ((s, d) =>
      graft.ext.TextOps.bm25SearchSegmented(blocklistBm25(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 89 === 5),
          "doc_id", "text", k = 8, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")),

    // ST17 — the MAINTAINED BM25 fingerprint
    // ([[graft.streaming.StreamBm25.fingerprintState]], st15's pattern
    // on the sparse sink): "is this index snapshot X" answered from one
    // (n, xor) partial per live id — never an index scan — through a
    // full lifecycle including a takedown (negative partial) and a
    // PARTIAL fold (tombstones stay live; the merged partial carries
    // the folded segments' RAW contributions so the kept negatives
    // don't double-subtract). The identity bound is the served doc set
    // as (key, dl); the oracle recomputes the same checksum from the
    // raw corpus — the driver compare proves the metadata-sized serve
    // equals a from-scratch recompute of the whole kept-set identity.
    "st17_bm25_fingerprint" -> ((s, d) =>
      graft.streaming.StreamBm25.fingerprintState(s, fpBm25Dir(s, d))
        .getOrElse(throw new IllegalStateException(
          "st17 dir must carry full fingerprint coverage"))),
  )

  val oracles: Map[String, String] = Map(
    // st17: from-scratch recompute of the served doc-set checksum —
    // corpus slice minus the taken-down docs, identity = (key, dl)
    // hashed per the corpusFingerprint contract (sorted column order:
    // dl, then key)
    "st17_bm25_fingerprint" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE doc_id % 4 <> 0 AND doc_id % 10 <> 0),
         dd AS (SELECT doc_id AS key,
                  len(string_split_regex(text, '\s+')) AS dl FROM corpus)
         SELECT count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
             md5(CAST(dl AS VARCHAR)) || md5(CAST(key AS VARCHAR))),
             1, 15)) AS BIGINT)) AS fingerprint
         FROM dd""",
    "x57_bm25_takedown" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE doc_id % 97 <> 3 AND doc_id % 10 <> 0),
         qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM corpus),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 10 ORDER BY q_id, rank""",
    // x60: identical recompute shape — the corpus never contains the
    // blocked slice, however many times it was crawled.
    "x60_bm25_blocklist" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
                         WHERE doc_id % 97 <> 3 AND doc_id % 10 <> 0),
         qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 89 = 5),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM corpus),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 8 ORDER BY q_id, rank""",
    // Scratch BM25 build over the FULL corpus (x48's arithmetic, no
    // holdout): the Spark side serves from three streamed, disk-round-
    // tripped segments with query-time df — the compare proves the
    // streaming maintenance path exactly equals a from-scratch index.
    "st6_bm25_stream" ->
      """WITH qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 7),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 5 ORDER BY q_id, rank""",

    // Scratch build again (st6's SQL over a distinct query slice): the
    // Spark side serves from the streamed-then-COMPACTED on-disk index,
    // so the compare proves the background merge is serve-invariant on
    // real data — streamed + compacted ≡ scratch.
    "st7_bm25_compacted" ->
      """WITH qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 = 11),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    "m1_media_meta" ->
      """SELECT doc_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           CAST(octet_length(encode(text)) % 1024 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 31) % 768 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
         FROM documents ORDER BY doc_id""",
    "m2_media_embed" ->
      """SELECT doc_id, CAST(t.i AS INTEGER) AS dim,
           CAST(('0x' || substr(md5(text), CAST(t.i * 4 + 1 AS INTEGER), 4)) AS INTEGER) AS q
         FROM documents CROSS JOIN range(8) t(i)
         ORDER BY doc_id, dim""",
    "m3_media_resize" ->
      """WITH m AS (
           SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             octet_length(encode(text)) AS n_bytes,
             CAST(octet_length(encode(text)) % 1024 AS INTEGER) AS w,
             CAST((octet_length(encode(text)) * 31) % 768 AS INTEGER) AS h
           FROM documents),
         d AS (
           SELECT *,
             CASE WHEN w <= 0 OR h <= 0 THEN 0
                  WHEN w * 384 >= h * 512 THEN 512
                  ELSE greatest(1, (w * 384) // h) END AS ow,
             CASE WHEN w <= 0 OR h <= 0 THEN 0
                  WHEN w * 384 >= h * 512 THEN greatest(1, (h * 512) // w)
                  ELSE 384 END AS oh
           FROM m)
         SELECT doc_id, kind, w AS width, h AS height,
           CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
           least(n_bytes, (ow * oh) // 8) AS n_bytes_out
         FROM d ORDER BY doc_id""",
    "m5_media_phash_dup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 20000000000 AS doc_id, text FROM documents
           WHERE doc_id % 11 = 0),
         p AS (SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS lo
           FROM u)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
             AS INTEGER) AS hamming
         FROM p a JOIN p b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
         ORDER BY id1, id2""",
    // m7: m6's recompute with the taken-down slice excluded from the
    // index side (the batch side unchanged — only the INDEX forgot)
    "m7_phash_takedown" ->
      """WITH idx AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS lo
           FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 10 <> 0),
         b AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id + 20000000000 AS doc_id, text FROM documents
           WHERE doc_id % 11 = 0),
         bp AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS lo
           FROM b),
         dropped AS (
           SELECT a.doc_id FROM bp a JOIN idx i
             ON bit_count(xor(a.hi, i.hi)) + bit_count(xor(a.lo, i.lo)) <= 3
           UNION
           SELECT a2.doc_id FROM bp a1 JOIN bp a2
             ON a1.doc_id < a2.doc_id
            AND bit_count(xor(a1.hi, a2.hi)) + bit_count(xor(a1.lo, a2.lo)) <= 3)
         SELECT doc_id FROM bp
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         ORDER BY doc_id""",
    "m6_media_phash_increment" ->
      """WITH idx AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS lo
           FROM documents WHERE doc_id % 4 <> 0),
         b AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id + 20000000000 AS doc_id, text FROM documents
           WHERE doc_id % 11 = 0),
         bp AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS hi,
             CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS lo
           FROM b),
         dropped AS (
           SELECT a.doc_id FROM bp a JOIN idx i
             ON bit_count(xor(a.hi, i.hi)) + bit_count(xor(a.lo, i.lo)) <= 3
           UNION
           SELECT a2.doc_id FROM bp a1 JOIN bp a2
             ON a1.doc_id < a2.doc_id
            AND bit_count(xor(a1.hi, a2.hi)) + bit_count(xor(a1.lo, a2.lo)) <= 3)
         SELECT doc_id FROM bp
         WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         ORDER BY doc_id""",
    "m4_frame_sample" ->
      """WITH v AS (
           SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             CAST(octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
           FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
         f AS (
           SELECT doc_id, n_bytes, n_frames,
             unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
           FROM v WHERE n_frames > 0)
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           frame_idx * (n_bytes // n_frames) AS offset,
           n_bytes // n_frames AS frame_len
         FROM f ORDER BY doc_id, frame_idx""",
    "st3_dedup_keep_first" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS digest
         FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "st4_curate" ->
      """WITH t AS (SELECT doc_id,
             unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
         rep AS (SELECT doc_id,
             1 - count(*) / CAST(sum(n) AS DOUBLE) AS repeat_ratio,
             max(n) / CAST(sum(n) AS DOUBLE) AS top_share
           FROM c GROUP BY 1),
         q AS (SELECT doc_id,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) AS stop_ratio,
             len(string_split_regex(text, '\s+')) AS n_tokens
           FROM documents),
         kept AS (
           SELECT d.doc_id, md5(d.text) AS digest
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50)
         SELECT min(doc_id) AS doc_id, digest FROM kept
         GROUP BY digest ORDER BY doc_id""",
    "st1_tumbling_window" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000) AS wstart,
           make_timestamp(epoch_us(ts) - epoch_us(ts) % 21600000000 + 21600000000) AS wend,
           event_type, count(*) AS n, round(sum(value), 6) AS total
         FROM events GROUP BY 1, 2, 3 ORDER BY wstart, event_type""",
    "st2_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000 THEN 1
                  ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM g)
         SELECT user_id, session_idx, min(ts) AS start_ts, max(ts) AS end_ts,
           count(*) AS n_events, round(sum(value), 6) AS total_value
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",
  )
}
