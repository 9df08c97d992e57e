package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifact, Tables}
import graft.ext.{Dedup, TextOps}

/** Text-analysis + dedup extension operators over `documents`
  * (BASELINE.json north star; SURVEY.md §7.1 step 7).
  */
object TextQ {
  type Q = (SparkSession, String) => DataFrame

  /** Stopword-ish markers drawn from the fixture vocabulary (deterministic).
    * Shared with ExtQ's streaming-curation query (same x21 predicate). */
  private[queries] val stops = Seq("the", "a", "data", "row", "value")

  /** Chain edges through each (lang, source) block (consecutive ids):
    * components are ~100-doc-deep paths that only close after multi-hop
    * propagation — the hardest shape for the CC iteration — while the
    * oracle can compute the expected clusters independently as the blocks
    * themselves. Production use feeds x7's candidate pairs in instead. */
  private def chainEdgesOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang", "source").orderBy("doc_id")
    docs.withColumn("prev", lag("doc_id", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("id1"), col("doc_id").as("id2"))
  }
  private def chainEdges(s: SparkSession, d: String): DataFrame =
    chainEdgesOf(Tables.documents(s, d))

  /** x11 and x13 consume the SAME resolved cluster table — memoize it per
    * (session, sfDir) exactly like BacktestQ's intraday fold, instead of
    * running the whole O(log diameter)-round CC loop once per query (it
    * was 29% of the bench suite's task time run twice). The loop's final
    * labels are already checkpoint-materialized, so caching the DataFrame
    * reference suffices; the artifact's lock is the shared await for
    * concurrent bench consumers. */
  private val chainClusters = Artifact("chainClusters") { (s, d) =>
    // the CC loop (O(log diameter) jobs) runs once per FIXTURE, not
    // once per JVM: the resolved cluster table is an ArtifactStore
    // parquet — in production the maintained cluster table IS a
    // written artifact (the x45 incremental loop extends it)
    val loaded = graft.ArtifactStore.dataFrame(s, d, "chainclusters",
      "v1 chainEdges") {
      Dedup.duplicateClusters(chainEdges(s, d))
    }
    val cc = loaded.persist()
    cc.count() // materialize inside the lock (shared await)
    cc
  }

  /** Memoized CORPUS-slice cluster table for x56 — the maintained
    * (id, cluster_id) assignment artifact an incremental dedup loop
    * carries between runs ([[graft.ext.Dedup.incrementalClusters]]
    * extends it per batch): resolved once over the doc_id % 4 != 0
    * slice's chain edges, persisted like [[chainClusters]]. */
  private[graft] val corpusClusterTable = Artifact("corpusClusterTable") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "corpuscc",
      "v1 chainEdges corpus=doc_id%4!=0") {
      Dedup.duplicateClusters(chainEdgesOf(
        Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)))
    }
    val cc = loaded.persist()
    cc.count() // materialize inside the lock (shared await)
    cc
  }

  /** Shared TEXT-SIGNAL table — the materialized intermediate a real
    * 100 TB curation run would write once and feed every stage from:
    * per-doc repeat-signal aggregates (total/distinct/max token counts),
    * the composite quality score, and the content digest, computed in ONE
    * pass over `documents` and persisted. r3's x-pipeline re-derived
    * these aggregates from the scan in every stage (x22 = x21 ∘ x20 ∘
    * dedup ∘ sample → the explode+groupBy ran per stage); x12/x21/x22
    * now share this table (the [[chainClusters]] memoization pattern).
    *
    * SCALARS ONLY, deliberately: a variant that also cached the token
    * ARRAYS measured SLOWER than re-tokenizing at the scan (codegen'd
    * regex split is ~free, while decompressing cached array<string>
    * batches is not — x17 solo 1.3-1.9 s cached vs 0.9-1.5 s
    * scan-shaped at sf0.1), so the token-consuming ops (x15/x17 shingle
    * joins) stay scan-shaped. The repartition spreads the tiny cached
    * table across cores — AQE otherwise coalesces the build join to ~1
    * partition and every concurrent consumer serializes behind one
    * single-task cache scan; 8 partitions (not the shuffle default 32)
    * keeps per-scan task-launch overhead negligible for a table this
    * small while still fanning consumers out.
    *
    * Expressions are IDENTICAL to the per-query forms — `split` yields
    * ≥1 token for any string, so the inner join with the repeat
    * aggregate is total — keeping every consumer oracle-exact. */
  private val docSignals = Artifact("docSignals") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "docsignals",
      "v1 tokens+quality+digest") {
      val docs = Tables.documents(s, d)
      val rep = docs
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum("n").as("total"), count(lit(1)).as("nd"),
          max("n").as("maxn"))
      docs
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          TextOps.qualityScore(col("text"), stops).as("quality"),
          md5(col("text")).as("digest"))
        .join(rep, Seq("doc_id"))
    }
    // repartition AFTER load: the tiny parquet packs into ~1 split,
    // and concurrent consumers would serialize behind one cache scan
    val sig = loaded.repartition(8, col("doc_id")).persist()
    sig.count() // materialize inside the lock (shared await)
    sig
  }

  /** Benchmark-segment Bloom filter for x29 — the packed bit array is a
    * query-construction-time collect (the [[bloomBuild]] job), so memoize
    * it per (session, sfDir) like the IVF index: built once, every
    * subsequent x29 construction reuses the broadcast-sized array. */
  private val benchSegBloom = Artifact("benchSegBloom") { (s, d) =>
    graft.ArtifactStore.longArray(s, d, "benchbloom",
      "v1 bits=2^18 h=5 seg=10 bench=doc_id%7==0") {
      val bench = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      Dedup.bloomBuild(
        Dedup.segmentsOf(bench, "doc_id", "text", 10)
          .select("__seg").distinct(),
        col("__seg"), numBits = 1 << 18, numHashes = 5)
    }
  }

  /** Memoized corpus MinHash signature INDEX for x45 — in production
    * this is the maintained artifact an incremental loop carries between
    * runs (x45's survivors are appended to it); here it is memoized per
    * (session, sfDir) exactly like [[chainClusters]]/the prebuilt IVF,
    * so the bench pays the corpus signing once (prematerialize phase),
    * not per run. Batch-side signing stays inside the query — the batch
    * IS the new data. */
  private[graft] val corpusSigIndex = Artifact("corpusSigIndex") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "corpussigidx",
      "v1 k=32 shingle=3 corpus=doc_id%4!=0") {
      val docs = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      Dedup.withMinHash(docs.filter(col("doc_id") % 4 =!= 0), "sh",
          k = 32)
        .select(col("doc_id"), col("minhash"))
    }
    val idx = loaded.repartition(8, col("doc_id")).persist()
    idx.count() // materialize inside the lock (shared await)
    idx
  }

  /** Memoized corpus n-gram-DF index for x55 — the maintained metadata
    * artifact of the incremental corpus-overlap score ([[TextOps
    * .ngramDf]] over the doc_id % 4 != 0 slice): in production it is
    * written once per corpus snapshot and extended per ingest batch
    * with [[TextOps.ngramDfMerge]] (metadata-only; the bodies never
    * rescan). The [[corpusSigIndex]] lifecycle, trigram-df-shaped. */
  private[graft] val ngramDfIndex = Artifact("ngramDfIndex") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "ngdf3idx",
      "v1 n=3 corpus=doc_id%4!=0") {
      TextOps.ngramDf(Tables.documents(s, d)
        .filter(col("doc_id") % 4 =!= 0), "doc_id", "text", n = 3)
    }
    val idx = loaded.persist()
    idx.count() // materialize inside the lock (shared await)
    idx
  }

  /** x33's resolved cluster table over the REAL MinHash candidate pairs,
    * memoized per (session, sfDir) like [[chainClusters]]: in production
    * the near-dup cluster table is a maintained artifact (built once per
    * corpus snapshot, consumed by every downstream keep-one / audit
    * pass), so the bench should time the one left join, not a full
    * band-join + O(log diameter) CC loop per invocation. x45's
    * signature index is the incremental sibling (new batches extend it
    * without re-clustering the corpus). */
  private[queries] val realPairClusters = Artifact("realPairClusters") { (s, d) =>
    val loaded = graft.ArtifactStore.dataFrame(s, d, "realclusters",
      "v1 k=32 bands=16 jacc>=0.25") {
      val sh = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      val pairs = Dedup.minHashCandidates(sh, "doc_id", "sh", k = 32,
          bands = 16)
        .filter(col("est_jaccard") >= 0.25)
        .select("id1", "id2")
      Dedup.duplicateClusters(pairs)
    }
    val cc = loaded.persist()
    cc.count() // materialize inside the lock (shared await)
    cc
  }

  /** PREBUILT segmented-BM25 artifacts for x51/x52 — the 3-segment
    * index over the ¾ corpus plus its compaction-time pruned lists,
    * memoized per (session, sfDir): both queries time a SERVE (x51 the
    * exact segmented search, x52 the bounded two-stage) against the
    * same build-once artifact (the v6/v19 prebuilt-serve philosophy —
    * time the probe, not a per-invocation rebuild; VERDICT r13 #1
    * moved x51 onto it after r12 moved x49). The init+append
    * MAINTENANCE lifecycle stays proven by StreamBm25Spec and the
    * st6/st7 streaming sinks; x48 keeps the one-shot scratch build to
    * document that lifecycle. */
  private[queries] val prebuiltSegmented = Artifact("prebuiltSegmented") { (s, d) =>
    val loaded = graft.ArtifactStore.group(s, d, "bm25seg",
      "v1 3segs mod3 corpus=doc_id%97!=3 P=64",
      Seq("postings", "segstats", "termdf", "prunedpostings",
        "prunedstats")) {
      val corpus = Tables.documents(s, d)
        .filter(col("doc_id") % 97 =!= 3)
      val s0 = TextOps.bm25SegmentAppend(
        TextOps.bm25SegmentAppend(
          TextOps.bm25SegmentInit(corpus.filter(col("doc_id") % 3 === 0),
            "doc_id", "text"),
          corpus.filter(col("doc_id") % 3 === 1), "doc_id", "text",
          segId = 1),
        corpus.filter(col("doc_id") % 3 === 2), "doc_id", "text",
        segId = 2)
      // SINGLE-tokenize build: materialize the postings once, then
      // derive stats + term dictionaries FROM the persisted postings
      // — the r7 form materialized three tokenize lineages and paid
      // the corpus tokenize three times (VERDICT r7 item 2)
      val p = s0.postings.persist(); p.count()
      val (st0, td0) = TextOps.segMetaFromPostings(p)
      val st = st0.persist(); st.count()
      val td = td0.persist(); td.count()
      val segs = TextOps.Bm25Segments(p, st, td)
      val pr0 = TextOps.bm25PruneSegments(segs, maxPostingsPerTerm = 64)
      val prp = pr0.postings.persist(); prp.count()
      Seq(p, st, td, prp, pr0.stats)
    }
    val Seq(p, st, td, prp, prst) =
      loaded.map { df => val x = df.persist(); x.count(); x }
    (TextOps.Bm25Segments(p, st, td), TextOps.Bm25Index(prp, prst))
  }

  /** PREBUILT MERGED BM25 index for x49 — [[graft.ext.TextOps
    * .bm25Merge]] of the ¾-corpus index with the ¼ increment, memoized
    * per (session, sfDir) and ArtifactStore'd: the production
    * lifecycle of an incrementally-maintained index is merge ONCE per
    * ingest batch, serve many — x49's timed run should pay the SERVE
    * (the x52/v6/v19 prebuilt pattern), not re-run the O(index) df
    * recount three times per bench (VERDICT r12 #2: the suite's #1
    * wall item). The merge≡scratch PROOF is unchanged: this artifact
    * IS the bm25Merge output, and the DuckDB oracle still builds the
    * same index from scratch over the full corpus — the driver compare
    * proves the merged artifact equals a scratch rebuild on real data
    * (Bm25Spec pins it on synthetic corpora too). */
  private[queries] val prebuiltMerged = Artifact("prebuiltMerged") { (s, d) =>
    val loaded = graft.ArtifactStore.group(s, d, "bm25merged",
      "v1 base=doc_id%4!=0 incr=%4==0 corpus=doc_id%97!=3",
      Seq("postings", "stats")) {
      val corpus = Tables.documents(s, d)
        .filter(col("doc_id") % 97 =!= 3)
      val idx = TextOps.bm25Merge(
        TextOps.bm25Index(corpus.filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text"),
        corpus.filter(col("doc_id") % 4 === 0), "doc_id", "text")
      val p = idx.postings.persist(); p.count()
      Seq(p, idx.stats)
    }
    val Seq(p, st) =
      loaded.map { df => val x = df.persist(); x.count(); x }
    TextOps.Bm25Index(p, st)
  }

  /** The st9 sink DIR — the curation family's shared lifecycle PREFIX:
    * st15 (+delete) and x58 (+delete+compact) branch from this committed
    * dir ([[graft.ArtifactStore.branchFrom]], r16) instead of re-running
    * the 3-batch policy ingest each (the ingest is the corpus-sized
    * cost: quality filter + decontam jaccard join + stratified sample
    * per batch; the branch is an MB-sized file copy). */
  private val streamedCurationDir = Artifact("streamedCurationDir") { (s, d) =>
    Artifact.storedDir(d, "st9cur", "v1 3batches mod3 x53policy")(
      ingestCuration(s, d, _))
  }

  /** The STREAM-CURATED corpus ([[graft.streaming.StreamCurate
    * .appendBatch]]): documents ingested as three arrival batches
    * (doc_id % 3) through the on-disk sink — first-seen dedup vs the
    * persistent seen index, then x53's policy stages (quality via the
    * row-shaped verdict, batch × static-benchmark decontam, stratified
    * sample) — then the curated corpus loaded back from disk. Memoized
    * per (session, sfDir) + ArtifactStore'd like st6/st7/st8. */
  private val streamedCuration = Artifact("streamedCuration") { (s, d) =>
    val out = graft.streaming.StreamCurate
      .load(s, streamedCurationDir(s, d)).get
      .select("doc_id", "lang", "source").persist()
    out.count()
    out
  }

  /** The st10 sink DIR — the cluster family's shared lifecycle PREFIX:
    * st12 (+deleteNodes+compact) branches from this committed dir (r16,
    * the st9→st15/x58 rationale). */
  private val streamedClustersDir = Artifact("streamedClustersDir") { (s, d) =>
    def ingest(dir: String): Unit = {
      val e = chainEdges(s, d)
      (0 to 2).foreach { i =>
        graft.streaming.StreamClusters.appendBatch(dir,
          e.filter(pmod(col("id2"), lit(3)) === i), i)
      }
    }
    Artifact.storedDir(d, "st10cc", "v1 3batches id2mod3 chainEdges")(ingest)
  }

  /** Memoized STREAM-MAINTAINED cluster table for st10 — the full chain
    * graph ingested as 3 edge micro-batches through the
    * [[graft.streaming.StreamClusters]] sink (members partitions + the
    * root-map overlay, manifest-committed) and served from the
    * disk-round-tripped state. Splitting edges by id2 % 3 scatters each
    * chain across batches, so later batches BRIDGE committed components
    * — the overlay path is load-bearing, not decorative. */
  private val streamedClusters = Artifact("streamedClusters") { (s, d) =>
    val t = graft.streaming.StreamClusters
      .load(s, streamedClustersDir(s, d)).get.persist()
    t.count() // materialize inside the lock (shared await)
    t
  }

  /** Memoized TAKEDOWN-lifecycle cluster table for st12 — the closure
    * leg of the cascading right-to-be-forgotten (x57 postings, x58
    * bodies, v32 vectors, x59 signatures — and membership here): the
    * st10 ingest, then [[graft.streaming.StreamClusters.deleteNodes]]
    * tombstones the doc_id % 10 == 0 slice (membership masked at once;
    * labels stale until the fold — the Lucene stale-until-merge shape)
    * and [[graft.streaming.StreamClusters.compact]] physically reclaims,
    * RE-MINNING labels over the survivors so a deleted id doesn't even
    * survive as a cluster label. Masking semantics, deliberately: the
    * node is forgotten, connectivity derived while it existed is not
    * re-derived (that is the rebuild path) — so surviving members of a
    * chain stay one cluster, which is exactly what the oracle computes
    * (st10's blocks minus the deleted slice, min over survivors). */
  private val takedownClusters = Artifact("takedownClusters", streamedClusters) { (s, d) =>
    // v2 (r16): BRANCH the committed st10 prefix instead of
    // re-running the 3-batch edge ingest (the st9→st15/x58
    // rationale); the takedown verbs are unchanged.
    val spec = "v2 branch=st10 delete=%10==0 compact"
    def build(dir: String): Unit = {
      graft.ArtifactStore.branchFrom(streamedClustersDir(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamClusters.deleteNodes(s, dir,
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id")))
      graft.streaming.StreamClusters.compact(s, dir,
        into = graft.streaming.StreamClusters.nextCompactId(s, dir))
    }
    val dir = Artifact.storedDir(d, "st12cc", spec)(build)
    val t = graft.streaming.StreamClusters.load(s, dir).get.persist()
    t.count() // materialize inside the lock (shared await)
    t
  }

  /** The st11 sink DIR — the ngram-df family's shared lifecycle PREFIX:
    * st13 (+deleteDocs+compact) branches from this committed dir (r16).
    * st11's replay leg is disk-state-neutral (the seen-ids guard returns
    * before any write or commit — that no-op IS the leg's pinned
    * contract), so the branched dir equals the plain 3-batch state st13
    * used to rebuild from scratch. */
  private val streamedNgramDfDir = Artifact("streamedNgramDfDir") { (s, d) =>
    val spec = "v1 3batches docidmod3 corpus=doc_id%4!=0 n=3 replay1"
    def ingest(dir: String): Unit = {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)
      (0 to 2).foreach { i =>
        graft.streaming.StreamNgramDf.appendBatch(dir,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i)
      }
      // at-least-once re-delivery of a committed batch: must no-op
      graft.streaming.StreamNgramDf.appendBatch(dir,
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), 1)
    }
    Artifact.storedDir(d, "st11ngdf", spec)(ingest)
  }

  /** Memoized STREAM-MAINTAINED n-gram-df index for st11 — x55's
    * maintained overlap artifact ingested as 3 document micro-batches
    * through the [[graft.streaming.StreamNgramDf]] sink (immutable
    * per-batch (ng, ndocs) delta partitions + seen-ids guard
    * partitions, manifest-committed; serve = keyed sum over live
    * deltas), INCLUDING a full re-delivery of batch 1 — the replay
    * guard is load-bearing in the gate: a double-counted delta would
    * shift every shared gram's df and hash-fail the x55-identical
    * oracle. */
  private val streamedNgramDf = Artifact("streamedNgramDf") { (s, d) =>
    val t = graft.streaming.StreamNgramDf
      .load(s, streamedNgramDfDir(s, d)).get.persist()
    t.count() // materialize inside the lock (shared await)
    t
  }

  /** Memoized TAKEDOWN-lifecycle ngram-df index for st13 — the last
    * derivative in the forget cascade (x57 postings, x58 bodies, v32
    * vectors, x59 signatures, st12 membership — and now the overlap
    * index): st11's ingest, then [[graft.streaming.StreamNgramDf
    * .deleteDocs]] subtracts the doc_id % 10 == 0 slice as a NEGATIVE
    * LSM delta (an index of SUMS can't tombstone-mask — a deleted doc's
    * contribution is spread across every gram it shared; the negated
    * ngramDf is its exact inverse), and [[graft.streaming.StreamNgramDf
    * .compact]] absorbs it physically. Serve nets to bit-equality with
    * an index that never saw the docs — which is what the oracle
    * recomputes. */
  private val takedownNgramDf = Artifact("takedownNgramDf", streamedNgramDf) { (s, d) =>
    // v2 (r16): BRANCH the committed st11 prefix (replay leg is
    // disk-neutral — see [[streamedNgramDfDir]]) instead of
    // re-running the 3-batch ingest; takedown verbs unchanged.
    val spec = "v2 branch=st11 delete=%10==0 compact"
    def build(dir: String): Unit = {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)
      graft.ArtifactStore.branchFrom(streamedNgramDfDir(s, d),
        java.nio.file.Paths.get(dir))
      graft.streaming.StreamNgramDf.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 10 === 0))
      graft.streaming.StreamNgramDf.compact(s, dir,
        into = graft.streaming.StreamNgramDf.nextCompactId(s, dir))
    }
    val dir = Artifact.storedDir(d, "st13ngdf", spec)(build)
    val t = graft.streaming.StreamNgramDf.load(s, dir).get.persist()
    t.count() // materialize inside the lock (shared await)
    t
  }

  /** The st9/x58 shared 3-batch curation ingest: quality filter +
    * benchmark decontam + stratified sample (the x53 policy) through
    * the [[graft.streaming.StreamCurate]] sink body. */
  private def ingestCuration(s: SparkSession, d: String,
                             dir: String): Unit = {
    val docs = Tables.documents(s, d)
    // static benchmark reference (the x15/x53 split), prepared once
    val bench = docs.filter(col("doc_id") % 7 === 0)
      .select(col("lang"), col("source"),
        explode(array(floor(col("n_chars") / 20) - 1,
          floor(col("n_chars") / 20),
          floor(col("n_chars") / 20) + 1)).as("bkt"),
        col("n_chars").as("nc2"),
        array_distinct(TextOps.tokens(col("text"))).as("t2"))
    def policy(batch: DataFrame): DataFrame = {
      val kept = batch.filter(col("doc_id") % 7 =!= 0)
        .filter(graft.streaming.StreamCurate.qualityOk(
          col("text"), col("n_chars"), stops))
      val a = kept.select(col("doc_id"), col("lang"), col("source"),
        floor(col("n_chars") / 20).as("bkt"),
        col("n_chars").as("nc1"),
        array_distinct(TextOps.tokens(col("text"))).as("t1"))
      val contaminated = a.join(bench, Seq("lang", "source", "bkt"))
        .filter(abs(col("nc1") - col("nc2")) <= 20)
        .filter(round(TextOps.jaccard(col("t1"), col("t2")), 6) >= 0.5)
        .select("doc_id").distinct()
      TextOps.stratifiedSample(
          kept.join(contaminated, Seq("doc_id"), "left_anti"),
          "lang", "doc_id", Map("en" -> 0.9, "de" -> 0.9),
          defaultFraction = 0.8)
        .select("doc_id", "lang", "source")
    }
    (0 to 2).foreach { i =>
      graft.streaming.StreamCurate.appendBatch(dir,
        docs.filter(col("doc_id") % 3 === i), i, policy)
    }
  }

  /** The x58 sink DIR: the st9 prefix branched, then delete + full
    * compact. */
  private val takedownCurationDir = Artifact("takedownCurationDir") { (s, d) =>
    // v2 (r16): BRANCH the committed st9 prefix instead of re-running
    // the 3-batch policy ingest ([[streamedCurationDir]]) — the
    // divergent verbs (delete + full compact) are unchanged, so the
    // served corpus is identical (the DuckDB oracle re-proves it).
    val spec = "v2 branch=st9 delete=%10==0 fullcompact"
    def build(dir: java.nio.file.Path): Unit = {
      graft.ArtifactStore.branchFrom(streamedCurationDir(s, d), dir)
      graft.streaming.StreamCurate.deleteCurated(s, dir.toString,
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .select("doc_id"))
      graft.streaming.StreamCurate.compact(s, dir.toString,
        into = graft.streaming.StreamCurate.nextCompactId(s, dir.toString))
    }
    Artifact.storedDir(d, "x58cur", spec)(p => build(java.nio.file.Paths.get(p)))
  }

  /** Memoized TAKEDOWN-lifecycle curated corpus for x58 — the st9
    * pipeline plus the delete verb on the sink that holds the BODIES:
    * same 3-batch ingest and policy as [[streamedCuration]] (own dir),
    * then [[graft.streaming.StreamCurate.deleteCurated]] tombstones the
    * kept doc_id % 10 == 0 slice and [[graft.streaming.StreamCurate
    * .compact]] physically reclaims it — the corpus a DuckDB oracle can
    * recompute as "st9's output minus the deleted slice". The seen
    * digest index survives both, so re-crawls of taken-down bytes stay
    * out structurally (StreamCurationSpec pins the lifecycle). */
  private val takedownCuration = Artifact("takedownCuration", streamedCuration) { (s, d) =>
    val dir = takedownCurationDir(s, d)
    val out = graft.streaming.StreamCurate.load(s, dir).get
      .select("doc_id", "lang", "source").persist()
    out.count()
    out
  }

  /** Memoized CONTAINMENT index for x70/x61 — the maintained artifacts
    * of the containment family ([[graft.ext.Dedup.containmentAgainst]]
    * / [[graft.ext.Dedup.containmentPairs]]): the FULL-corpus
    * shingle-SET table (id, sh — each body tokenized exactly once, at
    * ingest; x61 serves its full-corpus analytic straight from it), the
    * 5-gram df table and the EXPLODED postings table (ngb-partitioned —
    * [[graft.ext.Dedup.postingsOf]], so x70's candidate generation is a
    * partition-pruned flat read, never a per-increment explode of every
    * stored set) over the doc_id % 4 != 0 index slice (the x55 split
    * convention). ArtifactStore'd + prewarmed like every maintained
    * index. The postings stay disk-resident (not persisted). */
  private val containmentIndex = Artifact("containmentIndex") { (s, d) =>
    val Seq(setsFull, dfT, post) = graft.ArtifactStore.group(s, d,
      "cont5", "v2 n=5 sets=full df/post=doc_id%4!=0 post=ngb",
      Seq("sets", "df", "post"),
      partitioned = Map("post" -> Seq("ngb"))) {
      val all = Dedup.shingleSets(
        Tables.documents(s, d), "doc_id", "text", n = 5).persist()
      val idx = all.filter(col("__cid") % 4 =!= 0)
      val post0 = Dedup.postingsOf(idx)
      val df0 = post0.groupBy("ng").agg(count(lit(1)).as("ndocs"))
      Seq(all, df0, post0)
    }
    val st = setsFull.persist(); st.count()
    val dfp = dfT.persist(); dfp.count()
    (st, dfp, post)
  }

  /** Memoized TAKEDOWN-lifecycle containment sink dir for st16 — the
    * maintained containment index ([[graft.streaming.StreamContainment]])
    * through its full lifecycle: three mod-3 appends of the doc_id % 4
    * != 0 index slice, a % 9 == 2 takedown (id mask + negative df — no
    * bodies needed, the stored sets are the contribution record), and a
    * compaction fold (masks and deltas absorbed). st16 then serves the
    * % 4 == 0 batch's containment against the survivors. */
  private val takedownContainment = Artifact("takedownContainment") { (s, d) =>
    val spec = "v1 3batches mod3 corpus=doc_id%4!=0 n=5 " +
      "delete=%9==2 compact"
    def build(dir: String): Unit = {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0)
      (0 to 2).foreach { i =>
        graft.streaming.StreamContainment.appendBatch(dir,
          docs.filter(pmod(col("doc_id"), lit(3)) === i), i)
      }
      graft.streaming.StreamContainment.deleteDocs(s, dir,
        docs.filter(col("doc_id") % 9 === 2).select("doc_id"))
      graft.streaming.StreamContainment.compact(s, dir,
        into = graft.streaming.StreamContainment.nextCompactId(s, dir))
    }
    Artifact.storedDir(d, "st16cont", spec)(build)
  }

  /** Memoized FULL-CASCADE takedown root for x73 — all SIX maintained
    * sinks ingested from ONE corpus slice (doc_id % 7 == 1; two
    * arrival batches by doc_id % 2), then one [[graft.streaming
    * .Takedown.forget]] of the % 5 == 3 victims. x73 then files the
    * ATTESTATION: per-sink served counts + deleted-id residuals —
    * the compliance report proving the whole cascade completed. The
    * IVF vec is a deterministic function of the id (the TakedownSpec
    * shape — counts, not geometry, are what attest binds); the
    * cluster edges hang each doc off a % 3 hub above the id space. */
  private def cascadeSinks(root: String) = graft.streaming.Takedown.Sinks(
    curateDir = Some(s"$root/corpus"),
    bm25Dir = Some(s"$root/bm25"),
    ivf = Some((s"$root/ivf", "doc_id", "vec")),
    clustersDir = Some(s"$root/cc"),
    containmentDir = Some(s"$root/cont"),
    ngramDf = Some((s"$root/ngdf", 3)))
  private val cascadeRoot = Artifact("cascadeRoot") { (s, d) =>
    val spec = "v2 slice=%7==1 saltuid 2batches mod2 victims=%5==3 " +
      "ivf=nCells4 hubs=%3+3e9 ngram=n3 forget +fpshard"
    def build(root: String): Unit = {
      val sinks = cascadeSinks(root)
      // texts salted with the id: the curation sink's digest dedup
      // becomes identity, so every ingested id resolves a body and
      // the ngram leg's per-key guard can never trip on a dup loser
      // — the attestation binds IDS; the dedup lifecycle is x71's
      // (and st3's) concern
      val slice = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"),
          concat(col("text"), lit(" uid"), col("doc_id")).as("text"))
      val vecOf = array((0 to 3).map(j =>
        pmod(col("doc_id") * (j + 3), lit(7)).cast("double") + 0.1): _*)
      // the six sinks write disjoint dirs, so their ingest chains run
      // CONCURRENTLY (batch order preserved WITHIN each sink) — this
      // builder is the prewarm critical path's root (42 s solo,
      // ~136 s co-scheduled, r15 measurement) and was 12 sequential
      // append jobs
      def b(i: Int) = slice.filter(pmod(col("doc_id"), lit(2)) === i)
      graft.Graft.parLegs(s)(Seq(
        () => (0 to 1).foreach(i => graft.streaming.StreamCurate
          .appendBatch(sinks.curateDir.get, b(i), i.toLong,
            batch => batch.select("doc_id", "text"))),
        () => (0 to 1).foreach(i => graft.streaming.StreamBm25
          .appendBatch(sinks.bm25Dir.get, b(i), i.toLong,
            "doc_id", "text")),
        () => (0 to 1).foreach(i => graft.streaming.StreamIvf
          .appendBatch(sinks.ivf.get._1,
            b(i).select(col("doc_id"), vecOf.as("vec")), i.toLong,
            "doc_id", "vec", nCells = 4)),
        () => (0 to 1).foreach(i => graft.streaming.StreamClusters
          .appendBatch(sinks.clustersDir.get,
            b(i).select(col("doc_id").as("id1"),
              (col("doc_id") % 3 + 3000000000L).as("id2")), i.toLong)),
        () => (0 to 1).foreach(i => graft.streaming.StreamContainment
          .appendBatch(sinks.containmentDir.get, b(i), i.toLong)),
        () => (0 to 1).foreach(i => graft.streaming.StreamNgramDf
          .appendBatch(sinks.ngramDf.get._1, b(i), i.toLong))))
      graft.streaming.Takedown.forget(s,
        slice.filter(col("doc_id") % 5 === 3).select("doc_id"),
        sinks)
    }
    Artifact.storedDir(d, "x73cascade", spec)(build)
  }

  /** Recursive dir copy for fixture derivation (st21): committed
    * artifact trees are immutable, so deriving a mutated fixture from a
    * copy preserves the source fixture for its own consumers. Skips the
    * store's own `_GRAFT_OK` marker (the copy is a DIFFERENT artifact
    * with its own spec; a stale marker would alias them). */
  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(src)
    try {
      s.forEach { p =>
        if (p.getFileName.toString != "_GRAFT_OK") {
          val t = dst.resolve(src.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else {
            java.nio.file.Files.createDirectories(t.getParent)
            java.nio.file.Files.copy(p, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    } finally s.close()
  }

  /** Memoized MAINTAINED cascade root for st21 — [[cascadeRoot]]'s
    * post-forget state COPIED (the commit protocol makes a committed
    * tree immutable, so the copy is exact and x73/st19/st20's shared
    * fixture stays untouched) and folded by ONE [[graft.streaming
    * .Takedown.maintain]] pass: the four mask sinks absorb their
    * tombstones into fresh base partitions, stranding exactly the
    * history partitions the bytes-level retention dry run prices. */
  private val maintainedRoot = Artifact("maintainedRoot", cascadeRoot) { (s, d) =>
    val spec = "v2 copyof=x73cascade(v2,+fpshard) maintain"
    def build(root: String): Unit = {
      copyTree(java.nio.file.Paths.get(cascadeRoot(s, d)),
        java.nio.file.Paths.get(root))
      graft.streaming.Takedown.maintain(s, cascadeSinks(root))
        .collect()
      ()
    }
    Artifact.storedDir(d, "st21maint", spec)(build)
  }

  /** Memoized RELEASE root for x76/x77 — two training releases
    * published over [[cascadeRoot]]'s corpus sink (read-only on the
    * shared fixture): `r1` pinned at generation 2 (both arrival
    * batches committed, PRE-forget — gens are recipe-deterministic:
    * birth 0, batch0 1, batch1 2, forget 3) and `r2` at the latest
    * (post-forget) generation. The pair is the audit story: a release
    * published before a takedown still contains the victims; the one
    * published after does not. */
  private val releaseRoot = Artifact("releaseRoot", cascadeRoot) { (s, d) =>
    val spec = "v1 over=x73cascade r1@gen2 r2@latest shards=8"
    def build(root: String): Unit = {
      val corpusDir = s"${cascadeRoot(s, d)}/corpus"
      // r1/r2 publish PINNED generations of an already-committed
      // corpus into disjoint staged dirs — independent publishers;
      // run concurrently (r16, the foldReleaseRoot f4/f5 rationale)
      graft.Graft.parLegs(s)(Seq(
        () => { graft.streaming.Release.publish(s, corpusDir,
          Some(2), root, "r1", nShards = 8); () },
        () => { graft.streaming.Release.publish(s, corpusDir, None,
          root, "r2", nShards = 8); () }))
      ()
    }
    Artifact.storedDir(d, "x76rel", spec)(build)
  }

  /** Memoized DELTA-release root for x78 — `d1` published at the
    * pre-forget generation with a PRODUCTION-shaped shard count (64:
    * wide enough that the takedown touches a strict subset), then `d2`
    * as a [[graft.streaming.Release.publishDelta]] against it at the
    * post-forget generation: only victim-touched shards rewrite, the
    * rest byte-copy from d1, victim-only shards drop. */
  private val deltaReleaseRoot = Artifact("deltaReleaseRoot", cascadeRoot) { (s, d) =>
    val spec = "v2 over=x73cascade d1@gen2 d2=delta@latest shards=64 +via"
    def build(root: String): Unit = {
      val corpusDir = s"${cascadeRoot(s, d)}/corpus"
      graft.streaming.Release.publish(s, corpusDir, Some(2), root,
        "d1", nShards = 64)
      graft.streaming.Release.publishDelta(s, corpusDir, None, root,
        "d2", basedOn = "d1")
      ()
    }
    Artifact.storedDir(d, "x78rel", spec)(build)
  }

  /** Memoized FOLD-CROSSING release root for x80/x81 — the two
    * post-r13 [[graft.streaming.Release.publishDelta]] tiers made
    * driver-visible (VERDICT r13 #3) on a corpus whose lifecycle this
    * fixture owns (fresh sink, NOT the shared cascade): two arrival
    * batches (gens 1-2), `f1` published at 64 shards, the % 5 == 1
    * victims forgotten (gen 3), ONE COMPACTION FOLD (gen 4), then
    * `f2 = delta(f1)` — the walk composes across the provably-neutral
    * fold, `via = diff_folded`, zero snapshot scans; then a VACUUM
    * (f1's pinned gen 2 reclaimed — the walk is no longer provable),
    * the % 5 == 2 victims forgotten (gen 5), and `f3 = delta(f1)` —
    * the maintained per-shard fingerprint state decides every shard
    * from metadata, `via = state`. */
  private val foldReleaseRoot = Artifact("foldReleaseRoot") { (s, d) =>
    // v2 (r15): the fold writes the base SHARD-CLUSTERED
    // (clusterBins=64 — one cluster dir per release shard), so
    // f3's state-tier content read partition-prunes to the
    // touched shards' dirs (VERDICT r14 #1); content and both
    // delta reports are bit-identical to v1's. f4 (same final
    // snapshot at 16 shards) exists for the CROSS-LAYOUT
    // comparison x84 — different shard count on purpose.
    // f5 = LINKED delta of the same final snapshot (x85): untouched
    // shards recorded as references into f1's physical dirs
    val spec = "v3 slice=%7==2 saltuid 2batches mod2 f1@2 shards=64 " +
      "forget=%5==1 foldcb64 f2=delta vacuum forget=%5==2 " +
      "f3=delta(f1) f4@16 f5=linkdelta(f1)"
    def build(root: String): Unit = {
      val corpusDir = s"$root/corpus"
      val rel = s"$root/releases"
      val slice = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"),
          concat(col("text"), lit(" uid"), col("doc_id")).as("text"))
      (0 to 1).foreach { i =>
        graft.streaming.StreamCurate.appendBatch(corpusDir,
          slice.filter(pmod(col("doc_id"), lit(2)) === i), i.toLong,
          b => b.select("doc_id", "text"))
      }
      graft.streaming.Release.publish(s, corpusDir, None, rel,
        "f1", nShards = 64)
      graft.streaming.StreamCurate.deleteCurated(s, corpusDir,
        slice.filter(col("doc_id") % 5 === 1).select("doc_id"))
      graft.streaming.StreamCurate.compact(s, corpusDir,
        graft.streaming.StreamCurate.nextCompactId(s, corpusDir),
        clusterBins = 64)
      graft.streaming.Release.publishDelta(s, corpusDir, None, rel,
        "f2", basedOn = "f1")
      graft.streaming.StreamCurate.vacuum(s, corpusDir)
      graft.streaming.StreamCurate.deleteCurated(s, corpusDir,
        slice.filter(col("doc_id") % 5 === 2).select("doc_id"))
      graft.streaming.Release.publishDelta(s, corpusDir, None, rel,
        "f3", basedOn = "f1")
      // f4/f5 both read the SAME committed final generation and
      // write disjoint staged release dirs — independent publishers
      // by the commit protocol's own design, so run them
      // concurrently (r16, [[graft.Graft.parLegs]]; per-release
      // content is deterministic, so concurrency changes wall,
      // never bytes — the fresh-store oracle gate re-proves it)
      graft.Graft.parLegs(s)(Seq(
        () => { graft.streaming.Release.publish(s, corpusDir, None,
          rel, "f4", nShards = 16); () },
        () => { graft.streaming.Release.publishDelta(s, corpusDir,
          None, rel, "f5", basedOn = "f1", link = true); () }))
      ()
    }
    Artifact.storedDir(d, "x80rel", spec)(build)
  }

  /** Memoized GC-lifecycle report for x79 — the release lifecycle's
    * CLOSING verb ([[graft.streaming.Release.retire]] +
    * [[graft.streaming.Release.gc]], VERDICT r13 #4) run end-to-end
    * over [[cascadeRoot]]'s corpus (read-only on the shared fixture):
    * publish `g1` at the pre-forget generation, `g2` as a DELTA on g1
    * at the post-forget generation, `g3` scratch at the same
    * generation; RETIRE g1 (registry-invisible but still named
    * `based_on` by live g2's provenance) and g3 (unreferenced); then
    * gc. The stored frame is gc's acted account — plan ≡ act by the
    * shared-account construction (ReleaseSpec pins bytes follow the
    * report, referenced bases never reclaim, gc idempotence, and that
    * retired names stay claimed). */
  private val gcReport = Artifact("gcReport", cascadeRoot) { (s, d) =>
    val spec = "v1 over=x73cascade g1@gen2 g2=delta@latest " +
      "g3@latest shards=8 retire=g1,g3 gc"
    val loaded = graft.ArtifactStore.dataFrame(s, d, "x79gc", spec) {
      val corpusDir = s"${cascadeRoot(s, d)}/corpus"
      val root = Artifact.tempDir("graft-x79-")
      val rr = root.toString
      graft.streaming.Release.publish(s, corpusDir, Some(2), rr,
        "g1", nShards = 8)
      graft.streaming.Release.publishDelta(s, corpusDir, None, rr,
        "g2", basedOn = "g1")
      graft.streaming.Release.publish(s, corpusDir, None, rr,
        "g3", nShards = 8)
      graft.streaming.Release.retire(s, rr, "g1")
      graft.streaming.Release.retire(s, rr, "g3")
      graft.streaming.Release.gc(s, rr)
    }
    val x = loaded.persist(); x.count(); x
  }

  /** Memoized ADMISSION-GATE decision table for x71 — the x63 PSI
    * monitor wired to a policy ([[graft.streaming.StreamCurate
    * .admitBatch]]): four arrival batches against a growing curated
    * corpus — two normal slices (admitted; the first auto-admits with
    * no reference), a PLANTED length-drifted batch (the % 3 == 2 slice
    * restricted to n_chars ≥ 400 — quarantined at PSI > 0.25, never
    * ingested, digests never seen), then the same slice undistorted
    * (admitted: the quarantine left no residue). The artifact stores
    * the four decision rows — the monitor's log — which the oracle
    * recomputes from the raw corpus with x63's PSI arithmetic. */
  private val admissionDecisions = Artifact("admissionDecisions") { (s, d) =>
    val spec = "v1 4batches mod3 bin=nchars/100cap9 drift=nchars>=400 " +
      "threshold=0.25"
    val loaded = graft.ArtifactStore.dataFrame(s, d, "x71adm", spec) {
      val docs = Tables.documents(s, d)
        .select("doc_id", "n_chars", "text")
      val policy = (b: DataFrame) => b.select("doc_id", "n_chars")
      val bin = least(floor(col("n_chars") / 100), lit(9))
      // scratch sink; only the decisions persist
      val dir = Artifact.tempDir("graft-x71-").toString
      def admit(b: DataFrame, id: Long) =
        graft.streaming.StreamCurate.admitBatch(dir, b, id, policy,
          bin, nBins = 10, threshold = 0.25)
      Seq(
        admit(docs.filter(col("doc_id") % 3 === 0), 0L),
        admit(docs.filter(col("doc_id") % 3 === 1), 1L),
        admit(docs.filter(col("doc_id") % 3 === 2 &&
          col("n_chars") >= 400), 2L),
        admit(docs.filter(col("doc_id") % 3 === 2), 3L))
        .reduce(_ unionByName _) // decisions are literal rows —
          // each admit() already ran its ingest/refusal eagerly
    }
    val out = loaded.persist(); out.count()
    out
  }

  /** Memoized MAINTAINED-FINGERPRINT curation dir for st15 — the st9
    * pipeline + the %10 takedown, NO compaction: the fingerprint is
    * served from the per-batch partials and the delete's NEGATIVE
    * partial alone ([[graft.streaming.StreamCurate.fingerprintState]]),
    * so the driver query proves the metadata-sized serve equals a
    * DuckDB recomputation of the whole kept-set checksum. */
  private val fpCuration = Artifact("fpCuration", streamedCuration) { (s, d) =>
    // v2: per-column row hash (the r11 session-2 review fix) — a v1
    // dir's partials carry the old concat_ws hash and must rebuild.
    // v3 (r16): BRANCH the committed st9 prefix instead of re-running
    // the 3-batch policy ingest (the st9/x58 rationale — the fp
    // partials are written by the SAME appendBatch, so the branched
    // prefix carries them byte-identically).
    val spec = "v3 branch=st9 delete=%10==0 fpstate"
    def build(dir: java.nio.file.Path): Unit = {
      graft.ArtifactStore.branchFrom(streamedCurationDir(s, d), dir)
      graft.streaming.StreamCurate.deleteCurated(s, dir.toString,
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .select("doc_id"))
    }
    val dir = Artifact.storedDir(d, "st15fp", spec)(
      p => build(java.nio.file.Paths.get(p)))
    val out = graft.streaming.StreamCurate.fingerprintState(s, dir)
      .get.persist()
    out.count()
    out
  }

  /** Prewarm DAG (r15): the shared-artifact builders, declared
    * heaviest-first (cold-store walls, r15 measurement) within
    * topological order so [[graft.Graft.warmAll]] can overlap independent
    * builds. The edges are each artifact's `deps`: the cascade-root
    * release family (maintainedRoot / releaseRoot / deltaReleaseRoot /
    * gcReport read cascadeRoot's corpus dir) and the r16 branch edges
    * (st15/x58 copy st9's committed prefix, st12 copies st10's, st13
    * copies st11's — [[graft.ArtifactStore.branchFrom]]), where each
    * branch waits for its base instead of re-running the shared ingest. */
  private val prewarmed: Seq[Artifact[_]] = Seq(takedownContainment,
    prebuiltSegmented, cascadeRoot, containmentIndex, streamedCuration,
    foldReleaseRoot, realPairClusters, fpCuration, chainClusters,
    takedownCuration, admissionDecisions, streamedClusters, benchSegBloom,
    takedownClusters, docSignals, prebuiltMerged, maintainedRoot, gcReport,
    streamedNgramDf, takedownNgramDf, deltaReleaseRoot, releaseRoot,
    corpusSigIndex, corpusClusterTable, ngramDfIndex)

  private[graft] def prewarmTasks(s: SparkSession, d: String)
      : Seq[(String, Seq[String], () => Unit)] = Artifact.tasks(prewarmed, s, d)

  private val langMarkers = Seq(
    "jm" -> Seq("join", "merge", "hash"),
    "sf" -> Seq("scan", "filter", "sort"),
    "gw" -> Seq("group", "window", "batch"))

  val queries: Map[String, Q] = Map(
    // X1 — exact dedup: hash-groupBy on content digest
    "x1_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("digest")),

    // X2 — token counting (whitespace + regex-run proxy)
    "x2_token_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+")).as("n_runs"),
          length(col("text")).as("len"))
        .orderBy("doc_id")),

    // X3 — quality scoring (length/punct/stopword ratios)
    "x3_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(TextOps.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextOps.stopwordRatio(col("text"), stops), 6).as("stop_ratio"),
          round(TextOps.qualityScore(col("text"), stops), 6).as("quality"))
        .orderBy("doc_id")),

    // X4 — language-ID heuristic (marker-token argmax, deterministic ties)
    "x4_lang_id" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.langIdScore(col("text"), langMarkers).as("pred"))
        .orderBy("doc_id")),

    // X5 — document fingerprint (order-independent content hash)
    "x5_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.contentFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // X6 — n-gram Jaccard near-dup pairs, blocked by (lang, source) AND a
    // length bucket of the ±20-char band: bkt = floor(n_chars/20) joins as
    // part of the equi key (probe side explodes into {bkt-1,bkt,bkt+1}), so
    // the band prunes candidates AT the join instead of after it — a
    // 10⁷-doc (lang, source) block becomes ~10⁷×band, not 10¹⁴ pairs. Each
    // pair still appears at most once: the build side keeps one bucket.
    "x6_jaccard_pairs" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          floor(col("n_chars") / 20).as("bkt"),
          array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val a = t.select(col("doc_id").as("id1"), col("lang"), col("source"),
        col("bkt"), col("n_chars").as("nc1"), col("toks").as("t1"))
      val b = t.select(col("doc_id").as("id2"), col("lang"), col("source"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
        col("n_chars").as("nc2"), col("toks").as("t2"))
      a.join(b, Seq("lang", "source", "bkt"))
        .filter(col("id1") < col("id2") && abs(col("nc1") - col("nc2")) <= 20)
        .withColumn("j", round(TextOps.jaccard(col("t1"), col("t2")), 6))
        .filter(col("j") >= 0.5)
        .select("id1", "id2", "j")
        .orderBy("id1", "id2")
    }),

    // X7 — MinHash + LSH near-dup candidates (32 hashes, 16 bands × 2 rows
    // over word 3-shingles; recall-leaning banding: P(candidate) =
    // 1-(1-J²)^16 ≈ 0.999 at J=0.6). Candidate generation is one equi-join
    // on (band, band_hash) — no cross join at any scale.
    "x7_minhash_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      Dedup.minHashCandidates(docs, "doc_id", "sh", k = 32, bands = 16)
        .filter(col("est_jaccard") >= 0.25)
        .select(col("id1"), col("id2"), round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id1", "id2")
    }),

    // X33 — the PRODUCTION near-dup dedup chain, composed end-to-end:
    // x7's MinHash+LSH candidate pairs (est_jaccard >= 0.25) → x11's
    // transitive-closure clustering → x13's keep-min-per-cluster, as ONE
    // query over the real candidate stream (x11/x13 run the same chain
    // on oracle-able synthetic edges; this is the hash-family-real
    // composition, so rows-only). The cluster table is the MAINTAINED
    // artifact ([[realPairClusters]], memoized like x11's): steady state
    // is one left join against it; x45's incremental signature index is
    // how new batches extend it without re-clustering. Scale shape: band
    // equi-join → O(log diameter) CC rounds (paid once) → one left join.
    "x33_neardup_keep_one" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = realPairClusters(s, d)
      docs.join(clusters, docs("doc_id") === col("id"), "left")
        .filter(col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // X8 — SimHash fingerprints (64-bit, majority-vote bits, UDF-free)
    "x8_simhash" -> ((s, d) =>
      Dedup.simHash(
          Tables.documents(s, d)
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks", "simhash")
        .orderBy("doc_id")),

    // X9 — doc-frequency-weighted quality: mean IDF of the document's
    // distinct tokens (rare-token mass, the df-weighted upgrade of x3).
    // Canonical TF-IDF shape: one explode, one groupBy(token) for the df
    // table, one join back, one groupBy(doc) — all partial-aggregated;
    // corpus size joins as a broadcast scalar, never a driver collect.
    "x9_idf_quality" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      val dfTab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("corpus_n"))
      toks.join(dfTab, "tok")
        .crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(round(avg(log(col("corpus_n").cast("double") / col("df"))), 6)
          .as("idf_quality"))
        .orderBy("doc_id")
    }),

    // X10 — Cavnar-Trenkle-style trigram language ID (see
    // TextOps.trigramLangId): profiles from the doc_id % 5 = 0 train
    // split, then classify all. NOTE the fixture's `lang` label is
    // independent of its text (one shared vocabulary), so chance-level
    // `correct` is the right answer here; TrigramLangIdSpec proves the
    // mechanism at 100% on separable languages.
    "x10_lang_trigram" -> ((s, d) =>
      TextOps.trigramLangId(Tables.documents(s, d), col("doc_id") % 5 === 0, 30)
        .orderBy("doc_id")),

    // X11 — duplicate-cluster resolution (connected components by
    // min-label propagation with pointer jumping) over the chain edges;
    // see [[chainEdges]]/[[chainClusters]] for the shape and sharing.
    "x11_dup_clusters" -> ((s, d) => chainClusters(s, d).orderBy("id")),

    // X56 — INCREMENTAL cluster maintenance ([[Dedup
    // .incrementalClusters]]): x11's transitive closure for an ARRIVING
    // batch against the MAINTAINED (id, cluster_id) table — closing the
    // dedup lifecycle's last batch-only stage (signatures extend
    // incrementally via x45; now their clusters do too). The corpus
    // side is ONLY the resolved assignment table (built from the
    // doc_id % 4 != 0 slice, persisted); the batch's new edges contract
    // committed components to their ROOT nodes, the O(log diameter) CC
    // loop runs over that ≤ 2·|new-edges|-node graph, and one
    // broadcast-sized relabel join updates affected rows. Output
    // intentionally equals x11's full cluster table (same data,
    // incremental construction — the x49-vs-x48 pattern), so the DuckDB
    // compare IS the incremental ≡ scratch proof on real data.
    "x56_incremental_clusters" -> ((s, d) => {
      val newEdges = chainEdges(s, d)
        .filter(col("id1") % 4 === 0 || col("id2") % 4 === 0)
      Dedup.incrementalClusters(corpusClusterTable(s, d), newEdges)
        .orderBy("id")
    }),

    // ST10 — the STREAM-MAINTAINED cluster table ([[streamedClusters]]:
    // 3 edge micro-batches through the [[graft.streaming
    // .StreamClusters]] sink — immutable member partitions + the
    // metadata-sized root-map OVERLAY under one manifest, so a bridge
    // edge relabels committed rows WITHOUT rewriting a single committed
    // partition). Completes the streaming-ingest family's symmetry:
    // every maintained dedup artifact now has an online form (st3
    // digests, st5 signatures, st6/st7 sparse index, st8 dense index,
    // st9 curated corpus — and now the transitive closure). Splitting
    // by id2 % 3 scatters each chain across batches, so batches 1-2
    // genuinely bridge committed components. Serve = the resolved
    // members ⟕ overlay view from the disk-round-tripped state; output
    // ≡ x11's full cluster table, so the DuckDB compare IS streamed ≡
    // scratch for the cluster table THROUGH the disk round trip (the
    // st6/st8 claim, closure side). StreamClustersSpec pins the merge
    // shapes, re-delivery no-op, reset guard, time travel, compaction.
    "st10_cluster_stream" -> ((s, d) =>
      streamedClusters(s, d).orderBy("id")),

    // ST12 — TAKEDOWN on the streamed cluster table ([[takedown
    // Clusters]]: StreamClusters.deleteNodes + the re-min compact).
    // Membership is a derivative of forgotten content: the deleted
    // slice's rows stop serving at the delete commit, arriving edges
    // touching them are dropped, and the fold re-mins labels over the
    // survivors — so the served table equals st10's blocks minus the
    // deleted docs with min-surviving-id labels, which is exactly what
    // the oracle computes. StreamClustersSpec pins the lifecycle
    // (mask, stale-label window, edge guard, re-min fold, vacuum).
    "st12_cluster_takedown" -> ((s, d) =>
      takedownClusters(s, d).orderBy("id")),

    // X12 — repetition-based quality (the Gopher-style filter signals):
    // repeat_ratio = 1 − distinct/total tokens, top_tok_share = most
    // frequent token's mass. The aggregates come precomputed from the
    // shared [[docSignals]] table (explode → two partial-aggregated
    // groupBys, all codegen — run once for the whole pipeline).
    "x12_repetition" -> ((s, d) =>
      docSignals(s, d)
        .select(col("doc_id"),
          round(lit(1.0) - col("nd") / col("total"), 6).as("repeat_ratio"),
          round(col("maxn") / col("total"), 6).as("top_tok_share"))
        .orderBy("doc_id")),

    // X14 — hashing-trick TF-IDF components (the fixed-width text→vector
    // bridge; TextOps.assembleVector + the v-kernels consume these,
    // TfIdfVectorSpec). Bucket = md5-derived here so DuckDB replicates
    // the assignment bit-for-bit; production default is xxhash64.
    "x14_hashed_tfidf" -> ((s, d) => {
      val md5Bucket: Column => Column =
        t => conv(substring(md5(t), 1, 4), 16, 10).cast("int") % 32
      TextOps.hashedTfIdf(Tables.documents(s, d), "doc_id", "text", 32,
          bucketOf = md5Bucket)
        .select(col("doc_id"), col("bucket"),
          round(col("weight"), 6).as("weight"))
        .orderBy("doc_id", "bucket")
    }),

    // X15 — benchmark DECONTAMINATION, exact form: training docs
    // (doc_id % 7 != 0) that near-duplicate a benchmark doc (% 7 == 0)
    // by n-gram Jaccard >= 0.5, blocked exactly like x6 (lang, source,
    // ±1 length bucket) so the cross-corpus join is an equi-join. The
    // oracle replicates it exactly; x17 is the MinHash scale path.
    "x15_decontam" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          floor(col("n_chars") / 20).as("bkt"),
          array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val a = t.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("train_id"), col("lang"), col("source"),
          col("bkt"), col("n_chars").as("nc1"), col("toks").as("t1"))
      val b = t.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("bench_id"), col("lang"), col("source"),
          explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
          col("n_chars").as("nc2"), col("toks").as("t2"))
      a.join(b, Seq("lang", "source", "bkt"))
        .filter(abs(col("nc1") - col("nc2")) <= 20)
        .withColumn("j", round(TextOps.jaccard(col("t1"), col("t2")), 6))
        .filter(col("j") >= 0.5)
        .select("train_id", "bench_id", "j")
        .orderBy("train_id", "bench_id")
    }),

    // X16 — deterministic stratified sampling (md5-uniform per id; the
    // language-rebalancing op). Exactly replicated by the DuckDB oracle.
    "x16_stratified_sample" -> ((s, d) =>
      TextOps.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // X17 — decontamination at scale: MinHash+LSH cross-corpus candidates
    // (one band-key shuffle, A×B pairs from each bucket, combined-
    // occupancy bucket cap) — the shape that holds at 10⁹ train × 10⁶
    // benchmark docs. Hash-family-specific
    // → rows-only; CrossCorpusSpec plants contamination and proves recall,
    // and x15 oracles the exact semantics on the same corpus split.
    "x17_decontam_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      Dedup.crossCorpusCandidates(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "sh", k = 32, bands = 16)
        .filter(col("est_jaccard") >= 0.25)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // X23 — SimHash near-dup pairs: banded Hamming join over x8's
    // fingerprints (pigeonhole-exact recall at Hamming ≤ 3; see
    // Dedup.simHashPairs). The fixture has no exact dups, so the query
    // uses the heuristic regime (≤ 16) to surface the nearest
    // fingerprint pairs. MEASURED recall of this regime vs brute-force
    // bit_count(xor) on the sf0.01 fixture: 1.000 at Hamming 0-3,
    // 0.388 at 4-8, 0.106 at 9-12, 0.024 at 13-16 (overall 0.052) —
    // a closest-pairs surfacing query, not an all-pairs one; raise
    // `bands` for pigeonhole exactness to bands−1 (simHashPairs doc).
    // Hash-family-specific → rows-only; SimHashSpec pins the ≤3
    // pigeonhole completeness and the measured heuristic-regime shape.
    "x23_simhash_pairs" -> ((s, d) =>
      Dedup.simHashPairs(
          Tables.documents(s, d)
            .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
          "doc_id", "toks", maxHamming = 16)
        .orderBy("id1", "id2")),

    // X22 — the END-TO-END curation pipeline: quality filter (x21) ∘
    // decontamination (x20) ∘ exact-dedup keep-one (x1's survivor rule) ∘
    // stratified sampling (x16) → the final training corpus. Each stage
    // is an id-set semi/inner join onto the scan — the composition stays
    // oracle-exact and every stage keeps its own scale shape.
    "x22_curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = queries("x21_quality_filter")(s, d).select("doc_id")
      val decontaminated = queries("x20_decontam_filter")(s, d).select("doc_id")
      val survivors = docSignals(s, d).groupBy("digest")
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      TextOps.stratifiedSample(
          docs.join(kept, "doc_id").join(decontaminated, "doc_id")
            .join(survivors, "doc_id"),
          "lang", "doc_id", Map("en" -> 0.9, "de" -> 0.9),
          defaultFraction = 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // X21 — composite quality FILTER (the C4/Gopher-style keep/drop
    // step): combines the x3 quality score, x12 repetition signals and
    // a length floor into one verdict per doc and emits the survivors.
    // All signals come precomputed from the shared [[docSignals]] table
    // (same expressions — oracle-exact); the filter itself is one
    // scan-shaped predicate at any corpus size.
    "x21_quality_filter" -> ((s, d) =>
      docSignals(s, d)
        .filter(col("quality") >= 0.5 &&
          (lit(1.0) - col("nd") / col("total")) <= 0.8 &&
          (col("maxn") / col("total")) <= 0.3 && col("n_chars") >= 50)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // X20 — the decontamination pipeline's FINAL step: the training
    // corpus with contaminated docs removed (anti-join on x15's exact
    // pair set) — pairs are evidence, this is the deliverable. One
    // left-anti shuffle on doc_id at any scale.
    "x20_decontam_filter" -> ((s, d) => {
      val contaminated = queries("x15_decontam")(s, d)
        .select(col("train_id").as("doc_id")).distinct()
      Tables.documents(s, d)
        .filter(col("doc_id") % 7 =!= 0) // the training split
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // X19 — edit-distance near-dup pairs (typo-level fuzzy dedup, the
    // flavor n-gram/MinHash misses): blocked by (lang, source) AND the
    // x6-style ±1 length bucket on n_chars (bkt = floor(n_chars/20) in
    // the equi key, probe side exploded into {bkt-1,bkt,bkt+1}), then
    // levenshtein over a fixed 48-char prefix (bounds the O(m·n) DP per
    // pair regardless of document length), oracle-exact vs DuckDB's
    // levenshtein. Near-dup docs have near-equal lengths, so the band is
    // part of the operator's definition — candidates are pruned AT the
    // join: a 10⁷-doc (lang, source) block joins as ~10⁷×band rows, not
    // the 10¹⁴ all-pairs the unbanded r3 form produced.
    "x19_fuzzy_pairs" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          floor(col("n_chars") / 20).as("bkt"),
          substring(col("text"), 1, 48).as("pfx"))
      val a = t.select(col("doc_id").as("id1"), col("lang"), col("source"),
        col("bkt"), col("n_chars").as("nc1"), col("pfx").as("p1"))
      val b = t.select(col("doc_id").as("id2"), col("lang"), col("source"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
        col("n_chars").as("nc2"), col("pfx").as("p2"))
      a.join(b, Seq("lang", "source", "bkt"))
        .filter(col("id1") < col("id2") && abs(col("nc1") - col("nc2")) <= 20)
        .withColumn("dist", levenshtein(col("p1"), col("p2")))
        .filter(col("dist") <= 28)
        .select("id1", "id2", "dist")
        .orderBy("id1", "id2")
    }),

    // X18 — sequence packing (training-batch prep): next-fit token-budget
    // bins per lang, the T3/T4 sorted-group fold shape. Bin boundaries
    // are a running recurrence → not SQL-expressible → rows-only;
    // PackSpec pins hand traces + invariants.
    "x18_pack_sequences" -> ((s, d) =>
      graft.ext.Pack.packSequences(
          Tables.documents(s, d).select(col("lang"), col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens")),
          "lang", "doc_id", "n_tokens", budget = 500)
        .toDF()
        .orderBy("group", "bin", "doc_id")),

    // X24 — PII scrubbing (the redaction stage every public-corpus
    // pipeline runs before training): emails → <EMAIL>, URLs → <URL>,
    // long digit runs (≥4, the id/phone/card shape) → <NUM>, plus
    // per-category hit counts. Pure scan-shaped regexp expressions —
    // codegen, shuffle-free, oracle-exact vs DuckDB's RE2 (patterns kept
    // to the Java∩RE2 dialect). The fixture's text is PII-free word-salad
    // — a pass-through there (asserted) — so TextScrubSpec plants real
    // emails/URLs/digit runs and pins the redactions.
    "x24_pii_scrub" -> ((s, d) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val url = "https?://[^ ]+"
      val num = "[0-9]{4,}"
      val t = col("text")
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(t, lit(email)).cast("int").as("n_email"),
          regexp_count(t, lit(url)).cast("int").as("n_url"),
          regexp_count(t, lit(num)).cast("int").as("n_num"),
          regexp_replace(regexp_replace(regexp_replace(t,
            email, "<EMAIL>"), url, "<URL>"), num, "<NUM>").as("scrubbed"))
        .orderBy("doc_id")
    }),

    // X25 — corpus n-gram frequency table (heavy hitters): top-20
    // bigrams per lang by occurrence count. The classic corpus-statistics
    // job: one occurrence-preserving explode (TextOps.ngrams, NOT the
    // distinct shingle set), one partial-aggregated groupBy on
    // (lang, bigram), and a keyed window for the per-lang top-k — the
    // shape that holds when the bigram table is billions of rows, since
    // the window partitions by lang over the already-aggregated counts.
    "x25_ngram_counts" -> ((s, d) => {
      val bi = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("lang"),
          explode(TextOps.ngrams(col("toks"), 2)).as("bigram"))
      bi.groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
        // rank window, not TopKAgg: the tiebreak id is a STRING (bigram)
        // — outside the aggregate's (double, long) entry — and the input
        // is already the partial-agg-reduced distinct-bigram table
        .withColumn("rk", row_number().over(Window.partitionBy("lang")
          .orderBy(col("n").desc, col("bigram"))))
        .filter(col("rk") <= 20)
        .select("lang", "rk", "bigram", "n")
        .orderBy("lang", "rk")
    }),

    // X26 — graded n-gram contamination (GPT-3/PaLM-style decontamination
    // METRIC): per train doc, the fraction of its distinct trigrams that
    // occur anywhere in the benchmark split (doc_id % 7 == 0, the x15/x20
    // convention). Benchmark trigram set broadcasts (benchmarks are MBs at
    // any corpus scale); train side is scan + explode + one partial-agg
    // groupBy. Complements x15/x17's binary verdict with the audit number
    // pipelines actually threshold on.
    "x26_contam_ngram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramContamination(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", k = 3)
        .orderBy("doc_id")
    }),

    // X54 — per-document corpus-overlap score (the memorization-risk
    // audit): share of a doc's distinct trigrams that occur in at least
    // one OTHER document — the per-doc complement of x41 (which removes
    // cross-doc boilerplate) and x26 (which grades train-vs-benchmark
    // overlap); high-dup_share docs are the near-duplicate/boilerplate
    // mass that inflates memorization (the Lee et al. dedup rationale
    // as a driver-visible per-doc number). Shape: materialized-toks
    // explode (the x26 HOF rule) → one trigram-keyed partial-agg
    // groupBy for df → one trigram-keyed join back → per-doc agg —
    // no pairwise term at any scale (trigram df plays the blocking
    // role; heavy trigrams are exactly x41's broadcastable heavy
    // hitters if skew ever bites). Oracle-exact.
    "x54_dup_ngram_score" -> ((s, d) => {
      val g = Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.ngrams(col("toks"), 3))).as("ng"))
      val df3 = g.groupBy("ng").agg(count(lit(1)).as("ndocs"))
      g.join(df3, "ng")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_share",
          round(col("n_dup") / col("n_ngrams"), 6))
        .orderBy("doc_id")
    }),

    // X55 — INCREMENTAL corpus-overlap score ([[TextOps
    // .dupScoreAgainst]]): x54's memorization-risk number for an
    // ARRIVING batch against the MAINTAINED trigram-df index — the
    // x36/x45/m6 daily-increment pattern applied to the last
    // scan-shaped overlap op. The corpus side is ONLY its (ng, ndocs)
    // metadata index (built from the doc_id % 4 != 0 slice, persisted;
    // extended per batch with ngramDfMerge in a real loop); the % 4 ==
    // 0 batch tokenizes itself once and joins the index by its own
    // n-grams. Oracle-exact: equals x54 over the full corpus restricted
    // to the batch docs (index df + within-batch df IS the corpus df).
    "x55_incremental_dup_score" -> ((s, d) =>
      TextOps.dupScoreAgainst(ngramDfIndex(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // ST11 — the STREAM-MAINTAINED n-gram-df index
    // ([[streamedNgramDf]]: 3 document micro-batches + one full
    // re-delivery through the [[graft.streaming.StreamNgramDf]] sink —
    // immutable per-batch (ng, ndocs) DELTA partitions whose serve is
    // the keyed sum, the LSM answer for a table that is neither
    // append-only row-wise nor metadata-sized at scale; seen-ids guard
    // partitions make replay a structural no-op). Output: x55's
    // overlap score of the % 4 == 0 batch served FROM the streamed
    // index — x55's SQL verbatim, so the DuckDB compare IS
    // streamed ≡ scratch on real data, THROUGH the disk round trip and
    // the re-delivery (a double-counted delta shifts shared grams' df
    // and hash-fails).
    "st11_ngramdf_stream" -> ((s, d) =>
      TextOps.dupScoreAgainst(streamedNgramDf(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // ST13 — TAKEDOWN on the streamed ngram-df index ([[takedown
    // NgramDf]]: StreamNgramDf.deleteDocs + compact). The delete is a
    // NEGATIVE LSM delta — the only forget that works on an index whose
    // rows are SUMS (a tombstone can't mask a contribution spread
    // across shared grams); the serve's keyed sum nets it out and the
    // fold absorbs it. Needs the deleted bodies, which is the
    // cascade-order contract: forget the derivatives while the corpus
    // still holds the texts, then forget the texts (x58). Oracle =
    // st11's SQL with the deleted docs excluded from the df side.
    "st13_ngramdf_takedown" -> ((s, d) =>
      TextOps.dupScoreAgainst(takedownNgramDf(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // X58 — TAKEDOWN on the curated corpus ([[takedownCuration]]:
    // [[graft.streaming.StreamCurate.deleteCurated]] + compact): st9's
    // streamed curation pipeline, then the kept doc_id % 10 == 0 slice
    // tombstoned and PHYSICALLY reclaimed — the delete verb on the sink
    // that holds the document BODIES, where a right-to-be-forgotten
    // request actually lands. The seen digest index survives both
    // delete and compaction, so a re-crawl of taken-down bytes stays
    // out structurally. Oracle: st9's SQL with the deleted slice
    // filtered out — the reclaimed corpus is exactly the one that never
    // kept those docs.
    "x58_curate_takedown" -> ((s, d) =>
      takedownCuration(s, d).orderBy("doc_id")),

    // ST14 — CROSS-GENERATION SNAPSHOT DIFF, the reproducibility-audit
    // verb ([[graft.streaming.StreamCurate.diffSnapshots]]): exactly
    // which rows the corpus a reader pinned to snapshot B serves that
    // snapshot A's reader did not, and vice versa. Runs on x58's
    // lifecycle dir — A = the second commit (arrival batches 0-1),
    // B = latest (batch 2 + the %10 takedown + physical reclaim) — so
    // added = batch-2 survivors not taken down, removed = batch-0/1
    // rows the takedown forgot. The window crosses a compaction fold,
    // exercising the general EXCEPT path; SnapshotDiffSpec pins the
    // partition-pruned fast path (forward-only windows read only the
    // delta) ≡ general. Oracle = st9's kept-set SQL split by arrival
    // batch (doc_id % 3) and the takedown slice (doc_id % 10).
    "st14_corpus_diff" -> ((s, d) => {
      val dir = takedownCurationDir(s, d)
      // A = the commit at which exactly arrival batches 0 and 1 are
      // live (self-describing — the manifest also carries a gen-0
      // birth commit, so positional indexing would be off by one)
      val genA = graft.streaming.Manifest.generations(s, dir).find { g =>
        graft.streaming.Manifest.readLiveAt(s, dir, Some(g))
          .exists(l => l.data == Set(0, 1) && l.tombs.isEmpty)
      }.getOrElse(sys.error(s"no batches-0-1 generation at $dir"))
      graft.streaming.StreamCurate.diffSnapshots(s, dir,
          Some(genA), None, "doc_id")
        .select("change", "doc_id", "lang", "source")
        .orderBy("change", "doc_id")
    }),

    // X27 — temperature-scaled mixture sampling (the multilingual
    // re-weighting step): per-lang keep rates computed FROM corpus counts
    // with τ=0.5 — en (44% of the fixture) flattens to ~35% of the
    // sample — then the same deterministic md5-uniform filter as x16.
    // Data-dependent rates = one tiny aggregate broadcast onto the scan;
    // the corpus-side filter stays shuffle-free.
    "x27_temperature_mix" -> ((s, d) =>
      TextOps.temperatureMixSample(Tables.documents(s, d), "lang", "doc_id",
          tau = 0.5, targetCount = 200)
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("rate"), 6).as("rate"))
        .orderBy("doc_id")),

    // X28 — segment-level exact dedup (C4/RefinedWeb line-dedup): chop
    // docs into 10-token segments, keep each distinct segment's globally
    // first occurrence (by doc_id, pos), reassemble survivors in order.
    // One shuffle keyed by segment text + one groupBy on doc_id — no
    // pairwise comparisons at any scale.
    "x28_segment_dedup" -> ((s, d) =>
      Dedup.segmentDedup(Tables.documents(s, d), "doc_id", "text",
          segTokens = 10)
        .orderBy("doc_id")),

    // X70 — INCREMENTAL containment ([[Dedup.containmentAgainst]]): the
    // increment-family member for x61 — the corpus is represented by
    // its maintained SHINGLE-SET index + 5-gram df table + EXPLODED
    // ngb-partitioned postings (bodies of past increments never
    // re-tokenized, stored sets never re-exploded); the % 4 == 0 batch
    // tokenizes itself once, pairs through rare shingles under the
    // COMBINED (index + batch) df — a LEFT merge from the batch side,
    // so the per-increment cost is O(batch) — and exact containment
    // runs on the stored sets. Oracle = x61's full-corpus SQL
    // restricted to batch-touching pairs — the incremental result must
    // equal the full recompute exactly.
    "x70_containment_incr" -> ((s, d) => {
      val (setsFull, dfT, post) = containmentIndex(s, d)
      Dedup.containmentAgainst(
          setsFull.filter(col("__cid") % 4 =!= 0), dfT,
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 5, maxDf = 20, threshold = 0.4,
          indexPostings = Some(post))
        .orderBy("id_contained", "id_container")
    }),

    // ST16 — TAKEDOWN-lifecycle containment sink
    // ([[graft.streaming.StreamContainment]]): x70's increment served
    // from the MAINTAINED sink after three appends, a % 9 == 2
    // takedown (id mask + negative df delta derived from the sink's
    // own stored sets — no bodies needed), and a compaction fold.
    // Oracle = x61's full-corpus SQL over the survivor index ∪ batch,
    // restricted to batch-touching pairs — the served result must
    // equal a recompute over a corpus that never contained the
    // deleted docs.
    "st16_containment_takedown" -> ((s, d) =>
      graft.streaming.StreamContainment.serve(s,
          takedownContainment(s, d),
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 5, maxDf = 20, threshold = 0.4)
        .orderBy("id_contained", "id_container")),

    // X72 — the containment RECALL ENVELOPE, observable
    // ([[Dedup.containmentCoverage]]): x61/x70 can only pair docs
    // through a rare shingle, so a doc none of whose shingles are rare
    // is invisible to them — this surfaces the count of that blind
    // class (plus the too-short-to-shingle class) per run, served from
    // the same maintained set artifact as the detectors. Coverage
    // below a floor routes the corpus to segment-level dedup first
    // (the documented remedy).
    "x72_containment_coverage" -> ((s, d) =>
      Dedup.containmentCoverage(Tables.documents(s, d), "doc_id", "text",
        n = 5, maxDf = 20,
        prebuiltSets = Some(containmentIndex(s, d)._1))),

    // X71 — PSI-GATED batch admission ([[graft.streaming.StreamCurate
    // .admitBatch]], [[admissionDecisions]]): the x63 drift monitor
    // wired to a POLICY — a planted length-drifted batch is
    // QUARANTINED (PSI > 0.25, never ingested, digests never seen) and
    // the undistorted re-delivery of the same slice then admits
    // cleanly. Output = the four decision rows; the oracle recomputes
    // each batch's PSI against the kept-set reference with x63's exact
    // arithmetic (Laplace-smoothed shares over length deciles) and
    // applies the same threshold.
    "x71_admission_gate" -> ((s, d) =>
      admissionDecisions(s, d)
        .select(col("batch_id"), col("n_batch"),
          round(col("psi"), 6).as("psi"), col("threshold"),
          col("admitted"), col("action"))
        .orderBy("batch_id")),

    // X73 — takedown ATTESTATION ([[graft.streaming.Takedown.attest]],
    // [[cascadeRoot]]): the per-sink residual PROOF after a full
    // six-sink forget — each row a sink's served-entity count plus how
    // many of those are deleted ids (0 everywhere = the cascade
    // completed; anything else names the sink still serving deleted
    // content). The oracle recomputes every sink's expected survivor
    // count from the raw corpus (per-id identity via the salted texts;
    // token-eligible docs for containment, id∪hub nodes for clusters)
    // — so the attested counts are pinned to ground truth, not to the
    // sinks agreeing with themselves.
    "x73_forget_attest" -> ((s, d) => {
      val root = cascadeRoot(s, d)
      graft.streaming.Takedown.attest(s,
          Tables.documents(s, d)
            .filter(col("doc_id") % 7 === 1 && col("doc_id") % 5 === 3)
            .select("doc_id"),
          cascadeSinks(root))
        .orderBy("sink")
    }),

    // ST19 — the per-sink MAINTENANCE report
    // ([[graft.streaming.Takedown.maintenanceReport]]) over the
    // post-forget cascade root: manifest families, history depth,
    // quarantine depth, fingerprint coverage and the fold trigger in
    // one frame — the row set a background maintainer polls. The
    // fixture state is deterministic AND SF-independent (two appends +
    // one forget per sink — families, history depth and triggers
    // depend on the recipe, not the corpus size; verified equal at
    // sf0.001/sf0.01), so the oracle is the literal expected report:
    // mask-based sinks (corpus/bm25/ivf/clusters) need a fold NOW —
    // tombstones cost every serve an anti-join; LSM sinks
    // (containment/ngram_df) don't — their negative deltas are already
    // netted by the keyed serve and their delete ledger (n_aux) is
    // permanent state, not a trigger.
    "st19_maintenance_report" -> ((s, d) =>
      graft.streaming.Takedown.maintenanceReport(s,
          cascadeSinks(cascadeRoot(s, d)))
        .orderBy("sink")),

    // ST20 — retention DRY RUN
    // ([[graft.streaming.Takedown.retentionReport]]) over the same
    // post-forget cascade: what would a no-retention vacuum delete,
    // per sink, without deleting anything. The fixture pins the
    // compact+vacuum pairing lesson driver-visibly: after a forget
    // with NO fold, every sink's latest generation still references
    // every partition — history would expire (n_expire = 3) but ZERO
    // partitions reclaim; the bytes only come back after
    // maintain/reclaim folds the survivors. Deterministic and
    // SF-independent like st19 → literal oracle.
    "st20_retention_plan" -> ((s, d) =>
      graft.streaming.Takedown.retentionReport(s,
          cascadeSinks(cascadeRoot(s, d)))
        .orderBy("sink")),

    // ST21 — BYTES-level retention dry run ([[graft.streaming.Takedown
    // .retentionBytesReport]], VERDICT r12 #5) over the MAINTAINED
    // cascade ([[maintainedRoot]] — st20's fixture + one maintain()
    // fold): what running retention now actually BUYS. The four mask
    // sinks folded, so their pre-fold history partitions are stranded
    // reclaimables carrying real bytes; the LSM sinks folded nothing
    // and reclaim nothing. Partition sizes come from the write-once
    // ledger ([[graft.streaming.Manifest.vacuumPlanBytes]]: committed
    // partitions are immutable → one listing per partition per
    // LIFETIME, never a listStatus storm — the 100 TB cost story).
    // Counts/flags are recipe-deterministic and SF-independent →
    // literal oracle; exact byte equality vs a live listing recompute
    // is TakedownSpec's pin (parquet byte sizes vary with write
    // parallelism, so the driver pins has-bytes, not byte values).
    "st21_retention_bytes" -> ((s, d) =>
      graft.streaming.Takedown.retentionBytesReport(s,
          cascadeSinks(maintainedRoot(s, d)))
        .select(col("sink"), col("n_generations"), col("n_expire"),
          col("n_reclaimable"),
          (col("bytes_reclaimable") > 0).as("has_reclaim_bytes"),
          col("n_orphans"), col("bytes_orphans"))
        .orderBy("sink")),

    // X75 — attestation BY CONTENT ([[graft.streaming.Takedown
    // .attestByContent]], VERDICT r12 #7): the DMCA-shaped proof —
    // bytes in, per-sink residuals out. The request set mixes three
    // classes against the post-forget cascade: the VICTIMS' bytes
    // (must attest 0 residuals — the cascade completed), one still-
    // served slice's bytes (%5==0 — the report must NAME the sinks
    // still serving that content, the true-positive leg), and bytes
    // never ingested under any id (resolve to nothing, attest clean).
    // Resolution rides the curation sink's digest map — the same map
    // [[Takedown.forgetByContent]] deletes through — which survives
    // the takedown precisely so post-delete compliance checks can
    // still resolve the deleted bytes.
    "x75_attest_by_content" -> ((s, d) => {
      val root = cascadeRoot(s, d)
      val salted = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"),
          concat(col("text"), lit(" uid"), col("doc_id")).as("text"))
      val victims = salted.filter(col("doc_id") % 5 === 3).select("text")
      val live = salted.filter(col("doc_id") % 5 === 0).select("text")
      val never = Tables.documents(s, d)
        .filter(col("doc_id") % 7 === 2).select("text") // unsalted: never ingested
      graft.streaming.Takedown.attestByContent(s,
          victims.unionByName(live).unionByName(never),
          cascadeSinks(root))
        .orderBy("sink")
    }),

    // X74 — takedown BLAST RADIUS over the published training shards
    // ([[TextOps.blastRadius]]): for the deleted id set, which x37
    // release shards contained the docs and by how much (docs, tokens,
    // share) — the "which artifacts must be regenerated" answer.
    // Lineage is RECOMPUTED, not stored: the shard assignment is a
    // pure md5 function of the id, so the inverse map costs one scan
    // expression instead of a maintained lineage table.
    "x74_blast_radius" -> ((s, d) =>
      TextOps.blastRadius(Tables.documents(s, d), "doc_id", "text",
          Tables.documents(s, d).filter(col("doc_id") % 5 === 3)
            .select("doc_id"),
          nShards = 8)
        .orderBy("shard")),

    // X76 — CROSS-RELEASE takedown audit ([[graft.streaming.Release
    // .audit]]): the question x74 answers for one release, asked of the
    // RELEASE REGISTRY — for the deleted id set, which published
    // training releases contained the docs, in how many shards, with
    // how many tokens. Each release audits against its PINNED manifest
    // generation (time travel), so `r1` — published BEFORE the forget —
    // reports the victims exactly even though the live corpus has
    // already forgotten them, and `r2` — published after — reports
    // clean. Lineage recomputed from the release's recorded nShards
    // (the x74 md5 contract), never stored.
    "x76_release_audit" -> ((s, d) =>
      graft.streaming.Release.audit(s, releaseRoot(s, d),
          Tables.documents(s, d)
            .filter(col("doc_id") % 7 === 1 && col("doc_id") % 5 === 3)
            .select("doc_id"))
        .orderBy("release")),

    // ST22 — RELEASE-AWARE retention pre-flight ([[graft.streaming
    // .Release.retentionImpact]]): the loop between the release
    // registry and the vacuum dial, closed BEFORE the vacuum — for
    // each published release, does its pinned corpus generation
    // survive the proposed retention? Over the x76 fixture with no
    // retention window: r1's pre-forget generation would EXPIRE (its
    // audits would flip to readable=false; only the shard bytes
    // remain), r2's is the latest and always survives. Pure manifest
    // metadata, shared with the real vacuum's account. Recipe-
    // deterministic and SF-independent → literal oracle.
    "st22_release_retention" -> ((s, d) =>
      graft.streaming.Release.retentionImpact(s, releaseRoot(s, d))
        // corpus_dir (ADVICE r13) is a run-local absolute path — the
        // oracle pins the portable columns; ReleaseSpec pins the dir
        .select("release", "gen", "auditable_now", "auditable_after")
        .orderBy("release")),

    // X78 — INCREMENTAL release publication ([[graft.streaming.Release
    // .publishDelta]] — the increment-family member for releases: x36
    // exact dedup, x49/x51 BM25, v28 IVF, x56 clusters… a full publish
    // rewrites every shard even when a takedown touched 100 docs of a
    // 100 TB corpus): the one-row DELTA report of publishing the
    // post-forget snapshot against the pre-forget `d1` at 64 shards —
    // shards with victims AND survivors rewrite, victim-only shards
    // drop, untouched shards byte-copy (never read: the diff runs on
    // d1's RECORDED per-shard fingerprints). The resulting `d2` is a
    // full self-contained release (content ≡ scratch publish,
    // ReleaseSpec). The oracle recomputes the per-shard victim/survivor
    // split with the x74 md5 shard arithmetic.
    "x78_release_delta" -> ((s, d) =>
      graft.streaming.Release.deltaReport(s, deltaReleaseRoot(s, d),
          "d2").get
        .select(col("release"), col("based_on"), col("base_gen"),
          col("gen"), col("n_shards"), col("n_shards_rewritten"),
          col("n_shards_copied"), col("n_shards_emptied"), col("via"))),

    // X80 — FOLD-CROSSING incremental release ([[graft.streaming
    // .Release.publishDelta]]'s composed-diff tier, VERDICT r13 #3):
    // the r13 delta refused to diff across a compaction and fell back
    // to a full snapshot scan; now [[graft.streaming.StreamCurate
    // .diffSegments]] splits the manifest walk into forward-only
    // segments across the provably content-neutral fold (fpstate
    // metadata equality), so the post-fold delta still costs
    // O(diff + touched shards) with ZERO snapshot scans — the report
    // says so (`via = diff_folded`). Oracle: the x78 per-shard
    // victim/survivor recompute at 64 shards over this fixture's slice.
    "x80_delta_folded" -> ((s, d) =>
      graft.streaming.Release.deltaReport(s,
          s"${foldReleaseRoot(s, d)}/releases", "f2").get
        .select(col("release"), col("based_on"), col("base_gen"),
          col("gen"), col("n_shards"), col("n_shards_rewritten"),
          col("n_shards_copied"), col("n_shards_emptied"), col("via"))),

    // X81 — incremental release from the PER-SHARD FINGERPRINT STATE
    // ([[graft.streaming.StreamCurate.fingerprintShardState]] →
    // [[graft.streaming.Release.publishDelta]]'s state tier, VERDICT
    // r13 #3): after a VACUUM reclaimed the base's pinned generation,
    // the manifest walk is unprovable — but the curate sink's
    // maintained ≤1024-bin signed partials (appends positive,
    // takedowns negative, compaction re-bases) fold to per-shard
    // (n, xor) at ANY power-of-two shard count, so rewritten/copied/
    // emptied is decided from pure metadata (`via = state`) and only
    // the changed shards' content is read. Oracle: the per-shard
    // split with BOTH takedown waves as victims.
    "x81_delta_state" -> ((s, d) =>
      graft.streaming.Release.deltaReport(s,
          s"${foldReleaseRoot(s, d)}/releases", "f3").get
        .select(col("release"), col("based_on"), col("base_gen"),
          col("gen"), col("n_shards"), col("n_shards_rewritten"),
          col("n_shards_copied"), col("n_shards_emptied"), col("via"))),

    // X83 — CROSS-RELEASE per-shard comparison ([[graft.streaming
    // .Release.compareReleases]]): which shards diverged between two
    // published releases, from each release's RECORDED nShards-row
    // stats only — zero shard or corpus bytes. The x64 audit ladder's
    // release rung: x77's registry fingerprints prove global identity,
    // this names the diverging shards, the shard bytes name the rows.
    // f1 (everything) vs f3 (both takedown waves removed) at 64
    // shards; the oracle recomputes both snapshots' per-shard counts
    // AND 60-bit xor fingerprints in DuckDB.
    "x83_release_compare" -> ((s, d) =>
      graft.streaming.Release.compareReleases(s,
          s"${foldReleaseRoot(s, d)}/releases", "f1", "f3")
        .orderBy("shard")),

    // X84 — CROSS-LAYOUT release comparison ([[graft.streaming.Release
    // .compareReleasesBinned]], VERDICT r14 #6): x83 refuses unequal
    // shard counts (no shard-to-shard correspondence), but every
    // publish records PER-BIN stats (≤1024 rows) that fold EXACTLY to
    // any power-of-two layout — so f1 (64 shards) and f4 (16 shards,
    // the post-takedown snapshot) compare at their coarser common
    // layout (16) from pure recorded metadata: zero shard or corpus
    // bytes. The oracle recomputes both snapshots' 16-way per-shard
    // counts and 60-bit xor fingerprints in DuckDB.
    "x84_release_compare_xlayout" -> ((s, d) =>
      graft.streaming.Release.compareReleasesBinned(s,
          s"${foldReleaseRoot(s, d)}/releases", "f1", "f4")
        .orderBy("shard")),

    // X85 — LINKED (reference) release ([[graft.streaming.Release
    // .publishDelta]] `link = true`, r15): the O(TOUCHED) publication —
    // untouched shards are RECORDED as references to their physical
    // owner's shard dirs (shardmap metadata) instead of byte-copied,
    // so a takedown-sized change publishes in O(touched + metadata)
    // regardless of corpus size; [[graft.streaming.Release
    // .loadShards]] resolves references with one partition-pruned read
    // per owner. The query serves the RESOLVED content's (n_docs,
    // 60-bit fingerprint) plus the linked-shard count — the oracle
    // recomputes all three from the raw snapshot (resolution must be
    // invisible in the bytes).
    "x85_release_linked" -> ((s, d) => {
      val root = s"${foldReleaseRoot(s, d)}/releases"
      val resolved = graft.streaming.Release.loadShards(s, root, "f5")
      val nLinked = graft.streaming.Release.readShardMap(s, root, "f5")
        .map(_.size).getOrElse(0)
      TextOps.corpusFingerprint(resolved.select("doc_id", "text"),
          Seq("doc_id", "text"), Seq.empty)
        .select(lit("f5").as("release"),
          col("n_rows").as("n_docs"), col("fingerprint"),
          lit(nLinked).as("n_shards_linked"))
    }),

    // X82 — DELTA PRE-FLIGHT ([[graft.streaming.Release
    // .deltaPreflight]]): the st22 plan-before-act idea for deltas —
    // price a publishDelta (rewritten/copied/emptied shards vs a base)
    // from PURE METADATA: the base's recorded per-shard stats vs the
    // curate sink's maintained per-shard fingerprint state pinned at
    // the same generation. Zero corpus bytes, nothing staged. Over the
    // x80/x81 fixture the live-corpus plan against f1 must equal the
    // account f3's actual publish reported (ReleaseSpec pins
    // preflight ≡ published report field-for-field).
    "x82_delta_preflight" -> ((s, d) =>
      graft.streaming.Release.deltaPreflight(s,
        s"${foldReleaseRoot(s, d)}/corpus", None,
        s"${foldReleaseRoot(s, d)}/releases", basedOn = "f1")),

    // X79 — release RETIRE + GC ([[graft.streaming.Release.retire]]/
    // [[graft.streaming.Release.gc]], VERDICT r13 #4): the registry's
    // closing verb — retire makes a release registry-invisible in one
    // atomic commit while its bytes await gc; gc reclaims ONLY retired
    // releases no live release names as `based_on` (a live delta's
    // provenance chain pins its base's bytes). The fixture retires the
    // delta base g1 (referenced by live g2 → bytes kept) and the
    // standalone g3 (unreferenced → reclaimed); plan ≡ act by the
    // shared-account construction. Recipe-deterministic and
    // SF-independent → literal oracle.
    "x79_release_gc" -> ((s, d) =>
      gcReport(s, d).orderBy("release")),

    // X77 — the RELEASE REGISTRY ([[graft.streaming.Release
    // .registry]]): one manifest row per published release — pinned
    // generation, shard count, doc count, and the x62-style
    // order-invariant corpus fingerprint a training site re-verifies
    // without moving a byte. The oracle recomputes doc counts AND
    // fingerprints from the raw table per release snapshot (r1 = the
    // full pre-forget slice, r2 = the survivors).
    "x77_release_registry" -> ((s, d) =>
      graft.streaming.Release.registry(s, releaseRoot(s, d)).get
        .select(col("release"), col("gen"), col("n_shards"),
          col("n_docs"), col("fingerprint"))
        .orderBy("release")),

    // X62 — ORDER-INVARIANT corpus fingerprint
    // ([[TextOps.corpusFingerprint]]): per-lang XOR of a 60-bit md5
    // prefix + row count — the reproducibility checksum two sites (or
    // two snapshots: FingerprintSpec pins invariance across compaction)
    // compare to verify they hold the identical corpus without moving
    // it. One scan, map-side-combined, shuffles only group keys.
    "x62_corpus_fingerprint" -> ((s, d) =>
      TextOps.corpusFingerprint(Tables.documents(s, d),
          keyCols = Seq("doc_id", "text"), groupCols = Seq("lang"))
        .orderBy("lang")),

    // X67 — QUALITY-AWARE keep-best dedup ([[Dedup.keepBestByKey]]):
    // within each content group the surviving copy maximizes a keeper
    // score — the RefinedWeb "keep the best duplicate" policy vs
    // x1/x33's first-seen keep-min. Exact copies share text-derived
    // quality by construction, so the score adds a doc-level freshness
    // prior (md5-uniform of the id — in production: crawl recency,
    // source reputation); the corpus plants a deterministic re-crawl
    // (doc_id % 5 == 0 re-delivered at +2·10¹⁰, past every blow-up
    // copy's id offset), and winners genuinely split between original and
    // re-crawl. Winners decided on narrow (digest, score, id) rows;
    // bodies never shuffle.
    "x67_dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "text")
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(20000000000L))
      val corpus = docs.unionByName(recrawl)
        .withColumn("score",
          TextOps.qualityScore(col("text"), stops) +
            lit(0.1) * TextOps.md5Uniform(col("doc_id")))
      Dedup.keepBestPerContent(corpus, "doc_id", "text", col("score"))
        .select(col("doc_id"), col("lang"), col("source"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    // X68 — CROSS-REPLICA corpus comparison
    // ([[TextOps.fingerprintCompare]]): which slice of a
    // supposedly-mirrored corpus diverged — site A = the full corpus,
    // site B = a partially-synced replica (the doc_id % 97 == 13 slice
    // missing). Per-lang (n_a, n_b, fp_a, fp_b, equal): the middle rung
    // of the audit ladder between st15/x62 (global identity in
    // O(state)) and st14 (row-level diff). One pass per side, a
    // groups-sized full-outer join.
    "x68_corpus_compare" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.fingerprintCompare(
          docs, docs.filter(col("doc_id") % 97 =!= 13),
          keyCols = Seq("doc_id", "text"), groupCols = Seq("lang"))
        .orderBy("lang")
    }),

    // X69 — NEAR-DUP-AWARE leakage-free split
    // ([[Dedup.leakFreeSplitByKey]] over x33's real MinHash cluster
    // labels): x66 closes the exact-copy leak; this closes the
    // PARAPHRASE leak — every member of a near-dup cluster lands on the
    // same side of the split (coin on the cluster label, unclustered
    // docs on their own id). Cluster labels are hash-family-specific →
    // gate-SF golden (two-JVM forced-rebuild determinism covers the
    // artifact); the leak-free property itself is pinned
    // SF-independently in LeakSplitSpec.
    "x69_leakage_split_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = realPairClusters(s, d)
      Dedup.leakFreeSplitByKey(
          docs.join(clusters, docs("doc_id") === col("id"), "left")
            .withColumn("grp", coalesce(col("cluster_id"), docs("doc_id"))),
          "grp", trainFrac = 0.9)
        .select(docs("doc_id"), col("lang"), col("grp"), col("split"))
        .orderBy("doc_id")
    }),

    // X66 — LEAKAGE-FREE train/val split ([[Dedup.leakFreeSplit]]):
    // the split coin is flipped once per CONTENT group (md5 digest,
    // keyed by the group's min-id representative), so a doc and every
    // exact copy of its bytes land on the same side — a val example
    // can never leak into train through a re-crawled duplicate. One
    // digest groupBy (ids only) + a rep join; deterministic md5 coin.
    "x66_leakage_split" -> ((s, d) =>
      Dedup.leakFreeSplit(Tables.documents(s, d), "doc_id", "text",
          trainFrac = 0.9)
        .select(col("doc_id"), col("lang"), col("rep"), col("split"))
        .orderBy("doc_id")),

    // X65 — curriculum phase assignment ([[TextOps.curriculumPhases]]):
    // exact global rank by (quality asc, doc_id) and phase 0-3 =
    // ⌊4·(rank−1)/n⌋ — staged training ("clean docs first") WITHOUT a
    // global sort: range-bucketed order values, broadcast prefix
    // offsets, within-bucket windows (the x46 two-phase shape). Ranks
    // are integer-exact, so the oracle is a plain ORDER BY window.
    "x65_curriculum" -> ((s, d) =>
      TextOps.curriculumPhases(docSignals(s, d), "doc_id",
          col("quality"), nPhases = 4)
        .select(col("doc_id"), col("lang"), col("rank"), col("phase"))
        .orderBy("doc_id")),

    // ST15 — the MAINTAINED corpus fingerprint
    // ([[graft.streaming.StreamCurate.fingerprintState]]): the x62
    // checksum served from METADATA-SIZED state — every append commits
    // a one-row XOR partial of its just-written partition, the %10
    // takedown commits the removed rows' NEGATIVE partial in the same
    // flip (XOR is self-inverse), and the serve folds one row per live
    // id. No corpus scan anywhere in the serve; the DuckDB oracle
    // recomputes the whole kept-set checksum from the raw documents —
    // hash equality IS "the O(1)-state audit equals the full scan".
    "st15_fingerprint_stream" -> ((s, d) => fpCuration(s, d)),

    // X64 — per-SHARD fingerprints ([[TextOps.corpusFingerprint]] over
    // x37's shard assignment): the checksums a training job records
    // next to its shard manifests and verifies at data-load time —
    // any swapped, truncated or re-written shard fails its checksum
    // before a single step trains on it. Same one-scan map-side XOR.
    "x64_shard_fingerprint" -> ((s, d) =>
      TextOps.corpusFingerprint(
          TextOps.trainingShards(Tables.documents(s, d), "doc_id",
            nShards = 8),
          keyCols = Seq("doc_id", "text"), groupCols = Seq("shard"))
        .orderBy("shard")),

    // X63 — PSI drift monitor ([[TextOps.psiDrift]]): population
    // stability index of the newest arrival batch (doc_id % 3 == 2, the
    // st9 batch framing) against the already-ingested slice, over
    // doc-length decile bins — "does today's crawl still look like the
    // corpus?" before the batch is admitted. Laplace-smoothed shares
    // (empty bins contribute a finite penalty), per-bin contributions +
    // the bin=-1 total row a monitor alerts on (<0.1 stable, >0.25 act).
    // Two partial-agg groupBys on the bin key; nothing wider than
    // nBins rows ever joins or shuffles.
    "x63_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.psiDrift(
          docs.filter(col("doc_id") % 3 =!= 2),
          docs.filter(col("doc_id") % 3 === 2),
          least(floor(col("n_chars") / 100), lit(9)), nBins = 10)
        .orderBy("bin")
    }),

    // X61 — ASYMMETRIC containment near-dup ([[Dedup.containmentPairs]]):
    // C(A→B) = |S(A)∩S(B)|/|S(A)| over distinct 5-gram shingles — the
    // "small doc embedded verbatim in a big one" detector symmetric
    // Jaccard structurally misses (|A∩B|/|A∪B| → |A|/|B| → 0 as the
    // container grows, so x7/x19/x23 never fire). Candidates from RARE
    // shingles only (df ≤ 20 — a contained doc shares ALL its shingles,
    // so any rare one lights the pair; ≤ df²/2 pairs per shingle keeps
    // candidate generation bounded at any corpus size), then exact
    // containment on the candidate pairs' full shingle sets.
    // Served from the maintained full-corpus shingle-set artifact
    // (cont5's sets table — each body tokenized exactly once, at
    // ingest): the full-recompute analytic next to x70's increment, no
    // longer re-tokenizing the corpus per run.
    "x61_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 5, maxDf = 20, threshold = 0.4,
          prebuiltSets = Some(containmentIndex(s, d)._1))
        .orderBy("id_contained", "id_container")),

    // X29 — segment-overlap decontamination via a broadcast BLOOM
    // prefilter: train docs (doc_id % 7 != 0) sharing ANY 10-token
    // segment with the benchmark split are removed. The benchmark
    // segment set lives in a 32 KB bit array ([[benchSegBloom]],
    // memoized); train segments that fail the bloom skip the
    // exact-confirm semi-join entirely, so the join input is ~|overlap|
    // + the fp residue instead of every segment in the corpus — the
    // broadcast runtime-filter plan for "filter 100 TB by a seen-set".
    // No false negatives ⇒ hash-identical to the plain semi-join
    // (BloomSpec), so the plain form IS the oracle.
    "x29_bloom_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.segmentDecontam(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", segTokens = 10,
          prebuilt = Some(benchSegBloom(s, d)))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // X30 — quality-WEIGHTED importance sampling: keep each doc with
    // probability equal to its composite quality score (the x3/x21
    // signal), decided by the same deterministic md5-uniform as
    // x16/x27 — high-quality docs survive at ~their score, junk is
    // down-sampled smoothly instead of cliff-dropped (the soft
    // alternative to x21's hard threshold; DCLM-style reweighting).
    // Signals come precomputed from [[docSignals]]; the filter itself
    // is scan-shaped and shuffle-free at any corpus size.
    "x30_weighted_sample" -> ((s, d) =>
      TextOps.weightedSample(docSignals(s, d), "doc_id", col("quality"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // X31 — token-BUDGET corpus selection: the "best docs until the
    // budget runs out" step (fixed training-token budget → keep the
    // greedy (quality desc, doc_id) prefix whose cumulative token count
    // fits). NOT a global running-sum window (single partition at any
    // scale): [[TextOps.tokenBudgetSelect]] buckets the weight, spends
    // whole buckets via one tiny driver-collected aggregate, and pays a
    // keyed window only inside the one crossing bucket (~1/1000 of the
    // corpus). Identical to the global-window form by construction —
    // which is exactly what the oracle runs.
    "x31_token_budget" -> ((s, d) =>
      TextOps.tokenBudgetSelect(docSignals(s, d), "doc_id",
          col("quality"), col("total"), budget = 15000L)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // X32 — curation FUNNEL report: the stage-by-stage survivor counts
    // every real curation run publishes next to its output corpus (raw →
    // train split → quality → decontam → exact-dedup → sample), in
    // exactly x22's composition order. Six 1-row aggregates unioned —
    // each stage is an id-set semi/anti-join over the same building
    // blocks x20/x21/x22 already run, so the funnel costs one pass per
    // stage and shuffles only doc ids. The audit table for "where did
    // my corpus go?".
    "x32_curation_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val kept = queries("x21_quality_filter")(s, d).select("doc_id")
      val decontam = queries("x20_decontam_filter")(s, d).select("doc_id")
      val survivors = docSignals(s, d).groupBy("digest")
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val s3 = train.join(kept, "doc_id")
      val s4 = s3.join(decontam, "doc_id")
      val s5 = s4.join(survivors, "doc_id")
      val s6 = queries("x22_curation_pipeline")(s, d)
      def cnt(i: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage"), lit(name).as("name"), col("n_docs"))
      cnt(1, "raw", docs)
        .union(cnt(2, "train_split", train))
        .union(cnt(3, "quality", s3))
        .union(cnt(4, "decontam", s4))
        .union(cnt(5, "dedup", s5))
        .union(cnt(6, "sampled", s6))
        .orderBy("stage")
    }),

    // X34 — corpus composition audit ("what's in my corpus"): per-language
    // doc/source/token counts, exact-dup rate (distinct digests), mean
    // quality and length — the first report anyone runs on a new 100 TB
    // crawl. One groupBy over the SHARED persisted signal table
    // ([[docSignals]]): zero additional scans of the corpus.
    "x34_corpus_stats" -> ((s, d) =>
      docSignals(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          countDistinct("digest").as("n_distinct"),
          round(lit(1.0) - countDistinct("digest").cast("double") / count(lit(1)), 6)
            .as("dup_rate"),
          sum("total").as("n_tokens"),
          round(avg("quality"), 4).as("avg_quality"),
          round(avg(col("n_chars").cast("double")), 2).as("avg_chars"))
        .orderBy("lang")),

    // X35 — TRAINING BATCHES: the pipeline's last mile. The curated
    // corpus (x22's full quality ∘ decontam ∘ dedup ∘ sample chain)
    // packed into 2048-token next-fit bins per language (x18's fold),
    // reported as per-bin manifests (docs, tokens used, fill ratio) —
    // what a data loader actually consumes. Fold-derived → rows-only;
    // PackSpec pins the fold, CurationOpsSpec pins conservation here.
    "x35_training_batches" -> ((s, d) => {
      val curated = queries("x22_curation_pipeline")(s, d).select("doc_id")
      val docs = Tables.documents(s, d).join(curated, "doc_id")
        .select(col("lang"), col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
      graft.ext.Pack.packSequences(docs, "lang", "doc_id", "n_tokens",
          budget = 2048)
        .toDF()
        .groupBy("group", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_used"),
          round(sum("n_tokens") / lit(2048.0), 6).as("fill_ratio"))
        .orderBy("group", "bin")
    }),

    // X13 — keep-one-per-cluster: the dedup pipeline's final step
    // (pairs → clusters → canonical survivor). Survivors are docs that
    // either never appeared in a candidate edge or are their cluster's
    // min id. Defined ON x11's shared cluster table ([[chainClusters]]),
    // not a second CC run.
    "x13_dedup_keep_one" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.join(chainClusters(s, d), docs("doc_id") === col("id"), "left")
        .filter(col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // ST9 — the nightly-ingest chain ONLINE: x53's stages as a
    // foreachBatch sink against manifest-committed ON-DISK state
    // ([[graft.streaming.StreamCurate.appendBatch]]): each arrival
    // batch is first-seen-deduped against the persistent seen-digest
    // index (EVERY fresh digest recorded, quality-rejects included —
    // re-crawls of dropped pages never re-enter), then quality-filtered
    // (the row-shaped x21 verdict, proven ≡ the aggregate form),
    // decontaminated batch × static benchmark, sampled — survivors
    // append to the curated corpus under one atomic manifest flip per
    // batch. st9 serves the disk-round-tripped corpus. Oracle-exact:
    // global first-seen = rank over (batch = doc_id % 3, doc_id), all
    // other stages are per-doc conjuncts — the DuckDB SQL rebuilds the
    // whole chain.
    "st9_curate_stream" -> ((s, d) =>
      streamedCuration(s, d).orderBy("doc_id")),

    // X53 — INCREMENTAL curation capstone: the daily batch
    // (doc_id % 4 == 0) run through the FULL x22 curation chain against
    // maintained state, composing the increment family end-to-end the
    // way a production daily job does — no stage rescans the corpus
    // bodies:
    //   1. incremental exact dedup (x36's op: first-seen within the
    //      batch + anti-join on the corpus DIGEST index — ids/digests
    //      shuffle, bodies never);
    //   2. quality verdict (x21's scan-shaped predicate over the shared
    //      docSignals pass — per-doc, batch-boundable);
    //   3. decontamination with pair generation scoped to the BATCH ×
    //      the (static, small) benchmark split — cost ∝ |batch|, where
    //      x15 pays |corpus| (same blocked equi-join + Jaccard);
    //   4. deterministic md5-uniform stratified sample (x22's rates) —
    //      a scan filter, batch-restricted.
    // Oracle-exact end-to-end: the DuckDB SQL rebuilds all four stages
    // batch-scoped. At 100 TB the batch is the unit of work — this query
    // IS the shape of the nightly ingest job, which is why every join
    // here keys on digests/ids/block keys and the only corpus-sized
    // artifact touched is the digest index.
    "x53_incremental_curation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val survivors = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
        .select("doc_id")
      val kept = queries("x21_quality_filter")(s, d).select("doc_id")
      // batch-scoped x15: train side = this batch's training-split docs
      val t = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), floor(col("n_chars") / 20).as("bkt"),
        array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val a = t.filter(col("doc_id") % 4 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"), col("bkt"),
          col("n_chars").as("nc1"), col("toks").as("t1"))
      val bch = t.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("bench_id"), col("lang"), col("source"),
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
          defaultFraction = 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // X36 — INCREMENTAL exact dedup (the daily-crawl increment): docs
    // with doc_id % 4 == 0 arrive as the new batch against the rest as
    // the already-deduped corpus; survivors are the batch's first-seen
    // digests absent from the corpus digest index. Only digests shuffle
    // — increment N+1 never rescans increment N's bodies
    // ([[graft.ext.Dedup.incrementalDedup]]; IncrementalDedupSpec pins
    // planted-dup drops and run-to-run idempotence).
    "x36_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("digest"))
        .orderBy("doc_id")
    }),

    // X47 — interpolated-bigram perplexity ([[TextOps.bigramLm]] +
    // [[TextOps.perplexityBigramNative]]): the depth rung above x39 —
    // top-256 bigram MLE interpolated (λ=0.7) with the x39 unigram
    // floor; position 1 unigram-only. Scoring is the fused native
    // expression (model collected driver-side, hash-map probes inside
    // whole-stage codegen — bit-identical to the composable
    // perplexityBigram, CorpusQualitySpec parity). Oracle-exact at 6 dp.
    "x47_bigram_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.perplexityBigramNative(docs, "doc_id", "text",
          TextOps.bigramLm(docs, "text", vocabSize = 24, nBigrams = 256),
          lambda = 0.7)
        .orderBy("doc_id")
    }),

    // X49 — INCREMENTAL BM25 index maintenance ([[TextOps.bm25Merge]] —
    // the x36/x45 daily-increment pattern for the sparse index): the
    // index is built from the doc_id % 4 != 0 slice, the % 4 == 0 batch
    // merges WITHOUT re-tokenizing the corpus bodies (postings-only df
    // recount), and the held-out queries search the merged result. The
    // merged index is the PREBUILT [[prebuiltMerged]] artifact (merge
    // once per ingest, serve many — the x52 lifecycle; VERDICT r12 #2),
    // and the oracle builds the SAME index from scratch over the full
    // corpus — so the DuckDB compare IS the merge≡scratch proof on real
    // data (Bm25Spec pins it on synthetic corpora too). Output
    // intentionally equals x48's: same corpus, different construction
    // path.
    "x49_bm25_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.bm25Search(prebuiltMerged(s, d),
          docs.filter(col("doc_id") % 97 === 3),
          "doc_id", "text", k = 10, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")
    }),

    // X48 — Okapi BM25 retrieval ([[TextOps.bm25Index]]/[[TextOps
    // .bm25Search]]): the SPARSE leg of modern retrieval, next to the
    // dense TF-IDF/IVF path (v19). Held-out queries (doc_id % 97 == 3 —
    // the v19 serve-time split) probe an inverted index built over the
    // rest: serve cost = one equi-join of query terms against their
    // posting lists (Σ df(q terms), never corpus size) + a bounded
    // per-query top-k window. Oracle-exact: tf/df/dl/avgdl and the
    // Robertson +1-smoothed idf replicate in DuckDB term by term.
    "x48_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idx = TextOps.bm25Index(docs.filter(col("doc_id") % 97 =!= 3),
        "doc_id", "text")
      TextOps.bm25Search(idx, docs.filter(col("doc_id") % 97 === 3),
          "doc_id", "text", k = 10, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")
    }),

    // X50 — BOUNDED two-stage BM25 serve ([[TextOps.bm25Prune]] +
    // [[TextOps.bm25SearchTwoStage]]): candidates from each token's
    // top-64 postings by standalone impact (Carmel-style static pruning
    // — ≤ |q terms|·64 candidates/query, FLAT in corpus size where exact
    // serve is linear, measured 1.23 in SCALING.md), then exact Okapi
    // re-score of only those candidates against the full index (the
    // candidate-generation + re-rank split of a production stack).
    // Oracle-exact END TO END: DuckDB replicates the impact expression,
    // the per-token row_number truncation, the candidate join AND the
    // re-score — the whole two-stage arithmetic is under the oracle.
    // P=64 << the fixture's ~390-posting lists, so stage 1 genuinely
    // bites at the gate SF. Bm25Spec pins the candidate bound and
    // outright equality with the exact top-10 at full coverage.
    "x50_bm25_pruned" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val full = TextOps.bm25Index(docs.filter(col("doc_id") % 97 =!= 3),
        "doc_id", "text")
      TextOps.bm25SearchTwoStage(full,
          TextOps.bm25Prune(full, maxPostingsPerTerm = 64),
          docs.filter(col("doc_id") % 97 === 3), "doc_id", "text", k = 10,
          rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")
    }),

    // X51 — SEGMENTED BM25 maintenance ([[TextOps.bm25SegmentInit]]/
    // [[TextOps.bm25SegmentAppend]]/[[TextOps.bm25SearchSegmented]]):
    // the corpus ingested as three immutable segments (doc_id % 3), df
    // and corpus stats derived at query time from the touched posting
    // lists + per-segment metadata — an append tokenizes ONLY its batch
    // and recounts nothing (x49's merge re-shuffles all postings for the
    // df recount; this is the Lucene-segment upgrade its scaladoc
    // names). The segments are the PREBUILT [[prebuiltSegmented]]
    // artifact (append once per ingest, serve many — the x49/x52
    // lifecycle; VERDICT r13 #1: the timed run pays the EXACT segmented
    // SERVE, not three re-runs of the init+append build whose lifecycle
    // StreamBm25Spec/st6/st7 already prove), and the DuckDB oracle
    // builds the SAME index from scratch over the union corpus — the
    // driver compare IS the segmented ≡ scratch proof on real data.
    "x51_bm25_segmented" -> ((s, d) => {
      val (segs, _) = prebuiltSegmented(s, d)
      TextOps.bm25SearchSegmented(segs,
          Tables.documents(s, d).filter(col("doc_id") % 97 === 3),
          "doc_id", "text", k = 10, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")
    }),

    // X52 — BOUNDED serve over the SEGMENTED index ([[TextOps
    // .bm25PruneSegments]] + [[TextOps.bm25SearchSegmentedTwoStage]]):
    // the complete Lucene read path — stage-1 candidates from the
    // compaction-time impact-pruned lists (exact, current df from the
    // per-segment term DICTIONARIES — the round-7 metadata upgrade that
    // also removed x51's +12% query-time df recount), stage-2 exact
    // re-score of only the candidates with dictionary df. This closes
    // the measured gap: the exact segmented serve is linear in the
    // corpus (x51_seg_probe64 exponent ~1.0, SCALING.md r7) while this
    // serve is flat (x52_seg2stage_probe64). Oracle-exact END-TO-END:
    // x50's two-stage SQL verbatim — segmented-two-stage ≡
    // scratch-two-stage bit-for-bit IS the claim under test.
    "x52_bm25_seg2stage" -> ((s, d) => {
      // PREBUILT segments + pruned lists (the v6/v19 serve lifecycle):
      // x52 times the bounded two-stage SERVE, x51 the exact segmented
      // serve, over the same build-once artifact
      val (segs, pruned) = prebuiltSegmented(s, d)
      TextOps.bm25SearchSegmentedTwoStage(segs, pruned,
          Tables.documents(s, d).filter(col("doc_id") % 97 === 3),
          "doc_id", "text", k = 10, rankRound = Some(6))
        .select(col("q_id"), col("rank"), col("key"),
          round(col("score"), 6).as("score"))
        .orderBy("q_id", "rank")
    }),

    // X46 — contiguous global-ID assignment ([[TextOps.assignGlobalIds]]):
    // dense ids for 100 TB without a global sort — md5 bucketing, tiny
    // prefix-summed offset table broadcast back, one keyed window. Ids
    // are partitioning-independent (AssignIdsSpec proves repartition
    // invariance). Oracle-exact (md5 parity).
    "x46_assign_ids" -> ((s, d) =>
      TextOps.assignGlobalIds(Tables.documents(s, d)
          .select("doc_id", "lang", "source"),
          "doc_id", nBuckets = 32, start = 1000000L)
        .select(col("doc_id"), col("lang"), col("new_id"))
        .orderBy("doc_id")),

    // X45 — INCREMENTAL near-dup dedup ([[Dedup.incrementalNearDup]]):
    // the MinHash complement of x36 — the corpus side is ONLY its
    // maintained (id, minhash) signature index (built here from the
    // doc_id % 4 != 0 slice; in production it is the carried artifact),
    // the % 4 == 0 batch signs itself once and survives iff near-dup
    // (est ≥ 0.25) of neither an index doc nor an earlier batch doc;
    // both probes come from one band pass (one explode of the
    // side-tagged batch ∪ index, one band-key shuffle, pairs from each
    // bucket); the batch signatures are checkpointed once, 7 Spark jobs
    // per build + run in all.
    // Output = the rows appended to the index. Rows-only (hash-family-
    // specific); IncrementalNearDupSpec plants drops, pins idempotence
    // and parity with the earlier two-pass form.
    "x45_incremental_neardup" -> ((s, d) => {
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % 4 === 0)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      Dedup.incrementalNearDup(corpusSigIndex(s, d), batch,
          "doc_id", "sh", k = 32, bands = 16, threshold = 0.25)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // X59 — TAKEDOWN cascaded to the SIGNATURE index (the x45
    // maintained artifact): a deleted document's MinHash signatures are
    // derivatives of its content, so the forget must reach them — and
    // because the index is id-keyed, the cascade is one anti-join
    // (predicate-masked serve or an O(index) rewrite at the next
    // snapshot; never a re-shingle of anything). Semantics pinned by
    // the output: after the delete, a batch doc whose ONLY near-dup
    // partner was a deleted index doc now SURVIVES into the corpus —
    // forgetting the content means the guard no longer knows it, the
    // deliberate contrast with x58's exact-bytes digest blocker (ids
    // and digests are not the content; signatures are). The masked
    // index feeds both of x45's index reads: the band pass and the
    // signature lookup of its hits. Golden-pinned
    // at the gate SF (the x45 hash-family precedent);
    // IncrementalNearDupSpec pins the family's drop/idempotence
    // semantics SF-independently.
    "x59_sig_takedown" -> ((s, d) => {
      val idx = corpusSigIndex(s, d).filter(col("doc_id") % 10 =!= 0)
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % 4 === 0)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
      Dedup.incrementalNearDup(idx, batch,
          "doc_id", "sh", k = 32, bands = 16, threshold = 0.25)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // X37 — training-shard manifests: the deterministic "global shuffle"
    // a data loader consumes ([[TextOps.trainingShards]] — md5-derived
    // shard + salted within-shard order, both scan-side; the physical
    // write is writeShards' repartition+sortWithinPartitions). Manifest
    // = per-shard docs / tokens / languages. Oracle-exact (md5 parity,
    // the x16 pattern).
    "x37_training_shards" -> ((s, d) =>
      TextOps.trainingShards(Tables.documents(s, d), "doc_id", nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("shard")),

    // X38 — per-language epoch upsampling ([[TextOps.epochUpsample]]):
    // the data-mixing move for scarce high-value strata — repeat stratum
    // s clamp(round(n_max/n_s), 1, 4) times, one row per (doc, epoch).
    // lang is the stratum (en dominates the fixture ~44%, so tail
    // languages genuinely repeat). Bounded blow-up (≤ maxEpochs×),
    // broadcast epoch table, oracle-exact.
    "x38_epoch_upsample" -> ((s, d) =>
      TextOps.epochUpsample(Tables.documents(s, d), "lang", maxEpochs = 4)
        .select(col("doc_id"), col("lang"), col("epochs"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // X39 — LM-perplexity quality scoring (the CCNet signal shrunk to
    // the exactly-oracle-able unigram order): train an add-one-smoothed
    // top-24 LM over the corpus (one token-count groupBy; the fixture
    // has 31 distinct tokens, so 7 genuinely score through the OOV
    // path), then score every doc SHUFFLE-FREE — the one-row model is
    // collected driver-side (KBs) and each doc folds its token array in
    // ONE fused native expression ([[TextOps.perplexityNative]], r16 —
    // the x47 BigramScore precedent; the old interpreted `aggregate`
    // fold paid a linear element_at vocab scan per position).
    // Oracle-exact at 6 dp — the compare is the equivalence proof.
    "x39_lm_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.perplexityNative(docs, "doc_id", "text",
          TextOps.unigramLm(docs, "text", vocabSize = 24))
        .orderBy("doc_id")
    }),

    // X40 — sliding-window token chunking (the RAG/embedding splitter):
    // w=12 tokens every s=8 (overlap 4), nChunks = max(1, ⌈(n−w)/s⌉+1)
    // — every token covered, no redundant tail window. Pure scan-side
    // posexplode, zero shuffles. Oracle-exact.
    "x40_chunk_sliding" -> ((s, d) =>
      TextOps.chunkSliding(Tables.documents(s, d), "doc_id", "text",
          w = 12, s = 8)
        .orderBy("doc_id", "chunk_id")),

    // X41 — boilerplate removal by DOCUMENT FREQUENCY
    // ([[Dedup.boilerplateRemove]]): 10-token segments appearing in ≥ 2
    // distinct docs (135 of 2854 on the fixture) are cut from EVERY doc
    // — the complement of x28's keep-first. Broadcast heavy-hitter set,
    // one reassembly groupBy. Oracle-exact.
    "x41_boilerplate" -> ((s, d) =>
      Dedup.boilerplateRemove(Tables.documents(s, d), "doc_id", "text",
          segTokens = 10, minDf = 2)
        .orderBy("doc_id")),

    // X42 — per-source quota cap ([[TextOps.capPerKey]]): at most 10
    // docs per source, picked in deterministic md5-uniform order (a
    // reproducible uniform sample per source, not head-of-file). One
    // keyed shuffle + rank window. Oracle-exact (md5 parity).
    "x42_source_cap" -> ((s, d) =>
      TextOps.capPerKey(Tables.documents(s, d), "source", "doc_id", n = 10)
        .select(col("doc_id"), col("lang"), col("source"), col("rk"))
        .orderBy("doc_id")),

    // X44 — TRAINING-MIX capstone: the full data-mixing last mile as
    // one deterministic chain — temperature-rebalance languages (x27,
    // τ=0.5) → epoch-upsample the scarce survivors (x38, computed on
    // the MIXED counts — balance what survived, ≤4×) → assign
    // reproducible shards over (doc, epoch) replicas (x37, salted
    // rep_id so a doc's epochs land on independent shards) → per-shard
    // manifest. Three broadcast-scalar aggregates + one manifest
    // groupBy; everything else is scan-side. Oracle-exact end to end.
    "x44_training_mix" -> ((s, d) => {
      val mixed = TextOps.temperatureMixSample(Tables.documents(s, d),
          "lang", "doc_id", tau = 0.5, targetCount = 200)
        .select("doc_id", "lang", "text")
      val up = TextOps.epochUpsample(mixed, "lang", maxEpochs = 4)
        .withColumn("rep_id", concat(col("doc_id"), lit("#"), col("epoch")))
      TextOps.trainingShards(up, "rep_id", nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("shard")
    }),

    // X43 — WITHIN-doc repeated-segment removal
    // ([[Dedup.intraDocDedup]]): crawl-artifact cleanup — inside each
    // doc, keep each distinct 10-token segment's first occurrence.
    // ZERO shuffles: one per-row `aggregate` fold (the filter+
    // array_position form would hit the HOF re-evaluation trap).
    // Oracle-exact.
    "x43_intradoc_dedup" -> ((s, d) =>
      Dedup.intraDocDedup(Tables.documents(s, d), "doc_id", "text",
          segTokens = 10)
        .orderBy("doc_id")),
  )

  val oracles: Map[String, String] = Map(
    "x48_bm25_topk" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
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
    // Replicates the WHOLE two-stage serve: the standalone-impact
    // expression (identical float literals to the scoring term), the
    // per-token (impact DESC, key) row_number <= 64 cut, the DISTINCT
    // candidate join, and the exact re-score restricted to candidates.
    "x50_bm25_pruned" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
         qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM corpus),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         imp AS (SELECT tf.key, tf.tok,
                   ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                     * (tf.tf * (1.2 + 1))
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                     AS impact
                 FROM tf JOIN dfx USING (tok)
                 JOIN dl ON tf.key = dl.key CROSS JOIN st),
         pruned AS (SELECT key, tok FROM
                     (SELECT *, row_number() OVER (PARTITION BY tok
                        ORDER BY impact DESC, key) AS irk FROM imp)
                    WHERE irk <= 64),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         cand AS (SELECT DISTINCT qt.q_id, p.key
                  FROM qt JOIN pruned p USING (tok)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         scc AS (SELECT sc.q_id, sc.key, sc.score
                 FROM sc JOIN cand ON sc.q_id = cand.q_id
                                  AND sc.key = cand.key),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM scc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 10 ORDER BY q_id, rank""",
    // x50's two-stage SQL VERBATIM: the Spark side serves from three
    // appended segments through the pruned-candidate read path with
    // dictionary df, so the driver compare proves segmented-two-stage
    // ≡ scratch-two-stage on real data (the x51 pattern, bounded form).
    "x52_bm25_seg2stage" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
         qs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 3),
         t AS (SELECT doc_id AS key,
                 unnest(string_split_regex(text, '\s+')) AS tok FROM corpus),
         tf AS (SELECT key, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dl AS (SELECT key, sum(tf) AS dl FROM tf GROUP BY 1),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS corpus_n, avg(dl) AS avgdl FROM dl),
         imp AS (SELECT tf.key, tf.tok,
                   ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                     * (tf.tf * (1.2 + 1))
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                     AS impact
                 FROM tf JOIN dfx USING (tok)
                 JOIN dl ON tf.key = dl.key CROSS JOIN st),
         pruned AS (SELECT key, tok FROM
                     (SELECT *, row_number() OVER (PARTITION BY tok
                        ORDER BY impact DESC, key) AS irk FROM imp)
                    WHERE irk <= 64),
         qt AS (SELECT DISTINCT q_id, tok FROM
                 (SELECT doc_id AS q_id,
                    unnest(string_split_regex(text, '\s+')) AS tok FROM qs)),
         cand AS (SELECT DISTINCT qt.q_id, p.key
                  FROM qt JOIN pruned p USING (tok)),
         sc AS (SELECT qt.q_id, tf.key,
             sum(ln(1 + (st.corpus_n - dfx.df + 0.5) / (dfx.df + 0.5))
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS score
           FROM qt JOIN tf USING (tok) JOIN dfx USING (tok)
           JOIN dl ON tf.key = dl.key CROSS JOIN st
           GROUP BY 1, 2),
         scc AS (SELECT sc.q_id, sc.key, sc.score
                 FROM sc JOIN cand ON sc.q_id = cand.q_id
                                  AND sc.key = cand.key),
         r AS (SELECT q_id, key, score,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(score, 6) DESC, key) AS rank FROM scc)
         SELECT q_id, CAST(rank AS INTEGER) AS rank, key,
           round(score, 6) AS score
         FROM r WHERE rank <= 10 ORDER BY q_id, rank""",
    // Deliberately x48's scratch-build SQL verbatim: the Spark side
    // serves from three appended segments with query-time df, so the
    // driver compare IS the segmented ≡ scratch equivalence on real data.
    "x51_bm25_segmented" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
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
    "x49_bm25_incremental" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3),
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
    "x47_bigram_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         uc AS (SELECT tok, count(*) AS c
                FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
         v AS (SELECT tok, c FROM uc ORDER BY c DESC, tok LIMIT 24),
         vn AS (SELECT CAST(count(*) AS DOUBLE) AS vsize FROM v),
         bi AS (SELECT unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
                 unnest([toks[i] || ' ' || toks[i+1]
                         FOR i IN range(1, len(toks))]) AS bg
                FROM t),
         chist AS (SELECT w1, count(*) AS ch FROM bi GROUP BY w1),
         topbi AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg
                   ORDER BY cb DESC, bg LIMIT 256),
         bm AS (SELECT tb.bg, CAST(tb.cb AS DOUBLE) / c.ch AS pbi
                FROM topbi tb JOIN chist c
                  ON string_split(tb.bg, ' ')[1] = c.w1),
         pos AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) + 1)) AS i FROM t),
         sc AS (SELECT p.doc_id, p.i,
                  CASE WHEN v.tok IS NULL THEN 1.0 / (tot.n + vn.vsize + 1)
                       ELSE (v.c + 1) / (tot.n + vn.vsize + 1) END AS puni,
                  b.pbi
                FROM pos p
                LEFT JOIN v ON p.toks[p.i] = v.tok
                LEFT JOIN bm b ON p.i > 1
                  AND (p.toks[p.i-1] || ' ' || p.toks[p.i]) = b.bg
                CROSS JOIN tot CROSS JOIN vn),
         lp AS (SELECT doc_id,
                  CASE WHEN i = 1 THEN ln(puni)
                       ELSE ln(0.7 * COALESCE(pbi, 0) + 0.3 * puni) END AS l
                FROM sc)
         SELECT doc_id, CAST(count(*) AS INTEGER) AS n_toks,
           round(-avg(l), 6) AS cross_entropy,
           round(exp(-avg(l)), 6) AS ppl
         FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "x46_assign_ids" ->
      """WITH b AS (SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
             / 16777216.0 AS u
         FROM documents),
         bb AS (SELECT *, CAST(floor(u * 32) AS INTEGER) AS bkt FROM b),
         c AS (SELECT bkt, count(*) AS n FROM bb GROUP BY bkt),
         o AS (SELECT bkt, COALESCE(sum(n) OVER (ORDER BY bkt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
               FROM c),
         r AS (SELECT bb.doc_id, bb.lang,
                 o.off + row_number() OVER (PARTITION BY bb.bkt
                   ORDER BY bb.u, bb.doc_id) - 1 AS rel
               FROM bb JOIN o USING (bkt))
         SELECT doc_id, lang, CAST(1000000 + rel AS BIGINT) AS new_id
         FROM r ORDER BY doc_id""",
    "x44_training_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS pn FROM c),
         tot AS (SELECT sum(pn) AS z FROM w),
         r AS (SELECT lang, least(1.0, 200.0 * pn / z / n) AS rate
               FROM w CROSS JOIN tot),
         mixed AS (SELECT d.doc_id, d.lang, d.text
                   FROM documents d JOIN r USING (lang)
                   WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
                              AS INTEGER) / 16777216.0 < r.rate),
         mc AS (SELECT lang, count(*) AS n_s FROM mixed GROUP BY lang),
         mm AS (SELECT max(n_s) AS n_max FROM mc),
         e AS (SELECT lang,
                 least(4, greatest(1, CAST(round(n_max / n_s) AS BIGINT))) AS epochs
               FROM mc, mm),
         up AS (SELECT m.doc_id, m.lang, m.text,
                 unnest(generate_series(1, e.epochs)) AS epoch
                FROM mixed m JOIN e USING (lang)),
         sh AS (SELECT doc_id, lang, text,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                     || CAST(epoch AS VARCHAR)), 1, 6)) AS INTEGER)
                   / 16777216.0 * 8) AS INTEGER) AS shard
                FROM up)
         SELECT shard, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
           CAST(sum(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
                AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs
         FROM sh GROUP BY shard ORDER BY shard""",
    "x43_intradoc_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         seg AS (SELECT doc_id,
                  unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))) AS pos,
                  unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                          FOR i IN range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))]) AS seg
                 FROM t),
         k AS (SELECT doc_id, pos, seg,
                row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn
               FROM seg),
         agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
                  count(*) AS n_kept FROM k WHERE rn = 1 GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(ceil(len(toks)/10.0) AS BIGINT) AS n_segs
                 FROM t)
         SELECT tot.doc_id, agg.text_clean, agg.n_kept,
           tot.n_segs - agg.n_kept AS n_removed
         FROM tot JOIN agg USING (doc_id) ORDER BY tot.doc_id""",
    "x39_lm_perplexity" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
                       FROM documents),
         c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
         v AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT 24),
         vn AS (SELECT CAST(count(*) AS DOUBLE) AS vsize FROM v),
         s AS (SELECT t.doc_id,
                 CASE WHEN v.tok IS NULL THEN -ln(tot.n + vn.vsize + 1)
                      ELSE ln((v.c + 1) / (tot.n + vn.vsize + 1)) END AS lp
               FROM toks t LEFT JOIN v ON t.tok = v.tok
               CROSS JOIN tot CROSS JOIN vn)
         SELECT doc_id, CAST(count(*) AS INTEGER) AS n_toks,
           round(-avg(lp), 6) AS cross_entropy,
           round(exp(-avg(lp)), 6) AS ppl
         FROM s GROUP BY doc_id ORDER BY doc_id""",
    "x40_chunk_sliding" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         b AS (SELECT doc_id, toks, len(toks) AS n,
                 greatest(1, CAST(ceil((len(toks) - 12) / 8.0) AS BIGINT) + 1) AS nc
               FROM t),
         ch AS (SELECT doc_id, n,
                 unnest(range(0, nc)) AS chunk_id,
                 unnest([array_to_string(toks[(i*8+1):(i*8+12)], ' ')
                         FOR i IN range(0, nc)]) AS chunk
                FROM b)
         SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(chunk_id * 8 AS INTEGER) AS chunk_start,
           CAST(least(12, n - chunk_id * 8) AS INTEGER) AS n_chunk_toks,
           chunk
         FROM ch ORDER BY doc_id, chunk_id""",
    "x41_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         seg AS (SELECT doc_id,
                  unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))) AS pos,
                  unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                          FOR i IN range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))]) AS seg
                 FROM t),
         bp AS (SELECT seg FROM seg GROUP BY seg
                HAVING count(DISTINCT doc_id) >= 2),
         k AS (SELECT doc_id, pos, seg FROM seg
               WHERE seg NOT IN (SELECT seg FROM bp)),
         agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
                  count(*) AS n_kept FROM k GROUP BY doc_id),
         tot AS (SELECT doc_id, CAST(ceil(len(toks)/10.0) AS BIGINT) AS n_segs
                 FROM t)
         SELECT tot.doc_id, COALESCE(agg.text_clean, '') AS text_clean,
           COALESCE(agg.n_kept, 0) AS n_kept,
           tot.n_segs - COALESCE(agg.n_kept, 0) AS n_removed
         FROM tot LEFT JOIN agg USING (doc_id) ORDER BY tot.doc_id""",
    "x42_source_cap" ->
      """WITH r AS (SELECT doc_id, lang, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                              AS INTEGER) / 16777216.0, doc_id) AS INTEGER) AS rk
               FROM documents)
         SELECT doc_id, lang, source, rk FROM r WHERE rk <= 10
         ORDER BY doc_id""",
    "x37_training_shards" ->
      """WITH t AS (SELECT doc_id, lang,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks,
           CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                           AS INTEGER) / 16777216.0 * 8) AS INTEGER) AS shard
         FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs
         FROM t GROUP BY shard ORDER BY shard""",
    "x38_epoch_upsample" ->
      """WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
         m AS (SELECT max(n_s) AS n_max FROM c),
         e AS (SELECT lang,
                 least(4, greatest(1, CAST(round(n_max / n_s) AS BIGINT))) AS epochs
               FROM c, m)
         SELECT doc_id, lang, epochs,
           unnest(generate_series(1, epochs)) AS epoch
         FROM documents JOIN e USING (lang)
         ORDER BY doc_id, epoch""",
    "st9_curate_stream" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         firstseen AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                   ORDER BY doc_id % 3, doc_id) AS rk
               FROM documents)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN firstseen USING (doc_id)
         WHERE firstseen.rk = 1 AND d.doc_id % 7 <> 0
           AND d.doc_id IN (SELECT doc_id FROM keep_q)
           AND d.doc_id NOT IN (SELECT doc_id FROM bad)
           AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END
         ORDER BY d.doc_id""",
    "x58_curate_takedown" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         firstseen AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                   ORDER BY doc_id % 3, doc_id) AS rk
               FROM documents)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN firstseen USING (doc_id)
         WHERE firstseen.rk = 1 AND d.doc_id % 7 <> 0
           AND d.doc_id % 10 <> 0
           AND d.doc_id IN (SELECT doc_id FROM keep_q)
           AND d.doc_id NOT IN (SELECT doc_id FROM bad)
           AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END
         ORDER BY d.doc_id""",
    "st14_corpus_diff" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         firstseen AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                   ORDER BY doc_id % 3, doc_id) AS rk
               FROM documents),
         kept AS (
           SELECT d.doc_id, d.lang, d.source
           FROM documents d JOIN firstseen USING (doc_id)
           WHERE firstseen.rk = 1 AND d.doc_id % 7 <> 0
             AND d.doc_id IN (SELECT doc_id FROM keep_q)
             AND d.doc_id NOT IN (SELECT doc_id FROM bad)
             AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
                 / 16777216.0
                 < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END)
         SELECT 'added' AS change, doc_id, lang, source FROM kept
         WHERE doc_id % 3 = 2 AND doc_id % 10 <> 0
         UNION ALL
         SELECT 'removed' AS change, doc_id, lang, source FROM kept
         WHERE doc_id % 3 <> 2 AND doc_id % 10 = 0
         ORDER BY change, doc_id""",
    "x53_incremental_curation" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 4 = 0 AND a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         corpus AS (SELECT DISTINCT md5(text) AS digest
                    FROM documents WHERE doc_id % 4 <> 0),
         bat AS (SELECT doc_id, md5(text) AS digest,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rk
                 FROM documents WHERE doc_id % 4 = 0)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN bat USING (doc_id)
         WHERE d.doc_id % 7 <> 0
           AND bat.rk = 1 AND bat.digest NOT IN (SELECT digest FROM corpus)
           AND d.doc_id IN (SELECT doc_id FROM keep_q)
           AND d.doc_id NOT IN (SELECT doc_id FROM bad)
           AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END
         ORDER BY d.doc_id""",
    "x36_incremental_dedup" ->
      """WITH corpus AS (SELECT DISTINCT md5(text) AS digest
                         FROM documents WHERE doc_id % 4 <> 0),
         b AS (SELECT doc_id, lang, md5(text) AS digest,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rk
               FROM documents WHERE doc_id % 4 = 0)
         SELECT doc_id, lang, digest FROM b
         WHERE rk = 1 AND digest NOT IN (SELECT digest FROM corpus)
         ORDER BY doc_id""",
    "x11_dup_clusters" ->
      """WITH g AS (SELECT lang, source FROM documents
                    GROUP BY lang, source HAVING count(*) > 1)
         SELECT d.doc_id AS id,
           min(d.doc_id) OVER (PARTITION BY d.lang, d.source) AS cluster_id
         FROM documents d JOIN g USING (lang, source)
         ORDER BY id""",
    "x56_incremental_clusters" ->
      """WITH g AS (SELECT lang, source FROM documents
                    GROUP BY lang, source HAVING count(*) > 1)
         SELECT d.doc_id AS id,
           min(d.doc_id) OVER (PARTITION BY d.lang, d.source) AS cluster_id
         FROM documents d JOIN g USING (lang, source)
         ORDER BY id""",
    "st10_cluster_stream" ->
      """WITH g AS (SELECT lang, source FROM documents
                    GROUP BY lang, source HAVING count(*) > 1)
         SELECT d.doc_id AS id,
           min(d.doc_id) OVER (PARTITION BY d.lang, d.source) AS cluster_id
         FROM documents d JOIN g USING (lang, source)
         ORDER BY id""",
    "st12_cluster_takedown" ->
      """WITH g AS (SELECT lang, source FROM documents
                    GROUP BY lang, source HAVING count(*) > 1),
         m AS (SELECT d.doc_id AS id, d.lang, d.source
               FROM documents d JOIN g USING (lang, source)
               WHERE d.doc_id % 10 <> 0)
         SELECT id,
           min(id) OVER (PARTITION BY lang, source) AS cluster_id
         FROM m ORDER BY id""",
    "x12_repetition" ->
      """WITH t AS (SELECT doc_id,
             unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
         a AS (SELECT doc_id, sum(n) AS total, count(*) AS nd, max(n) AS maxn
               FROM c GROUP BY 1)
         SELECT doc_id, round(1 - nd / CAST(total AS DOUBLE), 6) AS repeat_ratio,
           round(maxn / CAST(total AS DOUBLE), 6) AS top_tok_share
         FROM a ORDER BY doc_id""",
    "x14_hashed_tfidf" ->
      """WITH t AS (SELECT doc_id,
             unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS cn FROM documents)
         SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) % 32 AS INTEGER) AS bucket,
           round(sum(tf * ln(cn / CAST(df AS DOUBLE))), 6) AS weight
         FROM tf JOIN dfx USING (tok) CROSS JOIN n
         GROUP BY 1, 2 ORDER BY doc_id, bucket""",
    "x13_dedup_keep_one" ->
      """WITH g AS (SELECT lang, source, min(doc_id) AS keep
                    FROM documents GROUP BY 1, 2)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN g ON d.doc_id = g.keep
         ORDER BY d.doc_id""",
    "x34_corpus_stats" ->
      """WITH q AS (
           SELECT doc_id, lang, source, n_chars, md5(text) AS digest,
             len(string_split_regex(text, '\s+')) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) AS stop_ratio
           FROM documents)
         SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           count(DISTINCT digest) AS n_distinct,
           round(1.0 - CAST(count(DISTINCT digest) AS DOUBLE) / count(*), 6) AS dup_rate,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(avg(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.3), 4) AS avg_quality,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
         FROM q GROUP BY lang ORDER BY lang""",
    "x1_dedup_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY digest""",
    "x2_token_stats" ->
      """SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER) AS n_runs,
           CAST(length(text) AS INTEGER) AS len
         FROM documents ORDER BY doc_id""",
    "x3_quality" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) AS stop_ratio,
             len(string_split_regex(text, '\s+')) AS n_tokens
           FROM documents)
         SELECT doc_id, round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stop_ratio,
           round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.3, 6) AS quality
         FROM t ORDER BY doc_id""",
    "x4_lang_id" ->
      """WITH t AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x IN ('join','merge','hash'))) AS s_jm,
             len(list_filter(string_split_regex(text, '\s+'), x -> x IN ('scan','filter','sort'))) AS s_sf,
             len(list_filter(string_split_regex(text, '\s+'), x -> x IN ('group','window','batch'))) AS s_gw
           FROM documents)
         SELECT doc_id,
           CASE WHEN s_gw > (CASE WHEN s_sf > s_jm THEN s_sf ELSE s_jm END) THEN 'gw'
                WHEN s_sf > s_jm THEN 'sf' ELSE 'jm' END AS pred
         FROM t ORDER BY doc_id""",
    "x5_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split_regex(text, '\s+'))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    "x9_idf_quality" ->
      """WITH t AS (
           SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS tok
           FROM documents),
         dft AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
         n AS (SELECT count(*) AS c FROM documents)
         SELECT doc_id,
           round(avg(ln(CAST((SELECT c FROM n) AS DOUBLE) / df)), 6) AS idf_quality
         FROM t JOIN dft USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",
    "x10_lang_trigram" ->
      """WITH tri AS (
           SELECT doc_id, lang,
             unnest(list_distinct(CASE WHEN length(text) >= 3
               THEN [substring(text, CAST(i AS INTEGER), 3)
                     FOR i IN range(1, CAST(length(text) AS INTEGER) - 1)]
               ELSE [] END)) AS tg
           FROM documents),
         prof AS (
           SELECT lang AS plang, tg FROM (
             SELECT lang, tg, count(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tg) AS rk
             FROM tri WHERE doc_id % 5 = 0 GROUP BY lang, tg)
           WHERE rk <= 30),
         hits AS (
           SELECT doc_id, plang AS pred FROM (
             SELECT tri.doc_id, prof.plang, count(*) AS h,
               row_number() OVER (PARTITION BY tri.doc_id
                 ORDER BY count(*) DESC, prof.plang) AS rk
             FROM tri JOIN prof ON tri.tg = prof.tg
             GROUP BY tri.doc_id, prof.plang)
           WHERE rk = 1)
         SELECT d.doc_id, d.lang, coalesce(h.pred, '') AS pred,
           CAST(coalesce(h.pred, '') = d.lang AS INTEGER) AS correct
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id""",
    "x15_decontam" ->
      """WITH t AS (
           SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents)
         SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS j
         FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
         WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
           AND abs(a.n_chars - b.n_chars) <= 20
           AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
         ORDER BY train_id, bench_id""",
    "x22_curation_pipeline" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id % 7 <> 0
           AND d.doc_id IN (SELECT doc_id FROM keep_q)
           AND d.doc_id NOT IN (SELECT doc_id FROM bad)
           AND d.doc_id IN (SELECT doc_id FROM surv)
           AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END
         ORDER BY d.doc_id""",
    "x32_curation_funnel" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         train AS (SELECT doc_id, lang FROM documents WHERE doc_id % 7 <> 0),
         s3 AS (SELECT doc_id, lang FROM train
                WHERE doc_id IN (SELECT doc_id FROM keep_q)),
         s4 AS (SELECT doc_id, lang FROM s3
                WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         s5 AS (SELECT doc_id, lang FROM s4
                WHERE doc_id IN (SELECT doc_id FROM surv)),
         s6 AS (SELECT doc_id FROM s5
                WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
                      / 16777216.0
                      < CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END)
         SELECT 1 AS stage, 'raw' AS name,
                (SELECT count(*) FROM documents) AS n_docs
         UNION ALL SELECT 2, 'train_split', (SELECT count(*) FROM train)
         UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM s3)
         UNION ALL SELECT 4, 'decontam', (SELECT count(*) FROM s4)
         UNION ALL SELECT 5, 'dedup', (SELECT count(*) FROM s5)
         UNION ALL SELECT 6, 'sampled', (SELECT count(*) FROM s6)
         ORDER BY stage""",
    "x21_quality_filter" ->
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
           FROM documents)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
         WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
           AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
           AND d.n_chars >= 50
         ORDER BY d.doc_id""",
    "x20_decontam_filter" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id % 7 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY d.doc_id""",
    "x19_fuzzy_pairs" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars,
             substring(text, 1, 48) AS pfx FROM documents)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
         FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
         WHERE a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 20
           AND levenshtein(a.pfx, b.pfx) <= 28
         ORDER BY id1, id2""",
    "x24_pii_scrub" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_url,
           CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INTEGER) AS n_num,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""",
    "x25_ngram_counts" ->
      """WITH t AS (SELECT lang, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         g AS (SELECT lang, unnest([toks[i] || ' ' || toks[i+1]
                                    FOR i IN range(1, len(toks))]) AS bigram
               FROM t WHERE len(toks) >= 2),
         c AS (SELECT lang, bigram, count(*) AS n FROM g GROUP BY 1, 2),
         r AS (SELECT lang, bigram, n,
                 CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY n DESC, bigram) AS INTEGER) AS rk
               FROM c)
         SELECT lang, rk, bigram, n FROM r WHERE rk <= 20
         ORDER BY lang, rk""",
    "x16_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
         ORDER BY doc_id""",
    "x54_dup_ngram_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN range(1, len(toks) - 1)])) AS ng
               FROM t WHERE len(toks) >= 3),
         f AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share
         FROM g JOIN f USING (ng)
         GROUP BY 1 ORDER BY 1""",
    "x55_incremental_dup_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN range(1, len(toks) - 1)])) AS ng
               FROM t WHERE len(toks) >= 3),
         f AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share
         FROM g JOIN f USING (ng)
         WHERE g.doc_id % 4 = 0
         GROUP BY 1 ORDER BY 1""",
    // st13: st11's recompute with the taken-down docs excluded from the
    // df side (the index never saw them), batch side unchanged
    "st13_ngramdf_takedown" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents
                    WHERE doc_id % 4 = 0 OR doc_id % 10 <> 0),
         g AS (SELECT doc_id,
                 unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN range(1, len(toks) - 1)])) AS ng
               FROM t WHERE len(toks) >= 3),
         f AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share
         FROM g JOIN f USING (ng)
         WHERE g.doc_id % 4 = 0
         GROUP BY 1 ORDER BY 1""",
    "st11_ngramdf_stream" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN range(1, len(toks) - 1)])) AS ng
               FROM t WHERE len(toks) >= 3),
         f AS (SELECT ng, count(*) AS ndocs FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_share
         FROM g JOIN f USING (ng)
         WHERE g.doc_id % 4 = 0
         GROUP BY 1 ORDER BY 1""",
    "x26_contam_ngram" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id,
                 unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN range(1, len(toks) - 1)])) AS ng
               FROM t WHERE len(toks) >= 3),
         b AS (SELECT DISTINCT ng FROM g WHERE doc_id % 7 = 0)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(b.ng) AS BIGINT) AS n_contam,
           round(count(b.ng) / CAST(count(*) AS DOUBLE), 6) AS contam_frac
         FROM g LEFT JOIN b USING (ng) WHERE g.doc_id % 7 <> 0
         GROUP BY 1 ORDER BY 1""",
    "x62_corpus_fingerprint" ->
      """SELECT lang, count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
             md5(CAST(doc_id AS VARCHAR)) || md5(text)), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM documents GROUP BY lang ORDER BY lang""",
    "x67_dedup_keep_best" ->
      """WITH c AS (
           SELECT doc_id, lang, source, text FROM documents
           UNION ALL
           SELECT doc_id + 20000000000 AS doc_id, lang, source, text
           FROM documents WHERE doc_id % 5 = 0),
         t AS (
           SELECT doc_id, lang, source, md5(text) AS digest,
             least(CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.3
             + CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) * 0.4
             + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text)) * 0.3
             + 0.1 * CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0 AS score
           FROM c),
         w AS (SELECT *, row_number() OVER (PARTITION BY digest
                 ORDER BY score DESC, doc_id) AS rk FROM t)
         SELECT doc_id, lang, source, round(score, 6) AS score
         FROM w WHERE rk = 1 ORDER BY doc_id""",
    "x68_corpus_compare" ->
      """WITH fa AS (SELECT lang, count(*) AS n_a,
             bit_xor(CAST(('0x' || substr(md5(
               md5(CAST(doc_id AS VARCHAR)) || md5(text)), 1, 15))
               AS BIGINT)) AS fp_a
           FROM documents GROUP BY lang),
         fb AS (SELECT lang, count(*) AS n_b,
             bit_xor(CAST(('0x' || substr(md5(
               md5(CAST(doc_id AS VARCHAR)) || md5(text)), 1, 15))
               AS BIGINT)) AS fp_b
           FROM documents WHERE doc_id % 97 <> 13 GROUP BY lang)
         SELECT lang, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
           fp_a, fp_b,
           (COALESCE(n_a, 0) = COALESCE(n_b, 0)
             AND fp_a IS NOT DISTINCT FROM fp_b) AS equal
         FROM fa FULL OUTER JOIN fb USING (lang)
         ORDER BY lang""",
    "x66_leakage_split" ->
      """WITH g AS (SELECT doc_id, lang, md5(text) AS digest
                    FROM documents),
         reps AS (SELECT digest, min(doc_id) AS rep FROM g GROUP BY 1)
         SELECT g.doc_id, g.lang, reps.rep,
           CASE WHEN CAST(('0x' || substr(md5(CAST(reps.rep AS VARCHAR)), 1, 6))
                      AS INTEGER) / 16777216.0 < 0.9
             THEN 'train' ELSE 'val' END AS split
         FROM g JOIN reps USING (digest)
         ORDER BY g.doc_id""",
    "x65_curriculum" ->
      """WITH t AS (
           SELECT doc_id, lang,
             least(CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.3
             + CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) * 0.4
             + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text)) * 0.3 AS quality
           FROM documents),
         r AS (SELECT doc_id, lang, quality,
                 row_number() OVER (ORDER BY quality, doc_id) AS rank,
                 count(*) OVER () AS n
               FROM t)
         SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank,
           CAST(floor(4 * (rank - 1) / CAST(n AS DOUBLE)) AS INTEGER) AS phase
         FROM r ORDER BY doc_id""",
    "st15_fingerprint_stream" ->
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
         keep_q AS (
           SELECT d.doc_id
           FROM documents d JOIN rep USING (doc_id) JOIN q USING (doc_id)
           WHERE (least(CAST(q.n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                  + q.stop_ratio * 0.4 + (1.0 - q.punct_ratio) * 0.3) >= 0.5
             AND rep.repeat_ratio <= 0.8 AND rep.top_share <= 0.3
             AND d.n_chars >= 50),
         tt AS (SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents),
         bad AS (
           SELECT DISTINCT a.doc_id
           FROM tt a JOIN tt b ON a.lang = b.lang AND a.source = b.source
           WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
             AND abs(a.n_chars - b.n_chars) <= 20
             AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
         firstseen AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                   ORDER BY doc_id % 3, doc_id) AS rk
               FROM documents),
         kept AS (
           SELECT d.doc_id, d.lang, d.source
           FROM documents d JOIN firstseen USING (doc_id)
           WHERE firstseen.rk = 1 AND d.doc_id % 7 <> 0
             AND d.doc_id % 10 <> 0
             AND d.doc_id IN (SELECT doc_id FROM keep_q)
             AND d.doc_id NOT IN (SELECT doc_id FROM bad)
             AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
                 / 16777216.0
                 < CASE d.lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.9 ELSE 0.8 END)
         SELECT count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
             md5(CAST(doc_id AS VARCHAR)) || md5(lang) || md5(source)),
             1, 15)) AS BIGINT)) AS fingerprint
         FROM kept""",
    "x64_shard_fingerprint" ->
      """WITH t AS (SELECT doc_id, text,
           CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                           AS INTEGER) / 16777216.0 * 8) AS INTEGER) AS shard
         FROM documents)
         SELECT shard, count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(
             md5(CAST(doc_id AS VARCHAR)) || md5(text)), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM t GROUP BY shard ORDER BY shard""",
    // x72: the same shingle/df CTEs as x61, reduced to the coverage
    // counts (docs with ≥1 rare shingle vs the all-common blind class)
    "x72_containment_coverage" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
                 list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] || ' ' || toks[i+4]
                   FOR i IN range(1, len(toks) - 3)]) AS sh
               FROM t WHERE len(toks) >= 5),
         s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         g AS (SELECT doc_id, unnest(sh) AS ng FROM s2),
         rare AS (SELECT ng FROM g GROUP BY ng HAVING count(*) <= 20),
         cov AS (SELECT DISTINCT g.doc_id FROM g JOIN rare USING (ng)),
         c AS (SELECT
             (SELECT count(*) FROM documents) AS n_docs,
             (SELECT count(*) FROM s2) AS n_eligible,
             (SELECT count(*) FROM cov) AS n_covered)
         SELECT n_docs, n_eligible,
           n_docs - n_eligible AS n_unshingled,
           n_covered, n_eligible - n_covered AS n_blind,
           round(CAST(n_covered AS DOUBLE) / n_eligible, 6) AS coverage
         FROM c""",
    // x71: each batch's PSI against the kept-set reference at its
    // arrival time (x63's exact arithmetic), thresholded at 0.25. The
    // drifted batch 2 is quarantined and therefore NOT part of batch
    // 3's reference.
    "x71_admission_gate" ->
      """WITH ref0 AS (SELECT n_chars FROM (
             SELECT n_chars, row_number() OVER (PARTITION BY md5(text)
               ORDER BY doc_id) AS rk
             FROM documents WHERE doc_id % 3 = 0) WHERE rk = 1),
         ref01 AS (SELECT n_chars FROM (
             SELECT n_chars, row_number() OVER (PARTITION BY md5(text)
               ORDER BY doc_id % 3, doc_id) AS rk
             FROM documents WHERE doc_id % 3 IN (0, 1)) WHERE rk = 1),
         cur1 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 1),
         cur2 AS (SELECT n_chars FROM documents
                  WHERE doc_id % 3 = 2 AND n_chars >= 400),
         cur3 AS (SELECT n_chars FROM documents WHERE doc_id % 3 = 2),
         bins AS (SELECT unnest(range(0, 10)) AS bin),
         p1 AS (SELECT round(sum(round((p_cur - p_ref) * ln(p_cur / p_ref), 6)), 6) AS psi
                FROM (SELECT
                    (COALESCE(rc.n, 0) + 1.0) / ((SELECT count(*) FROM ref0) + 10.0) AS p_ref,
                    (COALESCE(cc.n, 0) + 1.0) / ((SELECT count(*) FROM cur1) + 10.0) AS p_cur
                  FROM bins
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM ref0 GROUP BY 1) rc USING (bin)
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM cur1 GROUP BY 1) cc USING (bin))),
         p2 AS (SELECT round(sum(round((p_cur - p_ref) * ln(p_cur / p_ref), 6)), 6) AS psi
                FROM (SELECT
                    (COALESCE(rc.n, 0) + 1.0) / ((SELECT count(*) FROM ref01) + 10.0) AS p_ref,
                    (COALESCE(cc.n, 0) + 1.0) / ((SELECT count(*) FROM cur2) + 10.0) AS p_cur
                  FROM bins
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM ref01 GROUP BY 1) rc USING (bin)
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM cur2 GROUP BY 1) cc USING (bin))),
         p3 AS (SELECT round(sum(round((p_cur - p_ref) * ln(p_cur / p_ref), 6)), 6) AS psi
                FROM (SELECT
                    (COALESCE(rc.n, 0) + 1.0) / ((SELECT count(*) FROM ref01) + 10.0) AS p_ref,
                    (COALESCE(cc.n, 0) + 1.0) / ((SELECT count(*) FROM cur3) + 10.0) AS p_cur
                  FROM bins
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM ref01 GROUP BY 1) rc USING (bin)
                  LEFT JOIN (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin,
                               count(*) AS n FROM cur3 GROUP BY 1) cc USING (bin))),
         d AS (
           SELECT CAST(0 AS INTEGER) AS batch_id,
             (SELECT count(*) FROM documents WHERE doc_id % 3 = 0) AS n_batch,
             CAST(NULL AS DOUBLE) AS psi
           UNION ALL
           SELECT 1, (SELECT count(*) FROM cur1), (SELECT psi FROM p1)
           UNION ALL
           SELECT 2, (SELECT count(*) FROM cur2), (SELECT psi FROM p2)
           UNION ALL
           SELECT 3, (SELECT count(*) FROM cur3), (SELECT psi FROM p3))
         SELECT batch_id, n_batch, psi, 0.25 AS threshold,
           (psi IS NULL OR psi <= 0.25) AS admitted,
           CASE WHEN psi IS NULL OR psi <= 0.25
             THEN 'ingested' ELSE 'quarantined' END AS action
         FROM d ORDER BY batch_id""",
    // x73: every sink's expected survivor count recomputed from the raw
    // corpus — the fixture salts each text with its id, so identity is
    // per-id everywhere and one entity per ingested doc serves in
    // corpus/bm25/ivf/ngram_df; containment serves only docs with ≥ 5
    // tokens post-salt (shingle-eligible); clusters serve doc nodes
    // plus the % 3 hub nodes (hubs stay members even when all their
    // partners were forgotten). Residuals are 0 — the claim under test.
    "x73_forget_attest" ->
      """WITH slice AS (SELECT doc_id,
                          text || ' uid' || CAST(doc_id AS VARCHAR) AS text
                        FROM documents WHERE doc_id % 7 = 1),
         ns AS (SELECT count(*) AS n FROM slice),
         nv AS (SELECT count(*) AS n FROM slice WHERE doc_id % 5 = 3),
         cont_n AS (SELECT count(*) AS n FROM slice
                    WHERE doc_id % 5 <> 3
                      AND len(string_split_regex(text, '\s+')) >= 5),
         hubs AS (SELECT count(DISTINCT doc_id % 3) AS n FROM slice)
         SELECT 'bm25' AS sink,
           (SELECT n FROM ns) - (SELECT n FROM nv) AS n_served,
           CAST(0 AS BIGINT) AS n_residual
         UNION ALL SELECT 'clusters',
           (SELECT n FROM ns) - (SELECT n FROM nv) + (SELECT n FROM hubs),
           CAST(0 AS BIGINT)
         UNION ALL SELECT 'containment', (SELECT n FROM cont_n),
           CAST(0 AS BIGINT)
         UNION ALL SELECT 'corpus',
           (SELECT n FROM ns) - (SELECT n FROM nv), CAST(0 AS BIGINT)
         UNION ALL SELECT 'ivf',
           (SELECT n FROM ns) - (SELECT n FROM nv), CAST(0 AS BIGINT)
         UNION ALL SELECT 'ngram_df',
           (SELECT n FROM ns) - (SELECT n FROM nv), CAST(0 AS BIGINT)
         ORDER BY sink""",
    // st19: the literal expected report — SF-independent by
    // construction (see the query comment); n_generations = 2 appends
    // + the takedown's claim + its commit
    "st19_maintenance_report" ->
      """SELECT * FROM (VALUES
           ('bm25', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            true, true),
           ('clusters', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            CAST(NULL AS BOOLEAN), true),
           ('containment', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
            CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            CAST(NULL AS BOOLEAN), false),
           ('corpus', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            true, true),
           ('ivf', CAST(2 AS BIGINT), CAST(1 AS BIGINT),
            CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            true, true),
           ('ngram_df', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
            CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
            CAST(NULL AS BOOLEAN), false))
         AS t(sink, n_data, n_tombstones, n_aux, n_generations,
              n_quarantined, fingerprint_ok, needs_compaction)
         ORDER BY sink""",
    // st20: the literal expected dry run — SF-independent like st19;
    // no fold has run, so the latest generation references every
    // partition and NOTHING reclaims (the compact+vacuum pairing)
    "st20_retention_plan" ->
      """SELECT * FROM (VALUES
           ('bm25'), ('clusters'), ('containment'), ('corpus'),
           ('ivf'), ('ngram_df'))
         AS s(sink), (VALUES (CAST(4 AS BIGINT), CAST(3 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)))
         AS v(n_generations, n_expire, n_reclaimable, n_orphans)
         ORDER BY sink""",
    // st21: the literal expected bytes-level dry run — SF-independent
    // like st19/st20 (verified equal at sf0.001/sf0.01): the maintain
    // fold advanced the four mask sinks one generation and stranded
    // their pre-fold partitions (corpus 13 = 2×{corpus,seen,digestmap}
    // + 3 fp partials + 3 per-shard fp partials (r14 fpshard family)
    // + 1 tombstone; bm25 8; ivf 6; clusters 4), each carrying real
    // bytes; the LSM sinks folded nothing and reclaim nothing. Byte
    // VALUES vary with write parallelism → the driver pins the
    // has-bytes flag; exact byte equality vs a live listing recompute
    // is TakedownSpec's pin.
    "st21_retention_bytes" ->
      """SELECT * FROM (VALUES
           ('bm25', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
            CAST(8 AS BIGINT), true, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
           ('clusters', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
            CAST(4 AS BIGINT), true, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
           ('containment', CAST(4 AS BIGINT), CAST(3 AS BIGINT),
            CAST(0 AS BIGINT), false, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
           ('corpus', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
            CAST(13 AS BIGINT), true, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
           ('ivf', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
            CAST(6 AS BIGINT), true, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
           ('ngram_df', CAST(4 AS BIGINT), CAST(3 AS BIGINT),
            CAST(0 AS BIGINT), false, CAST(0 AS BIGINT), CAST(0 AS BIGINT)))
         AS t(sink, n_generations, n_expire, n_reclaimable,
              has_reclaim_bytes, n_orphans, bytes_orphans)
         ORDER BY sink""",
    // x76: the audit recomputed per release snapshot — r1 (gen 2,
    // pre-forget) contains every victim with the x74 shard/token
    // arithmetic; r2 (gen 3, post-forget) is clean. Sums cast back to
    // BIGINT (DuckDB widens SUM of BIGINT to HUGEINT).
    "x76_release_audit" ->
      """WITH slice AS (SELECT doc_id,
                          text || ' uid' || CAST(doc_id AS VARCHAR) AS text
                        FROM documents WHERE doc_id % 7 = 1),
         v AS (SELECT doc_id, text,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 8) AS INTEGER) AS shard,
                 CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks
               FROM slice WHERE doc_id % 5 = 3)
         SELECT 'r1' AS release, CAST(2 AS INTEGER) AS gen, true AS readable,
           (SELECT count(*) FROM v) AS n_docs_affected,
           (SELECT count(DISTINCT shard) FROM v) AS n_shards_affected,
           (SELECT CAST(sum(n_toks) AS BIGINT) FROM v) AS n_tokens_affected
         UNION ALL SELECT 'r2', CAST(3 AS INTEGER), true,
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         ORDER BY release""",
    // st22: the literal expected pre-flight — SF-independent recipe
    // (gens: birth 0, batch0 1, batch1 2, forget 3; r1 pinned at 2,
    // r2 at 3 = latest; a no-window vacuum keeps only the latest)
    "st22_release_retention" ->
      """SELECT * FROM (VALUES
           ('r1', CAST(2 AS INTEGER), true, false),
           ('r2', CAST(3 AS INTEGER), true, true))
         AS t(release, gen, auditable_now, auditable_after)
         ORDER BY release""",
    // x78: the delta report recomputed — per 64-way shard (the x74 md5
    // arithmetic), a shard rewrites iff it holds victims AND
    // survivors, drops iff victims only, copies iff untouched
    "x78_release_delta" ->
      """WITH slice AS (SELECT doc_id
                        FROM documents WHERE doc_id % 7 = 1),
         t AS (SELECT doc_id, (doc_id % 5 = 3) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM slice),
         per AS (SELECT shard,
                   sum(CASE WHEN victim THEN 1 ELSE 0 END) AS nv,
                   count(*) AS n
                 FROM t GROUP BY shard)
         SELECT 'd2' AS release, 'd1' AS based_on,
           CAST(2 AS INTEGER) AS base_gen, CAST(3 AS INTEGER) AS gen,
           CAST(64 AS INTEGER) AS n_shards,
           (SELECT count(*) FROM per WHERE nv > 0 AND nv < n)
             AS n_shards_rewritten,
           (SELECT count(*) FROM per WHERE nv = 0) AS n_shards_copied,
           (SELECT count(*) FROM per WHERE nv = n) AS n_shards_emptied,
           'diff' AS via""",
    // x80/x81: the delta report recomputed per 64-way shard (the x74
    // md5 arithmetic) over the %7==2 fixture slice — x80 after the
    // first takedown wave (composed across the fold), x81 with both
    // waves (decided from the per-shard state after the vacuum)
    "x80_delta_folded" ->
      """WITH t AS (SELECT doc_id, (doc_id % 5 = 1) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         per AS (SELECT shard,
                   sum(CASE WHEN victim THEN 1 ELSE 0 END) AS nv,
                   count(*) AS n
                 FROM t GROUP BY shard)
         SELECT 'f2' AS release, 'f1' AS based_on,
           CAST(2 AS INTEGER) AS base_gen, CAST(4 AS INTEGER) AS gen,
           CAST(64 AS INTEGER) AS n_shards,
           (SELECT count(*) FROM per WHERE nv > 0 AND nv < n)
             AS n_shards_rewritten,
           (SELECT count(*) FROM per WHERE nv = 0) AS n_shards_copied,
           (SELECT count(*) FROM per WHERE nv = n) AS n_shards_emptied,
           'diff_folded' AS via""",
    "x81_delta_state" ->
      """WITH t AS (SELECT doc_id, (doc_id % 5 IN (1, 2)) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         per AS (SELECT shard,
                   sum(CASE WHEN victim THEN 1 ELSE 0 END) AS nv,
                   count(*) AS n
                 FROM t GROUP BY shard)
         SELECT 'f3' AS release, 'f1' AS based_on,
           CAST(2 AS INTEGER) AS base_gen, CAST(5 AS INTEGER) AS gen,
           CAST(64 AS INTEGER) AS n_shards,
           (SELECT count(*) FROM per WHERE nv > 0 AND nv < n)
             AS n_shards_rewritten,
           (SELECT count(*) FROM per WHERE nv = 0) AS n_shards_copied,
           (SELECT count(*) FROM per WHERE nv = n) AS n_shards_emptied,
           'state' AS via""",
    // x83: both releases' per-shard (count, 60-bit xor fingerprint)
    // recomputed over the salted fixture slice — f1 = everything,
    // f3 = minus both takedown waves; emptied shards carry NULL fp_b
    "x83_release_compare" ->
      """WITH t AS (SELECT doc_id,
                 text || ' uid' || CAST(doc_id AS VARCHAR) AS text,
                 (doc_id % 5 IN (1, 2)) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         h AS (SELECT shard, victim,
                 CAST(('0x' || substr(md5(
                   md5(CAST(doc_id AS VARCHAR)) || md5(text)),
                   1, 15)) AS BIGINT) AS h60
               FROM t),
         a AS (SELECT shard, count(*) AS n_a, bit_xor(h60) AS fp_a
               FROM h GROUP BY shard),
         b AS (SELECT shard, count(*) AS n_b, bit_xor(h60) AS fp_b
               FROM h WHERE NOT victim GROUP BY shard)
         SELECT shard,
           coalesce(n_a, CAST(0 AS BIGINT)) AS n_a,
           coalesce(n_b, CAST(0 AS BIGINT)) AS n_b,
           fp_a, fp_b,
           (coalesce(n_a, CAST(0 AS BIGINT)) = coalesce(n_b, CAST(0 AS BIGINT))
             AND coalesce(fp_a, CAST(0 AS BIGINT)) = coalesce(fp_b, CAST(0 AS BIGINT)))
             AS equal
         FROM a FULL OUTER JOIN b USING (shard)
         ORDER BY shard""",
    // x84: the cross-layout comparison recomputed at the coarser
    // common layout (16 = f4's shard count) — a = f1's full slice,
    // b = f4's post-both-waves snapshot, folded-bin fingerprints ≡
    // direct 16-way shard fingerprints by sum/xor associativity
    "x84_release_compare_xlayout" ->
      """WITH t AS (SELECT doc_id,
                 text || ' uid' || CAST(doc_id AS VARCHAR) AS text,
                 (doc_id % 5 IN (1, 2)) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 16) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         h AS (SELECT shard, victim,
                 CAST(('0x' || substr(md5(
                   md5(CAST(doc_id AS VARCHAR)) || md5(text)),
                   1, 15)) AS BIGINT) AS h60
               FROM t),
         a AS (SELECT shard, count(*) AS n_a, bit_xor(h60) AS fp_a
               FROM h GROUP BY shard),
         b AS (SELECT shard, count(*) AS n_b, bit_xor(h60) AS fp_b
               FROM h WHERE NOT victim GROUP BY shard)
         SELECT shard,
           coalesce(n_a, CAST(0 AS BIGINT)) AS n_a,
           coalesce(n_b, CAST(0 AS BIGINT)) AS n_b,
           fp_a, fp_b,
           (coalesce(n_a, CAST(0 AS BIGINT)) = coalesce(n_b, CAST(0 AS BIGINT))
             AND coalesce(fp_a, CAST(0 AS BIGINT)) = coalesce(fp_b, CAST(0 AS BIGINT)))
             AS equal
         FROM a FULL OUTER JOIN b USING (shard)
         ORDER BY shard""",
    // x85: the linked release's resolved content recomputed from raw —
    // survivors' count + 60-bit xor fingerprint, and the linked-shard
    // count = the shards with no victims (the copied set the map
    // records instead of copying)
    "x85_release_linked" ->
      """WITH t AS (SELECT doc_id,
                 text || ' uid' || CAST(doc_id AS VARCHAR) AS text,
                 (doc_id % 5 IN (1, 2)) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         per AS (SELECT shard,
                   sum(CASE WHEN victim THEN 1 ELSE 0 END) AS nv,
                   count(*) AS n
                 FROM t GROUP BY shard),
         surv AS (SELECT doc_id, text FROM t WHERE NOT victim)
         SELECT 'f5' AS release,
           (SELECT count(*) FROM surv) AS n_docs,
           (SELECT bit_xor(CAST(('0x' || substr(md5(
              md5(CAST(doc_id AS VARCHAR)) || md5(text)),
              1, 15)) AS BIGINT)) FROM surv) AS fingerprint,
           (SELECT CAST(count(*) AS INTEGER) FROM per WHERE nv = 0)
             AS n_shards_linked""",
    // x82: x81's per-shard account re-derived — the zero-byte preflight
    // must price exactly what the state-tier publish then did
    "x82_delta_preflight" ->
      """WITH t AS (SELECT doc_id, (doc_id % 5 IN (1, 2)) AS victim,
                 CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS INTEGER) / 16777216.0 * 64) AS INTEGER) AS shard
               FROM documents WHERE doc_id % 7 = 2),
         per AS (SELECT shard,
                   sum(CASE WHEN victim THEN 1 ELSE 0 END) AS nv,
                   count(*) AS n
                 FROM t GROUP BY shard)
         SELECT 'f1' AS based_on,
           CAST(2 AS INTEGER) AS base_gen, CAST(5 AS INTEGER) AS gen,
           CAST(64 AS INTEGER) AS n_shards,
           (SELECT count(*) FROM per WHERE nv > 0 AND nv < n)
             AS n_shards_rewritten,
           (SELECT count(*) FROM per WHERE nv = 0) AS n_shards_copied,
           (SELECT count(*) FROM per WHERE nv = n) AS n_shards_emptied""",
    // x79: the literal expected gc account — SF-independent recipe
    // (g1 retired but based_on-referenced by live g2 → kept; g2 live;
    // g3 retired and unreferenced → reclaimed)
    "x79_release_gc" ->
      """SELECT * FROM (VALUES
           ('g1', true, true, false),
           ('g2', false, false, false),
           ('g3', true, false, true))
         AS t(release, retired, referenced, reclaimed)
         ORDER BY release""",
    // x77: registry rows recomputed — per release snapshot, the doc
    // count and the x62 fingerprint formula over (doc_id, text)
    "x77_release_registry" ->
      """WITH slice AS (SELECT doc_id,
                          text || ' uid' || CAST(doc_id AS VARCHAR) AS text
                        FROM documents WHERE doc_id % 7 = 1),
         r1 AS (SELECT * FROM slice),
         r2 AS (SELECT * FROM slice WHERE doc_id % 5 <> 3)
         SELECT 'r1' AS release, CAST(2 AS INTEGER) AS gen,
           CAST(8 AS INTEGER) AS n_shards,
           (SELECT count(*) FROM r1) AS n_docs,
           (SELECT bit_xor(CAST(('0x' || substr(md5(
              md5(CAST(doc_id AS VARCHAR)) || md5(text)),
              1, 15)) AS BIGINT)) FROM r1) AS fingerprint
         UNION ALL SELECT 'r2', CAST(3 AS INTEGER), CAST(8 AS INTEGER),
           (SELECT count(*) FROM r2),
           (SELECT bit_xor(CAST(('0x' || substr(md5(
              md5(CAST(doc_id AS VARCHAR)) || md5(text)),
              1, 15)) AS BIGINT)) FROM r2)
         ORDER BY release""",
    // x75: x73's recompute plus the residual leg — the resolved-and-
    // still-served content is exactly the %5==0 slice (the victims'
    // ids are deleted everywhere; never-ingested bytes resolve to
    // nothing). Containment's residual restricts to >=5-token docs
    // (only those enter the set sink); cluster hubs are synthetic ids
    // outside the resolved set.
    "x75_attest_by_content" ->
      """WITH slice AS (SELECT doc_id,
                          text || ' uid' || CAST(doc_id AS VARCHAR) AS text
                        FROM documents WHERE doc_id % 7 = 1),
         ns AS (SELECT count(*) AS n FROM slice),
         nv AS (SELECT count(*) AS n FROM slice WHERE doc_id % 5 = 3),
         nl AS (SELECT count(*) AS n FROM slice WHERE doc_id % 5 = 0),
         cont_n AS (SELECT count(*) AS n FROM slice
                    WHERE doc_id % 5 <> 3
                      AND len(string_split_regex(text, '\s+')) >= 5),
         cont_r AS (SELECT count(*) AS n FROM slice
                    WHERE doc_id % 5 = 0
                      AND len(string_split_regex(text, '\s+')) >= 5),
         hubs AS (SELECT count(DISTINCT doc_id % 3) AS n FROM slice)
         SELECT 'bm25' AS sink,
           (SELECT n FROM ns) - (SELECT n FROM nv) AS n_served,
           (SELECT n FROM nl) AS n_residual
         UNION ALL SELECT 'clusters',
           (SELECT n FROM ns) - (SELECT n FROM nv) + (SELECT n FROM hubs),
           (SELECT n FROM nl)
         UNION ALL SELECT 'containment', (SELECT n FROM cont_n),
           (SELECT n FROM cont_r)
         UNION ALL SELECT 'corpus',
           (SELECT n FROM ns) - (SELECT n FROM nv), (SELECT n FROM nl)
         UNION ALL SELECT 'ivf',
           (SELECT n FROM ns) - (SELECT n FROM nv), (SELECT n FROM nl)
         UNION ALL SELECT 'ngram_df',
           (SELECT n FROM ns) - (SELECT n FROM nv), (SELECT n FROM nl)
         ORDER BY sink""",
    // x74: the x37 shard expression + a victim flag, affected shards only
    "x74_blast_radius" ->
      """WITH t AS (SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_toks,
           CAST(floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                           AS INTEGER) / 16777216.0 * 8) AS INTEGER) AS shard,
           CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END AS hit
         FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(hit) AS BIGINT) AS n_affected,
           CAST(sum(CASE WHEN hit = 1 THEN n_toks ELSE 0 END) AS BIGINT)
             AS n_tokens_affected,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS affected_share
         FROM t GROUP BY shard HAVING sum(hit) > 0 ORDER BY shard""",
    "x63_drift_psi" ->
      """WITH rb AS (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin
                     FROM documents WHERE doc_id % 3 <> 2),
         cb AS (SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bin
                FROM documents WHERE doc_id % 3 = 2),
         bins AS (SELECT unnest(range(0, 10)) AS bin),
         rc AS (SELECT bin, count(*) AS n FROM rb GROUP BY 1),
         cc AS (SELECT bin, count(*) AS n FROM cb GROUP BY 1),
         rt AS (SELECT count(*) AS t FROM rb),
         ct AS (SELECT count(*) AS t FROM cb),
         p AS (SELECT bins.bin,
                 (COALESCE(rc.n, 0) + 1.0) / (rt.t + 10.0) AS p_ref,
                 (COALESCE(cc.n, 0) + 1.0) / (ct.t + 10.0) AS p_cur
               FROM bins LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin)
               CROSS JOIN rt CROSS JOIN ct),
         b AS (SELECT bin, round(p_ref, 6) AS p_ref,
                 round(p_cur, 6) AS p_cur,
                 round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS contrib
               FROM p)
         SELECT bin, p_ref, p_cur, contrib FROM b
         UNION ALL
         SELECT -1 AS bin, 1.0 AS p_ref, 1.0 AS p_cur,
           round(sum(contrib), 6) AS contrib FROM b
         ORDER BY bin""",
    // st16: x70's shape over the post-takedown corpus — index docs with
    // doc_id % 9 = 2 were forgotten (batch docs always stay: the % 4 =
    // 0 side is the probe, not the index)
    "st16_containment_takedown" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents
                    WHERE doc_id % 4 = 0 OR doc_id % 9 <> 2),
         s AS (SELECT doc_id,
                 list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] || ' ' || toks[i+4]
                   FOR i IN range(1, len(toks) - 3)]) AS sh
               FROM t WHERE len(toks) >= 5),
         s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         g AS (SELECT doc_id, unnest(sh) AS ng FROM s2),
         rare AS (SELECT ng FROM g GROUP BY ng HAVING count(*) <= 20),
         rg AS (SELECT g.doc_id, g.ng FROM g JOIN rare USING (ng)),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM rg a JOIN rg b USING (ng)
                  WHERE a.doc_id < b.doc_id
                    AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)),
         x AS (SELECT ia, ib, sa.sh AS sha, sb.sh AS shb
               FROM cand
               JOIN s2 sa ON sa.doc_id = cand.ia
               JOIN s2 sb ON sb.doc_id = cand.ib),
         d AS (SELECT
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ia ELSE ib END AS id_contained,
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ib ELSE ia END AS id_container,
                 round(len(list_intersect(sha, shb))
                   / CAST(least(len(sha), len(shb)) AS DOUBLE), 6)
                   AS containment
               FROM x)
         SELECT id_contained, id_container, containment FROM d
         WHERE containment >= 0.4
         ORDER BY id_contained, id_container""",
    "x70_containment_incr" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
                 list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] || ' ' || toks[i+4]
                   FOR i IN range(1, len(toks) - 3)]) AS sh
               FROM t WHERE len(toks) >= 5),
         s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         g AS (SELECT doc_id, unnest(sh) AS ng FROM s2),
         rare AS (SELECT ng FROM g GROUP BY ng HAVING count(*) <= 20),
         rg AS (SELECT g.doc_id, g.ng FROM g JOIN rare USING (ng)),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM rg a JOIN rg b USING (ng)
                  WHERE a.doc_id < b.doc_id
                    AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)),
         x AS (SELECT ia, ib, sa.sh AS sha, sb.sh AS shb
               FROM cand
               JOIN s2 sa ON sa.doc_id = cand.ia
               JOIN s2 sb ON sb.doc_id = cand.ib),
         d AS (SELECT
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ia ELSE ib END AS id_contained,
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ib ELSE ia END AS id_container,
                 round(len(list_intersect(sha, shb))
                   / CAST(least(len(sha), len(shb)) AS DOUBLE), 6)
                   AS containment
               FROM x)
         SELECT id_contained, id_container, containment FROM d
         WHERE containment >= 0.4
         ORDER BY id_contained, id_container""",
    "x61_containment" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         s AS (SELECT doc_id,
                 list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] || ' ' || toks[i+4]
                   FOR i IN range(1, len(toks) - 3)]) AS sh
               FROM t WHERE len(toks) >= 5),
         s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
         g AS (SELECT doc_id, unnest(sh) AS ng FROM s2),
         rare AS (SELECT ng FROM g GROUP BY ng HAVING count(*) <= 20),
         rg AS (SELECT g.doc_id, g.ng FROM g JOIN rare USING (ng)),
         cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
                  FROM rg a JOIN rg b USING (ng) WHERE a.doc_id < b.doc_id),
         x AS (SELECT ia, ib, sa.sh AS sha, sb.sh AS shb
               FROM cand
               JOIN s2 sa ON sa.doc_id = cand.ia
               JOIN s2 sb ON sb.doc_id = cand.ib),
         d AS (SELECT
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ia ELSE ib END AS id_contained,
                 CASE WHEN len(sha) < len(shb)
                        OR (len(sha) = len(shb) AND ia < ib)
                   THEN ib ELSE ia END AS id_container,
                 round(len(list_intersect(sha, shb))
                   / CAST(least(len(sha), len(shb)) AS DOUBLE), 6)
                   AS containment
               FROM x)
         SELECT id_contained, id_container, containment FROM d
         WHERE containment >= 0.4
         ORDER BY id_contained, id_container""",
    "x27_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS pn FROM c),
         tot AS (SELECT sum(pn) AS z FROM w),
         r AS (SELECT lang, least(1.0, 200.0 * pn / z / n) AS rate
               FROM w CROSS JOIN tot)
         SELECT d.doc_id, d.lang, d.source, round(r.rate, 6) AS rate
         FROM documents d JOIN r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0 < r.rate
         ORDER BY d.doc_id""",
    "x28_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                    FROM documents),
         seg AS (SELECT doc_id,
                  unnest([i FOR i IN range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))]) AS pos,
                  unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                          FOR i IN range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))]) AS seg
                 FROM t),
         k AS (SELECT doc_id, pos, seg,
                row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
               FROM seg)
         SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_dedup,
           CAST(count(*) AS BIGINT) AS n_kept
         FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    "x29_bloom_decontam" ->
      """WITH t AS (SELECT doc_id, lang, source,
                      string_split_regex(text, '\s+') AS toks
                    FROM documents),
         seg AS (SELECT doc_id,
                  unnest([array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                          FOR i IN range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))]) AS seg
                 FROM t),
         bench AS (SELECT DISTINCT seg FROM seg WHERE doc_id % 7 = 0),
         contam AS (SELECT DISTINCT doc_id FROM seg
                    WHERE doc_id % 7 <> 0 AND seg IN (SELECT seg FROM bench))
         SELECT doc_id, lang, source FROM t
         WHERE doc_id % 7 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contam)
         ORDER BY doc_id""",
    "x30_weighted_sample" ->
      """WITH t AS (
           SELECT doc_id, lang, source,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) AS stop_ratio,
             len(string_split_regex(text, '\s+')) AS n_tokens
           FROM documents)
         SELECT doc_id, lang, source FROM t
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
               / 16777216.0
               < least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.3
         ORDER BY doc_id""",
    "x31_token_budget" ->
      """WITH t AS (
           SELECT doc_id, lang, source,
             CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                 x -> x IN ('the','a','data','row','value'))) AS DOUBLE)
               / len(string_split_regex(text, '\s+')) AS stop_ratio,
             len(string_split_regex(text, '\s+')) AS n_tokens
           FROM documents),
         q AS (SELECT doc_id, lang, source, n_tokens,
                 least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
                   + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.3 AS quality
               FROM t),
         o AS (SELECT doc_id, lang, source,
                 sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM q)
         SELECT doc_id, lang, source FROM o
         WHERE cum <= 15000 ORDER BY doc_id""",
    "x6_jaccard_pairs" ->
      """WITH t AS (
           SELECT doc_id, lang, source, n_chars,
             list_distinct(string_split_regex(text, '\s+')) AS toks
           FROM documents)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS j
         FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source
         WHERE a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 20
           AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
         ORDER BY id1, id2""",
  )
}
