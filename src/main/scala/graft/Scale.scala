package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextOps}
import graft.ops.TimeSeries
import graft.streaming.{Release, StreamBm25, StreamClusters, StreamContainment,
  StreamCurate, StreamIvf, StreamNgramDf, Takedown}

/** The rows of a scale run (`graft.Profile scale`) and the m-fold
  * blow-ups of an sf dir they run on.
  *
  * A blow-up is an ordinary table dir under the usual table names, so
  * every SparkEntry query runs on it unchanged. It keeps the base
  * corpus's similarity structure instead of multiplying it: a naive
  * m-fold replication would make every doc an m-clique of near-dups, and
  * any engine would go quadratic by construction.
  *  - copy 0 is the base rows, unchanged;
  *  - copy c ≥ 1 offsets every id by c·[[CopyOffset]] and suffixes every
  *    text token with c, so word shingles never match across copies
  *    (the base vocabulary is lowercase letters, so a salted token
  *    splits back into one base token and one copy);
  *  - embeddings are multiplied by a ±1 pattern keyed on (copy, dim):
  *    norms and component distributions are kept, cross-copy cosines
  *    collapse to ~0, so LSH/IVF cell occupancy grows linearly;
  *  - `events` offsets its `user_id` universe per copy (m times the
  *    companies of the backtest feed, same calendar);
  *  - the other tables are copied once, unchanged.
  *
  * A query row is a [[SparkEntry.queries]] name. [[scenarios]] time work
  * no query runs: Zipf skew, the six-sink takedown cascade, the release
  * delta tiers against a growing corpus, and ANN recall. Their fixtures
  * are [[Artifact]]s of the dir, so the cold run builds them, like a
  * query's shared artifacts. Fixture sizes follow the dir's document
  * count, not a multiplier. */
object Scale {

  /** Id offset between copies. */
  val CopyOffset = 10000000L

  /** The m-fold blow-up of `sfDir`: `sfDir` itself at m = 1, else a
    * stored directory artifact of `sfDir` (a tracked temp dir with the
    * artifact store off). */
  def dir(spark: SparkSession, sfDir: String, m: Int): String = {
    require(m >= 1, s"multiplier must be positive, got $m")
    if (m == 1) sfDir
    else Artifact.storedDir(sfDir, s"scale-m$m", "v1 copies saltdigit pm1 users")(
      out => write(spark, sfDir, m, out))
  }

  private def write(spark: SparkSession, sf: String, m: Int, out: String): Unit =
    Tables.names.foreach { t =>
      val dst = s"$out/$t.parquet"
      def copies(base: DataFrame)(copy: Int => DataFrame): Unit =
        (base +: (1 until m).map(copy)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(dst)
      t match {
        case "documents" =>
          copies(Tables.documents(spark, sf)) { c =>
            val text = concat_ws(" ",
              transform(TextOps.tokens(col("text")), w => concat(w, lit(c.toString))))
            Tables.documents(spark, sf).select(offset("doc_id", c), text.as("text"),
              col("lang"), col("source"), length(text).cast("long").as("n_chars"))
          }
        case "embeddings" =>
          copies(Tables.embeddings(spark, sf)) { c =>
            val e = col("embedding")
            Tables.embeddings(spark, sf).select(offset("vec_id", c),
              zip_with(e, sequence(lit(0), size(e) - 1), (x, j) =>
                x * when(pmod(xxhash64(lit(c), j), lit(2)) === 0, lit(1.0f))
                  .otherwise(lit(-1.0f))).as("embedding"),
              col("label"))
          }
        case "events" =>
          copies(Tables.events(spark, sf)) { c =>
            Tables.events(spark, sf).withColumn("event_id", offset("event_id", c))
              .withColumn("user_id", offset("user_id", c))
          }
        case _ =>
          val src = Paths.get(sf, s"$t.parquet")
          if (Files.isDirectory(src)) ArtifactStore.branchFrom(src.toString, Paths.get(dst))
          else Files.copy(src, Paths.get(dst))
      }
    }

  private def offset(id: String, c: Int): Column = (col(id) + lit(c * CopyOffset)).as(id)

  /** The queries a scale run times by default: the ones whose cost grows
    * with the corpus. */
  val queryRows: Seq[String] = Seq(
    "x1_dedup_exact", "x7_minhash_pairs", "x8_simhash", "v2_cosine_topk",
    "v4_ann_lsh", "x14_hashed_tfidf", "v5_ivf_topk", "x17_decontam_minhash",
    "x19_fuzzy_pairs", "v6_ivf_probe", "x11_dup_clusters", "v14_semdedup_ivf",
    "x29_bloom_decontam", "st5_neardup_stream", "v13_cluster_sample",
    "x36_incremental_dedup", "v16_binary_recall", "v17_filtered_topk",
    "v15_hier_assign", "x46_assign_ids", "x45_incremental_neardup",
    "x37_training_shards", "x39_lm_perplexity", "x47_bigram_perplexity",
    "x40_chunk_sliding", "x41_boilerplate", "x43_intradoc_dedup",
    "x38_epoch_upsample", "x44_training_mix", "x42_source_cap",
    "v19_rag_retrieval", "v20_rag_recall", "x48_bm25_topk",
    "x49_bm25_incremental", "x50_bm25_pruned", "x51_bm25_segmented",
    "x52_bm25_seg2stage", "v23_hybrid_rrf", "v26_hybrid_ivf",
    "v28_ivf_incremental", "m5_media_phash_dup", "m6_media_phash_increment",
    "x56_incremental_clusters", "st10_cluster_stream", "x61_containment",
    "x70_containment_incr", "st14_corpus_diff", "x62_corpus_fingerprint",
    "st15_fingerprint_stream", "x57_bm25_takedown", "v32_ivf_takedown",
    "st13_ngramdf_takedown", "st11_ngramdf_stream", "v30_semdedup_incremental",
    "x55_incremental_dup_score", "x53_incremental_curation",
    "x54_dup_ngram_score", "st9_curate_stream", "v29_semantic_decontam",
    "st8_ivf_stream", "t4_intraday_trades", "x76_release_audit")

  // ---- Zipf skew: one key or bucket holds about half the corpus

  /** Zipf(s ≈ 1.1) key by the inverse CDF of the Pareto tail, clamped to
    * 5000: ~53% of rows land on 1, ~17% on 2. */
  private def zipfKey(c: Column): Column =
    least(floor(pow((pmod(xxhash64(c), lit(100000)) + 1) / lit(100000.0),
      lit(-1.0 / 1.1))), lit(5000.0)).cast("long")

  /** As-of fixtures, 80 left ticks (one per 3 s) and 16 right quotes
    * (one per 10 s per key) per document of the dir, persisted. `hot`
    * puts 90% of the left rows on key 0; otherwise key sizes go as
    * 1/(k(k+1)) and the head key holds ~50% of the rows. */
  private def asOfFixture(name: String, hot: Boolean) = Artifact(name) { (s, d) =>
    val n = Tables.documents(s, d).count()
    val t0 = lit(1600000000L)
    def zkey(c: Column) =
      floor(lit(65536.0) / (pmod(c * 2654435761L, lit(65536)) + 1)).cast("long")
    val l = s.range(80 * n).select(
      (if (hot) when(pmod(col("id"), lit(10)) < 9, 0L)
        .otherwise(pmod(col("id"), lit(63)) + 1) else zkey(col("id"))).as("key"),
      timestamp_seconds(t0 + col("id") * 3).as("ts")).persist()
    val r = s.range(16 * n).select(
      (if (hot) pmod(col("id"), lit(64)) else zkey(col("id") * 31L + 7L)).as("key"),
      timestamp_seconds(t0 + floor(col("id") / 64) * 640 +
        pmod(col("id"), lit(64)) * 10).as("ts"),
      (col("id") * 1.0).as("rate")).persist()
    l.count(); r.count()
    (l, r)
  }
  private val asOfHot = asOfFixture("scaleAsOfHot", hot = true)
  private val asOfZipf = asOfFixture("scaleAsOfZipf", hot = false)

  // ---- the takedown cascade and the release tiers, on scratch sinks the
  // scenarios mutate (a stored artifact is immutable)

  private def scratchFixture(name: String)(build: (SparkSession, String, String) => Unit) =
    Artifact(name) { (s, d) =>
      val root = Artifact.tempDir(s"graft-$name-").toString
      build(s, d, root)
      root
    }

  private def cascadeSinks(root: String) = Takedown.Sinks(
    curateDir = Some(s"$root/corpus"), bm25Dir = Some(s"$root/bm25"),
    bm25BlockRecrawl = true, ivf = Some((s"$root/ivf", "vec_id", "vec")),
    clustersDir = Some(s"$root/cc"), containmentDir = Some(s"$root/cont"),
    ngramDf = Some((s"$root/ngdf", 3)))

  /** All six sinks fed the whole corpus of the dir. Texts carry their id
    * (the x73 cascade's salt), so the corpus sink's digest dedup keeps
    * every doc and a takedown resolves every body it asks for. */
  private val cascade = scratchFixture("scaleCascade") { (s, d, root) =>
    val sinks = cascadeSinks(root)
    val docs = Tables.documents(s, d)
      .withColumn("text", concat(col("text"), lit(" uid"), col("doc_id")))
    val text = docs.select("doc_id", "text")
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    Graft.parLegs(s)(Seq(
      () => StreamCurate.appendBatch(sinks.curateDir.get,
        docs.select("doc_id", "text", "n_chars"), 0L, b => b.select("doc_id", "text")),
      () => StreamBm25.appendBatch(sinks.bm25Dir.get, text, 0L, "doc_id", "text"),
      () => StreamNgramDf.appendBatch(sinks.ngramDf.get._1, text, 0L),
      () => StreamIvf.appendBatch(sinks.ivf.get._1, vecs, 0L, "vec_id", "vec",
        nCells = math.max(16, math.sqrt(vecs.count().toDouble).toInt)),
      () => StreamClusters.appendBatch(sinks.clustersDir.get,
        docs.select(col("doc_id").as("id1"),
          (pmod(col("doc_id"), lit(9973)) + 30000000000L).as("id2")), 0L),
      () => StreamContainment.appendBatch(sinks.containmentDir.get, text, 0L)))
  }

  /** A corpus sink over the dir's documents, a published `base` release,
    * then a 100-doc takedown; `fold` compacts after it and `vacuum`
    * reclaims the walk. `clustered` publishes [[clusterShards]] shards
    * (constant shard bytes as the corpus grows), takes the 100 docs from
    * shard 0 and folds the base clustered, one dir per shard; the others
    * publish 256 shards. */
  private def releaseFixture(name: String, fold: Boolean, vacuum: Boolean,
                             clustered: Boolean) =
    scratchFixture(name) { (s, d, root) =>
      val corpus = s"$root/corpus"
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val shards = if (clustered) clusterShards(s, d) else 256
      StreamCurate.appendBatch(corpus, docs, 0L, b => b.select("doc_id", "text"))
      Release.publish(s, corpus, None, s"$root/rel", "base", nShards = shards)
      val victims = if (clustered) TextOps.trainingShards(docs, "doc_id", shards)
        .filter(col("shard") === 0) else docs
      StreamCurate.deleteCurated(s, corpus,
        victims.select("doc_id").orderBy("doc_id").limit(100))
      if (fold) StreamCurate.compact(s, corpus, StreamCurate.nextCompactId(s, corpus),
        clusterBins = if (clustered) shards else 1)
      if (vacuum) StreamCurate.vacuum(s, corpus)
    }
  private val release = releaseFixture("scaleRelease", false, false, false)
  private val releaseFolded = releaseFixture("scaleReleaseFolded", true, false, false)
  private val releaseState = releaseFixture("scaleReleaseState", true, true, false)
  private val releaseClustered = releaseFixture("scaleReleaseClustered", true, true, true)

  /** One shard per ~312 documents, a power of two in [16, 1024]:
    * 16 / 128 / 1024 shards at sf0.1 m = 1 / 8 / 64. */
  private def clusterShards(s: SparkSession, d: String): Int =
    Integer.highestOneBit(math.min(1024L,
      math.max(16L, Tables.documents(s, d).count() / 312)).toInt)

  private val published = new AtomicLong(0)

  /** A delta publish of the fixture's latest snapshot against `base`,
    * refused unless the report names the expected tier. */
  private def delta(s: SparkSession, root: String, via: String,
                    link: Boolean = false, maxRewritten: Long = Long.MaxValue): DataFrame = {
    val rep = Release.publishDelta(s, s"$root/corpus", None, s"$root/rel",
      s"d${published.incrementAndGet()}", basedOn = "base", link = link)
    val r = rep.head()
    require(r.getAs[String]("via") == via, s"expected a delta via $via: $r")
    require(r.getAs[Long]("n_shards_rewritten") <= maxRewritten,
      s"a one-shard takedown must touch about one shard: $r")
    rep
  }

  /** Base-copy ids (copy 0 is the base rows), for fixed-size batches. */
  private def baseIds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < CopyOffset).select("doc_id")

  // ---- ANN recall against the exact answer. Memoized per dir: the cold
  // run computes and prints it, the warm runs return the memo; the memo
  // carries the persisted indexes, so clearing the artifacts frees them.

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  private def meanRecall(exact: Array[(Long, Long)], got: Set[(Long, Long)]): Double = {
    val perQ = exact.groupBy(_._1).values.map(h => h.count(got).toDouble / h.length)
    perQ.sum / perQ.size
  }

  private type RecallRow = (String, Int, Int, Double, Double)

  /** Timed probe of one policy: (policy, nCells, nProbe, recall, secs). */
  private def probe(policy: String, cells: Int, nProbe: Int,
                    exact: Array[(Long, Long)])(approx: => DataFrame): RecallRow = {
    val t0 = System.nanoTime()
    val got = pairs(approx).toSet
    val row = (policy, cells, nProbe, meanRecall(exact, got), Profile.secs(t0, System.nanoTime()))
    println(f"[recall] $policy%-22s nCells=$cells%-5d nProbe=$nProbe%-4d " +
      f"recall ${row._4}%.3f (${row._5}%.2f s)")
    row
  }

  private def recallFrame(s: SparkSession, rows: Seq[RecallRow]): DataFrame =
    s.createDataFrame(rows).toDF("policy", "n_cells", "n_probe", "recall", "secs")

  private def cellsFor(n: Long): Int = math.max(16, math.sqrt(n.toDouble).toInt)

  /** Held-out query docs (`doc_id % 97 == 3`) and the rest. */
  private def heldOut(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    (docs.filter(col("doc_id") % 97 === 3)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(64),
     docs.filter(col("doc_id") % 97 =!= 3))
  }

  /** TF-IDF vectors of `corpus` and of `queries` under the model fit on
    * `corpus`, both persisted. */
  private def tfIdfVecs(corpus: DataFrame, id: String, text: String,
                        queries: DataFrame): (DataFrame, DataFrame) = {
    val model = TextOps.tfIdfModel(corpus, id, text, dim = 32)
    val vecs = TextOps.assembleVector(TextOps.applyTfIdf(corpus, id, text, model), id, 32)
    (cached(vecs), cached(TextOps.assembleVector(
      TextOps.applyTfIdf(queries, "doc_id", "text", model), "doc_id", 32)))
  }

  /** `df` persisted and counted, so a timed probe times only the probe. */
  private def cached(df: DataFrame): DataFrame = {
    df.persist().count()
    df
  }

  private def persisted(idx: Similarity.IvfIndex): Similarity.IvfIndex =
    idx.copy(postings = cached(idx.postings))

  /** Embeddings: 5 queries, top-10 through an IVF at a fixed nProbe of 4
    * and at ~10% of the cells. */
  private val recallEmb = Artifact("scaleRecallEmb") { (s, d) =>
    val c = Tables.embeddings(s, d)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val (q, corpus) = (c.filter(col("vec_id") < 5), c.filter(col("vec_id") >= 5))
    val cells = cellsFor(c.count())
    val exact = pairs(Similarity.bruteForceTopK(q, corpus, "vec_id", "vec_id", "vec", k = 10))
    recallFrame(s, Seq("fixed" -> 4, "frac10" -> math.max(4, cells / 10)).map {
      case (policy, nProbe) => probe(s"emb $policy", cells, nProbe, exact)(
        Similarity.ivfTopK(q, corpus, "vec_id", "vec_id", "vec",
          nCells = cells, nProbe = nProbe, k = 10))
    })
  }

  /** The chunk index of the RAG serve path: 64 held-out docs, top-5 over
    * the TF-IDF chunk vectors across an nProbe sweep. */
  private val recallRag = Artifact("scaleRecallRag") { (s, d) =>
    val (qs, rest) = heldOut(s, d)
    val chunks = TextOps.chunkSliding(rest, "doc_id", "text", w = 12, s = 8)
      .select((col("doc_id") * 100000 + col("chunk_id")).as("chunk_key"), col("chunk"))
    val (vecs, qv) = tfIdfVecs(chunks, "chunk_key", "chunk", qs)
    val cells = cellsFor(vecs.count())
    val idx = persisted(Similarity.buildIvfIndex(vecs, "chunk_key", "vec", nCells = cells))
    val exact = pairs(Similarity.bruteForceTopK(qv, vecs, "doc_id", "chunk_key", "vec", k = 5))
    (recallFrame(s, Seq(2, 4, 8, math.max(4, cells / 10)).distinct.map { nProbe =>
      probe("rag chunks", cells, nProbe, exact)(
        Similarity.probeIvf(idx, qv, "doc_id", nProbe = nProbe, k = 5))
    }), vecs, qv, idx)
  }

  /** The bounded serve legs against their exact forms: BM25 two-stage
    * over pruned lists (overlap@10 with the one-join serve) and the dense
    * IVF leg at the calibrated 0.8 fraction (recall@20 against brute
    * force), 64 held-out docs. */
  private val recallHybrid = Artifact("scaleRecallHybrid") { (s, d) =>
    val (qs, corpus) = heldOut(s, d)
    val i0 = TextOps.bm25Index(corpus, "doc_id", "text")
    val idx = TextOps.Bm25Index(cached(i0.postings), cached(i0.stats))
    def top(df: DataFrame) = df.select(col("q_id"), col("key").as("c_id"))
    val exact = pairs(top(TextOps.bm25Search(idx, qs, "doc_id", "text", k = 10)))
    val pruned = Seq("P=64" -> TextOps.bm25Prune(idx, maxPostingsPerTerm = 64),
        "frac=0.013" -> TextOps.bm25PruneFrac(idx, 0.013),
        "frac=0.05" -> TextOps.bm25PruneFrac(idx, 0.05))
      .map { case (label, pr) => (label, pr.copy(postings = cached(pr.postings))) }
    val sparse = pruned.map { case (label, pr) =>
      probe(s"bm25 two-stage $label", 0, 0, exact)(top(TextOps.bm25SearchTwoStage(
        idx, pr, qs, "doc_id", "text", k = 10)))
    }
    val (vecs, qv) = tfIdfVecs(corpus, "doc_id", "text", qs)
    val cells = cellsFor(vecs.count())
    val nP = Similarity.nProbeFor(cells, Similarity.calibratedFraction(0.8, cells))
    val ivf = persisted(Similarity.buildIvfIndex(vecs, "doc_id", "vec", nCells = cells))
    val dense = probe("dense ivf 0.8", cells, nP,
      pairs(Similarity.bruteForceTopK(qv, vecs, "doc_id", "doc_id", "vec", k = 20)))(
      Similarity.probeIvf(ivf, qv, "doc_id", nProbe = nP, k = 20))
    (recallFrame(s, sparse :+ dense), idx, pruned, vecs, qv, ivf)
  }

  /** Named scenarios, each `(session, dir) => result`, in run order. */
  val scenarios: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    // a boilerplate mega-bucket: the head Zipf templates' docs carry
    // identical shingle sets (template 1 alone is ~53% of the corpus),
    // so only the LSH occupancy cap, set below every head bucket, keeps
    // candidate generation linear
    "x7_zipf_bucket" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("z", zipfKey(col("doc_id")))
        .select(col("doc_id"), when(col("z") <= 3,
          transform(sequence(lit(0), lit(29)), i => concat(lit("tpl"), col("z"), lit("#"), i)))
          .otherwise(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("sh"))
      Dedup.minHashCandidates(docs, "doc_id", "sh", k = 32, bands = 16, maxBucketSize = 256)
        .filter(col("est_jaccard") >= 0.25)
    }),
    // one group holds ~53% of the rows: map-side partial aggregation
    "groupby_zipf" -> ((s, d) =>
      Tables.documents(s, d).groupBy(zipfKey(col("doc_id")).as("z"))
        .agg(sum(length(col("text"))).as("chars"), count(lit(1)).as("n"))),
    // a shuffled (not broadcast) join on the Zipf key: AQE splits the
    // hot partition
    "skewjoin_zipf" -> ((s, d) =>
      Tables.documents(s, d).withColumn("z", zipfKey(col("doc_id")))
        .join(s.range(1, 5001).select(col("id").as("z"),
          md5(col("id").cast("string")).as("payload")).hint("merge"), Seq("z"))),
    // the per-key window sorts the whole hot key in one partition
    "a3_asof_skew_plain" -> ((s, d) => {
      val (l, r) = asOfHot(s, d)
      TimeSeries.asOfJoin(l, r, Seq("key"), "ts", Seq("rate"))
    }),
    // 1 h slices: no partition holds more than one slice of one key
    "a3_asof_skew_sliced" -> ((s, d) => {
      val (l, r) = asOfHot(s, d)
      TimeSeries.asOfJoinTimeSliced(l, r, Seq("key"), "ts", Seq("rate"), sliceSeconds = 3600)
    }),
    // the default form probes the head key's count and picks plain or sliced
    "a3_asof_auto_zipf" -> ((s, d) => {
      val (l, r) = asOfZipf(s, d)
      TimeSeries.asOfJoinAuto(l, r, Seq("key"), "ts", Seq("rate"),
        sliceSeconds = 3600, maxRowsPerKey = 1L << 20)
    }),
    "a3_asof_plain_zipf" -> ((s, d) => {
      val (l, r) = asOfZipf(s, d)
      TimeSeries.asOfJoin(l, r, Seq("key"), "ts", Seq("rate"))
    }),
    // one Takedown.forget of a fresh 1/50 slice of base ids across all
    // six sinks: the per-complaint price against a growing cascade
    "takedown_forget_fixed" -> ((s, d) => {
      val ids = baseIds(s, d).filter(col("doc_id") % 50 === published.incrementAndGet() % 50)
      Takedown.forget(s, ids, cascadeSinks(cascade(s, d)))
      ids
    }),
    // the residual proof reads every served id once: linear by design
    "takedown_attest_fixed" -> ((s, d) =>
      Takedown.attest(s, baseIds(s, d).filter(col("doc_id") % 97 === 11),
        cascadeSinks(cascade(s, d)))),
    // a scratch 256-shard publish: the baseline the delta tiers beat
    "release_full_fixed" -> ((s, d) => {
      val root = release(s, d)
      Release.publish(s, s"$root/corpus", None, s"$root/rel",
        s"full${published.incrementAndGet()}", nShards = 256)
    }),
    "release_delta_fixed" -> ((s, d) => delta(s, release(s, d), "diff")),
    "release_delta_folded" -> ((s, d) => delta(s, releaseFolded(s, d), "diff_folded")),
    "release_delta_state" -> ((s, d) => delta(s, releaseState(s, d), "state")),
    // one shard off the clustered base through the pruned loader
    "clustered_shard_read" -> ((s, d) => {
      val root = releaseClustered(s, d)
      StreamCurate.loadAtShards(s, s"$root/corpus", None, clusterShards(s, d), Set(0))
        .getOrElse(s.emptyDataFrame)
    }),
    "release_delta_clustered" -> ((s, d) =>
      delta(s, releaseClustered(s, d), "state", maxRewritten = 4)),
    "release_delta_linked" -> ((s, d) =>
      delta(s, releaseClustered(s, d), "state", link = true)),
    "recall_emb" -> ((s, d) => recallEmb(s, d)),
    "recall_rag" -> ((s, d) => recallRag(s, d)._1),
    "recall_hybrid" -> ((s, d) => recallHybrid(s, d)._1))

  /** Every row `all` runs: [[queryRows]], then the [[scenarios]]. */
  def rows: Seq[String] = queryRows ++ scenarios.keys

  /** A row's function: its scenario, else its SparkEntry query. */
  def row(name: String): (SparkSession, String) => DataFrame =
    scenarios.getOrElse(name, SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no query or scenario named $name")))
}
