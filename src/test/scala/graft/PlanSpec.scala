package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates (the 100 TB checklist from the build brief):
  * filters reach the parquet scan, projections prune columns, small dims
  * broadcast, no accidental cartesian products, aggregates run
  * partial+final. Regressions here are performance bugs even when results
  * stay correct. */
class PlanSpec extends AnyFunSuite with SharedSpark {
  // AQE re-plans lazily and hides codegen stages from toString until
  // execution; the static plan is what these gates inspect
  override protected def suiteConf = Seq("spark.sql.adaptive.enabled" -> "false")

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("filter pushdown reaches the parquet scan (p6, p10)") {
    assert(plan("p6_year_slice").contains("PushedFilters: ["))
    val p = plan("p10_contains")
    assert(p.contains("PushedFilters:") && p.contains("StringContains"))
  }

  test("column pruning: scan reads only referenced columns (p1)") {
    val p = plan("p1_positional_slice")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_mktsegment"), "projection should prune c_mktsegment")
  }

  test("small dimensions broadcast (a1, j1) — no shuffle join for dims") {
    assert(plan("a1_dim_join").contains("BroadcastHashJoin"))
    assert(plan("j1_star_join").contains("BroadcastHashJoin"))
  }

  test("SF-scaling tables carry no hard broadcast hint (j1, entry)") {
    // customer grows with SF: a hard broadcast hint would OOM at 100×. Only
    // the fixed-cardinality dims (nation=25, region=5) may be hinted; the
    // customer join must be left to size stats / AQE. Assert by counting
    // hint nodes in the analyzed logical plan: j1 hints nation+region (2),
    // entry hints nation (1) — a customer hint would raise the count.
    val j1 = SparkEntry.queries("j1_star_join")(spark, sf)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(j1).size == 2,
      "j1 must hint exactly nation and region, never customer")
    val e = SparkEntry.entry(spark).queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(e).size == 1,
      "entry must hint exactly nation, never customer")
  }

  test("no cartesian product outside the intentional brute-force kernels") {
    // v1/v2: the brute-force cosine kernel is a deliberate broadcast cross
    // join; r4: a 1×1 scalar crossJoin combining two report rows.
    val allowed = Set("v1_cosine_scores", "v2_cosine_topk", "r4_replay_report")
    SparkEntry.queries.keys.filterNot(allowed).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name has an unintended cartesian product")
    }
  }

  test("aggregates are partial+final (map-side combine) (g5)") {
    val p = plan("g5_agg")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final HashAggregate pair")
  }

  test("whole-stage codegen covers the scan->filter->project hot path (p7)") {
    // codegen stages print as `*(n) Op` in SparkPlan.toString
    assert(plan("p7_threshold").contains("*("))
  }

  test("the composed replay tick path is fully keyed — no single-partition stage (r3)") {
    // every window/aggregate in IntradayPipeline partitions by
    // (company[, listing][, block][, ts]); only the bounded r4 reporting
    // panel is allowed a global window
    assert(!plan("r3_intraday_trades").contains("SinglePartition"),
      "the T5 composition must never funnel fact data through one partition")
  }

  test("as-of join shuffles once by key — no global single-partition window (a3)") {
    val p = plan("a3_asof_join")
    assert(p.contains("Window"))
    // a keyless window would appear as 'Window [...ORDER BY...]' with an
    // Exchange SinglePartition below it
    assert(!p.contains("SinglePartition"),
      "as-of join must not funnel through a single partition")
  }

  test("new aggregate/window queries stay keyed and partial-aggregated") {
    // f16's RANGE window partitions by user — never a single partition
    assert(!plan("f16_rolling_range").contains("SinglePartition"),
      "time-range rolling must stay keyed")
    // x12/g11/x14 aggregates must map-side combine — OR, since the r8
    // ArtifactStore, serve from the precomputed docSignals parquet (no
    // aggregate left in the serve plan at all, which is strictly better:
    // the partial-agg pass ran once at artifact build time)
    Seq("x12_repetition", "g11_percentiles", "x14_hashed_tfidf").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_") || p.contains("graft-artifacts"),
        s"$q must partial-aggregate (or serve from a built artifact)")
    }
  }

  test("x19 fuzzy pairs is a banded equi-join (bkt in the join key)") {
    // the r3 regression: (lang, source)-only key + post-join levenshtein
    // = all-pairs within a block. The length bucket must be part of the
    // physical equi key so candidates are pruned AT the join.
    val p = plan("x19_fuzzy_pairs")
    assert(p.contains("Join") && !p.contains("CartesianProduct"))
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("lang")).getOrElse("")
    assert(joinLine.contains("bkt"),
      s"x19's join key must include the length bucket, got: $joinLine")
  }

  test("multimodal batch stages are shuffle-free scan stages (m1-m4)") {
    // decode / feature-extract / resize / frame-sample are mapPartitions
    // over the scan: at 100 TB they scale with input splits and nothing
    // else. The SparkEntry queries add a presentation orderBy, so inspect
    // the library operators directly.
    import graft.ext.Multimodal
    val media = Multimodal.mediaTable(Tables.documents(spark, sf))
    val stages = Seq(
      "extractMeta" -> Multimodal.extractMeta(media, Multimodal.StubDecoder).toDF(),
      "extractFeatures" ->
        Multimodal.extractFeatures(media, Multimodal.StubExtractor).toDF(),
      "resize" -> Multimodal.resize(media, Multimodal.StubDecoder, 512, 384).toDF(),
      "sampleFrames" ->
        Multimodal.sampleFrames(media, Multimodal.StubDecoder, 2).toDF())
    stages.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must not shuffle — it is a per-partition batch stage")
    }
  }

  test("x29's bloom prefilter runs scan-side, BELOW the confirm join") {
    // the broadcast runtime-filter plan: a Filter containing the xxhash64
    // bit probes must sit under the (semi-)join, not above it — otherwise
    // every train segment is shuffled into the join and the bloom bought
    // nothing
    val p = plan("x29_bloom_decontam")
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("Join") && l.contains("LeftSemi"))
    val bloomIdx = lines.indexWhere(l => l.contains("xxhash64"))
    assert(joinIdx >= 0, "x29 must contain the exact-confirm semi-join")
    assert(bloomIdx > joinIdx, // deeper in the tree = printed after
      "the bloom bit-probe filter must be below the confirm join")
    // and the probes stay codegen'd built-ins (no UDF nodes)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("x31 pays no global window: every Window is keyed, boundary-bucket only") {
    val p = plan("x31_token_budget")
    assert(!p.contains("SinglePartition"),
      "token-budget selection must not run a corpus-wide running sum")
    // the one allowed window partitions by the crossing bucket
    val winLine = p.linesIterator.find(_.trim.startsWith("Window")).getOrElse("")
    assert(winLine.isEmpty || winLine.contains("__bkt"),
      s"x31's window must be keyed by the weight bucket, got: $winLine")
  }

  test("v10 semantic dedup is a blocked equi-join + anti-join (no cartesian)") {
    val p = plan("v10_semdedup")
    assert(!p.contains("CartesianProduct"),
      "semantic dedup must pair only within blocks")
    assert(p.contains("LeftAnti"), "survivors come from one left_anti")
  }

  test("m6 incremental fingerprint dedup: banded equi-joins + one left_anti") {
    val p = plan("m6_media_phash_increment")
    assert(!p.contains("CartesianProduct"),
      "candidates must come from band equi-joins, never all-pairs")
    assert(p.contains("LeftAnti"), "survivors come from one left_anti")
  }

  test("v30 incremental semantic dedup: blocked equi-joins + left_anti (no cartesian)") {
    val p = plan("v30_semdedup_incremental")
    assert(!p.contains("CartesianProduct"),
      "batch×index and within-batch pairing must stay block equi-joins")
    assert(p.contains("LeftAnti"), "survivors come from one left_anti")
  }

  test("st11 streamed ngram-df serve: scores the batch against the summed deltas — no cartesian, no index-side body rescan") {
    val p = plan("st11_ngramdf_stream")
    assert(!p.contains("CartesianProduct"))
    // EXACTLY two scans of documents — both the %4==0 BATCH slice (the
    // gram join + the within-batch df aggregate); the index side reads
    // only the streamed (ng, ndocs) delta partitions. An inline rebuild
    // from corpus bodies would add documents scans past 2 (the x55
    // gate's discipline applied to the streamed form).
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 2,
      s"expected exactly 2 batch-side documents scans, got $docScans")
  }

  test("takedown family serves stay cartesian-free (v32/st12/st13/x59/x60/m7)") {
    Seq("v32_ivf_takedown", "st12_cluster_takedown",
        "st13_ngramdf_takedown", "x59_sig_takedown",
        "x60_bm25_blocklist", "m7_phash_takedown").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: the post-takedown serve must keep the family's banded/" +
          "blocked equi-join shape — forgetting must not cost the plan")
    }
  }

  test("st13 takedown serve: batch scores against the netted deltas — no index-side body rescan") {
    val p = plan("st13_ngramdf_takedown")
    // the st11 gate's discipline on the post-takedown form: exactly two
    // batch-side documents scans; the index side reads only the merged
    // (ng, ndocs) base (negative deltas already absorbed by the fold)
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 2,
      s"expected exactly 2 batch-side documents scans, got $docScans")
  }

  test("v31 cell-blocked incremental semantic dedup: block equi-joins + left_anti (no cartesian)") {
    val p = plan("v31_semdedup_incr_ivf")
    assert(!p.contains("CartesianProduct"),
      "batch×index and within-batch pairing must stay cell equi-joins; " +
        "the only row-multiplying join allowed is the broadcast 1-row " +
        "centroid pack (BroadcastNestedLoopJoin)")
    assert(p.contains("LeftAnti"), "survivors come from one left_anti")
  }

  test("x55 incremental overlap score joins the metadata index — no corpus-body rescan") {
    val p = plan("x55_incremental_dup_score")
    assert(!p.contains("CartesianProduct"))
    // EXACTLY two scans of the documents table — both the BATCH slice
    // (one feeds the gram-per-doc join, one the within-batch df
    // aggregate). A regression to the full-scan x54 shape (index
    // rebuilt inline from corpus bodies) adds its own documents scans
    // on the index side and pushes the count past 2.
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 2,
      s"expected exactly 2 batch-side documents scans, got $docScans")
    assert(p.contains("ndocs"), "index side must be the df artifact")
  }

  test("st5's stateless stream stage is scan-shaped — zero exchanges") {
    // the banded-signature stage runs inside the micro-batch scan: any
    // Exchange here would shuffle every arriving document before the
    // stateful pairing's ONE keyed grouping
    val p = graft.streaming.StreamNearDup.banded(
        Tables.documents(spark, sf).select("doc_id", "text"), 32, 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"banded stage shuffles:\n$p")
    // and the signature is computed ONCE: no minhash_sig inside a Filter
    // (the pushed-down isnotnull recomputation this stage's pre-filter
    // exists to prevent)
    assert(!p.split("\n").exists(l =>
        l.contains("Filter") && l.contains("minhash_sig")),
      "signature recomputed inside a pushed-down filter")
  }

  test("v13 cluster sample: broadcast assignment + one keyed window only") {
    import org.apache.spark.sql.functions.col
    // snap inputs (the IvfSpec idiom) so the plan under inspection is the
    // OPERATOR's — the index-build subtree is not what this gate is about
    def c = Tables.embeddings(spark, sf).select(col("vec_id"),
      graft.ext.Similarity.toDouble(col("embedding")).as("vec"))
    val idx0 = graft.ext.Similarity.buildIvfIndex(c, "vec_id", "vec", nCells = 8)
    val idx = idx0.copy(centroids = idx0.centroids.localCheckpoint())
    val p = graft.ext.Similarity.clusterBalancedSample(
        idx, c.localCheckpoint(), "vec_id", cap = 4)
      .queryExecution.executedPlan.toString
    // corpus rows hash-shuffle exactly once: the window's keyed exchange
    // on ivf_cell ("(?<!Broadcast)Exchange" per the NOTES gating gotcha;
    // the other allowed exchange is the 1-row centroid packing)
    val parts = "hashpartitioning\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(parts == Seq("hashpartitioning(ivf_cell"),
      s"only the cell window may hash-shuffle, got $parts:\n$p")
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 2,
      s"cell window + centroid packing only:\n$p")
  }

  test("x48 BM25 serve: no cartesian over data, bounded top-k windows") {
    val p = plan("x48_bm25_topk")
    // the only cross join is the broadcast 1-row stats combine (the
    // documented scalar pattern); candidate generation is the tok
    // equi-join, never a corpus cross product
    val crosses = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).size
    assert("CartesianProduct".r.findAllIn(p).isEmpty, s"cartesian:\n$p")
    assert(crosses <= 1, s"only the 1-row stats combine may cross:\n$p")
    // the per-query top-k runs as the bounded-heap aggregate with a
    // map-side partial (two ObjectHashAggregate stages), not a rank
    // window over all candidates — stronger than the old
    // WindowGroupLimit gate: at most k entries per (mapper, query)
    // reach the exchange
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"top-k not partial-aggregated:\n$p")
    // r16: the build side legitimately carries the dl/df whole-partition
    // windows (partition by key / by tok — the aggregate+join-back
    // replacement); the gate is about the SERVE's per-query top-k, so it
    // pins "no rank window partitioned by q_id" specifically.
    assert(!p.split("\n").exists(l =>
        l.contains("Window [") && l.contains("q_id")),
      s"per-query rank window crept back:\n$p")
  }

  test("v24 MMR: ONE keyed exchange feeds the bounded mapGroups fold") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // snap the candidate list (the operator's input contract: a bounded
    // per-query top-k with vectors) so the gate inspects mmrRerank alone
    val cands = Seq(
      (1L, 10L, 0.9, Seq(1.0, 0.0)), (1L, 11L, 0.8, Seq(0.9, 0.1)),
      (2L, 10L, 0.7, Seq(0.5, 0.5)))
      .toDF("q_id", "c_id", "cos", "vec").localCheckpoint()
    val p = graft.ext.Similarity.mmrRerank(cands, k = 2)
      .queryExecution.executedPlan.toString
    // groupByKey names its extracted key column `value`
    val parts = "hashpartitioning\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(parts == Seq("hashpartitioning(value"),
      s"greedy fold must group by the extracted q_id key only, got $parts:\n$p")
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1,
      s"one keyed exchange into the fold:\n$p")
    assert(p.contains("MapGroups"), s"fold missing:\n$p")
  }

  test("x45's drop set bands once: one Generate, no cartesian product") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the executed plan as AQE leaves it after the run: under AQE each
    // cached input is its own query stage, so a band exchange that static
    // reuse shares between two branches runs once per branch, and only
    // the final adaptive plan shows it
    withSQLConf("spark.sql.adaptive.enabled" -> "true") {
      val df = SparkEntry.queries("x45_incremental_neardup")(spark, sf)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan
      val nodes = Aqe.collect(p) { case n: SparkPlan => n }
      val bandShuffles = nodes.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name)) == Seq("band", "band_hash")
          case _ => false
        }) => e
      }
      assert(bandShuffles.size == 1, s"expected one band-key shuffle:\n$p")
      val bandExplodes = nodes.collect {
        case g: GenerateExec if g.generator.exists(_.isInstanceOf[XxHash64]) => g
      }
      assert(bandExplodes.size == 1, s"expected one band explode:\n$p")
      val bandJoins = nodes.collect {
        case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
            .exists(_.references.exists(_.name == "band")) => j
      }
      assert(bandJoins.isEmpty, s"pairs must come from buckets, not a band join:\n$p")
      assert(!p.toString.contains("CartesianProduct") &&
        !p.toString.contains("BroadcastNestedLoopJoin"),
        s"no cartesian product or nested-loop join:\n$p")
    }
  }

  test("x45 builds and runs in at most 8 Spark jobs") {
    withSQLConf("spark.sql.adaptive.enabled" -> "true") {
      val x45 = SparkEntry.queries("x45_incremental_neardup")
      // the corpus signature index is a shared artifact, built before
      x45(spark, sf).queryExecution.toRdd.count()
      val jobs = jobsStartedBy(x45(spark, sf).queryExecution.toRdd.count())
      assert(jobs <= 8, s"x45 started $jobs jobs")
    }
  }
}

/** Walks an executed plan through AQE's query stages. */
private object Aqe
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
