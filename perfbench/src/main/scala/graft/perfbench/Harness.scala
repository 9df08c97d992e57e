package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.{Graft, SparkEntry, Tables}

/** One benchmark run of one workload in a fresh JVM, closed loop, one
  * client thread:
  *
  *   setup  = JVM boot, session start, table warm-up, the workload's
  *            artifact builders (`Graft.warmAll`, ≤3 threads) on an empty
  *            store, and two untimed warm-up passes, the first of which
  *            checks every output against its reference digest;
  *   passes = timed passes over the workload's queries, one query at a
  *            time, each pass in an order drawn from the seed; each query
  *            is timed as `fn(spark, sf)` + `executedPlan` +
  *            `toRdd.count()`, and its row count is checked.
  *
  * It calls only the program's entry points: `SparkEntry.queries`, the
  * `Tables` loaders, and the prewarm task lists and `Graft.warmAll`, which
  * are package-private to `graft` (hence this package). With `trace` on, a
  * listener attributes Spark work to the spans of [[Trace]].
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, inputDirs: Seq[String],
                        store: String, localDir: String,
                        maxPasses: Int = Int.MaxValue)

  final case class Result(attempted: Long, failed: Long, failures: Seq[String],
                          invalid: Seq[String], passes: Int,
                          metrics: Seq[(String, Double)], minted: Seq[String],
                          identity: Seq[(String, String)], trace: Trace,
                          perQuery: Seq[(String, Seq[Double])],
                          passWalls: Seq[Double])

  /** `refs` maps a query to its reference; `None` mints references.
    * `workload` overrides the timed mix named in `o`. */
  def run(o: Opts, refs: Option[Map[String, Digest.Ref]],
          workload: Option[Workloads.Workload] = None): Result = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStartMs = System.currentTimeMillis()
    val w = workload.getOrElse(Workloads.byName(o.workload))
    val tr = new Trace(o.trace)
    val runSpan = tr.begin("run", -1)
    val setupSpan = tr.begin("setup", runSpan)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    def fail(what: String): Unit = failures.synchronized(failures += what)

    val cpus = Runtime.getRuntime.availableProcessors
    val sessionSpan = tr.begin("session", setupSpan)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.localDir)
      .config("spark.sql.warehouse.dir", s"${o.localDir}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if (o.trace) sc.addSparkListener(tr.listener)
    tr.end(sessionSpan)

    val inputBytes = o.inputDirs.map(d => Store.snapshot(Paths.get(d)).bytes).sum
    tr.fallback = setupSpan
    tr.span(sc, "tables", setupSpan) { _ =>
      Seq(Tables.region _, Tables.nation _, Tables.customer _,
        Tables.supplier _, Tables.part _, Tables.orders _, Tables.lineitem _,
        Tables.events _, Tables.documents _, Tables.embeddings _)
        .foreach(load => load(spark, o.data).count())
    }

    // Builders: every thunk is wrapped, so a builder that throws is counted
    // here; Graft.warm only logs it and lets its consumers build lazily.
    val storePath = Paths.get(o.store)
    val buildersSpan = tr.begin("builders", setupSpan)
    tr.fallback = buildersSpan
    val builderFailed = ArrayBuffer.empty[String]
    val builderSpans = ArrayBuffer.empty[Int]
    val tasks = Workloads.tasks(w, spark, o.data).map { case (name, deps, thunk) =>
      (name, deps, () => {
        val id = tr.begin(s"builder:$name", buildersSpan)
        builderSpans.synchronized(builderSpans += id)
        if (o.trace) sc.setLocalProperty(Trace.SpanKey, id.toString)
        try thunk()
        catch { case t: Throwable =>
          builderFailed.synchronized(builderFailed += name)
          fail(s"builder $name: $t")
          throw t
        } finally {
          sc.setLocalProperty(Trace.SpanKey, null)
          tr.end(id)
        }
      })
    }
    Graft.warmAll(spark, tasks, poolSize = math.min(3, cpus))
    val buildersWallNs = tr.end(buildersSpan)
    attempted += tasks.size
    val afterBuild = Store.snapshot(storePath)

    // One pass in the seed's order number `k`, row counts checked: each
    // query's wall.
    def timedPass(parent: Int, k: Int): Seq[(String, Double)] =
      order(w.queries, o.seed, k).flatMap { name =>
        attempted += 1
        runQuery(spark, tr, o, name, parent, collect = false) match {
          case Left(err) => fail(s"$name (pass $k): $err"); None
          case Right((wall, n, _)) =>
            val want = refs.flatMap(_.get(name)).map(_.rows)
            if (!want.contains(n)) fail(s"$name (pass $k): $n rows, reference $want")
            Some(name -> wall)
        }
      }

    // Two untimed warm-up passes, part of setup: the first collects every
    // output for the full output check (and, in mint mode, the
    // references); the second runs the timed path once more. Together they
    // take the codegen and JIT work of a cold JVM out of the timed passes.
    val cg0 = Codegen.now()
    val minted = ArrayBuffer.empty[String]
    val warmSpan = tr.begin("warmup", setupSpan)
    order(w.queries, o.seed, 0).foreach { name =>
      attempted += 1
      runQuery(spark, tr, o, name, warmSpan, collect = true) match {
        case Left(err) => fail(s"$name (warm-up): $err")
        case Right((_, _, rows)) =>
          val got = Digest.of(rows)
          refs match {
            case None => minted += Digest.refLine(name, got)
            case Some(r) => r.get(name) match {
              case None => fail(s"$name: no reference")
              case Some(want) if want != got =>
                fail(s"$name: output $got, reference $want")
              case _ => ()
            }
          }
          if (name == "r2_brk_trades") headline(rows).foreach(e => fail(s"$name: $e"))
      }
    }
    if (refs.nonEmpty) timedPass(warmSpan, 1)
    tr.end(warmSpan)
    val cg1 = Codegen.now()
    val afterSetup = Store.snapshot(storePath)
    tr.end(setupSpan)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Timed passes: whole passes until `seconds` have elapsed, and at
    // least three. Passes still speed up as the JIT settles, so a run's
    // best pass depends on how many it made: a fixed floor keeps a slow
    // host from reporting the best of two where a fast one reports the
    // best of three.
    val walls = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val passWalls = ArrayBuffer.empty[Double]
    val passSpans = ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (refs.nonEmpty && passWalls.size < o.maxPasses &&
        (passWalls.size < MinPasses || elapsed < o.seconds)) {
      val k = passWalls.size + 1
      val ps = tr.begin(s"pass:$k", runSpan)
      passSpans += ps
      timedPass(ps, k + 1).foreach { case (name, wall) =>
        walls.getOrElseUpdate(name, ArrayBuffer.empty) += wall
      }
      passWalls += tr.end(ps) / 1e9
    }
    val cg2 = Codegen.now()
    val afterTimed = Store.snapshot(storePath)
    val timedWrites = afterTimed.changedBytes(afterSetup)
    val invalid =
      if (timedWrites > 0) Seq(s"timed passes wrote $timedWrites bytes to the artifact store")
      else Nil

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // Retained heap: the least heap in use over a few full GCs, spaced so
    // that the ContextCleaner can release what the previous one freed.
    val heapRetainedMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    tr.end(runSpan)

    val passes = passWalls.size
    // Best of the timed passes: other tenants of a shared host only ever
    // add time (CPU steal), so a query's fastest pass is its steadiest
    // reading. Latency takes each query's best wall, then quantiles across
    // the mix; `pass_s` is the fastest whole pass.
    val perQueryWall = walls.valuesIterator.map(_.min).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> (if (passWalls.isEmpty) Double.NaN else passWalls.min),
      "pass_median_s" -> median(passWalls.toSeq),
      "latency_p50_s" -> quantile(perQueryWall, 0.5),
      "latency_p90_s" -> quantile(perQueryWall, 0.9),
      "failed_frac" -> failures.size.toDouble / math.max(1L, attempted),
      "heap_retained_mb" -> heapRetainedMb,
      "disk_amplification" -> (inputBytes + afterSetup.bytes).toDouble / inputBytes,
      "samples" -> walls.valuesIterator.map(_.size).sum.toDouble)

    val layers = if (!o.trace) Nil else {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      val spans = tr.all
      def dur(ids: Iterable[Int]): Double =
        ids.map(i => (spans(i).end - spans(i).start) / 1e9).sum
      def named(n: String, under: Set[Int]): Seq[Int] =
        spans.filter(s => s.name == n && under(spans(s.parent).parent)).map(_.id)
      val timedSet = passSpans.toSet
      val per = math.max(1, passes).toDouble
      val construct = named("construct", timedSet)
      val plan = named("plan", timedSet)
      val exec = named("exec", timedSet)
      val queries = spans.filter(s => timedSet(s.parent)).map(_.id)
      val cExec = tr.countsUnder(exec.toSet)
      val cConstruct = tr.countsUnder(construct.toSet)
      val cBuild = tr.countsUnder(Set(buildersSpan))
      val execS = dur(exec)
      val children = spans.groupBy(_.parent)
      val splitErr = queries.map { q =>
        val parts = dur(children.getOrElse(q, Nil).map(_.id))
        val whole = dur(Seq(q))
        if (whole > 0) math.abs(whole - parts) / whole else 0.0
      }
      val bootS = (mainStartMs - jvmStartMs) / 1e3
      val setupParts = bootS + dur(children(setupSpan).map(_.id))
      val sinks = Store.sinks(storePath)
      Seq(
        "setup.boot_s" -> bootS,
        "session.start_s" -> dur(Seq(sessionSpan)),
        "tables.warm_s" -> dur(named("tables", Set(runSpan))),
        "tables.input_bytes" -> inputBytes.toDouble,
        "artifacts.wall_s" -> buildersWallNs / 1e9,
        "artifacts.build_s" -> dur(builderSpans),
        "artifacts.jobs" -> cBuild.jobs.toDouble,
        "artifacts.task_s" -> cBuild.taskMs / 1e3,
        "artifacts.bytes_written" -> afterBuild.bytes.toDouble,
        "artifacts.files" -> afterBuild.files.size.toDouble,
        "artifacts.groups" -> afterBuild.groups.toDouble,
        "artifacts.failed" -> builderFailed.size.toDouble,
        "artifacts.warmup_bytes_written" -> afterSetup.changedBytes(afterBuild).toDouble,
        "artifacts.timed_bytes_written" -> timedWrites.toDouble,
        "sinks.manifest_generations" -> sinks.generations.toDouble,
        "sinks.bytes" -> sinks.bytes.toDouble,
        "sinks.files" -> sinks.files.toDouble,
        "warmup.s" -> dur(named("warmup", Set(runSpan))),
        "construct.s" -> dur(construct) / per,
        "construct.jobs" -> cConstruct.jobs / per,
        "plan.s" -> dur(plan) / per,
        "codegen.compile_s" -> (cg1.compileNs - cg0.compileNs) / 1e9,
        "codegen.classes" -> (cg1.classes - cg0.classes).toDouble,
        "codegen.timed_compile_s" -> (cg2.compileNs - cg1.compileNs) / 1e9 / per,
        "exec.s" -> execS / per,
        "exec.task_s" -> cExec.taskMs / 1e3 / per,
        "exec.core_busy" -> (if (execS > 0) cExec.taskMs / 1e3 / (execS * cpus) else 0.0),
        "exec.jobs" -> cExec.jobs / per,
        "exec.stages" -> cExec.stages / per,
        "exec.tasks" -> cExec.tasks / per,
        "exec.task_failures" -> cExec.taskFailures / per,
        "exec.input_bytes" -> cExec.inputBytes / per,
        "exec.shuffle_write_bytes" -> cExec.shuffleWriteBytes / per,
        "exec.shuffle_read_bytes" -> cExec.shuffleReadBytes / per,
        "exec.spill_bytes" -> cExec.spillBytes / per,
        "exec.gc_s" -> cExec.gcMs / 1e3 / per,
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "trace.query_split_err_max" -> (if (splitErr.isEmpty) 0.0 else splitErr.max),
        "trace.setup_split_err" -> math.abs(setupS - setupParts) / setupS)
    }

    val identity = Seq(
      "workload" -> w.name, "seed" -> o.seed.toString,
      "traced" -> o.trace.toString, "cpus" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "codegen_cache_max_entries" -> sc.getConf.get("spark.sql.codegen.cache.maxEntries", ""),
      "builder_pool" -> math.min(3, cpus).toString,
      "data" -> o.data, "queries" -> w.queries.size.toString,
      "builders" -> tasks.size.toString)

    // Per query: warm-up wall, then the median timed wall and its
    // construct / plan / exec parts.
    val perQuery = {
      val spans = tr.all
      val kids = spans.groupBy(_.parent)
      def secs(s: Trace.Span) = (s.end - s.start) / 1e9
      def part(q: Trace.Span, n: String) =
        kids.getOrElse(q.id, Nil).find(_.name == n).map(secs).getOrElse(0.0)
      val timedSet = passSpans.toSet
      w.queries.sorted.map { name =>
        val qs = spans.filter(_.name == s"q:$name")
        val warm = qs.filter(_.parent == warmSpan).map(secs).headOption.getOrElse(Double.NaN)
        val timed = qs.filter(s => timedSet(s.parent))
        name -> (warm +: (Seq(secs _, (q: Trace.Span) => part(q, "construct"),
          (q: Trace.Span) => part(q, "plan"), (q: Trace.Span) => part(q, "exec"))
          .map(f => median(timed.map(f)))))
      }
    }
    Result(attempted, failures.size.toLong, failures.toList, invalid, passes,
      e2e ++ layers, minted.toList, identity, tr, perQuery, passWalls.toList)
  }

  /** One query, timed as construct + plan + execute. Execution is
    * `toRdd.count()`, or with `collect` (the warm-up pass) a collect whose
    * rows the output check digests. Returns (wall s, row count, rows). */
  private def runQuery(spark: SparkSession, tr: Trace, o: Opts, name: String,
                       parent: Int, collect: Boolean)
      : Either[String, (Double, Long, Array[Row])] = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    tr.span(sc, s"q:$name", parent) { q =>
      val t0 = System.nanoTime()
      try {
        tr.fallback = q
        val df = tr.span(sc, "construct", q)(_ => fn(spark, o.data))
        tr.span(sc, "plan", q)(_ => df.queryExecution.executedPlan)
        val (n, rows) = tr.span(sc, "exec", q) { _ =>
          if (collect) { val rs = df.collect(); (rs.length.toLong, rs) }
          else (df.queryExecution.toRdd.count(), Array.empty[Row])
        }
        Right(((System.nanoTime() - t0) / 1e9, n, rows))
      } catch { case t: Throwable => Left(t.toString) }
    }
  }

  /** The reference's published replay headline, from the BRK trades:
    * 124 round trips compounding to 446.937758 %. */
  private def headline(rows: Array[Row]): Option[String] = {
    val pct = 100.0 * rows.map(r => math.exp(r.getAs[Double]("ret"))).product
    if (rows.length == 124 && math.abs(pct - 446.937758) < 1e-5) None
    else Some(s"replay headline ${rows.length} trades, $pct %; " +
      "expected 124 trades, 446.937758 %")
  }

  val MinPasses = 3

  /** The query order of pass `k`: a permutation drawn from the seed. */
  def order(queries: Seq[String], seed: Long, k: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + k).shuffle(queries.sorted)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private object Codegen {
    final case class Mark(compileNs: Long, classes: Long)
    def now(): Mark = Mark(
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("data"), arg("inputs").split(",").toSeq,
      arg("store"), arg("local-dir"))
    val mint = a.contains("mint")
    val res =
      if (mint) run(o, None, Workloads.families.find(_.name == o.workload))
      else run(o, Some(Digest.readRefs(arg("refs"))))
    if (mint) Files.write(Paths.get(arg("mint")), res.minted.sorted.asJava)
    if (o.trace) Files.writeString(Paths.get(arg("trace-out")), res.trace.toJson)
    val out = Json.obj(Seq(
      "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
      "passes" -> res.passes.toString,
      "pass_walls" -> res.passWalls.map(Json.num).mkString("[", ",", "]"),
      "failures" -> res.failures.map(Json.str).mkString("[", ",", "]"),
      "invalid" -> res.invalid.map(Json.str).mkString("[", ",", "]"),
      "identity" -> Json.obj(res.identity.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(res.metrics.map { case (k, v) => k -> Json.num(v) }),
      "per_query" -> Json.obj(res.perQuery.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") })))
    Files.writeString(Paths.get(arg("out")), out + "\n")
    SparkSession.active.stop()
  }
}

/** Artifact-store accounting, read from the directory tree. */
object Store {
  final case class Snapshot(files: Map[Path, (Long, Long)]) {
    def bytes: Long = files.valuesIterator.map(_._1).sum
    def groups: Int = files.keysIterator.count(_.getFileName.toString == "_GRAFT_OK")
    /** Bytes of files that are new or changed since `before`. */
    def changedBytes(before: Snapshot): Long =
      files.iterator.filter { case (p, v) => !before.files.get(p).contains(v) }
        .map(_._2._1).sum
  }

  def snapshot(root: Path): Snapshot =
    if (!Files.isDirectory(root)) Snapshot(Map.empty)
    else {
      val s = Files.walk(root)
      try Snapshot(s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap)
      finally s.close()
    }

  final case class Sinks(generations: Int, bytes: Long, files: Int)

  /** Manifest-committed sinks: directories holding a `manifest/` dir of
    * `m-<gen>` generation files. */
  def sinks(root: Path): Sinks = {
    val snap = snapshot(root)
    val mfiles = snap.files.keys.filter { p =>
      p.getParent.getFileName.toString == "manifest" &&
        p.getFileName.toString.startsWith("m-")
    }
    val sinkRoots = mfiles.map(_.getParent.getParent).toSet
    val under = snap.files.filter { case (p, _) => sinkRoots.exists(p.startsWith) }
    Sinks(mfiles.size, under.valuesIterator.map(_._1).sum, under.size)
  }
}
