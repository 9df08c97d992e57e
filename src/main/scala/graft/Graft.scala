package graft

/** Library-embedder lifecycle hooks.
  *
  * The query modules memoize their expensive shared intermediates per
  * (SparkSession, sfDir) as [[Artifact]]s: the backtest and replay folds,
  * the cluster, signal, signature and n-gram tables, the BM25, IVF, PQ,
  * RAG and hybrid indexes, the streamed sinks and their takedown
  * lifecycles, and the cascade and release roots. That is the right
  * lifetime for the bench/verify harness (entries die with the session),
  * but a long-running service embedding this library would retain the
  * persisted blocks, checkpoint RDDs and temp sink dirs forever. This
  * hook releases them explicitly; the next query that needs an
  * intermediate rebuilds it (CacheLifecycleSpec proves rebuild-after-clear
  * returns identical results).
  */
object Graft {

  /** Unpersist and drop every memoized shared intermediate: release every
    * artifact's values, delete the tracked temp dirs (store off), then
    * drop the memos, so no memo can hand out a deleted dir. Cached blocks
    * are released immediately; severed checkpoint RDDs fall to the
    * ContextCleaner once unreferenced. Safe to call at any point between
    * queries; concurrent in-flight queries keep their plans (a Spark
    * unpersist does not fail running jobs, it just recomputes). */
  def clearCaches(): Unit = {
    val all = Artifact.all
    all.foreach(_.releaseAll())
    Artifact.deleteTempDirs()
    all.foreach(_.drop())
  }

  /** Every shared-artifact build task, in topological order: the intraday
    * and replay folds, then the `TextQ`, `VectorQ` and `ExtQ` lists.
    * `Bench` and `Profile warm` run it through [[warmAll]]. */
  private[graft] def prewarmTasks(spark: org.apache.spark.sql.SparkSession,
                                  sfDir: String)
      : Seq[(String, Seq[String], () => Unit)] =
    Seq(("intradayFold", Seq.empty[String],
          () => queries.BacktestQ.prewarm(spark, sfDir)),
        ("replayFold", Seq.empty[String],
          () => queries.ReplayQ.prewarm(spark))) ++
      queries.TextQ.prewarmTasks(spark, sfDir) ++
      queries.VectorQ.prewarmTasks(spark, sfDir) ++
      queries.ExtQ.prewarmTasks(spark, sfDir)

  /** Prewarm pool size on `cores` cores: 3 at the driver's low-core run,
    * 8 from 32 cores up. */
  private[graft] def prewarmPoolSize(cores: Int): Int =
    math.min(8, math.max(3, cores / 4))

  /** DAG-parallel prewarm scheduler (r15): run `(name, deps, thunk)` build
    * tasks on a bounded pool, each task starting the moment its declared
    * dependencies complete. The r14 shape ran the five module legs on a
    * 3-thread pool with each leg SEQUENTIAL inside — the TextQ leg's 26
    * builders summed to ~425 s cold and were the whole prematerialize
    * wall (56% of the cold-store suite wall, r15 measurement). Tasks must
    * be declared in topological order (a dep named later, or a duplicate
    * task name, is refused with a `require`); failures stay isolated
    * per-builder ([[warm]]) so dependents fall back to their own lazy
    * builds exactly as before. */
  private[graft] def warmAll(spark: org.apache.spark.sql.SparkSession,
                             tasks: Seq[(String, Seq[String], () => Unit)],
                             poolSize: Int): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, poolSize))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = scala.collection.mutable.Map.empty[String, Future[Unit]]
    val all = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    tasks.foreach { case (name, deps, thunk) =>
      // ADVICE r15: a duplicate task name would shadow the first future in
      // the name-keyed map and warmAll could return mid-build — refuse it.
      require(!done.contains(name), s"duplicate prewarm task name: $name")
      // ADVICE r15: a dep declared after its dependent used to be silently
      // dropped (deps.flatMap(done.get)); the lists are reordered by
      // per-round measurements, so catch a broken edge loudly at dev time.
      deps.foreach(d => require(done.contains(d),
        s"prewarm task '$name' declares dep '$d' not yet defined — " +
          "tasks must be listed in topological order"))
      val depF = Future.sequence(deps.map(done(_)))
      val f = depF.map { _ =>
        // job group is thread-local — set it on every pool thread a task
        // lands on, clear after (the Bench attribution contract).
        // ADVICE r15: the whole body (including setJobGroup, which throws
        // on a stopped SparkContext) stays inside the survivable catch.
        warm(name) {
          spark.sparkContext.setJobGroup("prematerialize",
            "shared intermediates")
          try thunk()
          finally spark.sparkContext.clearJobGroup()
        }
      }
      done(name) = f
      all += f
    }
    all.foreach(Await.result(_, Duration.Inf))
    pool.shutdown()
  }

  /** Run independent build legs of ONE artifact concurrently (r15): used
    * by multi-sink fixture builders (e.g. the six-sink cascade ingest)
    * whose legs write disjoint directories — per-leg content is
    * deterministic, so concurrency changes wall, never bytes. The
    * caller thread's job group and scheduler pool are propagated to
    * each leg thread (both are thread-local) so bench attribution is
    * unchanged whether the builder runs under prewarm or lazily inside
    * a timed query. */
  private[graft] def parLegs(s: org.apache.spark.sql.SparkSession)
                            (legs: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val grp = s.sparkContext.getLocalProperty("spark.jobGroup.id")
    val desc = s.sparkContext.getLocalProperty("spark.job.description")
    val pool = s.sparkContext.getLocalProperty("spark.scheduler.pool")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = legs.map(l => Future {
      if (grp != null) s.sparkContext.setJobGroup(grp,
        if (desc != null) desc else grp)
      if (pool != null)
        s.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      try l()
      finally {
        s.sparkContext.clearJobGroup()
        s.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    })
    // ADVICE r15 (medium): await EVERY leg before returning or throwing.
    // Fail-fast awaiting left orphan legs appending into a directory a
    // memoized builder could delete-and-rebuild on lazy retry — a silently
    // corrupted artifact committed with a valid marker. Record the first
    // failure, let all legs finish, then rethrow.
    var firstFailure: Throwable = null
    futures.foreach { f =>
      try Await.result(f, Duration.Inf)
      catch { case t: Throwable =>
        if (firstFailure == null) firstFailure = t
      }
    }
    if (firstFailure != null) throw firstFailure
  }

  /** Prewarm-builder isolation: run one shared-artifact build, log-and-
    * continue on failure. A prewarm leg is a SEQUENCE of builders; an
    * exception in the first used to silently skip every later builder
    * in the leg, pushing whole artifact builds into timed bench queries
    * (and, when the failure is persistent, into EVERY sweep — the r12
    * driver-bench signature). Failures stay survivable (consumers build
    * lazily) but are now contained to one builder and always named. */
  private[graft] def warm(name: String)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    try { f; () } catch {
      case t: Throwable =>
        System.err.println(
          s"[prewarm] $name FAILED (its consumers will build lazily " +
            s"inside their own timing): $t")
    } finally {
      // per-builder wall on stderr: the prematerialize phase is >half the
      // cold-store suite wall (r15 measurement), so its hot spots must be
      // nameable without a profiler
      System.err.println(f"[prewarm] $name took " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }
}
