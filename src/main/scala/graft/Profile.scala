package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Developer profiling main (not part of the driver contract), on a
  * [[Sessions]] session of `SPARK_GRAFT_CPUS` cores. `sfDir` defaults to
  * `/root/testdata/sf0.1`; queries are comma-separated SparkEntry names.
  * {{{
  * sbt "runMain graft.Profile time <queries> [sfDir] [iters] [show]"
  * sbt "runMain graft.Profile jobs <queries> [sfDir] [iters]"
  * sbt "runMain graft.Profile plan <queries> [sfDir] [outDir] [suffix]"
  * sbt "runMain graft.Profile warm [sfDir] [poolSize]"
  * sbt "runMain graft.Profile scale <rows|all> [sfDir] [mults]"
  * }}}
  *  - `time` runs each query solo `iters` times (default 3) after the
  *    table warm-up and splits every iteration's wall into construct
  *    (building the DataFrame, including its eager driver-side work), plan
  *    (`executedPlan`) and exec (`toRdd.count()`, which materializes every
  *    output column). `show` then prints up to 200 rows of each query.
  *  - `jobs` is `time` plus, for the last iteration, every job's wall,
  *    the top 20 stages by task time and the executed plan as it stands
  *    after the run (under AQE the final adaptive plan, with the query
  *    stages, reused exchanges and join choices Spark actually ran).
  *  - `plan` writes each query's formatted plan to
  *    `<outDir>/<name>_<suffix>.txt` (suffix defaults to `before`), or
  *    prints it when no outDir is given.
  *  - `warm` replays Bench's prewarm phase: the table warm-up, then every
  *    shared-artifact builder under [[Graft.warmAll]] (Bench's pool size
  *    unless one is given). It prints the phase wall; per-builder walls go
  *    to stderr. Point `SPARK_GRAFT_ARTIFACT_DIR` at a fresh directory to
  *    time a cold store.
  *  - `scale` times rows on m-fold blow-ups of sfDir ([[Scale]]; mults
  *    comma-separated, default `1,8,64`). A row is a SparkEntry query or
  *    a [[Scale.scenarios]] name; `all` is [[Scale.rows]]. Per dir, each
  *    row runs once to build its shared artifacts for that dir (that
  *    run's wall is the cold column); once every row has, each runs twice
  *    more and the faster is the warm column, with its
  *    construct/plan/exec split. Each dir's
  *    artifacts are released before the next; the exponents between the
  *    two largest multipliers close the run. Point
  *    `SPARK_GRAFT_ARTIFACT_DIR` at a fresh directory so that m = 1
  *    builds cold like the larger multipliers.
  */
object Profile {
  private val Usage =
    "usage: graft.Profile time|jobs|plan <queries> [sfDir] ... | warm [sfDir] [poolSize]" +
      " | scale <rows|all> [sfDir] [mults]"
  private val DefaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (!Set("time", "jobs", "plan", "warm", "scale")(mode) ||
        (mode != "warm" && args.length < 2)) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = Sessions(Sessions.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    val rest = args.drop(1)
    try mode match {
      case "warm" => warm(spark, rest.lift(0).getOrElse(DefaultSf),
        rest.lift(1).map(_.toInt))
      case _ =>
        val names = rest(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val sf = rest.lift(1).getOrElse(DefaultSf)
        if (mode == "scale") scale(spark,
          if (names == Seq("all")) Scale.rows else names, sf,
          rest.lift(2).getOrElse("1,8,64").split(",").map(_.trim.toInt).toSeq.distinct.sorted)
        else if (mode == "plan") plan(spark, names, sf, rest.lift(2),
          rest.lift(3).getOrElse("before"))
        else {
          time(spark, names, sf, rest.lift(2).map(_.toInt).getOrElse(3),
            jobs = mode == "jobs")
          if (mode == "time" && rest.lift(3).contains("show"))
            show(spark, names, sf)
        }
    } finally spark.stop()
  }

  private[graft] def secs(from: Long, to: Long): Double = (to - from) / 1e9

  /** One run of a query: seconds building the DataFrame (including its
    * eager driver-side work), in `executedPlan` and in
    * `toRdd.count()`, and the output rows. */
  private[graft] final case class Run(construct: Double, plan: Double, exec: Double,
                                      rows: Long, df: DataFrame) {
    def wall: Double = construct + plan + exec
    def split: String = f"$wall%.2f s = construct $construct%.2f + plan " +
      f"$plan%.2f + exec $exec%.2f ($rows rows)"
  }

  private[graft] def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
                         sf: String): Run = {
    val t0 = System.nanoTime()
    val df = fn(spark, sf)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    val t3 = System.nanoTime()
    Run(secs(t0, t1), secs(t1, t2), secs(t2, t3), n, df)
  }

  private def time(spark: SparkSession, names: Seq[String], sf: String,
                   iters: Int, jobs: Boolean): Unit = {
    Tables.warm(spark, sf)
    val log = new JobLog
    if (jobs) spark.sparkContext.addSparkListener(log)
    names.foreach { nm =>
      val fn = SparkEntry.queries(nm)
      (0 until iters).foreach { i =>
        val last = i == iters - 1
        if (jobs && last) log.start()
        val r = run(spark, fn, sf)
        println(s"[profile] $nm iter $i: ${r.split}")
        if (jobs && last) {
          log.report()
          // read after the run, so AQE's re-planned stages are in it
          val ran = r.df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          println("[profile] final plan:")
          ran.toString.linesIterator.foreach(l => println(s"[profile]   $l"))
        }
      }
    }
  }

  /** Per multiplier, each row's cold wall and faster warm run on that
    * dir (a failed row is named and left out), then the exponents
    * between the two largest multipliers. Every row's cold run comes
    * before any warm run on the dir, so the first rows' warm runs do not
    * share the JVM's early JIT compilation with the rows after them. */
  private def scale(spark: SparkSession, rows: Seq[String], sf: String,
                    mults: Seq[Int]): Unit = {
    def attempt[T](nm: String, m: Int)(body: => T): Option[T] =
      try Some(body) catch { case NonFatal(t) =>
        println(s"[scale] $nm m=$m failed: $t")
        None
      }
    val cells = mults.map { m =>
      val d = Scale.dir(spark, sf, m)
      Tables.warm(spark, d)
      val cold = rows.flatMap(nm =>
        attempt(nm, m)(nm -> run(spark, Scale.row(nm), d).wall)).toMap
      val done = rows.filter(cold.contains).flatMap(nm => attempt(nm, m) {
        val fn = Scale.row(nm)
        val warm = Seq(run(spark, fn, d), run(spark, fn, d)).minBy(_.wall)
        println(f"[scale] $nm m=$m: cold ${cold(nm)}%.2f s, warm ${warm.split}")
        nm -> (cold(nm), warm.wall)
      })
      Graft.clearCaches()
      m -> done.toMap
    }
    if (mults.length >= 2) {
      val Seq((m1, a), (m2, b)) = cells.takeRight(2)
      def exp(t1: Double, t2: Double) = math.log(t2 / t1) / math.log(m2.toDouble / m1)
      println(s"[scale] exponents m=$m1 -> m=$m2 (1.0 = linear, 2.0 = quadratic):")
      rows.foreach { nm =>
        (a.get(nm), b.get(nm)) match {
          case (Some((c1, w1)), Some((c2, w2))) => println(
            f"[scale]   $nm%-28s cold ${exp(c1, c2)}%5.2f  warm ${exp(w1, w2)}%5.2f")
          case _ => println(f"[scale]   $nm%-28s failed")
        }
      }
    }
  }

  /** Rows of each query, for authoring literal oracles. collect(), not
    * show(): executeTake on unions of tiny multi-split Ranges can return
    * empty while the full plan has rows. */
  private def show(spark: SparkSession, names: Seq[String], sf: String): Unit =
    names.foreach { nm =>
      val df = SparkEntry.queries(nm)(spark, sf)
      println(df.columns.mkString(s"[show:$nm] ", " | ", ""))
      df.collect().take(200).foreach(r => println(s"[show:$nm] $r"))
    }

  private def plan(spark: SparkSession, names: Seq[String], sf: String,
                   outDir: Option[String], suffix: String): Unit = {
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { nm =>
      val plan = SparkEntry.queries(nm)(spark, sf)
        .queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"${nm}_$suffix.txt"), plan)
          println(s"[profile] wrote ${nm}_$suffix.txt (${plan.length} chars)")
        case None => println(plan)
      }
    }
  }

  private def warm(spark: SparkSession, sf: String,
                   poolSize: Option[Int]): Unit = {
    Tables.warm(spark, sf)
    val pool = poolSize.getOrElse(Graft.prewarmPoolSize(Sessions.envCores))
    val t0 = System.nanoTime()
    Graft.warmAll(spark, Graft.prewarmTasks(spark, sf), pool)
    println(f"[profile] prematerialize wall: ${secs(t0, System.nanoTime())}%.1f s (pool=$pool)")
  }

  /** Job walls and stage task times of the jobs that start between
    * `start()` and `report()`. */
  private final class JobLog extends SparkListener {
    @volatile private var on = false
    // job id -> (description, start ms, wall ms or -1 while running)
    private val jobs = new ConcurrentHashMap[Int, (String, Long, Long)]()
    // stage id -> (name, task ms, tasks)
    private val stages = new ConcurrentHashMap[Int, (String, Long, Int)]()

    def start(): Unit = { jobs.clear(); stages.clear(); on = true }

    override def onJobStart(js: SparkListenerJobStart): Unit = if (on) {
      val desc = Option(js.properties.getProperty("spark.job.description"))
        .orElse(Option(js.properties.getProperty("callSite.short")))
        .getOrElse("")
      jobs.put(js.jobId, (desc, js.time, -1L))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(je.jobId, (_, j) => j.copy(_3 = je.time - j._2))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (on) {
        val si = sc.stageInfo
        stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(60),
          si.taskMetrics.executorRunTime, si.numTasks))
      }

    def report(): Unit = {
      on = false
      Thread.sleep(300) // the listener bus is asynchronous: let it drain
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(s"[profile] jobs: ${js.size}, " +
        f"job-wall sum: ${js.map(_._2._3).sum / 1e3}%.2f s")
      js.foreach { case (id, (desc, _, ms)) => println(
        f"[profile]   job $id%4d ${ms / 1e3}%6.2f s  ${desc.take(80)}") }
      println("[profile] top stages by task-time:")
      stages.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
        case (sid, (nm, ms, nt)) => println(
          f"[profile]   stage $sid%5d ${ms / 1e3}%7.2f task-s  $nt%4d tasks  $nm")
      }
    }
  }
}
