package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Every entry point (`Bench`, `Verify`,
  * `Profile` — its `scale` mode included — `EntrySmoke`,
  * `RefFixtureGen`) and the test battery's shared session take their
  * SparkSession from here, so the settings they share are written once:
  *  - `local[n]` with n shuffle partitions;
  *  - UTC session time zone — the backtest timestamps are only right
  *    under it (`Tables.events` casts NTZ micros to session-TZ instants);
  *  - UI off, AQE on;
  *  - a 10,000-entry codegen class cache (static conf; the 100-entry
  *    default recompiled nearly every whole-stage fragment of a 210-query
  *    sweep on the driver);
  *  - FAIR scheduling. A job that names no pool runs FIFO in the default
  *    pool, so only `Bench`, which names one pool per query, sees a
  *    difference: concurrent queries share the cores instead of the heavy
  *    ones starving the small ones.
  *
  * `getOrCreate` makes the call idempotent: a second call in the same JVM
  * returns the running session (its static settings, master included,
  * are those of the first call).
  */
object Sessions {

  /** Core count of the entry points: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()
}
