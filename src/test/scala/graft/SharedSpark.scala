package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}

/** The battery's one SparkSession, taken from [[Sessions]] at
  * [[SharedSpark.Cores]] cores and shared by every suite in the test JVM.
  *
  * Suites run one after another on that session, so a suite changes SQL
  * config only through [[withSQLConf]], which puts every key back when the
  * body ends — even when it throws. A setting the whole suite needs goes in
  * [[suiteConf]], applied around each test the same way. Nothing a suite
  * sets can leak into the next one. `SharedSparkSpec` checks both the
  * restore behaviour and that no suite opens its own builder or sets
  * config by hand.
  */
trait SharedSpark extends TestSuite {
  protected lazy val spark: SparkSession = SharedSpark.session

  /** SQL settings every test of the suite runs under. */
  protected def suiteConf: Seq[(String, String)] = Nil

  override protected def withFixture(test: NoArgTest): Outcome =
    withSQLConf(suiteConf: _*)(super.withFixture(test))

  /** Run `body` with the given SQL settings, then restore each key to its
    * earlier value, or unset it if it was unset. */
  protected def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    // getAll holds only the keys set on the session, not defaults
    val set = conf.getAll
    val before = pairs.map { case (k, _) => k -> set.get(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Spark jobs that `body` starts from this thread. Listener events
    * arrive asynchronously but in order, so once a marker job run after
    * `body` is seen, every job `body` started has been seen too. */
  protected def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${System.nanoTime}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}

object SharedSpark {
  val Cores = 4

  private lazy val session: SparkSession = {
    val s = Sessions(Cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
