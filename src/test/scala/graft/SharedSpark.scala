package graft

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
}

object SharedSpark {
  val Cores = 4

  private lazy val session: SparkSession = {
    val s = Sessions(Cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
