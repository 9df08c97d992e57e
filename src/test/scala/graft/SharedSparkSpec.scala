package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The isolation contract of [[SharedSpark]]: `withSQLConf` always puts
  * the session back as it found it, and no source opens a session or sets
  * config around it, so suites sharing the session cannot leak settings
  * into each other. */
class SharedSparkSpec extends AnyFunSuite with SharedSpark {
  private val partitions = "spark.sql.shuffle.partitions"
  private val broadcast = "spark.sql.autoBroadcastJoinThreshold"
  private def isSet(key: String) = spark.conf.getAll.contains(key)

  test("withSQLConf restores a key that was set before") {
    assert(isSet(partitions))
    val before = spark.conf.get(partitions)
    withSQLConf(partitions -> "7") {
      assert(spark.conf.get(partitions) == "7")
    }
    assert(spark.conf.get(partitions) == before)
  }

  test("withSQLConf unsets a key that was unset before") {
    assert(!isSet(broadcast))
    withSQLConf(broadcast -> "-1") {
      assert(spark.conf.get(broadcast) == "-1")
    }
    assert(!isSet(broadcast))
  }

  test("withSQLConf restores both kinds of key when the body throws") {
    val before = spark.conf.get(partitions)
    val thrown = intercept[IllegalStateException] {
      withSQLConf(partitions -> "3", broadcast -> "-1") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(spark.conf.get(partitions) == before)
    assert(!isSet(broadcast))
  }

  /** Scala sources under `root` (relative to the project root, where the
    * test JVM runs) whose text matches `p`, as file names. */
  private def sourcesMatching(root: String)(p: String => Boolean): Set[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && p(Files.readString(f)))
      .map((f: Path) => f.getFileName.toString).toSet
    finally files.close()
  }

  // built from pieces so this file does not match its own patterns
  private val builder = "SparkSession" + ".builder"
  private val confWrite = """\bconf\.(set|unset)\(""".r

  test("under src/main only the Sessions factory calls the session builder") {
    assert(sourcesMatching("src/main/scala")(_.contains(builder)) ==
      Set("Sessions.scala"))
  }

  test("under src/test only SharedSpark calls the session builder or sets config") {
    assert(sourcesMatching("src/test/scala")(_.contains(builder))
      .subsetOf(Set("SharedSpark.scala")))
    assert(sourcesMatching("src/test/scala")(s =>
      confWrite.findFirstIn(s).isDefined) == Set("SharedSpark.scala"))
  }
}
