package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ManagedSink, Manifest, StreamBm25, StreamClusters,
  StreamContainment, StreamCurate, StreamIvf, StreamNgramDf}

/** The sink contract ([[graft.streaming.ManagedSink]]). Source guards:
  * the shared maintenance verbs and the commit protocol (lost-CAS
  * cleanup, reset refusal, merged-id check) are implemented once, in
  * the contract, and [[graft.streaming.Takedown]]'s maintenance verbs
  * drive the sinks through it — so per-sink copies cannot come back one
  * sink at a time. Behaviour: the staged commit's lost-CAS cleanup, and
  * the append entry's negative-id refusal on every sink. */
class ManagedSinkSpec extends AnyFunSuite with SharedSpark {

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
  private val sharedCall =
    ("Manifest" + """\.(vacuumHistory|vacuumPlan|vacuumPlanBytes|claimNegId)\s*\(""").r

  private val protocolCopies = Seq(
    "a lost-CAS catch" -> ("ConcurrentModification" + """Exception\s*=>""").r,
    "the reset refusal" -> ("already " + "committed in").r,
    "the merged-id check" -> ("require\\(into " + """<\s*0""").r)

  test("under src/main only the sink contract catches a lost CAS, refuses a reset or checks a merged id") {
    protocolCopies.foreach { case (what, re) =>
      assert(sourcesMatching("src/main/scala")(s =>
        re.findFirstIn(s).isDefined) == Set("ManagedSink.scala"),
        s"$what outside ManagedSink.scala")
    }
  }

  test("under src/main only the sink contract calls the shared Manifest maintenance verbs") {
    assert(sourcesMatching("src/main/scala")(s =>
      sharedCall.findFirstIn(s).isDefined) == Set("ManagedSink.scala"))
  }

  test("Takedown's maintenance verbs name no sink object") {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/streaming/Takedown.scala")).asScala.toSeq
    val sinkObject = ("Stream" + """[A-Z]\w*""").r
    Seq("maintenanceReport", "retentionReport", "retentionBytesReport",
      "maintain", "reclaim").foreach { verb =>
      val start = lines.indexWhere(_.startsWith(s"  def $verb("))
      assert(start >= 0, s"def $verb not found in Takedown.scala")
      // the body runs to the next member at the object's indentation
      val body = lines.drop(start).takeWhile(l => !l.startsWith("  /**") &&
        !l.startsWith("  private ") && !(l.startsWith("  def ") &&
          !l.startsWith(s"  def $verb(")))
        .map(_.replaceAll("//.*", ""))
      val named = body.flatMap(sinkObject.findAllIn(_)).distinct
      assert(named.isEmpty, s"Takedown.$verb names sink objects: $named")
    }
  }

  /** A bare sink over one `parts` family that exposes the contract's
    * staged commit. */
  private object ProbeSink extends ManagedSink {
    protected def vacuumFamilies(dir: String): Seq[(String, String)] =
      Seq(s"$dir/parts" -> "batch_id=")
    protected def ledgerFamilies(dir: String): Seq[(String, String)] =
      vacuumFamilies(dir)
    def commit(s: SparkSession, dir: String, live: Manifest.Live,
               basedOn: Int, staged: Seq[String]): Unit =
      commitStaged(s, dir, live, basedOn, staged)
  }

  test("a staged commit that loses its CAS deletes what it staged, rethrows and commits nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mstaged").toString
    Manifest.commitLiveAfter(spark, dir,
      Manifest.Live(Set(0), Set.empty), basedOn = -1)
    Manifest.commitLiveAfter(spark, dir,
      Manifest.Live(Set(0, 1), Set.empty), basedOn = 0)
    val staged = Seq(s"$dir/parts/batch_id=-1", s"$dir/fpstate/batch_id=-1")
    def stage(): Unit =
      staged.foreach(p => Seq(1L).toDF("id").write.parquet(p))
    stage()
    // based on generation 0, but generation 1 is already committed
    intercept[java.util.ConcurrentModificationException] {
      ProbeSink.commit(spark, dir, Manifest.Live(Set(0, -1), Set.empty),
        basedOn = 0, staged)
    }
    staged.foreach(p =>
      assert(!Files.exists(Paths.get(p)), s"$p must be reclaimed"))
    assert(Manifest.generations(spark, dir) == Seq(0, 1))
    assert(Manifest.readLiveAt(spark, dir, None).get.data == Set(0, 1))
    // based on the latest generation, the same commit flips and keeps
    // its partitions
    stage()
    ProbeSink.commit(spark, dir, Manifest.Live(Set(0, 1, -1), Set.empty),
      basedOn = 1, staged)
    assert(Manifest.generations(spark, dir) == Seq(0, 1, 2))
    assert(Manifest.readLiveAt(spark, dir, None).get.data == Set(0, 1, -1))
    staged.foreach(p => assert(Files.exists(Paths.get(p)), p))
  }

  test("every sink's public append refuses a negative batch id before touching its dir") {
    import spark.implicits._
    val docs = Seq(1L -> "apples and pears").toDF("doc_id", "text")
    val appends: Seq[(String, String => Unit)] = Seq(
      "StreamBm25" -> (StreamBm25.appendBatch(_, docs, -1L, "doc_id", "text")),
      "StreamIvf" -> (StreamIvf.appendBatch(_,
        Seq(1L -> Seq(1.0, 0.0)).toDF("vec_id", "vec"), -1L, "vec_id", "vec",
        nCells = 1)),
      "StreamClusters" -> (StreamClusters.appendBatch(_,
        Seq(1L -> 2L).toDF("id1", "id2"), -1L)),
      "StreamCurate" -> (StreamCurate.appendBatch(_, docs, -1L, identity)),
      "StreamNgramDf" -> (StreamNgramDf.appendBatch(_, docs, -1L)),
      "StreamContainment" -> (StreamContainment.appendBatch(_, docs, -1L)))
    appends.foreach { case (name, append) =>
      val dir = Files.createTempDirectory("mnegid")
      intercept[IllegalArgumentException](append(dir.toString))
      val written = Files.list(dir)
      try assert(written.count() == 0, s"$name wrote under $dir")
      finally written.close()
    }
  }
}
