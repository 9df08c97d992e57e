package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the sink contract ([[graft.streaming.ManagedSink]]):
  * the shared maintenance verbs are implemented once, in the contract,
  * and [[graft.streaming.Takedown]]'s maintenance verbs drive the sinks
  * through it — so per-sink copies of the vacuum/allocation verbs or of
  * the six-way dispatch cannot come back one sink at a time. */
class ManagedSinkSpec extends AnyFunSuite {

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
}
