package graft.perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own test: every query belongs to exactly one workload
  * family, every timed mix stays inside its family, and one untimed pass
  * of each family on sf0.001 passes the output check, which must catch a
  * corrupted reference digest. Run with `sbt perfbench/test` from
  * `perfbench/`.
  */
class WorkloadsSpec extends AnyFunSuite {

  private val data = "perfbench/data/sf0.001"
  private val refs = Digest.readRefs("perfbench/references.tsv")

  test("every SparkEntry query belongs to exactly one workload family") {
    val names = graft.SparkEntry.queries.keySet
    val owners = Workloads.families.flatMap(f => f.queries.map(_ -> f.name))
      .groupBy(_._1).map { case (q, fs) => q -> fs.map(_._2) }
    val unassigned = names.filterNot(owners.contains)
    val twice = owners.filter(_._2.size > 1)
    val unknown = owners.keySet.diff(names)
    assert(unassigned.isEmpty, s"queries in no workload: $unassigned")
    assert(twice.isEmpty, s"queries in two workloads: $twice")
    assert(unknown.isEmpty, s"workload names that are not queries: $unknown")
    assert(refs.keySet == names, "references.tsv must cover exactly the queries")
  }

  test("each timed mix is a subset of its family with its builders declared") {
    Workloads.timed.foreach { w =>
      val fam = Workloads.families.find(_.name == w.name)
      assert(fam.nonEmpty, s"timed mix ${w.name} has no family")
      val outside = w.queries.filterNot(fam.get.queries.toSet)
      assert(outside.isEmpty, s"${w.name}: mix queries outside the family: $outside")
      assert(w.queries.distinct.size == w.queries.size)
    }
  }

  test("one pass of each family passes the output check and catches a corrupted digest") {
    val store = Paths.get(sys.env("SPARK_GRAFT_ARTIFACT_DIR"))
    if (Files.exists(store)) // an empty store: every builder runs
      Files.walk(store).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    Workloads.families.foreach { w =>
      val victim = w.queries.sorted.head
      val bad = refs.updated(victim, refs(victim).copy(digest = "0" * 16))
      val res = Harness.run(Harness.Opts(w.name, seed = 7, seconds = 0,
        trace = false, data = data, inputDirs = Seq(data), store = store.toString,
        localDir = "perfbench/target/test-local", maxPasses = 0),
        Some(bad), Some(w))
      assert(res.failures.size == 1 && res.failures.head.startsWith(s"$victim:"),
        s"${w.name}: expected only the corrupted $victim to fail, got ${res.failures}")
      // builders + the two warm-up passes, no timed pass
      assert(res.attempted == 2 * w.queries.size + Workloads.tasks(w,
        org.apache.spark.sql.SparkSession.active, data).size)
    }
  }
}
