package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards for the artifact memo ([[Artifact]]): the query modules memoize
  * only through it, the prewarm DAG keeps its builder names and edges, and
  * a dependency declared below its dependent is refused when the
  * declaring object initialises. */
class ArtifactSpec extends AnyFunSuite {

  test("no hand-rolled memo or store-or-temp dir block under queries") {
    val queries = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(queries), s"$queries not found from ${Paths.get("").toAbsolutePath}")
    // built from pieces so this file does not match its own patterns
    val banned = Seq("Trie" + "Map", "getOrElse" + "Update", "dirArtifact" + "(")
    val files = Files.walk(queries)
    val hits = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => banned.filter(Files.readString(f).contains)
        .map(b => s"${f.getFileName}: $b"))
      .toList
    finally files.close()
    assert(hits.isEmpty, s"use graft.Artifact instead: $hits")
  }

  test("the prewarm DAG keeps its 49 builder names and edges, in order") {
    val expected = Seq(
      "intradayFold" -> Nil, "replayFold" -> Nil,
      "takedownContainment" -> Nil, "prebuiltSegmented" -> Nil,
      "cascadeRoot" -> Nil, "containmentIndex" -> Nil,
      "streamedCuration" -> Nil, "foldReleaseRoot" -> Nil,
      "realPairClusters" -> Nil, "fpCuration" -> Seq("streamedCuration"),
      "chainClusters" -> Nil, "takedownCuration" -> Seq("streamedCuration"),
      "admissionDecisions" -> Nil, "streamedClusters" -> Nil,
      "benchSegBloom" -> Nil, "takedownClusters" -> Seq("streamedClusters"),
      "docSignals" -> Nil, "prebuiltMerged" -> Nil,
      "maintainedRoot" -> Seq("cascadeRoot"), "gcReport" -> Seq("cascadeRoot"),
      "streamedNgramDf" -> Nil, "takedownNgramDf" -> Seq("streamedNgramDf"),
      "deltaReleaseRoot" -> Seq("cascadeRoot"),
      "releaseRoot" -> Seq("cascadeRoot"), "corpusSigIndex" -> Nil,
      "corpusClusterTable" -> Nil, "ngramDfIndex" -> Nil,
      "vecCorpus" -> Nil, "prebuiltRag" -> Seq("vecCorpus"),
      "prebuiltIvf" -> Seq("vecCorpus"), "prebuiltPq" -> Seq("prebuiltIvf"),
      "prebuiltHybrid" -> Seq("prebuiltRag"), "streamedIvf" -> Seq("vecCorpus"),
      "takedownIvf" -> Seq("streamedIvf"),
      "prebuiltFilteredIvf" -> Seq("vecCorpus"),
      "fpIvfDir" -> Seq("streamedIvf"), "prebuiltHier" -> Seq("prebuiltIvf"),
      "prebuiltEvalExact" -> Seq("prebuiltHybrid"),
      "semanticIvfIndex" -> Seq("vecCorpus"),
      "prebuiltDriftedIvf" -> Seq("prebuiltIvf"),
      "prebuiltExactL2" -> Seq("vecCorpus"), "semanticIndex" -> Seq("vecCorpus"),
      "streamedBm25" -> Nil, "bm25TwoBatchBase" -> Nil,
      "compactedBm25" -> Seq("streamedBm25"),
      "takedownBm25" -> Seq("bm25TwoBatchBase"),
      "blocklistBm25" -> Seq("bm25TwoBatchBase"), "fpBm25Dir" -> Nil,
      "mediaFingerprintIndex" -> Nil)
    assert(expected.size == 49)
    // listing the tasks builds nothing: every thunk stays unforced
    val tasks = try Graft.prewarmTasks(null, "unused") catch {
      case e: ExceptionInInitializerError => fail(s"a query module failed to initialise: ${e.getCause}")
    }
    assert(tasks.map { case (n, deps, _) => n -> deps } == expected)
  }

  test("a dependency declared below its dependent fails object initialisation") {
    val e = intercept[Throwable](ArtifactSpec.ForwardDep.late) match {
      case x: ExceptionInInitializerError => x.getCause
      case x => x
    }
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage.contains("artifact early"))
  }

  test("an artifact builds once per key and rebuilds after clearCaches") {
    var builds = 0
    val a = Artifact("counted") { (_, d) => builds += 1; d.length }
    assert(a(null, "abc") == 3 && a(null, "abc") == 3 && builds == 1)
    assert(a(null, "ab") == 2 && builds == 2)
    Graft.clearCaches()
    assert(a(null, "abc") == 3 && builds == 3)
  }
}

object ArtifactSpec {
  object ForwardDep {
    val early: Artifact[Int] = Artifact("early", late) { (_, _) => 1 }
    val late: Artifact[Int] = Artifact("late") { (_, _) => 2 }
  }
}
