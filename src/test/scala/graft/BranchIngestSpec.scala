package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r16 branch-by-copy prewarm: a lifecycle fixture whose verbs share a
  * committed PREFIX with another (st9→st15/x58, st6→st7, st8→v32/st18,
  * st10→st12, st11→st13, x57/x60's two-batch base) now COPIES the
  * prefix dir ([[ArtifactStore.branchFrom]]) and applies only its
  * divergent verbs, instead of re-running the corpus-sized ingest.
  * These tests pin the equivalence the refactor rests on: a branched
  * dir taken through the divergent verbs serves EXACTLY what a
  * scratch-built lifecycle serves — rows, fingerprints, manifests. */
class BranchIngestSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("curation: branch+delete+compact serves exactly scratch lifecycle") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "n_chars")
    def ingest(dir: String): Unit =
      (0 to 1).foreach { i =>
        graft.streaming.StreamCurate.appendBatch(dir,
          docs.filter(pmod(col("doc_id"), lit(2)) === i), i.toLong,
          b => b.filter(col("n_chars") > 50).select("doc_id", "text"))
      }
    def verbs(dir: String): Unit = {
      graft.streaming.StreamCurate.deleteCurated(spark, dir,
        docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
      graft.streaming.StreamCurate.compact(spark, dir,
        graft.streaming.StreamCurate.nextCompactId(spark, dir))
    }
    // scratch: ingest + verbs in one dir
    val scratch = tmp("graft-bis-scratch-").toString
    ingest(scratch); verbs(scratch)
    // branch: ingest into a base, commit it, copy, then the same verbs
    val base = tmp("graft-bis-base-")
    ingest(base.toString)
    ArtifactStore.commitDir(base, "bis test base")
    val branch = tmp("graft-bis-branch-")
    ArtifactStore.branchFrom(base.toString, branch)
    assert(!java.nio.file.Files.exists(branch.resolve("_GRAFT_OK")),
      "the store marker must NOT travel with a branch (specs differ)")
    verbs(branch.toString)

    val a = graft.streaming.StreamCurate.load(spark, scratch).get
    val b = graft.streaming.StreamCurate.load(spark, branch.toString).get
    assert(sortedRows(a) == sortedRows(b),
      "branched curation lifecycle diverged from scratch")
    // the maintained fingerprint partials must agree too (st15's serve)
    val fa = graft.streaming.StreamCurate.fingerprintState(spark, scratch)
    val fb = graft.streaming.StreamCurate
      .fingerprintState(spark, branch.toString)
    assert(fa.isDefined == fb.isDefined)
    fa.zip(fb).foreach { case (x, y) =>
      assert(sortedRows(x) == sortedRows(y),
        "branched fingerprint state diverged from scratch") }
  }

  test("bm25: branch+delete+fold serves exactly scratch lifecycle") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def ingest(dir: String): Unit =
      (0 to 1).foreach { i =>
        graft.streaming.StreamBm25.appendBatch(dir,
          docs.filter(pmod(col("doc_id"), lit(2)) === i), i,
          "doc_id", "text")
      }
    def verbs(dir: String): Unit = {
      graft.streaming.StreamBm25.deleteDocs(spark, dir,
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
      graft.streaming.StreamBm25.compactSet(spark, dir,
        graft.streaming.Manifest.read(spark, dir).get,
        into = graft.streaming.StreamBm25.nextCompactId(spark, dir))
    }
    val scratch = tmp("graft-bis-bm-scratch-").toString
    ingest(scratch); verbs(scratch)
    val base = tmp("graft-bis-bm-base-")
    ingest(base.toString)
    val branch = tmp("graft-bis-bm-branch-")
    ArtifactStore.branchFrom(base.toString, branch)
    verbs(branch.toString)

    val a = graft.streaming.StreamBm25.load(spark, scratch).get
    val b = graft.streaming.StreamBm25.load(spark, branch.toString).get
    assert(sortedRows(a.postings) == sortedRows(b.postings))
    assert(sortedRows(a.termDf) == sortedRows(b.termDf))
    assert(sortedRows(a.segStats) == sortedRows(b.segStats))
  }
}
