package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming.{Manifest, StreamBm25, StreamIvf}

/** Maintained fingerprints on the BM25 and IVF sinks
  * ([[StreamBm25.fingerprintState]] / [[StreamIvf.fingerprintState]] —
  * the st15 pattern generalized, VERDICT r11 #4): the O(state) serve
  * must equal the full-scan [[TextOps.corpusFingerprint]] of the served
  * index at EVERY lifecycle point — append, delete, partial fold (BM25:
  * tombstones kept, raw partials carried), full fold, vacuum,
  * all-deleted — and must refuse (None) on pre-upgrade coverage, with
  * compaction as the migration path. */
class SinkFingerprintSpec extends AnyFunSuite with SharedSpark {
  private val body = "the quick brown fox jumps over the lazy dog near "

  private def docs(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, body + (s"tail$i " * (1 + (i % 3).toInt)).trim))
      .toDF("doc_id", "text")
  }

  private def stateOf(df: Option[DataFrame]): Option[(Long, Option[Long])] =
    df.map { d =>
      val r = d.collect().head
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
    }

  /** Scan form over the SERVED rows — the equality target. */
  private def scanFp(rows: DataFrame, keyCols: Seq[String])
      : (Long, Option[Long]) = {
    val r = TextOps.corpusFingerprint(rows, keyCols.sorted, Seq.empty)
      .collect().head
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  // ---- BM25 ---------------------------------------------------------

  private def bm25Scan(dir: String): (Long, Option[Long]) =
    scanFp(StreamBm25.load(spark, dir).get.postings
      .select("key", "dl").distinct(), Seq("dl", "key"))
  private def bm25State(dir: String): Option[(Long, Option[Long])] =
    stateOf(StreamBm25.fingerprintState(spark, dir))

  test("bm25: state equals scan at every lifecycle point") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25fp").toString
    StreamBm25.appendBatch(dir, docs(1, 2, 3), 0, "doc_id", "text")
    assert(bm25State(dir).contains(bm25Scan(dir)), "after first append")
    StreamBm25.appendBatch(dir, docs(4, 5), 1, "doc_id", "text")
    StreamBm25.appendBatch(dir, docs(6, 7), 2, "doc_id", "text")
    assert(bm25State(dir).contains(bm25Scan(dir)), "after three appends")
    // takedown: negative partial rides the tombstone
    StreamBm25.deleteDocs(spark, dir, Seq(2L, 6L).toDF("doc_id"), "doc_id")
    assert(bm25State(dir).contains(bm25Scan(dir)), "after delete")
    assert(bm25State(dir).get._1 == 5L, "count reflects the takedown")
    // PARTIAL fold (segments 0+1 only): tombstones stay live — the
    // merged partial must carry the RAW folded contributions or the
    // kept negatives would double-subtract
    StreamBm25.compactSet(spark, dir, Set(0, 1),
      into = StreamBm25.nextCompactId(spark, dir))
    assert(bm25State(dir).contains(bm25Scan(dir)), "after PARTIAL fold")
    // FULL fold: tombstones absorbed, exact base minted
    StreamBm25.compactSet(spark, dir,
      Manifest.read(spark, dir).getOrElse(Set.empty),
      into = StreamBm25.nextCompactId(spark, dir))
    assert(bm25State(dir).contains(bm25Scan(dir)), "after FULL fold")
    StreamBm25.vacuum(spark, dir)
    assert(bm25State(dir).contains(bm25Scan(dir)), "after vacuum")
    // and appends keep folding on top
    StreamBm25.appendBatch(dir, docs(8), 9, "doc_id", "text")
    assert(bm25State(dir).contains(bm25Scan(dir)), "append after fold")
  }

  test("bm25: pre-upgrade coverage refused; a full fold migrates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25fpmig").toString
    StreamBm25.appendBatch(dir, docs(1, 2), 0, "doc_id", "text")
    StreamBm25.appendBatch(dir, docs(3), 1, "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/fpstate/batch_id=0"), true) // simulate pre-upgrade segment
    assert(bm25State(dir).isEmpty,
      "unprovable coverage must refuse, not serve a wrong checksum")
    StreamBm25.compactSet(spark, dir,
      Manifest.read(spark, dir).getOrElse(Set.empty),
      into = StreamBm25.nextCompactId(spark, dir))
    assert(bm25State(dir).contains(bm25Scan(dir)), "full fold mints the base")
  }

  // ---- IVF ----------------------------------------------------------

  private def vecs(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 + 1).toDouble)))
      .toDF("vec_id", "vec")
  }
  private def ivfScan(dir: String): (Long, Option[Long]) =
    scanFp(StreamIvf.load(spark, dir, "vec_id", "vec").get.postings
      .select("vec_id").distinct(), Seq("vec_id"))
  private def ivfState(dir: String): Option[(Long, Option[Long])] =
    stateOf(StreamIvf.fingerprintState(spark, dir))

  test("ivf: state equals scan at every lifecycle point, incl. all-deleted (0, NULL)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivffp").toString
    StreamIvf.appendBatch(dir, vecs(1, 2, 3, 4), 0, "vec_id", "vec",
      nCells = 2)
    assert(ivfState(dir).contains(ivfScan(dir)), "after first append")
    StreamIvf.appendBatch(dir, vecs(5, 6), 1, "vec_id", "vec", nCells = 2)
    assert(ivfState(dir).contains(ivfScan(dir)), "after second append")
    StreamIvf.deleteVecs(spark, dir, Seq(2L, 5L).toDF("vec_id"),
      "vec_id", "vec")
    assert(ivfState(dir).contains(ivfScan(dir)), "after delete")
    assert(ivfState(dir).get._1 == 4L)
    StreamIvf.compactAll(spark, dir,
      StreamIvf.nextCompactId(spark, dir), "vec_id", "vec")
    assert(ivfState(dir).contains(ivfScan(dir)), "after compact")
    StreamIvf.vacuum(spark, dir)
    assert(ivfState(dir).contains(ivfScan(dir)), "after vacuum")
    // all-deleted degenerate case: (0, NULL), matching the zero-row
    // scan agg
    StreamIvf.deleteVecs(spark, dir, Seq(1L, 3L, 4L, 6L).toDF("vec_id"),
      "vec_id", "vec")
    assert(ivfState(dir).contains((0L, None)),
      s"all-deleted must serve (0, NULL), got ${ivfState(dir)}")
  }

  test("ivf: pre-upgrade coverage refused; compactAll migrates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivffpmig").toString
    StreamIvf.appendBatch(dir, vecs(1, 2), 0, "vec_id", "vec", nCells = 2)
    StreamIvf.appendBatch(dir, vecs(3), 1, "vec_id", "vec", nCells = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/fpstate/batch_id=1"), true)
    assert(ivfState(dir).isEmpty)
    StreamIvf.compactAll(spark, dir,
      StreamIvf.nextCompactId(spark, dir), "vec_id", "vec")
    assert(ivfState(dir).contains(ivfScan(dir)), "compactAll mints the base")
  }
}
