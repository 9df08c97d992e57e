package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Manifest, StreamBm25, StreamClusters, StreamCurate,
  StreamIvf}

/** The explicit partition-family manifest + claimed-id allocation
  * (ADVICE r10): tombstone membership is DECLARED in the committed
  * manifest ([[Manifest.Live]], `t`-prefixed tokens) instead of
  * inferred from directory presence, and maintainer ids come from an
  * exclusive-create claim ledger ([[Manifest.claimNegId]]) — so a
  * crashed or racing takedown can neither misclassify a live merged
  * segment as a tombstone (which vanished the whole index) nor share
  * an id with a concurrent compaction. */
class ManifestFamilySpec extends AnyFunSuite with SharedSpark {
  override protected def suiteConf =
    Seq("spark.sql.shuffle.partitions" -> "2")

  test("Live families round-trip the commit; combined reads stay back-compatible") {
    val dir = java.nio.file.Files.createTempDirectory("mfam").toString
    Manifest.commitLiveAfter(spark, dir,
      Manifest.Live(data = Set(0, 1, -2), tombs = Set(-3)), basedOn = -1)
    val live = Manifest.readLiveAt(spark, dir, None).get
    assert(live.data == Set(0, 1, -2) && live.tombs == Set(-3))
    // family-blind callers (vacuum accounting, enterBatch liveness)
    // still see the union
    assert(Manifest.read(spark, dir).get == Set(0, 1, -2, -3))
    // a pre-family manifest (plain ints) parses with everything in data
    Manifest.commit(spark, dir, Set(4, -5))
    val legacy = Manifest.readLiveAt(spark, dir, None).get
    assert(legacy.data == Set(4, -5) && legacy.tombs.isEmpty)
  }

  test("claimNegId hands out distinct ids and never re-issues a claimed one") {
    val dir = java.nio.file.Files.createTempDirectory("mclaim").toString
    val a = Manifest.claimNegId(spark, dir, usedIds = Set.empty)
    val b = Manifest.claimNegId(spark, dir, usedIds = Set.empty)
    val c = Manifest.claimNegId(spark, dir, usedIds = Set(-10))
    assert(a == -1 && b == -2, s"sequential claims: $a, $b")
    assert(c == -11, s"claim below every used id: $c")
    // a crashed claimant's id (claimed, nothing written) stays burned
    val d = Manifest.claimNegId(spark, dir, usedIds = Set.empty)
    assert(Set(a, b, c, d).size == 4)
  }

  test("a planted tombstone-dir orphan cannot mask a live merged segment (the r10 vanish)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("morphan").toString
    val docs = Seq(1L -> "apples and pears", 2L -> "pears and plums",
      3L -> "plums and apples").toDF("doc_id", "text")
    (0 to 1).foreach { i =>
      StreamBm25.appendBatch(dir, docs.filter(col("doc_id") % 2 === i),
        i.toLong, "doc_id", "text")
    }
    // full fold into a claimed merged id
    val into = StreamBm25.nextCompactId(spark, dir)
    StreamBm25.compactSet(spark, dir, Set(0, 1), into)
    // simulate the crashed-delete orphan the old directory-probe
    // classification was vulnerable to: a ts_id dir under the SAME id
    // as the live merged segment, with real data files, never committed
    Seq(1L).toDF("key").coalesce(1)
      .write.parquet(s"$dir/tombstones/ts_id=$into")
    val segs = StreamBm25.load(spark, dir)
    assert(segs.nonEmpty, "index must not vanish behind an orphan ts dir")
    assert(segs.get.postings.select("key").distinct().count() == 3,
      "the manifest-declared segment family must win over the dir probe")
  }

  /** One tombstone sink's leg of the pre-family fixture: `append`
    * commits keys 1 and 2 as batch 0, a takedown of that sink writes
    * its tombstone rows in column `keyCol`, and `served` reads back the
    * keys the sink serves. */
  private case class TombSink(name: String, keyCol: String,
                              append: String => Unit,
                              served: String => Set[Long])

  private def longs(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.distinct().collect().map(_.getLong(0)).toSet

  private lazy val tombSinks: Seq[TombSink] = {
    import spark.implicits._
    val docs = Seq(1L -> "apples and pears", 2L -> "pears and plums")
      .toDF("doc_id", "text")
    Seq(
      TombSink("StreamBm25", "key",
        StreamBm25.appendBatch(_, docs, 0L, "doc_id", "text"),
        d => longs(StreamBm25.load(spark, d).get.postings.select("key"))),
      TombSink("StreamIvf", "key",
        StreamIvf.appendBatch(_, Seq(1L -> Seq(1.0, 0.0),
          2L -> Seq(0.0, 1.0)).toDF("vec_id", "vec"), 0L, "vec_id", "vec",
          nCells = 2),
        d => longs(StreamIvf.load(spark, d, "vec_id", "vec").get
          .postings.select("vec_id"))),
      TombSink("StreamClusters", "id",
        StreamClusters.appendBatch(_, Seq(1L -> 2L).toDF("id1", "id2"), 0L),
        d => longs(StreamClusters.load(spark, d).get.select("id"))),
      TombSink("StreamCurate", "doc_id",
        StreamCurate.appendBatch(_, docs, 0L, identity),
        d => longs(StreamCurate.load(spark, d).get.select("doc_id"))))
  }

  test("pre-family tombstones (r10 on-disk state) still classify via the probe fallback") {
    import spark.implicits._
    // the split is the contract's ([[graft.streaming.ManagedSink]]):
    // every tombstone sink runs the same probe over its declared data
    // families, so one fixture pins all four
    tombSinks.foreach { sink =>
      val dir = java.nio.file.Files.createTempDirectory("mlegacy").toString
      sink.append(dir)
      assert(sink.served(dir) == Set(1L, 2L), sink.name)
      // mimic the r10 takedown layout: ts partition + PLAIN-int commit
      Seq(2L).toDF(sink.keyCol).coalesce(1)
        .write.parquet(s"$dir/tombstones/ts_id=-1")
      val (gen, live) = Manifest.readWithGen(spark, dir).get
      Manifest.commitAfter(spark, dir, live + -1, basedOn = gen)
      val keys = sink.served(dir)
      assert(keys == Set(1L),
        s"${sink.name}: legacy plain-int tombstone must still mask, got $keys")
    }
  }

  test("time-based vacuum retention: young generations stay time-travel-readable, old ones reclaim") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mretain").toString
    val docs = Seq(1L -> "apples and pears", 2L -> "pears and plums",
      3L -> "plums and apples").toDF("doc_id", "text")
    (0 to 2).foreach { i =>
      StreamBm25.appendBatch(dir, docs.filter(col("doc_id") % 3 === i),
        i.toLong, "doc_id", "text")
    }
    StreamBm25.compactSet(spark, dir, Set(0, 1, 2),
      into = StreamBm25.nextCompactId(spark, dir))
    val gens = Manifest.generations(spark, dir)
    assert(gens.size >= 4)
    // age the two OLDEST generations past the retention window
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    gens.take(2).foreach { g =>
      val p = new org.apache.hadoop.fs.Path(f"$dir/manifest/m-$g%08d")
      fs.setTimes(p, System.currentTimeMillis() - 10 * 86400 * 1000L, -1)
    }
    StreamBm25.vacuum(spark, dir,
      retainMillis = Some(7 * 86400 * 1000L)) // retain 7 days
    val after = Manifest.generations(spark, dir)
    // the aged generations are gone; the young ones (incl. pre-compact
    // gen 3) survive AND still serve — partitions they reference were
    // not reclaimed
    assert(after == gens.drop(2),
      s"aged generations must reclaim, young survive: $after")
    val pinned = StreamBm25.loadAt(spark, dir, Some(gens(2)))
    assert(pinned.nonEmpty && pinned.get.postings.count() > 0,
      "a retained generation must stay fully readable")
    // expired time travel fails loudly
    intercept[IllegalArgumentException] {
      StreamBm25.loadAt(spark, dir, Some(gens.head))
    }
    // a later no-retention vacuum collapses to the latest only
    StreamBm25.vacuum(spark, dir)
    assert(Manifest.generations(spark, dir) == Seq(gens.last))
  }
}
