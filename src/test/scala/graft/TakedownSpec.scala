package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming._

/** The one-call right-to-be-forgotten cascade ([[Takedown]]): forget()
  * fans a delete across every configured sink in cascade order
  * (text-derived index first — it needs the bodies — corpus last),
  * reclaim() folds and vacuums everything. The end state the law cares
  * about: every serve forgot, and NO on-disk file under ANY sink still
  * holds the deleted content. Also pins the crash-mid-cascade contract:
  * re-running forget() after a partial pass is a no-op on the
  * already-deleted prefix. */
class TakedownSpec extends AnyFunSuite with SharedSpark {
  test("forget + reclaim across all six sinks: every derivative forgets; no on-disk copy survives") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("takedown").toString
    val sinks = Takedown.Sinks(
      curateDir = Some(s"$root/corpus"),
      bm25Dir = Some(s"$root/bm25"),
      bm25BlockRecrawl = true,
      ivf = Some((s"$root/ivf", "doc_id", "vec")),
      clustersDir = Some(s"$root/cc"),
      containmentDir = Some(s"$root/cont"),
      ngramDf = Some((s"$root/ngdf", 3)))

    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 12L).map(i => (i, body + s"marker$i tail$i", 200))
      .toDF("doc_id", "text", "n_chars")
    def policy(b: org.apache.spark.sql.DataFrame) =
      b.select("doc_id", "text")
    // ingest every sink from the same corpus (2 batches each)
    (0 to 1).foreach { i =>
      val slice = docs.filter(col("doc_id") % 2 === i)
      StreamCurate.appendBatch(sinks.curateDir.get, slice, i.toLong, policy)
      StreamBm25.appendBatch(sinks.bm25Dir.get,
        slice.select("doc_id", "text"), i.toLong, "doc_id", "text")
      StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
        slice.select("doc_id", "text"), i.toLong)
      StreamIvf.appendBatch(sinks.ivf.get._1,
        slice.select(col("doc_id"),
          array((0 to 3).map(j => pmod(col("doc_id") * (j + 3), lit(7))
            .cast("double") + 0.1): _*).as("vec")),
        i.toLong, "doc_id", "vec", nCells = 2)
      StreamClusters.appendBatch(sinks.clustersDir.get,
        slice.select(col("doc_id").as("id1"),
          (col("doc_id") % 3 + 100L).as("id2")), i.toLong)
      StreamContainment.appendBatch(sinks.containmentDir.get,
        slice.select("doc_id", "text"), i.toLong)
    }
    val victims = Seq(3L, 4L)
    def attested = Takedown.attest(spark, victims.toDF("doc_id"), sinks)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // pre-forget attestation: every sink serves, every sink still holds
    // both victims — the report that would fail a compliance check
    val pre = attested
    assert(pre.keySet == Set("corpus", "bm25", "ivf", "clusters",
      "containment", "ngram_df"))
    assert(pre.values.forall(_._2 == 2L),
      s"every sink must report both victims pre-forget: $pre")
    Takedown.forget(spark, victims.toDF("doc_id"), sinks)
    // post-forget attestation: zero residual everywhere, and the served
    // counts equal the ground-truth survivor counts per sink's identity
    val post = attested
    assert(post.values.forall(_._2 == 0L),
      s"post-forget residuals must be zero: $post")
    assert(Seq("corpus", "bm25", "ivf", "containment", "ngram_df")
      .forall(post(_)._1 == 10L), s"10 survivors expected: $post")
    assert(post("clusters")._1 == 13L, // 10 doc nodes + 3 hub nodes
      s"clusters serve survivors plus hubs: $post")

    // every serve forgot
    assert(!StreamCurate.load(spark, sinks.curateDir.get).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .exists(victims.contains), "corpus must forget")
    assert(StreamBm25.load(spark, sinks.bm25Dir.get).get
      .postings.filter(col("key").isin(victims: _*)).count() == 0,
      "bm25 postings must forget")
    assert(StreamIvf.load(spark, sinks.ivf.get._1, "doc_id", "vec").get
      .postings.filter(col("doc_id").isin(victims: _*)).count() == 0,
      "ivf postings must forget")
    assert(StreamClusters.load(spark, sinks.clustersDir.get).get
      .filter(col("id").isin(victims: _*)).count() == 0,
      "cluster membership must forget")
    assert(StreamContainment.loadSets(spark, sinks.containmentDir.get).get
      .filter(col("__cid").isin(victims: _*)).count() == 0,
      "containment sets must forget")
    assert(StreamContainment.loadPostings(spark, sinks.containmentDir.get)
      .get.filter(col("__cid").isin(victims: _*)).count() == 0,
      "containment postings must forget")
    // the ngram-df netted the victims' contributions: equal to a
    // scratch index over the survivors
    val survivors = docs.filter(!col("doc_id").isin(victims: _*))
    def dfRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfRows(StreamNgramDf.load(spark, sinks.ngramDf.get._1).get) ==
      dfRows(TextOps.ngramDf(survivors.select("doc_id", "text"),
        "doc_id", "text")), "ngram-df must net out the victims")

    // the containment df netted the victims' contributions too
    val contDf = StreamContainment.loadDf(spark, sinks.containmentDir.get)
      .get.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val contExp = graft.ext.Dedup.shingleSets(
        docs.filter(!col("doc_id").isin(victims: _*))
          .select("doc_id", "text"), "doc_id", "text", 5)
      .select(col("__cid"), explode(col("__sh")).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("ndocs")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(contDf == contExp, "containment df must net out the victims")

    // the maintenance report post-forget: mask sinks need a fold NOW
    // (one unabsorbed tombstone each); LSM sinks don't — their negative
    // deltas are netted by the keyed serve and the delete ledger
    // (n_aux) is permanent state, not a trigger
    def report = Takedown.maintenanceReport(spark, sinks).collect()
      .map(r => r.getString(0) -> r).toMap
    val rep = report
    Seq("corpus", "bm25", "ivf", "clusters").foreach { k =>
      assert(rep(k).getBoolean(7), s"$k must need a fold: ${rep(k)}")
      assert(rep(k).getLong(2) == 1L, s"$k: one tombstone: ${rep(k)}")
    }
    Seq("containment", "ngram_df").foreach { k =>
      assert(!rep(k).getBoolean(7), s"$k deltas are netted: ${rep(k)}")
      assert(rep(k).getLong(2) == 0L && rep(k).getLong(3) == 1L,
        s"$k: no masks, one ledger entry: ${rep(k)}")
    }
    assert(Seq("corpus", "bm25", "ivf").forall(k =>
      rep(k).getBoolean(6)), s"maintained fingerprints must cover: $rep")
    assert(rep("corpus").getLong(5) == 0L, "nothing quarantined")

    // crash-mid-cascade contract: a second forget() is a full no-op
    val allDirs = Seq(sinks.curateDir.get, sinks.bm25Dir.get,
      sinks.ivf.get._1, sinks.clustersDir.get, sinks.containmentDir.get,
      sinks.ngramDf.get._1)
    val gens = allDirs.map(Manifest.generations(spark, _))
    Takedown.forget(spark, victims.toDF("doc_id"), sinks)
    assert(allDirs.map(Manifest.generations(spark, _)) == gens,
      "re-running forget must commit nothing anywhere")

    // physical reclaim, no retention: forgetting becomes irreversible
    Takedown.reclaim(spark, sinks)
    // post-reclaim report: masks absorbed, single merged base per
    // sink — nothing needs a fold; the delete ledgers survive (n_aux)
    val after = report
    assert(after.values.forall(r => !r.getBoolean(7)),
      s"reclaim must clear every fold trigger: $after")
    assert(after.values.forall(_.getLong(2) == 0L),
      "no tombstone survives a reclaim")
    assert(Seq("corpus", "bm25", "ivf").forall(k =>
      after(k).getBoolean(6)), "fingerprint coverage survives the fold")
    // a re-crawl of a victim stays out everywhere it can be guarded:
    // the corpus digest guard, the bm25 blocklist, the ngram-df seen ids
    StreamCurate.appendBatch(sinks.curateDir.get,
      docs.filter(col("doc_id") === 3L), 10L, policy)
    StreamBm25.appendBatch(sinks.bm25Dir.get,
      docs.filter(col("doc_id") === 3L).select("doc_id", "text"), 10L,
      "doc_id", "text")
    StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
      docs.filter(col("doc_id") === 3L).select("doc_id", "text"), 10L)
    StreamContainment.appendBatch(sinks.containmentDir.get,
      docs.filter(col("doc_id") === 3L).select("doc_id", "text"), 10L)
    assert(StreamContainment.loadSets(spark, sinks.containmentDir.get).get
      .filter(col("__cid") === 3L).count() == 0,
      "a re-crawl of a forgotten id must stay out of the containment index")
    assert(!StreamCurate.load(spark, sinks.curateDir.get).get
      .select("doc_id").collect().map(_.getLong(0)).contains(3L))
    assert(StreamBm25.load(spark, sinks.bm25Dir.get).get
      .postings.filter(col("key") === 3L).count() == 0)
    assert(dfRows(StreamNgramDf.load(spark, sinks.ngramDf.get._1).get) ==
      dfRows(TextOps.ngramDf(survivors.select("doc_id", "text"),
        "doc_id", "text")))

    // the legal end state: no parquet file under the whole root still
    // holds a victim's marker token
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toList
    val leaked = files.filter { f =>
      val df = spark.read.parquet(f)
      val textish = df.schema.fields
        .filter(c => c.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name)
      textish.nonEmpty && df.filter(textish.map(c =>
          col(c).contains("marker3") || col(c).contains("marker4"))
        .reduce(_ || _)).count() > 0
    }
    assert(leaked.isEmpty,
      s"no on-disk file may hold deleted content after reclaim: $leaked")
  }

  test("maintain: folds exactly the flagged sinks; healthy sinks untouched; second run acts on nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("takedown_m").toString
    val sinks = Takedown.Sinks(
      curateDir = Some(s"$root/corpus"),
      bm25Dir = Some(s"$root/bm25"),
      containmentDir = Some(s"$root/cont"),
      ngramDf = Some((s"$root/ngdf", 3)),
      // r15: production folds cluster the corpus base so release
      // deltas partition-prune their content reads
      curateClusterBins = 32)
    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 12L).map(i => (i, body + s"marker$i tail$i", 200))
      .toDF("doc_id", "text", "n_chars")
    (0 to 1).foreach { i =>
      val b = docs.filter(col("doc_id") % 2 === i)
      StreamCurate.appendBatch(sinks.curateDir.get, b, i.toLong,
        x => x.select("doc_id", "text"))
      StreamBm25.appendBatch(sinks.bm25Dir.get,
        b.select("doc_id", "text"), i.toLong, "doc_id", "text")
      StreamContainment.appendBatch(sinks.containmentDir.get,
        b.select("doc_id", "text"), i.toLong)
      StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
        b.select("doc_id", "text"), i.toLong)
    }
    Takedown.forget(spark, Seq(3L).toDF("doc_id"), sinks)
    val lsmDirs = Seq(sinks.containmentDir.get, sinks.ngramDf.get._1)
    val lsmGens = lsmDirs.map(Manifest.generations(spark, _))
    val served = StreamBm25.load(spark, sinks.bm25Dir.get).get
      .postings.select("key").distinct().count()
    // first run: folds exactly the mask sinks; LSM sinks (netted
    // deltas, permanent ledger) are not touched
    val acted = Takedown.maintain(spark, sinks).collect()
      .map(r => r.getString(0) -> r.getBoolean(8)).toMap
    assert(acted == Map("corpus" -> true, "bm25" -> true,
      "containment" -> false, "ngram_df" -> false), s"$acted")
    assert(lsmDirs.map(Manifest.generations(spark, _)) == lsmGens,
      "maintain must not commit to a healthy sink")
    // the maintainer's fold wrote the base SHARD-CLUSTERED (r15):
    // cb= cluster dirs under the folded partition
    val foldFs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldedBase = foldFs.listStatus(new org.apache.hadoop.fs.Path(
        s"${sinks.curateDir.get}/corpus"))
      .map(_.getPath).filter(_.getName.startsWith("batch_id=-"))
    assert(foldedBase.nonEmpty && foldedBase.forall(p =>
      foldFs.listStatus(p).exists(_.getPath.getName.startsWith("cb="))),
      "a curateClusterBins maintainer fold must write a clustered base")
    // the fold absorbed the masks without moving the serve
    val rep = Takedown.maintenanceReport(spark, sinks).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rep.values.forall(r => !r.getBoolean(7)),
      s"triggers must clear: $rep")
    assert(rep("bm25").getLong(2) == 0L && rep("corpus").getLong(2) == 0L)
    assert(StreamBm25.load(spark, sinks.bm25Dir.get).get
      .postings.select("key").distinct().count() == served)
    // idempotent: the second run acts on nothing, commits nothing
    val allGens = Seq(sinks.curateDir.get, sinks.bm25Dir.get) ++ lsmDirs
    val gens2 = allGens.map(Manifest.generations(spark, _))
    val acted2 = Takedown.maintain(spark, sinks).collect()
      .map(r => r.getString(0) -> r.getBoolean(8)).toMap
    assert(acted2.values.forall(!_), s"second run must be all-false: $acted2")
    assert(allGens.map(Manifest.generations(spark, _)) == gens2)
    // retention dry run: the fold stranded history partitions — the
    // dry run names them WITHOUT deleting; vacuum takes exactly that;
    // a second dry run finds nothing left to reclaim
    val plan = Takedown.retentionReport(spark, sinks).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    Seq("corpus", "bm25").foreach { k =>
      assert(plan(k)._2 > 0, s"$k fold must strand reclaimables: $plan") }
    Seq("containment", "ngram_df").foreach { k =>
      assert(plan(k)._2 == 0, s"$k: nothing folded, nothing back: $plan") }
    val servedPre = StreamCurate.load(spark, sinks.curateDir.get)
      .get.count()
    StreamCurate.vacuum(spark, sinks.curateDir.get)
    assert(StreamCurate.vacuumPlan(spark, sinks.curateDir.get)
      .get._3 == 0L, "post-vacuum dry run must find nothing")
    assert(StreamCurate.load(spark, sinks.curateDir.get).get.count()
      == servedPre, "vacuum must not move the serve")
  }

  test("forgetByContent: the DMCA shape — bytes in, full cascade out") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("takedown_c").toString
    val sinks = Takedown.Sinks(
      curateDir = Some(s"$root/corpus"),
      bm25Dir = Some(s"$root/bm25"),
      ngramDf = Some((s"$root/ngdf", 3)))
    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 6L).map(i => (i, body + s"marker$i", 200))
      .toDF("doc_id", "text", "n_chars")
    StreamCurate.appendBatch(sinks.curateDir.get, docs, 0L,
      b => b.select("doc_id", "text"))
    StreamBm25.appendBatch(sinks.bm25Dir.get,
      docs.select("doc_id", "text"), 0L, "doc_id", "text")
    StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
      docs.select("doc_id", "text"), 0L)
    // the complaint arrives as BYTES (doc 3's exact text), not an id
    Takedown.forgetByContent(spark,
      Seq(body + "marker3").toDF("text"), sinks)
    assert(!StreamCurate.load(spark, sinks.curateDir.get).get
      .select("doc_id").collect().map(_.getLong(0)).contains(3L))
    assert(StreamBm25.load(spark, sinks.bm25Dir.get).get
      .postings.filter(col("key") === 3L).count() == 0)
    val survivors = docs.filter(col("doc_id") =!= 3L)
    assert(StreamNgramDf.load(spark, sinks.ngramDf.get._1).get
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      graft.ext.TextOps.ngramDf(survivors.select("doc_id", "text"),
        "doc_id", "text")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    // unknown bytes: a clean no-op across the cascade
    val gens = Manifest.generations(spark, sinks.curateDir.get)
    Takedown.forgetByContent(spark,
      Seq("bytes never ingested").toDF("text"), sinks)
    assert(Manifest.generations(spark, sinks.curateDir.get) == gens)
    // attest with a CONFIGURED-but-empty sink: reported as (0, 0) —
    // deployed, nothing served — never an error or a missing row
    val att = Takedown.attest(spark, Seq(3L).toDF("doc_id"),
        sinks.copy(containmentDir = Some(s"$root/cont_unbuilt")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(att("containment") == ((0L, 0L)), s"empty sink must attest (0,0): $att")
    assert(att("corpus") == ((5L, 0L)) && att("bm25") == ((5L, 0L)),
      s"doc 3 forgotten, 5 survivors: $att")
    // attestByContent: bytes in, per-sink residuals out — the deleted
    // bytes resolve to id 3 and attest 0 residuals; a still-served
    // doc's bytes (marker4) attest residual 1 in every sink serving
    // it; never-ingested bytes resolve to nothing and attest clean
    val abc = Takedown.attestByContent(spark,
        Seq(body + "marker3", body + "marker4", "bytes never ingested")
          .toDF("text"), sinks).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(abc("corpus") == ((5L, 1L)) && abc("bm25") == ((5L, 1L)) &&
      abc("ngram_df") == ((5L, 1L)),
      s"still-served bytes must attest residual 1, deleted bytes 0: $abc")
    // reclaim with the same configured-but-empty sink: skipped as
    // deployed-but-empty — nothing created under its dir, and the sinks
    // after it in the cascade (the corpus, last) are still reclaimed
    val unbuilt = s"$root/cont_unbuilt"
    Takedown.reclaim(spark, sinks.copy(containmentDir = Some(unbuilt)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(unbuilt)),
      "reclaim must create nothing under an unborn sink")
    Seq(sinks.ngramDf.get._1, sinks.bm25Dir.get, sinks.curateDir.get)
      .foreach { d =>
        assert(Manifest.generations(spark, d).size == 1,
          s"$d must be folded and vacuumed to one generation")
        assert(Manifest.readLiveWithGen(spark, d).get._2.tombs.isEmpty,
          s"$d: the fold must absorb the tombstone")
      }
    assert(StreamCurate.load(spark, sinks.curateDir.get).get.count() == 5L)
  }

  test("retentionBytesReport: ledgered bytes equal a live recompute; vacuum takes exactly what the report priced") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("takedown_b").toString
    val sinks = Takedown.Sinks(
      curateDir = Some(s"$root/corpus"),
      bm25Dir = Some(s"$root/bm25"),
      ivf = Some((s"$root/ivf", "doc_id", "vec")),
      clustersDir = Some(s"$root/cc"),
      containmentDir = Some(s"$root/cont"),
      ngramDf = Some((s"$root/ngdf", 3)))
    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 12L).map(i => (i, body + s"marker$i tail$i", 200))
      .toDF("doc_id", "text", "n_chars")
    (0 to 1).foreach { i =>
      val b = docs.filter(col("doc_id") % 2 === i)
      StreamCurate.appendBatch(sinks.curateDir.get, b, i.toLong,
        x => x.select("doc_id", "text"))
      StreamBm25.appendBatch(sinks.bm25Dir.get,
        b.select("doc_id", "text"), i.toLong, "doc_id", "text")
      StreamIvf.appendBatch(sinks.ivf.get._1,
        b.select(col("doc_id"),
          array((0 to 3).map(j => pmod(col("doc_id") * (j + 3), lit(7))
            .cast("double") + 0.1): _*).as("vec")),
        i.toLong, "doc_id", "vec", nCells = 2)
      StreamClusters.appendBatch(sinks.clustersDir.get,
        b.select(col("doc_id").as("id1"),
          (col("doc_id") % 3 + 100L).as("id2")), i.toLong)
      StreamContainment.appendBatch(sinks.containmentDir.get,
        b.select("doc_id", "text"), i.toLong)
      StreamNgramDf.appendBatch(sinks.ngramDf.get._1,
        b.select("doc_id", "text"), i.toLong)
    }
    Takedown.forget(spark, Seq(3L).toDF("doc_id"), sinks)
    // the maintainer folds the four mask sinks, which strands their
    // pre-fold history; the two LSM sinks (netted deltas) are folded by
    // hand so every sink has history to price
    val acted = Takedown.maintain(spark, sinks).collect()
      .filter(_.getBoolean(8)).map(_.getString(0)).toSet
    assert(acted == Set("corpus", "bm25", "ivf", "clusters"), s"$acted")
    val cont = sinks.containmentDir.get
    StreamContainment.compact(spark, cont,
      StreamContainment.nextCompactId(spark, cont))
    val ngdf = sinks.ngramDf.get._1
    StreamNgramDf.compact(spark, ngdf, StreamNgramDf.nextCompactId(spark, ngdf))
    def rep() = Takedown.retentionBytesReport(spark, sinks).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val r1 = rep()
    // independent recompute for the corpus sink: bytes of every
    // partition some generation references that the latest one doesn't
    val cdir = sinks.curateDir.get
    val latest = Manifest.read(spark, cdir).get
    val referenced = Manifest.allSets(spark, cdir).flatten.toSet
    val fs = new org.apache.hadoop.fs.Path(cdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fams = Seq("corpus" -> "batch_id=", "seen" -> "batch_id=",
      "digestmap" -> "batch_id=", "fpstate" -> "batch_id=",
      "fpshard" -> "batch_id=", // r14: the per-shard fingerprint family
      "bins" -> "batch_id=", "tombstones" -> "ts_id=")
    var expected = 0L
    fams.foreach { case (sub, prefix) =>
      val p = new org.apache.hadoop.fs.Path(s"$cdir/$sub")
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix))
          scala.util.Try(n.stripPrefix(prefix).toInt).toOption.foreach {
            id =>
              if (!latest.contains(id) && referenced.contains(id))
                expected += fs.getContentSummary(st.getPath).getLength
          }
      }
    }
    assert(r1("corpus")._1 > 0 && r1("corpus")._2 == expected,
      s"corpus bytes must equal the live recompute ($expected): $r1")
    assert(r1.keySet == Set("corpus", "bm25", "ivf", "clusters",
      "containment", "ngram_df") &&
      r1.values.forall(v => v._1 > 0 && v._2 > 0),
      s"every folded sink must price: $r1")
    assert(r1.values.forall(v => v._3 == 0L && v._4 == 0L),
      s"no orphans in a clean lifecycle: $r1")
    // ledger stability: the second call serves the memoized sizes and
    // must agree byte-for-byte with the first (which listed live)
    assert(rep() == r1, "ledgered sizes must equal the listing pass")
    // vacuum takes exactly the priced set, sink by sink: after each
    // sink's vacuum its dry run reclaims nothing and prices nothing,
    // the sinks not yet vacuumed still price what they did, and the
    // serve is unmoved
    val served = StreamCurate.load(spark, cdir).get.count()
    val bySink = Seq[(String, ManagedSink, String)](
      ("corpus", StreamCurate, cdir), ("bm25", StreamBm25, sinks.bm25Dir.get),
      ("ivf", StreamIvf, sinks.ivf.get._1),
      ("clusters", StreamClusters, sinks.clustersDir.get),
      ("containment", StreamContainment, cont), ("ngram_df", StreamNgramDf, ngdf))
    bySink.zipWithIndex.foreach { case ((k, sink, dir), i) =>
      sink.vacuum(spark, dir)
      val r2 = rep()
      assert(r2(k)._1 == 0L && r2(k)._2 == 0L,
        s"post-vacuum dry run must find nothing priced for $k: $r2")
      bySink.drop(i + 1).foreach { case (later, _, _) =>
        assert(r2(later) == r1(later), s"vacuuming $k moved $later: $r2") }
    }
    assert(StreamCurate.load(spark, cdir).get.count() == served)
  }

  test("maintainStream: the maintainer on a streaming trigger cannot corrupt state racing appends + takedowns") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("takedown_s").toString
    val dir = s"$root/bm25"
    val sinks = Takedown.Sinks(bm25Dir = Some(dir))
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def docsFor(b: Int): Seq[(Long, String)] =
      (0 until 4).map(i =>
        (b * 100L + i, s"${words(i % 6)} ${words((i + b) % 6)} tok${b}x$i"))
    val lastBatch = 7
    val victimIds = (0 to lastBatch).map(b => b * 100L)
    (0 to 1).foreach(b => StreamBm25.appendBatch(dir,
      docsFor(b).toDF("doc_id", "text"), b, "doc_id", "text"))
    val acted = new java.util.concurrent.atomic.AtomicInteger(0)
    // the maintainer IS the stream: every 50 ms trigger runs one
    // maintain() pass; lost CASes are swallowed pass-level (idempotent
    // — the next trigger re-reads fresh state)
    val q = Takedown.maintainStream(spark, sinks, intervalMs = 50L,
      onReport = rep => {
        if (rep.filter(col("acted")).count() > 0) acted.incrementAndGet()
        ()
      })
    val cme = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      // storm: appends and takedowns race the streaming maintainer's
      // folds on one manifest (the StreamBm25Spec three-actor shape,
      // with the maintainer actor replaced by the stream)
      (2 to lastBatch).foreach { b =>
        var done = false
        while (!done) {
          try {
            StreamBm25.appendBatch(dir, docsFor(b).toDF("doc_id", "text"),
              b, "doc_id", "text")
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet()
          }
        }
        var swept = false
        while (!swept) {
          try {
            StreamBm25.deleteDocs(spark, dir, victimIds.toDF("doc_id"),
              "doc_id")
            swept = true
          } catch {
            case _: java.util.ConcurrentModificationException =>
              cme.incrementAndGet()
          }
        }
      }
      // let the trigger absorb the final tombstones (acted must fire
      // at least once — the stream really maintains, not just polls)
      val deadline = System.currentTimeMillis() + 20000
      while (acted.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally q.stop()
    assert(acted.get() > 0, "the streaming maintainer never acted")
    // final deterministic absorb (idempotent; the stream may have been
    // stopped mid-pass), then scratch equality over the survivors
    var folded = false
    while (!folded) {
      try { Takedown.maintain(spark, sinks); folded = true }
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    val survivors = (0 to lastBatch).flatMap(docsFor)
      .filterNot(d => victimIds.contains(d._1))
    assert(StreamBm25.load(spark, dir).get
        .postings.select("key").distinct().collect()
        .map(_.getLong(0)).toSet ==
      survivors.map(_._1).toSet,
      "served keys must be exactly the survivors after the storm")
    val rep = Takedown.maintenanceReport(spark, sinks).collect()
    assert(rep.forall(!_.getBoolean(7)),
      s"triggers must clear after the final absorb: ${rep.toSeq}")
  }
}
