package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming._

/** Training-release publication ([[graft.streaming.Release]]): a
  * release binds a time-travel corpus generation to the deterministic
  * shard layout and the order-invariant fingerprint in one auditable
  * manifest row. The spec walks the full lifecycle: publish pre- and
  * post-takedown, verify the registry and the on-disk shards, audit
  * the victims across releases (the pinned pre-forget release still
  * names them; the post-forget one is clean), and pin the vacuum edge
  * (an expired generation audits `readable = false`, loudly in the
  * row, never an exception). */
class ReleaseSpec extends AnyFunSuite with SharedSpark {
  test("publish/registry/audit lifecycle: pinned generations audit exactly; vacuum flips readable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("release").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 12L).map(i => (i, body + s"marker$i tail$i", 200))
      .toDF("doc_id", "text", "n_chars")
    (0 to 1).foreach { i =>
      StreamCurate.appendBatch(corpusDir,
        docs.filter(col("doc_id") % 2 === i), i.toLong,
        b => b.select("doc_id", "text"))
    }
    val preGen = Manifest.readWithGen(spark, corpusDir).get._1
    val r1 = Release.publish(spark, corpusDir, None, relRoot, "r1",
      nShards = 4).collect().head
    assert(r1.getInt(2) == preGen && r1.getLong(4) == 12L,
      s"r1 must pin the pre-forget gen with all 12 docs: $r1")
    // takedown, then the post-forget release
    StreamCurate.deleteCurated(spark, corpusDir,
      Seq(3L, 5L).toDF("doc_id"))
    Release.publish(spark, corpusDir, None, relRoot, "r2", nShards = 4)
    val reg = Release.registry(spark, relRoot).get.collect()
      .map(r => r.getString(0) -> r).toMap
    assert(reg.keySet == Set("r1", "r2"))
    assert(reg("r2").getLong(4) == 10L, "r2 serves the survivors")
    assert(reg("r1").getLong(5) != reg("r2").getLong(5),
      "fingerprints must differ across the takedown")
    // the published shard bytes ARE the snapshot: row count + the
    // loader-visible fingerprint of r1's shards equal the pinned read
    val shards1 = spark.read.parquet(Release.shardsDir(relRoot, "r1"))
    assert(shards1.count() == 12L)
    assert(TextOps.corpusFingerprint(shards1, Seq("doc_id", "text"),
        Seq.empty).head().getLong(1) == reg("r1").getLong(5),
      "shard bytes must carry the manifest fingerprint")
    // audit: r1 (published BEFORE the forget) still names the victims
    // exactly — recomputed against its PINNED generation; r2 is clean
    val victims = Seq(3L, 5L).toDF("doc_id")
    val audit = Release.audit(spark, relRoot, victims).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val expected = TextOps.blastRadius(
        StreamCurate.loadAt(spark, corpusDir, Some(preGen)).get,
        "doc_id", "text", victims, nShards = 4)
      .agg(count(lit(1)), sum("n_affected"), sum("n_tokens_affected"))
      .head()
    assert(audit("r1") == ((true, expected.getLong(1), expected.getLong(0),
      expected.getLong(2))), s"r1 must audit exactly: $audit vs $expected")
    assert(audit("r1")._2 == 2L)
    assert(audit("r2") == ((true, 0L, 0L, 0L)), s"r2 must be clean: $audit")
    // releases are immutable: double publish refuses
    intercept[IllegalArgumentException] {
      Release.publish(spark, corpusDir, None, relRoot, "r1", nShards = 4)
    }
    // shard-byte integrity: both releases verify against their
    // manifests; a tampered shard file flips ok = false with the
    // mismatching fingerprint in the row
    val ver = Release.verifyShards(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(ver == Map("r1" -> true, "r2" -> true), s"$ver")
    val shardFs = new org.apache.hadoop.fs.Path(relRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victimFile = shardFs.listStatus(
        shardFs.listStatus(new org.apache.hadoop.fs.Path(
            Release.shardsDir(relRoot, "r2")))
          .filter(_.isDirectory).head.getPath)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    shardFs.delete(victimFile, false) // truncate the release artifact
    val ver2 = Release.verifyShards(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(ver2 == Map("r1" -> true, "r2" -> false),
      s"a tampered shard must fail its release's check: $ver2")
    // release-aware retention PRE-FLIGHT: before any vacuum, the
    // impact report names r1 as the release a no-window vacuum would
    // orphan (its gen is not the latest) while r2's pinned gen — the
    // current latest — survives
    val impactRows = Release.retentionImpact(spark, relRoot).collect()
    val impact = impactRows.map(r => r.getAs[String]("release") ->
      ((r.getAs[Boolean]("auditable_now"),
        r.getAs[Boolean]("auditable_after")))).toMap
    assert(impact == Map("r1" -> ((true, false)), "r2" -> ((true, true))),
      s"pre-flight must name the orphaned release: $impact")
    // ADVICE r13: each row names WHICH corpus's vacuum it prices
    assert(impactRows.forall(_.getAs[String]("corpus_dir") == corpusDir),
      "impact rows must carry the release's corpus_dir")
    // vacuum collapses history to the latest generation: r1's pinned
    // snapshot is gone — the audit says so IN THE ROW (readable =
    // false; the release now audits only from its shard bytes) while
    // r2 keeps auditing exactly
    StreamCurate.compact(spark, corpusDir,
      StreamCurate.nextCompactId(spark, corpusDir))
    StreamCurate.vacuum(spark, corpusDir)
    val audit2 = Release.audit(spark, relRoot, victims).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(!audit2("r1") , s"expired gen must read as unauditable: $audit2")
    // r2's pinned gen was ALSO expired by the fold+vacuum (only the
    // post-fold generation survives) — both flip, loudly, no throw
    assert(!audit2("r2"), s"r2's pre-fold gen expired too: $audit2")
    // a crashed publish (shards without meta) is retryable
    TextOps.writeShards(docs.select("doc_id", "text"), "doc_id", 4,
      Release.shardsDir(relRoot, "r3")) // shards staged, no meta
    assert(Release.registry(spark, relRoot).get.count() == 2,
      "a crashed publish must be invisible to the registry")
    Release.publish(spark, corpusDir, None, relRoot, "r3", nShards = 4)
    assert(Release.registry(spark, relRoot).get.count() == 3)
  }

  test("publishDelta: rewrites only changed shards, byte-copies the rest; content equals a scratch publish") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("reldelta").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    val docs = (1L to 40L).map(i => (i, body + s"marker$i tail$i", 200))
      .toDF("doc_id", "text", "n_chars")
    StreamCurate.appendBatch(corpusDir, docs, 0L,
      b => b.select("doc_id", "text"))
    Release.publish(spark, corpusDir, None, relRoot, "base", nShards = 16)
    // a takedown-sized change, then the DELTA publish vs a SCRATCH one
    StreamCurate.deleteCurated(spark, corpusDir, Seq(7L, 21L).toDF("doc_id"))
    val rep = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta", basedOn = "base").collect().head
    Release.publish(spark, corpusDir, None, relRoot, "scratch",
      nShards = 16)
    // content equality: the delta release serves exactly the scratch rows
    def rows(name: String) =
      spark.read.parquet(Release.shardsDir(relRoot, name))
        .select("doc_id", "text", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows("delta") == rows("scratch"),
      "delta content must equal a scratch publish of the same snapshot")
    assert(Release.verifyShards(spark, relRoot).collect()
      .forall(_.getBoolean(5)), "all three releases must verify")
    // registry parity: delta's meta equals scratch's (modulo the name)
    val reg = Release.registry(spark, relRoot).get.collect()
      .map(r => r.getString(0) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))).toMap
    assert(reg("delta") == reg("scratch"), s"$reg")
    // an append/delete-only lineage takes the DIFF path: per-shard
    // stats FOLD from the base's recorded rows and the only reads are
    // the diff + the touched base shards — never a corpus scan
    assert(rep.getString(8) == "diff", s"expected the diff path: $rep")
    // the report accounts for every base shard exactly once
    val (nRw, nCp, nEm) = (rep.getLong(5), rep.getLong(6), rep.getLong(7))
    val baseShards = spark.read
      .parquet(Release.shardsDir(relRoot, "base"))
      .select("shard").distinct().count()
    assert(nRw + nCp + nEm >= baseShards && nRw >= 1 && nCp >= 1,
      s"report must cover the base layout: rw=$nRw cp=$nCp em=$nEm " +
        s"of $baseShards")
    // copied shards are BYTE-identical to the base's (true copy, not a
    // rewrite): compare file names + sizes + content hash per copied
    // shard dir
    val fs = new org.apache.hadoop.fs.Path(relRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def shardFiles(name: String, k: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(
          s"${Release.shardsDir(relRoot, name)}/shard=$k"))
      .filter(_.isFile).sortBy(_.getPath.getName)
      .map { st =>
        val in = fs.open(st.getPath)
        val buf = new Array[Byte](st.getLen.toInt)
        try in.readFully(buf) finally in.close()
        (st.getPath.getName,
          java.security.MessageDigest.getInstance("MD5").digest(buf).toSeq)
      }.toSeq
    val victimShards = spark.read
      .parquet(Release.shardsDir(relRoot, "base"))
      .filter(col("doc_id").isin(7L, 21L))
      .select("shard").distinct().collect().map(_.getInt(0)).toSet
    val copiedShard = spark.read
      .parquet(Release.shardsDir(relRoot, "delta"))
      .select("shard").distinct().collect().map(_.getInt(0))
      .filterNot(victimShards).head
    assert(shardFiles("delta", copiedShard) ==
      shardFiles("base", copiedShard),
      "an untouched shard must be a byte copy of the base's")
    // cross-release per-shard comparison (recorded stats only): the
    // diverged set is exactly the victims' shards; identical snapshots
    // compare all-equal; mismatched layouts refuse
    val cmp = Release.compareReleases(spark, relRoot, "base", "delta")
      .collect().map(r => r.getInt(0) -> r.getBoolean(5)).toMap
    assert(cmp.filter(!_._2).keySet == victimShards,
      s"diverged shards must be the victims': $cmp vs $victimShards")
    assert(Release.compareReleases(spark, relRoot, "delta", "scratch")
      .collect().forall(_.getBoolean(5)),
      "identical snapshots must compare equal per shard")
    Release.publish(spark, corpusDir, None, relRoot, "odd8", nShards = 8)
    intercept[IllegalArgumentException] {
      Release.compareReleases(spark, relRoot, "base", "odd8")
    }
    // CROSS-LAYOUT comparison (VERDICT r14 #6): recorded per-bin stats
    // fold both releases to the coarser common layout (8) — the same
    // snapshot at 16 vs 8 shards compares all-equal, and base(16) vs
    // odd8(8) diverges exactly at the victims' 8-way shards
    val xl = Release.compareReleasesBinned(spark, relRoot, "delta", "odd8")
      .collect().map(r => r.getInt(0) -> r.getBoolean(5)).toMap
    assert(xl.nonEmpty && xl.values.forall(identity),
      s"one snapshot at two layouts must compare equal: $xl")
    val victims8 = TextOps.trainingShards(
        Seq((7L, ""), (21L, "")).toDF("doc_id", "text"), "doc_id", 8)
      .select("shard").collect().map(_.getInt(0)).toSet
    val xl2 = Release.compareReleasesBinned(spark, relRoot, "base", "odd8")
      .collect().map(r => r.getInt(0) -> r.getBoolean(5)).toMap
    assert(xl2.filter(!_._2).keySet == victims8,
      s"cross-layout divergence must name the victims' folded shards: " +
        s"$xl2 vs $victims8")
    // ADDITIONS flow through the same diff: a new batch lands in its
    // shards, which rewrite; delta-on-delta content stays ≡ scratch
    StreamCurate.appendBatch(corpusDir,
      (41L to 48L).map(i => (i, body + s"marker$i tail$i", 200))
        .toDF("doc_id", "text", "n_chars"), 1L,
      b => b.select("doc_id", "text"))
    val rep2 = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta2", basedOn = "delta").collect().head
    assert(rep2.getLong(5) >= 1, "added docs must rewrite their shards")
    assert(rep2.getString(8) == "diff", s"still append-only: $rep2")
    Release.publish(spark, corpusDir, None, relRoot, "scratch2",
      nShards = 16)
    assert(rows("delta2") == rows("scratch2"),
      "delta-on-delta content must equal scratch")
    // a FOLD between the generations no longer forces a snapshot scan
    // (r14): the walk composes across the provably content-neutral
    // compaction — forward segments either side, netted — and the
    // delta still reads only diff-sized bytes (via = diff_folded)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(44L).toDF("doc_id"))
    StreamCurate.compact(spark, corpusDir,
      StreamCurate.nextCompactId(spark, corpusDir))
    val rep3 = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta3", basedOn = "delta2").collect().head
    assert(rep3.getString(8) == "diff_folded",
      s"a fold must compose, not force a scan: $rep3")
    Release.publish(spark, corpusDir, None, relRoot, "scratch3",
      nShards = 16)
    assert(rows("delta3") == rows("scratch3"),
      "post-fold delta content must equal scratch")
    assert(Release.verifyShards(spark, relRoot).collect()
      .forall(_.getBoolean(5)), "every release must still verify")
    // a FOLD-ONLY window (republish right after a compaction, no other
    // change) is a pure metadata republish: every shard byte-copies
    StreamCurate.compact(spark, corpusDir,
      StreamCurate.nextCompactId(spark, corpusDir))
    val repF = Release.publishDelta(spark, corpusDir, None, relRoot,
      "deltaF", basedOn = "delta3").collect().head
    assert(repF.getString(8) == "diff_folded" && repF.getLong(5) == 0 &&
      repF.getLong(7) == 0, s"fold-only window must copy everything: $repF")
    assert(rows("deltaF") == rows("delta3"))
    // VACUUMED intermediates make the walk unprovable: the PER-SHARD
    // STATE tier decides rewritten/copied/emptied from metadata
    // (via = state) — against a base whose pinned gen is gone
    StreamCurate.vacuum(spark, corpusDir)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(31L).toDF("doc_id"))
    // the ZERO-BYTE pre-flight prices the delta before it is published…
    val pre4 = Release.deltaPreflight(spark, corpusDir, None, relRoot,
      basedOn = "delta2").collect().head
    val rep4 = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta4", basedOn = "delta2").collect().head
    assert(rep4.getString(8) == "state",
      s"vacuumed walk must use the per-shard state: $rep4")
    // …and must equal the acted report field-for-field
    assert((pre4.getAs[Long]("n_shards_rewritten"),
        pre4.getAs[Long]("n_shards_copied"),
        pre4.getAs[Long]("n_shards_emptied"),
        pre4.getAs[Int]("gen"), pre4.getAs[Int]("base_gen")) ==
      ((rep4.getAs[Long]("n_shards_rewritten"),
        rep4.getAs[Long]("n_shards_copied"),
        rep4.getAs[Long]("n_shards_emptied"),
        rep4.getAs[Int]("gen"), rep4.getAs[Int]("base_gen"))),
      s"preflight must price exactly what publish did: $pre4 vs $rep4")
    Release.publish(spark, corpusDir, None, relRoot, "scratch4",
      nShards = 16)
    assert(rows("delta4") == rows("scratch4"),
      "state-tier delta content must equal scratch")
    // and with the per-shard state gone too (pre-upgrade dir), the
    // snapshot scan remains the correct last resort
    fs.delete(new org.apache.hadoop.fs.Path(s"$corpusDir/fpshard"), true)
    val rep5 = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta5", basedOn = "delta2").collect().head
    assert(rep5.getString(8) == "scan",
      s"no walk, no state -> the scan fallback: $rep5")
    Release.publish(spark, corpusDir, None, relRoot, "scratch5",
      nShards = 16)
    assert(rows("delta5") == rows("scratch5"),
      "scan-tier delta content must equal scratch")
    assert(rows("delta5") == rows("delta4"),
      "state and scan must decide identically on the same snapshot")
    // a base from a DIFFERENT corpus refuses loudly (ADVICE r13: a
    // cross-corpus diff would byte-copy colliding shards from the
    // wrong lineage into a release claiming this corpus's generation)
    val corpusDir2 = s"$root/corpus2"
    StreamCurate.appendBatch(corpusDir2,
      (1L to 5L).map(i => (i, body + s"other$i", 200))
        .toDF("doc_id", "text", "n_chars"), 0L,
      b => b.select("doc_id", "text"))
    val crossEx = intercept[IllegalArgumentException] {
      Release.publishDelta(spark, corpusDir2, None, relRoot, "nope",
        basedOn = "delta2")
    }
    assert(crossEx.getMessage.contains("corpus lineage"), crossEx.getMessage)
    // an ALL-EMPTIED delta refuses like publish's empty-corpus refusal
    // (ADVICE r13: committing n_docs=0 with no shards/ layout would
    // break verifyShards and every loader for the whole registry)
    StreamCurate.deleteCurated(spark, corpusDir,
      spark.read.parquet(Release.shardsDir(relRoot, "delta3"))
        .select("doc_id"))
    val emptyEx = intercept[IllegalArgumentException] {
      Release.publishDelta(spark, corpusDir, None, relRoot, "nope2",
        basedOn = "delta3")
    }
    assert(emptyEx.getMessage.contains("empty"), emptyEx.getMessage)
    assert(Release.registry(spark, relRoot).get
      .filter(col("release").isin("nope", "nope2")).count() == 0,
      "refused deltas must be registry-invisible")
    // a base without per-shard stats refuses loudly (pre-stats publish)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$relRoot/base/shardstats"), true)
    intercept[IllegalArgumentException] {
      Release.publishDelta(spark, corpusDir, None, relRoot, "nope",
        basedOn = "base")
    }
  }

  test("retire + gc: referenced bases survive, unreferenced retired releases reclaim, plan equals act") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("relgc").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    StreamCurate.appendBatch(corpusDir,
      (1L to 20L).map(i => (i, body + s"marker$i", 200))
        .toDF("doc_id", "text", "n_chars"), 0L,
      b => b.select("doc_id", "text"))
    Release.publish(spark, corpusDir, None, relRoot, "g1", nShards = 8)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(4L).toDF("doc_id"))
    Release.publishDelta(spark, corpusDir, None, relRoot, "g2",
      basedOn = "g1")
    Release.publish(spark, corpusDir, None, relRoot, "g3", nShards = 8)
    // retire the delta's base (still referenced) and the standalone g3
    Release.retire(spark, relRoot, "g1")
    Release.retire(spark, relRoot, "g3")
    assert(Release.registry(spark, relRoot).get.collect()
      .map(_.getString(0)).toSet == Set("g2"),
      "retired releases must leave the registry")
    // plan names exactly the unreferenced retired release
    val plan = Release.gcPlan(spark, relRoot).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(plan == Map("g1" -> ((true, true, false)),
      "g2" -> ((false, false, false)), "g3" -> ((true, false, true))),
      s"plan must mark only the unreferenced retired release: $plan")
    // act: the report equals the plan (shared account), bytes follow it
    val acted = Release.gc(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(acted == Map("g1" -> false, "g2" -> false, "g3" -> true), s"$acted")
    val fs = new org.apache.hadoop.fs.Path(relRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$relRoot/g3")),
      "reclaimed release bytes must be gone")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      Release.shardsDir(relRoot, "g1"))),
      "a referenced retired base must keep its bytes for provenance")
    // idempotent: the next account simply no longer lists g3
    val again = Release.gc(spark, relRoot).collect()
      .map(_.getString(0)).toSet
    assert(again == Set("g1", "g2"), s"$again")
    // the registry-facing sweeps ignore retired releases
    assert(Release.verifyShards(spark, relRoot).collect()
      .map(_.getString(0)).toSet == Set("g2"))
    // a retired name stays claimed: republish refuses, retire refuses
    intercept[IllegalArgumentException] {
      Release.publish(spark, corpusDir, None, relRoot, "g1", nShards = 8)
    }
    intercept[IllegalArgumentException] {
      Release.retire(spark, relRoot, "g1") // already retired
    }
    // retiring g2 frees g1: both reclaim on the next gc
    Release.retire(spark, relRoot, "g2")
    val last = Release.gc(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(last == Map("g1" -> true, "g2" -> true), s"$last")
    intercept[IllegalArgumentException] { // empty root: loud, not silent
      Release.gcPlan(spark, relRoot)
    }
  }

  test("publishDelta state tier over a shard-clustered base reads only touched cluster dirs (VERDICT r14 #1)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("relclust").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    StreamCurate.appendBatch(corpusDir,
      (1L to 60L).map(i => (i, body + s"marker$i tail$i", 200))
        .toDF("doc_id", "text", "n_chars"), 0L,
      b => b.select("doc_id", "text"))
    Release.publish(spark, corpusDir, None, relRoot, "base", nShards = 16)
    // takedown → CLUSTERED fold (64 cluster dirs = 4 per release
    // shard) → vacuum (walk unprovable) → second takedown → delta:
    // the state tier decides from metadata and reads content only
    // from the touched shards' cluster dirs
    StreamCurate.deleteCurated(spark, corpusDir, Seq(7L).toDF("doc_id"))
    StreamCurate.compact(spark, corpusDir,
      StreamCurate.nextCompactId(spark, corpusDir), clusterBins = 64)
    StreamCurate.vacuum(spark, corpusDir)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(23L).toDF("doc_id"))
    val rep = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta", basedOn = "base").collect().head
    assert(rep.getString(8) == "state",
      s"vacuumed walk over the clustered base must use the state tier: $rep")
    Release.publish(spark, corpusDir, None, relRoot, "scratch",
      nShards = 16)
    def rows(name: String) =
      spark.read.parquet(Release.shardsDir(relRoot, name))
        .select("doc_id", "text", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows("delta") == rows("scratch"),
      "clustered state-tier delta content must equal scratch")
    // the pruning proof at the publish level: a THIRD takedown (doc
    // 37) and a vacuum (walk unprovable again), then corrupt a cluster
    // dir belonging to NO touched shard — the next state-tier delta
    // still publishes (its content read never lists the corrupt dir)
    // while a scratch publish (full scan) dies on it
    StreamCurate.deleteCurated(spark, corpusDir, Seq(37L).toDF("doc_id"))
    StreamCurate.vacuum(spark, corpusDir)
    // delta2's touched set vs "delta"'s snapshot is exactly 37's shard
    val k37 = TextOps.trainingShards(
        Seq((37L, "")).toDF("doc_id", "text"), "doc_id", 16)
      .select("shard").head().getInt(0)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val basePart = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$corpusDir/corpus"))
      .map(_.getPath).find(_.getName.startsWith("batch_id=-")).get
    // kept cb values for the touched shard at (c=64, n=16) incl.
    // slack: [4k-1, 4k+4]
    val victim = fs.listStatus(basePart)
      .map(_.getPath.getName).filter(_.startsWith("cb="))
      .map(_.stripPrefix("cb=").toInt)
      .find(cb => cb < 4 * k37 - 1 || cb > 4 * k37 + 4)
      .getOrElse(fail("need a populated cluster dir outside the " +
        "touched shard"))
    val pf = fs.listStatus(new org.apache.hadoop.fs.Path(basePart,
        s"cb=$victim"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val out = fs.create(pf, true)
    try out.write("not a parquet file".getBytes("UTF-8"))
    finally out.close()
    val rep2 = Release.publishDelta(spark, corpusDir, None, relRoot,
      "delta2", basedOn = "delta").collect().head
    assert(rep2.getString(8) == "state", s"$rep2")
    assert(spark.read.parquet(Release.shardsDir(relRoot, "delta2"))
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      ((1L to 60L).toSet -- Set(7L, 23L, 37L)),
      "the pruned-content delta must still serve the exact snapshot")
    intercept[Throwable] {
      Release.publish(spark, corpusDir, None, relRoot, "scratch2",
        nShards = 16)
    }
  }

  test("linked delta (r15): O(touched) publish — references resolve exactly, verify flags tampered owners, gc pins the owner chain") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("rellink").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    StreamCurate.appendBatch(corpusDir,
      (1L to 40L).map(i => (i, body + s"marker$i tail$i", 200))
        .toDF("doc_id", "text", "n_chars"), 0L,
      b => b.select("doc_id", "text"))
    Release.publish(spark, corpusDir, None, relRoot, "base", nShards = 16)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(7L, 21L).toDF("doc_id"))
    Release.publishDelta(spark, corpusDir, None, relRoot, "ldelta",
      basedOn = "base", link = true)
    Release.publish(spark, corpusDir, None, relRoot, "scratch",
      nShards = 16)
    def resolved(name: String): Set[(Long, String, Int)] =
      Release.loadShards(spark, relRoot, name)
        .select("doc_id", "text", "shard").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(resolved("ldelta") == resolved("scratch"),
      "a linked release must resolve to exactly the scratch content")
    // the physical dir holds ONLY the rewritten shards; the map names
    // exactly the rest, all owned by the materialized base
    val fs = new org.apache.hadoop.fs.Path(relRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victimShards = TextOps.trainingShards(
        Seq((7L, ""), (21L, "")).toDF("doc_id", "text"), "doc_id", 16)
      .select("shard").collect().map(_.getInt(0)).toSet
    val physShards = spark.read
      .parquet(Release.shardsDir(relRoot, "ldelta"))
      .select("shard").distinct().collect().map(_.getInt(0)).toSet
    assert(physShards == victimShards,
      s"only touched shards may materialize: $physShards vs $victimShards")
    val map1 = Release.readShardMap(spark, relRoot, "ldelta").get
    assert(map1.values.toSet == Set("base"))
    assert(map1.keySet ++ physShards ==
      spark.read.parquet(Release.shardsDir(relRoot, "base"))
        .select("shard").distinct().collect().map(_.getInt(0)).toSet,
      "map + physical must cover the full layout")
    // link-on-link: owners COLLAPSE to the physical release at publish
    StreamCurate.deleteCurated(spark, corpusDir, Seq(31L).toDF("doc_id"))
    Release.publishDelta(spark, corpusDir, None, relRoot, "ldelta2",
      basedOn = "ldelta", link = true)
    Release.publish(spark, corpusDir, None, relRoot, "scratch2",
      nShards = 16)
    assert(resolved("ldelta2") == resolved("scratch2"))
    val map2 = Release.readShardMap(spark, relRoot, "ldelta2").get
    assert(map2.values.toSet.subsetOf(Set("base", "ldelta")),
      s"owners must be physical releases, never a chain: $map2")
    assert(map2.filter(_._2 == "ldelta").keySet.subsetOf(physShards),
      "shards attributed to the middle release must be physically there")
    assert(Release.verifyShards(spark, relRoot).collect()
      .forall(_.getBoolean(5)), "all releases must verify through links")
    // gc: the whole owner chain stays while the linked head lives
    Release.retire(spark, relRoot, "base")
    Release.retire(spark, relRoot, "ldelta")
    val acted = Release.gc(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(acted("base") == false && acted("ldelta") == false,
      s"live ldelta2's owner chain must survive gc: $acted")
    assert(resolved("ldelta2") == resolved("scratch2"),
      "the linked head must still resolve after gc")
    // a tampered OWNER shard flips the LINKED release's verify row
    val refShard = map2.collectFirst { case (k, "base") => k }.get
    val pf = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${Release.shardsDir(relRoot, "base")}/shard=$refShard"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.delete(pf, false)
    val ver = Release.verifyShards(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(ver("ldelta2") == false,
      s"a truncated owner shard must fail the linked release: $ver")
    assert(ver("scratch") && ver("scratch2"),
      s"materialized releases are unaffected: $ver")
  }

  test("gc closure is transitive: a retired base of a retired base stays pinned while the chain's head is live (ADVICE r14)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("relgc2").toString
    val corpusDir = s"$root/corpus"
    val relRoot = s"$root/releases"
    val body = "the quick brown fox jumps over the lazy dog near the "
    StreamCurate.appendBatch(corpusDir,
      (1L to 20L).map(i => (i, body + s"marker$i", 200))
        .toDF("doc_id", "text", "n_chars"), 0L,
      b => b.select("doc_id", "text"))
    Release.publish(spark, corpusDir, None, relRoot, "c1", nShards = 8)
    StreamCurate.deleteCurated(spark, corpusDir, Seq(4L).toDF("doc_id"))
    Release.publishDelta(spark, corpusDir, None, relRoot, "c2",
      basedOn = "c1")
    StreamCurate.deleteCurated(spark, corpusDir, Seq(9L).toDF("doc_id"))
    Release.publishDelta(spark, corpusDir, None, relRoot, "c3",
      basedOn = "c2")
    // retire BOTH ancestors; only the chain head c3 stays live — the
    // one-hop account would keep c2 (named by live c3) but reclaim c1,
    // breaking c3's provenance chain one link down
    Release.retire(spark, relRoot, "c1")
    Release.retire(spark, relRoot, "c2")
    val acted = Release.gc(spark, relRoot).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(acted == Map("c1" -> ((true, false)), "c2" -> ((true, false)),
      "c3" -> ((false, false))),
      s"both retired ancestors must stay referenced by the live head: $acted")
    val fs = new org.apache.hadoop.fs.Path(relRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      Release.shardsDir(relRoot, "c1"))),
      "the transitive base's bytes must survive gc")
    // retire the head: the closure empties and the whole chain reclaims
    Release.retire(spark, relRoot, "c3")
    val last = Release.gc(spark, relRoot).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(last == Map("c1" -> true, "c2" -> true, "c3" -> true), s"$last")
  }
}
