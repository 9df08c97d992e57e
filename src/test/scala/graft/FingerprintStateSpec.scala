package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.TextOps
import graft.streaming.StreamCurate

/** The MAINTAINED corpus fingerprint
  * ([[StreamCurate.fingerprintState]]): metadata-sized state (one XOR
  * partial per append, a NEGATIVE partial per takedown, an exact base at
  * compaction) must equal the full-scan [[TextOps.corpusFingerprint]] of
  * the served corpus at EVERY lifecycle point — append, empty-survivor
  * batch, delete, compact, vacuum — and must refuse (None) when coverage
  * is unprovable (a live batch predating the fingerprint state), with
  * compaction as the migration path that mints a base. */
class FingerprintStateSpec extends AnyFunSuite with SharedSpark {
  private val good = "the data row holds a good long value " * 4

  private def policy(b: DataFrame): DataFrame =
    b.filter(length(col("text")) >= 50).select("doc_id", "text")

  private def append(dir: String, id: Long,
                     rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    StreamCurate.appendBatch(dir, rows.toDF("doc_id", "text"), id, policy)
  }

  /** (n_rows, fingerprint) from the maintained state. */
  private def state(dir: String): Option[(Long, Long)] =
    StreamCurate.fingerprintState(spark, dir).map { df =>
      val r = df.collect().head
      (r.getLong(0), r.getLong(1))
    }

  /** (n_rows, fingerprint) from a full scan of the served corpus —
    * sorted payload column order, matching the state's row hash. */
  private def scan(dir: String): (Long, Long) = {
    val served = StreamCurate.load(spark, dir).get.drop("batch_id")
    val r = TextOps.corpusFingerprint(served,
      served.columns.sorted.toSeq, Seq.empty).collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("state equals scan at every lifecycle point") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstate").toString
    append(dir, 0L, Seq(1L -> (good + "a"), 2L -> (good + "b")))
    assert(state(dir).contains(scan(dir)), "after first append")
    append(dir, 1L, Seq(3L -> (good + "c"), 4L -> (good + "d")))
    assert(state(dir).contains(scan(dir)), "after second append")
    // empty-survivor batch: fresh digests, all policy-rejected -> the
    // identity partial keeps coverage provable
    append(dir, 2L, Seq(9L -> "short"))
    assert(state(dir).contains(scan(dir)), "after empty-survivor batch")
    // takedown: the NEGATIVE partial folds the deleted rows out
    StreamCurate.deleteCurated(spark, dir, Seq(2L, 3L).toDF("doc_id"))
    assert(state(dir).contains(scan(dir)), "after delete")
    assert(state(dir).get._1 == 2L, "count reflects the takedown")
    // a second delete stacked on the first
    StreamCurate.deleteCurated(spark, dir, Seq(1L).toDF("doc_id"))
    assert(state(dir).contains(scan(dir)), "after second delete")
    // compaction mints a fresh exact base; serve unchanged
    val pre = state(dir).get
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(state(dir).contains(pre), "compact must not move the state")
    assert(state(dir).contains(scan(dir)))
    // vacuum reclaims history; the live base still serves
    StreamCurate.vacuum(spark, dir)
    assert(state(dir).contains(pre), "vacuum must not move the state")
    // and appends keep folding on top of the base
    append(dir, 7L, Seq(11L -> (good + "k")))
    assert(state(dir).contains(scan(dir)), "append after compact+vacuum")
  }

  test("fully-deleted corpus: state and scan agree on (0, NULL)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstate_empty").toString
    append(dir, 0L, Seq(1L -> (good + "a"), 2L -> (good + "b")))
    StreamCurate.deleteCurated(spark, dir, Seq(1L, 2L).toDF("doc_id"))
    // the scan form's zero-row global agg yields (0, NULL); the state's
    // netted partials must normalize to the same, not serve (0, 0)
    val st = StreamCurate.fingerprintState(spark, dir).get.collect().head
    assert(st.getLong(0) == 0L && st.isNullAt(1),
      s"state must serve (0, NULL) for an all-deleted corpus, got $st")
    val served = StreamCurate.load(spark, dir).get.drop("batch_id")
    val sc = TextOps.corpusFingerprint(served,
      served.columns.sorted.toSeq, Seq.empty).collect().head
    assert(sc.getLong(0) == 0L && sc.isNullAt(1),
      s"scan form changed its empty-corpus contract: $sc")
  }

  test("re-ingesting a previously-deleted key: the masked row never enters the state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstate_reing").toString
    append(dir, 0L, Seq(1L -> (good + "a"), 2L -> (good + "b")))
    StreamCurate.deleteCurated(spark, dir, Seq(2L).toDF("doc_id"))
    // key 2 re-crawled with CHANGED bytes: the seen-digest guard admits
    // it, the corpus stores it, but the live tombstone masks it from
    // every serve — the append partial must exclude it too, or the
    // state silently diverges from the serve (review finding r11-s2 #1)
    append(dir, 1L, Seq(2L -> (good + "b CHANGED")))
    assert(StreamCurate.load(spark, dir).get
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L),
      "the re-ingested key must stay masked")
    assert(state(dir).contains(scan(dir)),
      "state must match the serve, not the raw partitions")
    assert(state(dir).get._1 == 1L)
    // the fold then physically drops the masked row; state still exact
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(state(dir).contains(scan(dir)))
  }

  /** shard → (n, fp) from the maintained per-shard state at nShards. */
  private def shardState(dir: String, n: Int)
      : Option[Map[Int, (Long, Long)]] =
    StreamCurate.fingerprintShardState(spark, dir, n,
        Seq("doc_id", "text"))
      .map(_.collect().map(r =>
        r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap)

  /** shard → (n, fp) from a full scan via trainingShards — the form the
    * release publisher's per-shard stats use. */
  private def shardScan(dir: String, n: Int): Map[Int, (Long, Long)] = {
    val served = StreamCurate.load(spark, dir).get.drop("batch_id")
    TextOps.corpusFingerprint(
        TextOps.trainingShards(served, "doc_id", n)
          .select(col("shard"), col("doc_id"), col("text")),
        Seq("doc_id", "text"), Seq("shard"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("per-shard state equals the sharded scan at every lifecycle point") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpshard").toString
    // enough rows to spread over shards at n=8
    append(dir, 0L, (1L to 24L).map(i => i -> (good + s"a$i")))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)), "after append")
    assert(shardState(dir, 4).contains(shardScan(dir, 4)),
      "any power-of-two shard count folds from the same bins")
    append(dir, 1L, (25L to 40L).map(i => i -> (good + s"b$i")))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)),
      "after second append")
    // empty-survivor batch keeps coverage provable
    append(dir, 2L, Seq(90L -> "short"))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)),
      "after empty-survivor batch")
    // takedown folds the victims' bins out
    StreamCurate.deleteCurated(spark, dir,
      Seq(2L, 3L, 26L).toDF("doc_id"))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)), "after delete")
    // compaction re-bases; serve unchanged
    val pre = shardState(dir, 8).get
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(shardState(dir, 8).contains(pre),
      "compact must not move the per-shard state")
    StreamCurate.vacuum(spark, dir)
    assert(shardState(dir, 8).contains(pre),
      "vacuum must not move the per-shard state")
    append(dir, 7L, Seq(50L -> (good + "k")))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)),
      "append after compact+vacuum")
    // guards: a non-divisor shard count and a payload mismatch refuse
    assert(StreamCurate.fingerprintShardState(spark, dir, 3,
      Seq("doc_id", "text")).isEmpty, "3 does not divide 1024")
    assert(StreamCurate.fingerprintShardState(spark, dir, 8,
      Seq("doc_id", "text", "lang")).isEmpty,
      "a payload mismatch must refuse, never hash differently")
    // ADVICE r14: the partials hash in sorted-name order, so a caller
    // declaring a DIFFERENT order would compare apples to oranges —
    // the set matches but the order must too
    assert(StreamCurate.fingerprintShardState(spark, dir, 8,
      Seq("text", "doc_id")).isEmpty,
      "an unsorted payload order must refuse, never hash differently")
  }

  test("fold neutrality is per-bin: a pair-wise partial corruption the batch-level xor cancels still refuses (VERDICT r14 #2)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpbin").toString
    append(dir, 0L, (1L to 24L).map(i => i -> (good + s"a$i")))
    append(dir, 1L, (25L to 40L).map(i => i -> (good + s"b$i")))
    val gA = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    val into = StreamCurate.nextCompactId(spark, dir)
    StreamCurate.compact(spark, dir, into)
    val gB = graft.streaming.Manifest.readWithGen(spark, dir).get._1
    // the honest fold is provably neutral: the window composes to
    // nothing (pure-metadata republish territory)
    assert(StreamCurate.diffSegments(spark, dir, gA, gB)
      .contains(Seq.empty), "an honest fold must prove neutral")
    // corrupt the base's per-bin partial PAIR-WISE: swap two bins'
    // fps — the batch-level (n, xor) folds identically (xor is
    // permutation-invariant), so the r13 single-pair check would
    // byte-copy base shards from a divergent base; the per-bin check
    // must refuse
    val fpShardPath = s"$dir/fpshard/batch_id=$into"
    val rows = spark.read.parquet(fpShardPath)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.length >= 2, s"need two bins to swap, got ${rows.length}")
    val swapped = rows.updated(0, (rows(0)._1, rows(0)._2, rows(1)._3))
      .updated(1, (rows(1)._1, rows(1)._2, rows(0)._3))
    swapped.toSeq.toDF("bin", "n", "fp").coalesce(1)
      .write.mode("overwrite").parquet(fpShardPath)
    // batch-level state still folds to the same (n, xor) pair…
    val batchLevel = StreamCurate.fingerprintState(spark, dir)
      .get.collect().head
    val scanLevel = {
      val served = StreamCurate.load(spark, dir).get.drop("batch_id")
      TextOps.corpusFingerprint(served, served.columns.sorted.toSeq,
        Seq.empty).collect().head
    }
    assert(batchLevel.getLong(0) == scanLevel.getLong(0) &&
      batchLevel.getLong(1) == scanLevel.getLong(1),
      "the planted corruption must be invisible at batch level " +
        "(otherwise this leg proves nothing)")
    // …but the per-bin neutrality check sees the divergence and the
    // walk refuses to classify the fold as content-neutral
    assert(StreamCurate.diffSegments(spark, dir, gA, gB).isEmpty,
      "a bin-level divergence must refuse neutrality even when the " +
        "batch-level xor cancels it")
  }

  test("shard-clustered compaction (VERDICT r14 #1): serve identical, states exact, pruned load skips unrelated cluster dirs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpclust").toString
    append(dir, 0L, (1L to 40L).map(i => i -> (good + s"a$i")))
    append(dir, 1L, (41L to 60L).map(i => i -> (good + s"b$i")))
    StreamCurate.deleteCurated(spark, dir, Seq(5L, 17L).toDF("doc_id"))
    def served: Set[(Long, String)] =
      StreamCurate.load(spark, dir).get.select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val pre = served
    val preShard = shardState(dir, 8).get
    val into = StreamCurate.nextCompactId(spark, dir)
    StreamCurate.compact(spark, dir, into, clusterBins = 64)
    // layout-transparent serve + both maintained states still exact
    assert(served == pre, "a clustered fold must not move the serve")
    assert(shardState(dir, 8).contains(preShard))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)))
    assert(state(dir).contains(scan(dir)))
    // appends on top of the clustered base interoperate (mixed layout)
    append(dir, 7L, Seq(70L -> (good + "k")))
    assert(served == pre + ((70L, good + "k")))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)))
    // pruned load serves every row of the asked shards (superset + the
    // caller's exact filter = the contract)
    val full = StreamCurate.load(spark, dir).get
    val withShard = TextOps.trainingShards(full, "doc_id", 8)
    val k = withShard.filter(col("doc_id") === 1L)
      .select("shard").head().getInt(0)
    def shardRows(df: org.apache.spark.sql.DataFrame): Set[Long] =
      TextOps.trainingShards(df, "doc_id", 8)
        .filter(col("shard") === k)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = shardRows(full)
    assert(expect.nonEmpty)
    assert(shardRows(StreamCurate.loadAtShards(spark, dir, None, 8,
      Set(k)).get) == expect, "pruned load must cover the asked shard")
    // TRUE pruning: corrupt a cluster dir whose bins cannot belong to
    // shard k — the pruned read never lists it, the full read dies
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val basePart = new org.apache.hadoop.fs.Path(
      s"$dir/corpus/batch_id=$into")
    // kept cb range for shard k at (c=64, n=8) incl. slack: [8k-1, 8k+8]
    val victim = fs.listStatus(basePart)
      .map(_.getPath.getName).filter(_.startsWith("cb="))
      .map(_.stripPrefix("cb=").toInt)
      .find(cb => cb < 8 * k - 1 || cb > 8 * k + 8)
      .getOrElse(fail("need a populated cluster dir outside the range"))
    val pf = fs.listStatus(new org.apache.hadoop.fs.Path(basePart,
        s"cb=$victim"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val out = fs.create(pf, true)
    try out.write("not a parquet file".getBytes("UTF-8"))
    finally out.close()
    assert(shardRows(StreamCurate.loadAtShards(spark, dir, None, 8,
      Set(k)).get) == expect,
      "the pruned read must never touch an out-of-range cluster dir")
    intercept[Throwable] {
      StreamCurate.load(spark, dir).get.count()
    }
  }

  test("per-shard pre-upgrade coverage refused; compaction migrates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpshard_mig").toString
    append(dir, 0L, (1L to 6L).map(i => i -> (good + s"a$i")))
    append(dir, 1L, (7L to 12L).map(i => i -> (good + s"b$i")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/fpshard/batch_id=0"),
      true)
    assert(shardState(dir, 8).isEmpty,
      "unprovable coverage must refuse, not serve wrong shard stats")
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(shardState(dir, 8).contains(shardScan(dir, 8)),
      "compaction mints the per-shard base")
  }

  test("pre-upgrade coverage refused; compaction is the migration path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpstate_mig").toString
    append(dir, 0L, Seq(1L -> (good + "a")))
    append(dir, 1L, Seq(2L -> (good + "b")))
    // simulate a batch ingested before the fingerprint state existed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/fpstate/batch_id=0"),
      true)
    assert(state(dir).isEmpty,
      "unprovable coverage must refuse, not serve a wrong checksum")
    // one fold re-bases from the corpus itself
    StreamCurate.compact(spark, dir,
      into = StreamCurate.nextCompactId(spark, dir))
    assert(state(dir).contains(scan(dir)), "compaction mints the base")
  }
}
