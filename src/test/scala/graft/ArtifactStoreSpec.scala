package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ArtifactStore lifecycle: build-once/load-thereafter, spec-string and
  * fixture-content invalidation, read-back lineage equality, the
  * longArray round trip, and the dirArtifact commit protocol. The
  * environment knobs (REBUILD / DIR=off) are driver-level and covered by
  * tools/determinism_check.py run B. */
class ArtifactStoreSpec extends AnyFunSuite with SharedSpark {
  /** A throwaway fixture dir (the fingerprint source). */
  private def freshFixture(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-as-fix").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  test("build runs once; later calls load the identical parquet read-back") {
    import spark.implicits._
    val fix = freshFixture()
    var builds = 0
    def get() = ArtifactStore.dataFrame(spark, fix, "doubled", "v1") {
      builds += 1
      spark.read.parquet(s"$fix/t.parquet")
        .select(col("id"), (col("id") * 2).as("d"))
    }
    val first = get().orderBy("id").as[(Long, Long)].collect().toSeq
    val second = get().orderBy("id").as[(Long, Long)].collect().toSeq
    assert(builds == 1, "second call must load, not rebuild")
    assert(first == Seq((1L, 2L), (2L, 4L), (3L, 6L)))
    assert(second == first)
  }

  test("a changed spec string invalidates; a changed fixture invalidates") {
    import spark.implicits._
    val fix = freshFixture()
    var builds = 0
    def get(spec: String) =
      ArtifactStore.dataFrame(spark, fix, "specd", spec) {
        builds += 1
        spark.read.parquet(s"$fix/t.parquet").select("id")
      }.count()
    get("v1"); get("v1")
    assert(builds == 1)
    get("v2 param=7") // build-parameter change => stale artifact unusable
    assert(builds == 2)
    // fixture CONTENT change => new fingerprint => rebuild (same name/spec)
    Seq((9L, "z")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$fix/t.parquet")
    assert(get("v2 param=7") == 1L)
    assert(builds == 3)
  }

  test("group: one build produces all outs; partial groups never validate") {
    val fix = freshFixture()
    var builds = 0
    def get() = ArtifactStore.group(spark, fix, "pair", "v1",
      Seq("one", "two")) {
      builds += 1
      val t = spark.read.parquet(s"$fix/t.parquet")
      Seq(t.select("id"), t.select("v"))
    }
    val Seq(a, b) = get()
    assert(a.columns.toSeq == Seq("id") && b.columns.toSeq == Seq("v"))
    get()
    assert(builds == 1)
    // a spec bump invalidates the WHOLE group at once
    ArtifactStore.group(spark, fix, "pair", "v2", Seq("one", "two")) {
      builds += 1
      val t = spark.read.parquet(s"$fix/t.parquet")
      Seq(t.select("id"), t.select("v"))
    }
    assert(builds == 2)
  }

  test("longArray round-trips words in order") {
    val fix = freshFixture()
    val words = Array(5L, -1L, Long.MaxValue, 0L, 42L)
    val got = ArtifactStore.longArray(spark, fix, "bloomish", "v1")(words)
    assert(got.toSeq == words.toSeq)
    // loaded (not rebuilt) copy is identical
    val again = ArtifactStore.longArray(spark, fix, "bloomish", "v1")(
      throw new AssertionError("must load, not rebuild"))
    assert(again.toSeq == words.toSeq)
  }

  test("dirArtifact: uncommitted dirs re-offer for build; committed reuse") {
    val fix = freshFixture()
    val Some((p1, valid1)) = ArtifactStore.dirArtifact(fix, "segdir", "v1")
    assert(!valid1)
    Files.writeString(p1.resolve("payload.txt"), "x")
    // NOT committed => a second call re-offers (and clears the partial dir)
    val Some((p2, valid2)) = ArtifactStore.dirArtifact(fix, "segdir", "v1")
    assert(!valid2 && !Files.exists(p2.resolve("payload.txt")))
    Files.writeString(p2.resolve("payload.txt"), "y")
    ArtifactStore.commitDir(p2, "v1")
    val Some((p3, valid3)) = ArtifactStore.dirArtifact(fix, "segdir", "v1")
    assert(valid3)
    assert(Files.readString(p3.resolve("payload.txt")) == "y")
  }
}
