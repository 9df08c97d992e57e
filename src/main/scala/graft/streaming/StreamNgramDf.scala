package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextOps

/** STREAMING maintenance of the n-gram DOCUMENT-FREQUENCY index — the
  * online form of x55's overlap-score artifact ([[graft.ext.TextOps
  * .ngramDf]]), completing the family banner: every maintained dedup /
  * curation artifact has a streamed member (st3 digests, st5
  * signatures, st6/st7 sparse postings, st8 dense index, st9 curated
  * corpus, st10 cluster table — and now the overlap index).
  *
  * THE STORAGE SHAPE: a df table is not append-only row-wise — every
  * batch increments `ndocs` for grams it shares with history, and at
  * corpus scale the gram table is NOT metadata-sized (distinct n-grams
  * grow with the corpus — Lee et al. scale), so the st10 rewrite-the-
  * overlay trick doesn't transfer. The right layout is the LSM / tiered
  * discipline already proven on the BM25 term-df segments: each batch
  * appends an immutable (ng, ndocs) DELTA partition for its FRESH docs
  * only, the served index is the keyed SUM over live deltas (one
  * partial-aggregated groupBy — associative, so deltas never reorder),
  * and [[compact]] folds deltas into one merged base partition (the
  * negative-id namespace) when the live-partition count warrants it.
  *
  * REPLAY SAFETY is structural, not contractual (the r9→r10 upgrade
  * that [[graft.ext.TextOps.ngramDfMergeSafe]] made in batch form): a
  * `seenids/batch_id=N` partition rides next to every delta, arriving
  * docs anti-join the committed ids INSIDE the sink, and a re-delivered
  * batch contributes nothing — no delta, no generation. The guard data
  * is one long per committed doc (the st3 digest-index shape).
  *
  * Crash/concurrency contract = the shared [[Manifest]] protocol:
  * disjoint per-batch staging dirs, one atomic manifest flip, orphan
  * wipe on same-id retry, loud refusal of NEW docs on an ever-committed
  * id, snapshot-isolated reads (live partitions' paths, never a
  * directory listing), time travel via [[loadAt]].
  */
object StreamNgramDf extends SeenIdsSink {

  /** Df deltas, seen ids and delete records: the vacuum families and
    * the id ledger alike. A vacuum keeps the live merged base, including
    * the compacted seen-ids table, so the replay guard keeps holding. */
  protected def vacuumFamilies(dir: String): Seq[(String, String)] = Seq(
    dfDir(dir) -> "batch_id=", idsDir(dir) -> "batch_id=",
    delDir(dir) -> "del_id=")

  /** TAKEDOWN deletes — the LSM answer for an index whose rows are
    * SUMS, not documents (x57's tombstone-mask doesn't transfer: a
    * deleted doc's contribution is spread across every gram it
    * shared): the delete is a NEGATIVE DELTA — `ngramDf` of the deleted
    * docs with `ndocs` negated, appended as one more immutable delta
    * partition. The serve's keyed sum nets it out immediately (grams
    * netting to 0 drop — bit-equal to an index never containing the
    * docs), and [[compact]]'s fold ABSORBS it physically. Needs the
    * deleted docs' TEXTS: the cascade-order contract — forget the
    * derivatives while the corpus sink ([[StreamCurate]]) still holds
    * the bodies, then forget the bodies.
    *
    * Deleted ids are recorded in a `delids` partition under the
    * manifest's persistent `aux` family: deletes are scoped to
    * seen-minus-deleted (a re-delete of the same id subtracts NOTHING —
    * double-subtraction would corrupt every shared gram's df), and the
    * record survives every fold. The seen-ids guard is deliberately
    * untouched, so a re-crawl of a deleted doc stays out (the x58
    * blocker semantics — this index's guard is id-based). Atomic: the
    * negative delta and the deleted-ids record commit in ONE flip; both
    * staged partitions are reclaimed if the CAS loses. */
  def deleteDocs(s: SparkSession, dir: String, docs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 n: Int = 3): Unit = {
    val st = Manifest.readLiveWithGen(s, dir)
    // no listing fallback here: a manifest-less dir has nothing this
    // sink ever committed (loadSeenIds would throw below anyway), and a
    // listing-derived Live would misfile del_id aux partitions into the
    // data family (r11 second-review #6) — fail loudly instead
    val live = st.map(_._2).getOrElse(throw new IllegalArgumentException(
      s"no manifest at $dir — nothing committed to delete from"))
    val seen = loadSeenIds(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no index state at $dir"))
    // one row per id (caller contract: one body per id) — duplicate
    // rows would subtract a doc's gram contributions TWICE and corrupt
    // every shared gram's df (r11 self-review #4)
    val scoped0 = docs.dropDuplicates(idCol)
      .join(seen.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    val scoped = (deletedIds(s, dir, live.aux) match {
      case Some(del) =>
        scoped0.join(del.select(col("id").as(idCol)), Seq(idCol),
          "left_anti")
      case None => scoped0
    }).persist()
    try {
      if (scoped.count() == 0) return // re-deletes/unknown ids: no commit
      val negId = nextCompactId(s, dir)
      val delId = nextCompactId(s, dir)
      TextOps.ngramDf(scoped, idCol, textCol, n)
        .select(col("ng"), (-col("ndocs")).as("ndocs"))
        .write.mode("overwrite")
        .parquet(s"${dfDir(dir)}/batch_id=$negId")
      scoped.select(col(idCol).as("id")).coalesce(1) // takedown-sized
        .write.mode("overwrite").parquet(s"${delDir(dir)}/del_id=$delId")
      commitStaged(s, dir,
        live.copy(data = live.data + negId, aux = live.aux + delId),
        basedOn = st.map(_._1).getOrElse(-1), staged = Seq(
          s"${dfDir(dir)}/batch_id=$negId", s"${delDir(dir)}/del_id=$delId"))
    } finally scoped.unpersist()
  }

  /** `foreachBatch` sink body: one micro-batch of documents folds into
    * the maintained index. Re-delivered doc ids drop against the
    * committed seen-ids partitions; a batch with nothing fresh commits
    * nothing — not even a generation. */
  def appendBatch(dir: String, docs: DataFrame, batchId: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  n: Int = 3): Unit = {
    val spark = docs.sparkSession
    val (gen, manifest, referenced) = enterAppend(spark, dir,
      batchId, dfDir(dir), Seq(
        s"${dfDir(dir)}/batch_id=${batchId.toInt}",
        s"${idsDir(dir)}/batch_id=${batchId.toInt}"))
    val fresh0 = loadSeenIds(spark, dir) match {
      case Some(seen) =>
        docs.join(seen.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      case None => docs
    }
    val fresh = fresh0.persist()
    try {
      if (fresh.count() == 0) return // full replay: no delta, no commit
      refuseReset(dir, batchId, referenced, "new docs")
      TextOps.ngramDf(fresh, idCol, textCol, n)
        .write.mode("overwrite")
        .parquet(s"${dfDir(dir)}/batch_id=${batchId.toInt}")
      fresh.select(col(idCol).as("id"))
        .write.mode("overwrite")
        .parquet(s"${idsDir(dir)}/batch_id=${batchId.toInt}")
      commitAppend(spark, dir, batchId, gen, manifest)(Manifest.Live(
        everUsedIds(spark, dir) - batchId.toInt, Set.empty))
    } finally fresh.unpersist()
  }

  /** Fold every live delta into ONE merged base partition (`into` — a
    * fresh negative id, the merged-segment namespace) for both the df
    * table and the seen ids: the tiered-merge step that bounds the
    * serve-time sum's fan-in. Stages, then one atomic flip; folded
    * partitions stay as time-travel history. */
  def compact(s: SparkSession, dir: String, into: Int): Unit = {
    requireFreshMergedId(s, dir, into)
    val st = Manifest.readLiveWithGen(s, dir)
    // load() nets negative takedown deltas and drops zero-sum grams, so
    // the merged base PHYSICALLY forgets deleted contributions
    val df = load(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no df state at $dir"))
    val ids = loadSeenIds(s, dir).getOrElse(
      throw new IllegalArgumentException(s"no seen-ids state at $dir"))
    df.write.mode("overwrite").parquet(s"${dfDir(dir)}/batch_id=$into")
    ids.write.mode("overwrite").parquet(s"${idsDir(dir)}/batch_id=$into")
    // the aux family (deleted-ids records) survives the fold — that is
    // what keeps re-deletes idempotent after physical reclaim
    commitStaged(s, dir,
      Manifest.Live(Set(into), Set.empty,
        st.map(_._2.aux).getOrElse(Set.empty)),
      basedOn = st.map(_._1).getOrElse(-1), staged = Seq(
        s"${dfDir(dir)}/batch_id=$into", s"${idsDir(dir)}/batch_id=$into"))
  }

  /** The served (ng, ndocs) index — the keyed sum over live delta
    * partitions; None before the first batch. Feed it to [[graft.ext
    * .TextOps.dupScoreAgainst]] exactly like a scratch [[graft.ext
    * .TextOps.ngramDf]] table. */
  def load(s: SparkSession, dir: String): Option[DataFrame] =
    loadAt(s, dir, asOfGen = None)

  /** TIME-TRAVEL read of the df index as of a committed generation
    * ([[SeenIdsSink.dfSumAt]]): [[deleteDocs]]' negative deltas net
    * out, and the served table is bit-equal to one over a corpus that
    * never contained the deleted docs. */
  def loadAt(s: SparkSession, dir: String, asOfGen: Option[Int])
      : Option[DataFrame] =
    dfSumAt(s, dir, asOfGen)
}
