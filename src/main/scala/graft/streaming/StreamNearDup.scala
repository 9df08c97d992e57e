package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ext.{Dedup, TextOps}

/** One banded-signature row of the near-dup stream: a document's MinHash
  * signature replicated to one of its LSH band buckets. */
case class BandedDoc(doc_id: Long, minhash: Array[Long], band: Int, band_hash: Long)

/** A bucket representative retained in streaming state. */
case class BandRep(doc_id: Long, sig: Array[Long])

/** An online near-dup candidate pair (id1 < id2, est_jaccard = fraction of
  * agreeing signature positions — same estimate as the batch
  * [[graft.ext.Dedup.minHashCandidates]]). */
case class CandPair(id1: Long, id2: Long, est_jaccard: Double)

/** Streaming NEAR-dup candidate detection — the online form of x7's
  * MinHash+LSH pairing ([[graft.ext.Dedup.minHashCandidates]]), for ingest
  * pipelines that must surface "this new document near-duplicates an
  * earlier one" as documents arrive, not in a nightly batch.
  *
  * Split mirrors the batch operator's cost shape:
  *  - STATELESS stream side: tokenize → shingle → native `MinHashSig`
  *    signature → LSH band keys, all codegen'd column expressions computed
  *    in the micro-batch scan (no state, no shuffle beyond the keyed
  *    grouping below).
  *  - STATEFUL side: `flatMapGroupsWithState` keyed by (band, band_hash) —
  *    exactly the batch equi-join key. State per bucket = up to
  *    `maxBucketReps` representative (doc_id, signature) entries; each
  *    arriving document emits a candidate pair against every stored
  *    representative (and earlier same-batch arrivals), with est_jaccard
  *    computed from the signatures already in hand — no second join.
  *
  * Batch ≡ stream: with `maxBucketReps` ≥ the largest bucket, the DISTINCT
  * (id1, id2) set equals the batch operator's candidate set on the same
  * corpus, and est_jaccard matches exactly (same agree/k arithmetic;
  * StreamNearDupSpec asserts both). A pair sharing several bands is emitted
  * once per band (the batch form dedups via `.distinct()`) — downstream
  * consumers dedup or feed a CC resolver, which tolerates duplicates.
  *
  * State-size / cap semantics at 100 TB ingest: state holds `bands` rows
  * per kept document — bounded per bucket by `maxBucketReps`, the streaming
  * analogue of the batch `maxBucketSize`. The batch form can drop a
  * pathological bucket retroactively (it sees the full occupancy before
  * pairing); a stream cannot un-emit, so the cap instead FREEZES a full
  * bucket's representative set: later arrivals still pair against the
  * frozen reps (boilerplate detection keeps working) but are not added, so
  * a mega-bucket costs O(maxBucketReps) per arrival instead of O(n).
  * Production deployments bound total state with an event-time timeout on
  * cold buckets, same as StreamDedup's horizon note.
  */
object StreamNearDup {

  /** Stateless stream stage: (doc_id, text) → one [[BandedDoc]] row per
    * band. Pure codegen'd expressions; runs inside the micro-batch scan. */
  def banded(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands ($bands) must evenly divide signature length k ($k)")
    // Pre-filter on token count: the exact condition for a non-empty
    // 3-shingle set, so every row that reaches lshBands signs non-null.
    val shingled = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextOps.shingles(col("toks"), 3).as("sh"))
    bandedFromShingles(shingled, k, bands)
  }

  /** [[banded]] over a pre-shingled (doc_id, sh) frame, for callers with
    * their own shingle scheme. A row with an empty `sh` signs to null and
    * emits no band row. */
  def bandedFromShingles(shingled: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"bands ($bands) must evenly divide signature length k ($k)")
    Dedup.lshBands(Dedup.withMinHash(shingled, "sh", k),
        "doc_id", bands, k / bands, carry = Seq("minhash"))
      .select("doc_id", "minhash", "band", "band_hash")
  }

  /** Per-bucket state transition: pair each arrival against the stored
    * representatives (and earlier arrivals in this micro-batch, in doc_id
    * order — the deterministic stand-in for arrival order, matching
    * StreamDedup), then absorb it into state up to `maxBucketReps`.
    *
    * At-least-once safe: an arrival whose doc_id is already a stored
    * representative (source redelivery) is SKIPPED outright — its pairs
    * were emitted on first delivery, and re-appending would both waste
    * a `maxBucketReps` slot and duplicate every future pair it joins.
    * The membership probe is a per-batch hash set (built once from
    * state), and the rep count is tracked in a counter — no per-event
    * `List.size`/linear scans, so a hot bucket's batch stays linear. */
  def pairFn(k: Int, maxBucketReps: Int)(
      key: (Int, Long), events: Iterator[BandedDoc],
      state: GroupState[List[BandRep]]): Iterator[CandPair] = {
    var reps = state.getOption.getOrElse(Nil)
    var nReps = reps.size // once per (bucket, batch), then counter-tracked
    val seen = new scala.collection.mutable.HashSet[Long]
    reps.foreach(r => seen += r.doc_id)
    val out = Seq.newBuilder[CandPair]
    events.toSeq.sortBy(_.doc_id).foreach { e =>
      if (!seen.contains(e.doc_id)) {
        reps.foreach { r =>
          val agree = r.sig.iterator.zip(e.minhash.iterator)
            .count { case (a, b) => a == b }
          out += CandPair(math.min(r.doc_id, e.doc_id),
            math.max(r.doc_id, e.doc_id), agree.toDouble / k)
        }
        if (nReps < maxBucketReps) {
          reps = BandRep(e.doc_id, e.minhash) :: reps
          nReps += 1
        }
        seen += e.doc_id // also dedups same-batch redeliveries at the cap
      }
    }
    state.update(reps)
    out.result().iterator
  }

  /** Stateful stream stage over [[banded]] output. Update output mode;
    * emits each candidate pair as soon as its second member arrives. */
  def streamCandidates(bandedDocs: Dataset[BandedDoc], k: Int,
                       maxBucketReps: Int = 10000): Dataset[CandPair] = {
    val spark = bandedDocs.sparkSession
    import spark.implicits._
    bandedDocs.groupByKey(e => (e.band, e.band_hash))
      .flatMapGroupsWithState[List[BandRep], CandPair](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        pairFn(k, maxBucketReps))
  }

  /** The full pipeline over a (doc_id, text) frame — batch or streaming
    * (on a batch input `flatMapGroupsWithState` degenerates to one
    * stateless group pass, which IS the batch all-pairs-per-bucket form). */
  def candidates(docs: DataFrame, k: Int, bands: Int,
                 maxBucketReps: Int = 10000): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    streamCandidates(banded(docs, k, bands).as[BandedDoc], k, maxBucketReps)
  }
}
