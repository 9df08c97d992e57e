package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** ANN recall at scale (SCALING.md evidence, not driver contract): for
  * each ScaleStress multiplier's embeddings blow-up, compute exact
  * brute-force top-10 and the IVF-probe top-10 (same sqrt(n) cell sizing
  * as ScaleStress' v5/v6 ops) and report mean recall@10 — the quality
  * column next to the cost exponents. Requires a prior `graft.ScaleStress`
  * run to have written the scaled embeddings under /tmp/graft_scale.
  *
  *   sbt "runMain graft.RecallAtScale 1 8 64"
  */
object RecallAtScale {
  def main(args: Array[String]): Unit = {
    val mults = if (args.isEmpty) Seq(1, 8, 64) else args.map(_.toInt).toSeq
    // optional section filter for ad-hoc re-measurement (the ScaleStress
    // SPARK_GRAFT_OPS pattern): emb | rag | hybrid, comma-separated.
    // Default = all three (the full quality battery).
    val sections = sys.env.get("SPARK_GRAFT_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("emb", "rag", "hybrid"))
    val spark = Sessions(Sessions.envCores)
    spark.sparkContext.setLogLevel("ERROR")

    if (sections("emb")) mults.foreach { m =>
      val c = spark.read.parquet(s"/tmp/graft_scale/m$m/embeddings.parquet")
      val queries = c.filter(col("vec_id") < 5)
      val corpus = c.filter(col("vec_id") >= 5)
      val cells = math.max(16, math.sqrt(c.count().toDouble).toInt)
      val exact = Similarity.bruteForceTopK(queries, corpus,
          "vec_id", "vec_id", "vec", k = 10)
        .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      // two probe policies: fixed nProbe (flat cost, decaying recall as the
      // probed fraction 4/nCells shrinks) vs a constant ~10% probed
      // fraction (recall-holding; probe cost still sub-linear because
      // per-cell occupancy is ~sqrt(n))
      Seq("fixed" -> 4, "frac10" -> math.max(4, cells / 10)).foreach {
        case (policy, nProbe) =>
          val t0 = System.nanoTime()
          val approx = Similarity.ivfTopK(queries, corpus, "vec_id", "vec_id",
              "vec", nCells = cells, nProbe = nProbe, k = 10)
            .select("q_id", "c_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val sec = (System.nanoTime() - t0) / 1e9
          val perQ = exact.groupBy(_._1).view
            .mapValues(hits => hits.count(approx.contains).toDouble / hits.length)
          val mean = perQ.values.sum / perQ.size
          println(f"[recall] m=$m%-3d nCells=$cells%-5d $policy%-7s nProbe=$nProbe%-4d " +
            f"mean recall@10 = $mean%.3f  ($sec%.2f s build+probe)")
      }
    }

    // ---- the CHUNK index (v19/v20's RAG serve path): nProbe/recall trade
    // at each multiplier, same fit-once artifacts as ScaleStress.builtRag —
    // the retrieval-quality column SCALING.md pairs with the cost exponents.
    import graft.ext.TextOps
    if (sections("rag")) mults.foreach { m =>
      val docs = spark.read.parquet(s"/tmp/graft_scale/m$m/documents.parquet")
      val chunks = TextOps.chunkSliding(
          docs.filter(col("doc_id") % 97 =!= 3), "doc_id", "text", w = 12, s = 8)
        .select((col("doc_id") * 100000 + col("chunk_id")).as("chunk_key"),
          col("chunk"))
      val m0 = TextOps.tfIdfModel(chunks, "chunk_key", "chunk", dim = 32)
      val dfTab = m0.dfTab.persist(); dfTab.count()
      val corpusN = m0.corpusN.persist(); corpusN.count()
      val model = m0.copy(dfTab = dfTab, corpusN = corpusN)
      val chunkVecs = TextOps.assembleVector(
        TextOps.applyTfIdf(chunks, "chunk_key", "chunk", model),
        "chunk_key", 32).persist()
      val cells = math.max(16, math.sqrt(chunkVecs.count().toDouble).toInt)
      val idx = Similarity.buildIvfIndex(chunkVecs, "chunk_key", "vec",
        nCells = cells, nAssign = 2)
      val postings = idx.postings.persist(); postings.count()
      val pIdx = idx.copy(postings = postings)
      val qv = TextOps.assembleVector(
          TextOps.applyTfIdf(docs.filter(col("doc_id") % 97 === 3),
            "doc_id", "text", model), "doc_id", 32)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(64).persist()
      qv.count()
      val exact = Similarity.bruteForceTopK(qv, chunkVecs, "doc_id",
          "chunk_key", "vec", k = 5)
        .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      // empty held-out slice → 0/0 NaN in the mean; say so and move on
      if (exact.isEmpty) {
        println(s"[rag-recall] m=$m: exact ground truth EMPTY " +
          "(no held-out queries at this multiplier) — skipping sweeps")
      } else
      Seq(2, 4, 8, math.max(4, cells / 10)).distinct.foreach { nProbe =>
        val t0 = System.nanoTime()
        val approx = Similarity.probeIvf(pIdx, qv, "doc_id",
            nProbe = nProbe, k = 5)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val perQ = exact.groupBy(_._1).view
          .mapValues(hits => hits.count(approx.contains).toDouble / hits.length)
        val mean = perQ.values.sum / perQ.size
        println(f"[rag-recall] m=$m%-3d nCells=$cells%-5d nProbe=$nProbe%-4d " +
          f"(${100.0 * nProbe / cells}%.1f%% probed) mean recall@5 = $mean%.3f " +
          f"($sec%.2f s probe, 64 queries)")
      }
      dfTab.unpersist(); corpusN.unpersist(); chunkVecs.unpersist()
      pIdx.centroids.unpersist(); postings.unpersist(); qv.unpersist()
    }

    // ---- round-7 serve paths: quality of the BOUNDED retrieval legs vs
    // their exact forms at each scale — the evidence that x50's two-stage
    // pruned serve and v26's IVF-probed dense leg hold ranking quality
    // while SCALING.md's new rows show their cost staying bounded.
    if (sections("hybrid")) mults.foreach { m =>
      val docs = spark.read.parquet(s"/tmp/graft_scale/m$m/documents.parquet")
      val corpus = docs.filter(col("doc_id") % 97 =!= 3)
      val qs = docs.filter(col("doc_id") % 97 === 3)
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(64).persist()
      val nQ = qs.count()
      if (nQ == 0) {
        println(s"[hybrid] m=$m: no held-out queries — skipping")
      } else {
        // sparse: exact one-join serve vs two-stage pruned (P=64, P=16)
        val i0 = TextOps.bm25Index(corpus, "doc_id", "text")
        val ip = i0.postings.persist(); ip.count()
        val ist = i0.stats.persist(); ist.count()
        val idx = TextOps.Bm25Index(ip, ist)
        def tops(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
          df.select("q_id", "rank", "key").collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
            .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq)
            .toMap
        val t0 = System.nanoTime()
        val exact = tops(TextOps.bm25Search(idx, qs, "doc_id", "text", k = 10))
        val exactSec = (System.nanoTime() - t0) / 1e9
        // fixed P AND P scaled ~proportional to corpus growth: on the
        // synthetic all-stopword vocabulary every posting list is
        // ~corpus-sized, so a FIXED P keeps a vanishing fraction of each
        // list and overlap collapses — the scaled-P rows measure what it
        // takes to hold quality (production corpora are Zipfian: query
        // terms are mostly discriminative and small lists survive whole)
        // fixed P next to two FRACTION points via the shipped
        // bm25PruneFrac knob — on this all-stopword vocabulary the
        // fraction is the variable that holds quality (SCALING.md r7)
        val policies: Seq[(String, TextOps.Bm25Index)] = Seq(
          "P=64" -> TextOps.bm25Prune(idx, maxPostingsPerTerm = 64),
          "frac=0.013" -> TextOps.bm25PruneFrac(idx, 0.013),
          "frac=0.05" -> TextOps.bm25PruneFrac(idx, 0.05))
        policies.foreach { case (label, pr) =>
          val prp = pr.postings.persist(); prp.count()
          val t1 = System.nanoTime()
          val two = tops(TextOps.bm25SearchTwoStage(idx,
            TextOps.Bm25Index(prp, ist), qs, "doc_id", "text", k = 10))
          val sec = (System.nanoTime() - t1) / 1e9
          val ov = exact.map { case (q, ex) =>
            val got = two.getOrElse(q, Seq.empty).toSet
            ex.count(got).toDouble / ex.length
          }
          println(f"[hybrid] m=$m%-3d bm25 two-stage $label%-11s mean overlap@10 = " +
            f"${ov.sum / ov.size}%.3f  ($sec%.2f s vs exact $exactSec%.2f s, 64 queries)")
          prp.unpersist()
        }
        // dense: brute top-20 vs IVF probe at the calibrated 0.8 fraction
        val m0 = TextOps.tfIdfModel(corpus, "doc_id", "text", dim = 32)
        val dfT = m0.dfTab.persist(); dfT.count()
        val cN = m0.corpusN.persist(); cN.count()
        val model = m0.copy(dfTab = dfT, corpusN = cN)
        val docVecs = TextOps.assembleVector(
          TextOps.applyTfIdf(corpus, "doc_id", "text", model),
          "doc_id", 32).persist()
        val nCells = math.max(16, math.sqrt(docVecs.count().toDouble).toInt)
        val dIdx0 = Similarity.buildIvfIndex(docVecs, "doc_id", "vec",
          nCells = nCells, nAssign = 2)
        val dp = dIdx0.postings.persist(); dp.count()
        val dIdx = dIdx0.copy(postings = dp)
        val qv = TextOps.assembleVector(
          TextOps.applyTfIdf(qs, "doc_id", "text", model), "doc_id", 32)
          .persist()
        qv.count()
        val bruteT0 = System.nanoTime()
        val brute = Similarity.bruteForceTopK(qv, docVecs, "doc_id",
            "doc_id", "vec", k = 20)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val bruteSec = (System.nanoTime() - bruteT0) / 1e9
        val nP = Similarity.nProbeFor(nCells,
          Similarity.calibratedFraction(0.8, nCells))
        val t2 = System.nanoTime()
        val probed = Similarity.probeIvf(dIdx, qv, "doc_id", nProbe = nP,
            k = 20)
          .select("q_id", "c_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val probeSec = (System.nanoTime() - t2) / 1e9
        val dRec = brute.groupBy(_._1).view
          .mapValues(hits => hits.count(probed.contains).toDouble / hits.length)
        println(f"[hybrid] m=$m%-3d dense ivf nCells=$nCells%-5d nProbe=$nP%-4d " +
          f"(target 0.8) mean recall@20 = ${dRec.values.sum / dRec.size}%.3f " +
          f"($probeSec%.2f s vs brute $bruteSec%.2f s, 64 queries)")
        ip.unpersist(); ist.unpersist(); dfT.unpersist(); cN.unpersist()
        docVecs.unpersist(); dp.unpersist(); dIdx.centroids.unpersist()
        qv.unpersist()
      }
      qs.unpersist()
    }
    spark.stop()
  }
}
