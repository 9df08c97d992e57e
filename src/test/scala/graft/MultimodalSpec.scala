package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{MediaRow, Multimodal, Similarity}

/** Multimodal plumbing end-to-end: documents → opaque binary payloads →
  * partition-parallel stub decode → per-item feature vector → similarity
  * kernel. Exercises the full schema path (binary column, typed metadata,
  * mapPartitions batch stage, array<double> features) that a real
  * image/audio pipeline runs — only the codec inside StubDecoder is fake. */
class MultimodalSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("decode metadata is deterministic and matches payload arithmetic") {
    val docs = Tables.documents(spark, sf).limit(100)
    val meta = Multimodal.extractMeta(Multimodal.mediaTable(docs),
      Multimodal.StubDecoder).collect()
    assert(meta.length == 100)
    meta.foreach { m =>
      assert(m.width == (m.n_bytes % 1024).toInt)
      assert(m.height == ((m.n_bytes * 31) % 768).toInt)
      assert(m.digest.length == 32)
      assert(Set("image", "audio", "video").contains(m.kind))
    }
  }

  test("fitDims: integer aspect-preserving fit stays in the box") {
    import Multimodal.fitDims
    assert(fitDims(0, 100, 512, 384) == (0, 0))
    assert(fitDims(100, 0, 512, 384) == (0, 0))
    assert(fitDims(512, 384, 512, 384) == (512, 384)) // exact fit unchanged
    assert(fitDims(1024, 768, 512, 384) == (512, 384)) // 2:1 downscale
    assert(fitDims(1, 10000, 512, 384) == (1, 384))    // sliver clamps to 1
    for (w <- Seq(1, 7, 99, 1023); h <- Seq(1, 13, 767)) {
      val (ow, oh) = fitDims(w, h, 512, 384)
      assert(ow <= 512 && oh <= 384 && ow >= 1 && oh >= 1)
      // floor-scaling never over-rotates the aspect ratio: the scaled axis
      // is floor(other * bound / source), so ow/oh >= (w/h) * (1 - 1/oh)
      val src = w.toDouble / h
      val out = ow.toDouble / oh
      assert(out <= src * (1 + 1.0 / math.min(ow, oh)) + 1e-9)
      assert(out >= src / (1 + 1.0 / math.min(ow, oh)) - 1e-9)
    }
  }

  test("resize: dims fit the box, payload shrinks with the pixel budget") {
    val docs = Tables.documents(spark, sf).limit(100)
    val out = Multimodal.resize(Multimodal.mediaTable(docs),
      Multimodal.StubDecoder, maxW = 512, maxH = 384).collect()
    assert(out.length == 100)
    out.foreach { r =>
      assert(r.out_w <= 512 && r.out_h <= 384)
      assert(r.n_bytes_out <= r.out_w.toLong * r.out_h / 8)
      assert(r.media.length == r.n_bytes_out)
    }
  }

  test("sampleFrames: stride-1 frames reassemble a prefix of the payload") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(60)
    val media = Multimodal.mediaTable(docs).filter($"kind" === "video")
    val metas = Multimodal.extractMeta(media, Multimodal.StubDecoder)
      .collect().map(m => m.doc_id -> m).toMap
    val payloads = media.as[MediaRow].collect().map(r => r.doc_id -> r.media).toMap
    val all = Multimodal.sampleFrames(media, Multimodal.StubDecoder, stride = 1)
      .collect().groupBy(_.doc_id)
    // every video with n_frames>0 appears; frames concat == payload prefix
    metas.values.filter(_.n_frames > 0).foreach { m =>
      val frames = all(m.doc_id).sortBy(_.frame_idx)
      assert(frames.length == m.n_frames)
      val joined = frames.flatMap(_.frame).toArray
      assert(joined.sameElements(
        payloads(m.doc_id).take((m.n_bytes / m.n_frames * m.n_frames).toInt)))
    }
    // stride-2 keeps ceil(n/2) frames
    val s2 = Multimodal.sampleFrames(media, Multimodal.StubDecoder, stride = 2)
      .collect().groupBy(_.doc_id)
    metas.values.filter(_.n_frames > 0).foreach { m =>
      assert(s2(m.doc_id).length == (m.n_frames + 1) / 2)
    }
  }

  test("extractFeatures: deterministic embedding feeds the ANN kernel") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(50)
    val media = Multimodal.mediaTable(docs)
    val f1 = Multimodal.extractFeatures(media, Multimodal.StubExtractor)
      .collect().map(f => f.doc_id -> f.embedding.toSeq).toMap
    val f2 = Multimodal.extractFeatures(media, Multimodal.StubExtractor)
      .collect().map(f => f.doc_id -> f.embedding.toSeq).toMap
    assert(f1 == f2) // deterministic across runs
    f1.values.foreach { e =>
      assert(e.length == Multimodal.StubExtractor.Dim)
      assert(e.forall(v => v >= 0f && v <= 1f))
    }
    // media embeddings → brute-force cosine: querying the corpus with its
    // own vectors must rank each item's exact duplicate (itself) first
    val feats = Multimodal.extractFeatures(media, Multimodal.StubExtractor)
      .toDF()
      .select($"doc_id", Similarity.toDouble($"embedding").as("vec"))
    val q = feats.filter($"doc_id" < 5)
      .select($"doc_id".as("q_id"), $"vec")
    val top1 = Similarity.bruteForceTopK(q, feats, "q_id", "doc_id", "vec", k = 1)
      .collect()
    assert(top1.length == 5)
    top1.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ImageIoDecoder decodes a REAL PNG end-to-end (meta + resize), stub fallback for the rest") {
    import spark.implicits._
    // build a real 64×48 PNG in memory with the JDK encoder
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff) // deterministic fill
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val png = pngBytes(64, 48)
    val notAnImage = "just some text bytes".getBytes("UTF-8")
    val media = Seq((1L, "image", png), (2L, "audio", notAnImage))
      .toDF("doc_id", "kind", "media")
    val dec = new Multimodal.ImageIoDecoder()

    // meta: real header dims for the PNG, stub arithmetic for the rest
    val meta = Multimodal.extractMeta(media, dec)
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 64 && meta(1L).height == 48)
    assert(meta(1L).n_frames == 1 && meta(1L).n_bytes == png.length)
    val stub = Multimodal.StubDecoder.decode(MediaRow(2L, "audio", notAnImage))
    assert(meta(2L) == stub, "non-image payloads must take the fallback path")

    // resize: real pixel rescale + PNG re-encode for the image row
    val resized = Multimodal.resize(media, dec, maxW = 32, maxH = 32,
        resizer = new Multimodal.ImageIoResizer())
      .collect().map(r => r.doc_id -> r).toMap
    val r1 = resized(1L)
    assert((r1.out_w, r1.out_h) == (32, 24)) // 64×48 fit into 32×32
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r1.media))
    assert(back != null && back.getWidth == 32 && back.getHeight == 24,
      "resized payload must be a decodable PNG at the fitted dims")
    // determinism: same input → byte-identical re-encode
    val again = Multimodal.resize(media, dec, 32, 32,
        new Multimodal.ImageIoResizer())
      .collect().map(r => r.doc_id -> r).toMap
    assert(java.util.Arrays.equals(again(1L).media, r1.media))
    // fallback row keeps the truncation-stub behavior
    val r2 = resized(2L)
    assert(r2.n_bytes_out == math.min(notAnImage.length.toLong,
      r2.out_w.toLong * r2.out_h / 8))
  }

  test("decode -> feature vector -> cosine similarity composes") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(50)
    // feature extraction stage: metadata → a small deterministic vector
    // (stands in for a real image embedding; the pipeline shape is real)
    val feats = Multimodal.extractMeta(Multimodal.mediaTable(docs),
        Multimodal.StubDecoder)
      .map(m => (m.doc_id, Array(m.n_bytes.toDouble, m.width.toDouble,
        m.height.toDouble, m.n_frames.toDouble)))
      .toDF("doc_id", "vec")
    val q = feats.filter($"doc_id" < 2)
    val scored = Similarity.bruteForceTopK(q, feats.filter($"doc_id" >= 2),
      "doc_id", "doc_id", "vec", k = 3).collect()
    assert(scored.length == 6) // 2 queries × top-3
    scored.foreach { r =>
      val cos = r.getDouble(2)
      assert(cos > 0 && cos <= 1.0 + 1e-12)
    }
  }

  test("perceptual aHash: one-pixel edit pairs at small Hamming, inversion doesn't; stub = md5 prefix") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) img.setRGB(x, y, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // a high-contrast half-dark/half-light base; the edit flips ONE pixel
    val base = png((x, _) => if (x < 32) 0x000000 else 0xffffff)
    val edited = png((x, y) =>
      if (x == 0 && y == 0) 0xffffff
      else if (x < 32) 0x000000 else 0xffffff)
    val inverted = png((x, _) => if (x < 32) 0xffffff else 0x000000)
    val synthetic = "opaque non-image payload".getBytes("UTF-8")
    val media = Seq((1L, "image", base), (2L, "image", edited),
        (3L, "image", inverted), (4L, "audio", synthetic))
      .toDF("doc_id", "kind", "media")
    val hashed = Multimodal.perceptualHash(media, new Multimodal.ImageIoAHash())
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // one flipped pixel in a 64-pixel cell barely moves the cell mean →
    // identical or near-identical fingerprints; inversion flips ~all bits
    assert(hamming(hashed(1L), hashed(2L)) <= 3)
    assert(hamming(hashed(1L), hashed(3L)) > 32)
    // non-image payload takes the md5-prefix fallback, exactly
    val d = java.security.MessageDigest.getInstance("MD5").digest(synthetic)
    assert(hashed(4L) == java.nio.ByteBuffer.wrap(d, 0, 8).getLong)

    // and the banded kernel pairs exactly the close pair
    val pairs = graft.ext.Dedup.fingerprintPairs(
        Multimodal.perceptualHash(media, new Multimodal.ImageIoAHash()),
        "doc_id", "phash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("m6 kernel: planted re-crawl caught vs index, near-dup caught, within-batch twin loses, idempotent") {
    import spark.implicits._
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) img.setRGB(x, y, f(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val base = png((x, _) => if (x < 32) 0x000000 else 0xffffff)
    val edited = png((x, y) =>
      if (x == 0 && y == 0) 0xffffff
      else if (x < 32) 0x000000 else 0xffffff)
    val inverted = png((x, _) => if (x < 32) 0xffffff else 0x000000)
    val checker = png((x, y) =>
      if ((x / 8 + y / 8) % 2 == 0) 0x000000 else 0xffffff)
    def fp(rows: Seq[(Long, String, Array[Byte])]) =
      Multimodal.perceptualHash(rows.toDF("doc_id", "kind", "media"),
        new Multimodal.ImageIoAHash()).select("doc_id", "phash")
    val index = fp(Seq((1L, "image", base), (3L, "image", inverted)))
    val batch = fp(Seq(
      (11L, "image", base),    // byte-identical RE-CRAWL of index doc 1
      (12L, "image", edited),  // REAL-codec near-dup of index doc 1
      (13L, "image", checker), // genuinely new — survives
      (14L, "image", checker), // within-batch twin of 13 — earliest wins
      (15L, "audio", "fresh opaque bytes".getBytes("UTF-8")))) // fallback, new
    val surv = graft.ext.Dedup.incrementalFingerprintDedup(
      index, batch, "doc_id", "phash", maxHamming = 3)
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(13L, 15L))
    // idempotence: with the survivors appended to the index, a re-run of
    // the SAME batch appends nothing (re-delivery safety — the x45
    // contract; only the increment ever decodes)
    val again = graft.ext.Dedup.incrementalFingerprintDedup(
      index.unionByName(surv), batch, "doc_id", "phash", maxHamming = 3)
    assert(again.count() == 0)
  }

  test("m6 kernel caps buckets on COMBINED occupancy — a straddling bucket drops what the full scan drops") {
    import spark.implicits._
    // all fingerprints EQUAL → every band bucket holds everyone. With
    // cap 4: batch alone is 3 (under), batch+index is 5 (over) — the
    // full-scan form (fingerprintPairs over the union) drops the bucket
    // entirely, so the incremental split must too (ADVICE r9: a
    // batch-only cap would keep the within-batch twins and diverge)
    val fpv = 0x0f0f0f0f0f0f0f0fL
    val index = Seq((1L, fpv), (2L, fpv)).toDF("doc_id", "phash")
    val batch = Seq((11L, fpv), (12L, fpv), (13L, fpv))
      .toDF("doc_id", "phash")
    val full = graft.ext.Dedup.fingerprintPairs(
      index.unionByName(batch), "doc_id", "phash",
      maxHamming = 3, maxBucketSize = 4)
    assert(full.count() == 0, "full scan: the degenerate bucket is capped")
    val surv = graft.ext.Dedup.incrementalFingerprintDedup(
      index, batch, "doc_id", "phash", maxHamming = 3, maxBucketSize = 4)
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L, 13L),
      "combined cap: no candidates survive the capped bucket on either leg")
    // and with the cap ABOVE the combined mass, everything pairs again:
    // only the earliest batch doc survives (index twins dominate 11-13)
    val survBig = graft.ext.Dedup.incrementalFingerprintDedup(
      index, batch, "doc_id", "phash", maxHamming = 3, maxBucketSize = 100)
    assert(survBig.count() == 0,
      "uncapped: every batch doc is within Hamming 0 of an index twin")
  }
}
