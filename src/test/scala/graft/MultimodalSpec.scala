package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkT.spark

  private def media = Multimodal.asMediaTable(SparkT.table("documents"))

  test("resizeBatch rejects non-positive target dimensions on the driver") {
    intercept[IllegalArgumentException] { Multimodal.resizeBatch(media, 0, 16) }
    intercept[IllegalArgumentException] { Multimodal.resizeBatch(media, 16, -1) }
  }

  test("media table carries binary payload + typed metadata") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("n_bytes").dataType.typeName == "long")
    assert(media.count() == 500)
  }

  test("batch decode emits one feature row per payload, stable sha") {
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.count() == 500)
    // mapPartitions sha must equal the declarative sha2 path
    val joined = feats.toDF().select(col("doc_id"), col("sha256").as("sha_mp"))
      .join(Multimodal.metadataFeatures(media).select(col("doc_id"), col("sha256")), "doc_id")
    assert(joined.filter(col("sha_mp") =!= col("sha256")).count() == 0)
  }

  test("stub decoder is deterministic in payload bytes") {
    val a = Multimodal.StubDecoder.decode("same bytes".getBytes)
    val b = Multimodal.StubDecoder.decode("same bytes".getBytes)
    assert(a == b)
  }

  /** A real w×h image encoded with the JDK's own codec (no external
    * libraries) — the planted payload for the real-decode specs. */
  private def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, baos)
    baos.toByteArray
  }

  test("real PNG/BMP payloads decode to true dimensions and channels") {
    import spark.implicits._
    val rows = Seq(
      (1L, "image", imageBytes(7, 5, "png"), "image/png",
        imageBytes(7, 5, "png").length.toLong),
      (2L, "image", imageBytes(13, 3, "bmp"), "image/bmp",
        imageBytes(13, 3, "bmp").length.toLong),
      (3L, "image", "not an image at all, just text".getBytes("UTF-8"),
        "image/fake", 30L))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val feats = Multimodal.decodeFeatures(rows).collect()
      .map(f => f.doc_id -> f).toMap
    // true dims from the real codec, channels from the color model
    assert(feats(1L).width == 7 && feats(1L).height == 5)
    assert(feats(1L).codec == "imageio" && feats(1L).channels == 3)
    assert(feats(2L).width == 13 && feats(2L).height == 3)
    assert(feats(2L).codec == "imageio")
    // non-image payloads take the stub, never error
    assert(feats(3L).codec == "stub")
  }

  test("real image resize re-encodes a true target-size PNG") {
    import spark.implicits._
    val src = imageBytes(64, 48, "png")
    val rows = Seq((1L, "image", src, "image/png", src.length.toLong))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val out = Multimodal.resizeBatch(rows, 16, 12).collect()(0)
    assert(out.width == 16 && out.height == 12)
    // the output payload is itself a decodable PNG with the target dims
    val d = Multimodal.ImageDecoder.decode(out.payload)
    assert(d.codec == "imageio" && d.width == 16 && d.height == 12)
  }

  test("frame sample plan caps frames and strides deterministically") {
    val planned = Multimodal.frameSamplePlan(media, stride = 10, maxFrames = 8)
    val r = planned.select(size(col("sampled_frames")).as("n")).collect()
    assert(r.forall(_.getInt(0) <= 8))
  }

  test("resize shrinks payloads, keeps one row per input, sets target dims") {
    val resized = Multimodal.resizeBatch(media, 32, 32)
    assert(resized.count() == 500)
    val joined = resized.toDF().select(col("doc_id"),
        octet_length(col("payload")).as("out_bytes"),
        col("width"), col("height"))
      .join(media.select(col("doc_id"), col("n_bytes")), "doc_id")
    assert(joined.filter(col("out_bytes") > col("n_bytes")).count() == 0)
    assert(joined.filter(col("width") =!= 32 || col("height") =!= 32).count() == 0)
  }

  test("embedStub vectors feed the embedding dedup operator end-to-end") {
    // identical payloads (planted twin docs) must embed identically and
    // be recovered by the embedding near-dup operator — media dedup is
    // embed + existing machinery, no new operator
    val docs = SparkT.table("documents").select(col("doc_id"), col("text"))
    val twins = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val withTwins = Multimodal.asMediaTable(docs.unionByName(twins))
    val emb = Multimodal.embedStub(withTwins, dim = 64)
    val pairs = graft.dedup.Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
      threshold = 0.999, nBits = 8, tables = 2)
    val found = pairs.filter(col("id_b") === col("id_a") + 10000L).count()
    assert(found >= 18, s"found only $found of 20 planted twins")
  }

  test("dHash survives resize + re-encode; planted perceptual recall = 1.0") {
    import spark.implicits._
    // 30 structured base images; every one re-planted as a 64×48 AND a
    // 48×36 bilinear re-encode (different bytes, same picture). The
    // perceptual tier must find EVERY (base, variant) pair — that's
    // the capability mm2's byte-level tier lacks by construction.
    val ids = (0L until 30L).toDF("doc_id")
    val base = Multimodal.syntheticImageTable(ids).localCheckpoint()
    def variant(off: Long, w: Int, h: Int) =
      Multimodal.resizedMediaTable(base, off, w, h)
    val corpus = base.unionByName(variant(1000L, 64, 48))
      .unionByName(variant(2000L, 48, 36))
    // every payload is a real PNG — the whole corpus must take the
    // imageio arm, or the test is measuring the stub
    val feats = Multimodal.perceptualFeatures(corpus)
    assert(feats.filter(col("codec") =!= "imageio").count() == 0)
    val pairs = Multimodal.perceptualDupPairs(corpus, maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 30L).flatMap(i =>
      Seq((i, i + 1000L), (i, i + 2000L), (i + 1000L, i + 2000L))).toSet
    val missed = planted.diff(pairs)
    assert(missed.isEmpty, s"planted perceptual near-dups missed: $missed")
    // precision: no pair may BRIDGE two different base images — every
    // found pair must be within one planted (base, variants) class
    val bridging = pairs.filterNot { case (a, b) => a % 1000L == b % 1000L }
    assert(bridging.isEmpty, s"distinct images paired: $bridging")
  }

  test("perceptual hash stub arm: identical payloads, identical sigs") {
    import spark.implicits._
    // non-image payloads take the deterministic byte-grid arm —
    // identical bytes must produce hamming-0 sigs, and the arm must
    // be labeled so nobody mistakes it for a perceptual claim
    val rows = Seq(
      (1L, "audio", "the same fake payload".getBytes("UTF-8"), "audio/fake", 21L),
      (2L, "audio", "the same fake payload".getBytes("UTF-8"), "audio/fake", 21L),
      (3L, "audio", "a different payload!!".getBytes("UTF-8"), "audio/fake", 21L))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val f = Multimodal.perceptualFeatures(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(f.values.forall(_._2 == "stub"))
    assert(f(1L)._1 == f(2L)._1)
  }

  test("embeddingDupPairs bounds per-bucket candidate fan-out (bucketCap)") {
    // pathological bucket: N identical embeddings all co-bucket, in
    // every table; with bucketCap=c the candidate self-join must emit
    // at most C(c,2) pairs, not C(N,2) — the guardrail that keeps a
    // popular embedding neighborhood from going quadratic at corpus
    // scale (mm2 relies on small buckets via nBits for recall, never
    // on an unbounded cap)
    import spark.implicits._
    val n = 100
    val rows = (0 until n).toSeq.map(i => (i.toLong, Array.fill(8)(1.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = graft.dedup.Dedup.embeddingDupPairs(df, "vec_id", "embedding",
      threshold = 0.9, nBits = 4, tables = 2, bucketCap = 10)
    val cnt = pairs.count()
    assert(cnt == 45L, s"expected C(10,2)=45 capped pairs, got $cnt")
  }

  // ---- audio (javax.sound WAV arm) ------------------------------------

  private def audioDocs(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  test("audio: synthetic WAV decodes through the REAL javasound path with exact header fields") {
    val media = Multimodal.syntheticAudioTable(audioDocs(10),
      sampleRate = 8192, nSamples = 8192)
    val feats = Multimodal.audioFeatures(media).collect()
    assert(feats.length == 10)
    feats.foreach { f =>
      assert(f.codec == "javasound", s"stub fallback for ${f.doc_id}")
      assert(f.sample_rate == 8192 && f.channels == 1 && f.bits == 16)
      assert(f.n_samples == 8192L && f.duration_ms == 1000L)
    }
  }

  test("audio: envelope hash is EXACTLY invariant under gain re-encode") {
    val base = Multimodal.syntheticAudioTable(audioDocs(20))
    val sigs = Multimodal.audioPerceptualFeatures(base)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (gain <- Seq(0.5, 0.25, 0.9)) {
      val scaled = Multimodal.gainScaledAudioTable(base, 1000L, gain)
      val sigsS = Multimodal.audioPerceptualFeatures(scaled)
        .collect().map(r => (r.getLong(0) - 1000L) -> r.getLong(1)).toMap
      sigs.foreach { case (id, s) =>
        assert(sigsS(id) == s, s"gain $gain changed the hash of $id")
      }
    }
  }

  test("audio: planted gain variants are all recalled, zero cross-recording pairs") {
    val base = Multimodal.syntheticAudioTable(audioDocs(30)).localCheckpoint()
    val variants = Multimodal.gainScaledAudioTable(base, 1000L, 0.5)
    val pairs = Multimodal.audioDupPairs(base.unionByName(variants),
      maxHamming = 2)
    val planted = pairs.filter(col("id_b") === col("id_a") + 1000L).count()
    assert(planted == 30L, s"recalled $planted of 30 planted gain variants")
    assert(pairs.count() == 30L, "unexpected cross-recording pairs")
  }

  test("audio: non-WAV payloads take the stub arm, pipeline total") {
    import spark.implicits._
    val junk = Seq((1L, "audio", "not a wav file at all".getBytes, "audio/wav", 21L))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val f = Multimodal.audioFeatures(junk).collect()(0)
    assert(f.codec == "stub")
    val sig = Multimodal.audioPerceptualFeatures(junk).collect()(0)
    assert(sig.getString(2) == "stub")
  }

  private def videoDocs(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  test("video: GVID parse round-trips; corrupt payloads take the stub arm") {
    import spark.implicits._
    val base = Multimodal.syntheticVideoTable(videoDocs(3))
    val p = base.collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.GvidDecoder.parse(p) == Some((48, 36, 32)))
    // corrupt magic, truncated body, absurd dims: parse refuses, the
    // signature pipeline stays total on the labeled stub arm
    val badMagic = p.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.GvidDecoder.parse(badMagic).isEmpty)
    assert(Multimodal.GvidDecoder.parse(p.take(p.length - 1)).isEmpty)
    assert(Multimodal.GvidDecoder.parse(p.take(9)).isEmpty)
    val junk = Seq((7L, "video", badMagic, "video/x-gvid", badMagic.length.toLong))
      .toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
    val sig = Multimodal.videoSignatures(junk).collect()(0)
    assert(sig.getString(2) == "stub")
  }

  test("video: signature EXACTLY invariant under frame drop and brightness shift") {
    val base = Multimodal.syntheticVideoTable(videoDocs(20)).localCheckpoint()
    val sigs = Multimodal.videoSignatures(base)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(sigs.values.forall(_._2 == "gvid"), "corpus must take the real parse arm")
    val dropped = Multimodal.videoSignatures(
      Multimodal.frameDroppedVideoTable(base, 1000L, keepEvery = 2))
      .collect().map(r => (r.getLong(0) - 1000L) -> r.getLong(1)).toMap
    val shifted = Multimodal.videoSignatures(
      Multimodal.brightnessShiftedVideoTable(base, 2000L, delta = 30))
      .collect().map(r => (r.getLong(0) - 2000L) -> r.getLong(1)).toMap
    sigs.foreach { case (id, (s, _)) =>
      assert(dropped(id) == s, s"frame drop changed the signature of $id")
      assert(shifted(id) == s, s"brightness shift changed the signature of $id")
    }
  }

  test("video: planted variants all recalled, zero cross-video pairs") {
    import spark.implicits._
    val base = Multimodal.syntheticVideoTable(videoDocs(30)).localCheckpoint()
    val corpus = base
      .unionByName(Multimodal.frameDroppedVideoTable(base, 1000L))
      .unionByName(Multimodal.brightnessShiftedVideoTable(base, 2000L))
    val pairs = Multimodal.videoDupPairs(corpus, maxHamming = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 30L).flatMap(i =>
      Seq((i, i + 1000L), (i, i + 2000L), (i + 1000L, i + 2000L))).toSet
    val missed = planted.diff(pairs)
    assert(missed.isEmpty, s"planted video near-dups missed: $missed")
    val bridging = pairs.filterNot { case (a, b) => a % 1000L == b % 1000L }
    assert(bridging.isEmpty, s"distinct videos paired: $bridging")
  }
}
