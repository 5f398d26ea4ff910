package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Model: media travels as an opaque `binary` payload column plus a
  * typed metadata struct — the layout every large multimodal corpus
  * format (WebDataset-in-parquet, MMC4-style tables) converges on.
  * Spark-side responsibilities that are REAL here: schema, partition
  * sizing (payload rows are large → `maxPartitionBytes`-bounded scans),
  * batch-shaped decode via `mapPartitions` over a typed Dataset (the
  * Scala analogue of `mapInPandas`: one JVM-side batch loop, no
  * per-row closure dispatch), and pushdown-friendly metadata pruning.
  *
  * The codec step is REAL for the image formats the JDK ships codecs
  * for — PNG/BMP/GIF/JPEG via `javax.imageio` ([[ImageDecoder]]):
  * decode, dims/channels, and bilinear resize all run on actual
  * bytes. Formats needing external libraries (video, audio) fall back
  * to [[StubDecoder]], a deterministic fake that derives dimensions
  * from the payload bytes — swap in a real decoder per modality
  * without touching any plumbing; the `codec` output column records
  * which path ran.
  */
object Multimodal {

  /** One media row: payload + typed metadata. */
  case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte],
                      media_type: String, n_bytes: Long)

  /** Decoded features. `codec` records which path produced the row:
    * "imageio" = real JDK decode, "stub" = deterministic fallback. */
  case class MediaFeatures(doc_id: Long, modality: String, n_bytes: Long,
                           width: Int, height: Int, n_frames: Int,
                           channels: Int, codec: String, sha256: String)

  /** DETERMINISTIC STUB — stands in for decoders of formats the JVM
    * has no codec for (video, audio, AVIF, ...). Derives fake
    * dimensions from payload length and first bytes so tests have
    * stable expectations. A real implementation keeps the exact same
    * signature: bytes in, features out, one call per row inside a
    * partition-level batch loop. */
  object StubDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      val n = payload.length
      val lead = if (n > 0) payload(0) & 0xff else 0
      val width = 64 + (n % 577)
      val height = 64 + ((n * 31 + lead) % 577)
      val frames = 1 + (lead % 8)
      (width, height, frames)
    }
  }

  /** Decode result: real dims/channels when a JVM codec handled the
    * payload, stub-derived otherwise. */
  case class Decoded(width: Int, height: Int, nFrames: Int,
                     channels: Int, codec: String)

  /** REAL decode for the formats the JDK ships codecs for — PNG, BMP,
    * GIF, JPEG via `javax.imageio`, no external libraries. Magic-byte
    * sniff first, so non-image payloads (the synthetic text corpus)
    * never pay a codec attempt; unrecognized, truncated or corrupt
    * payloads fall back to [[StubDecoder]] — the pipeline is total
    * either way, the `codec` field says which path ran. */
  object ImageDecoder {
    // ImageIO defaults to a DISK-backed stream cache: every read()
    // from an InputStream creates (and deletes) a temp file — a
    // per-row filesystem round-trip in the executor hot path. The
    // payloads are already in memory; cache in memory.
    javax.imageio.ImageIO.setUseCache(false)

    private def isImage(p: Array[Byte]): Boolean =
      p.length >= 8 && (
        // PNG: 89 'P' 'N' 'G'
        (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        // BMP: 'B' 'M'
        (p(0) == 'B' && p(1) == 'M') ||
        // JPEG: FF D8
        (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte) ||
        // GIF: 'G' 'I' 'F'
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F'))

    /** Refuse to decode anything claiming more pixels than this
      * (64 MP ≈ 256 MB ARGB raster): garbage bytes that pass the
      * 2-byte magic sniff (any text starting "BM…") would otherwise
      * drive the codec to allocate a raster sized by garbage header
      * fields — an OutOfMemoryError, which no Exception handler
      * catches. Dimensions are read from the HEADER ONLY first. */
    val MaxPixels: Long = 64L * 1024 * 1024

    /** Real image bytes → BufferedImage; None for anything else
      * (wrong magic, corrupt header, absurd dims, codec failure). */
    def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!isImage(payload)) None
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              // header-only: no pixel allocation happens here
              val w = reader.getWidth(0).toLong
              val h = reader.getHeight(0).toLong
              if (w <= 0 || h <= 0 || w * h > MaxPixels) None
              else Option(reader.read(0))
            } finally reader.dispose()
          }
        } finally if (iis != null) iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    def decode(payload: Array[Byte]): Decoded =
      readImage(payload) match {
        case Some(img) =>
          Decoded(img.getWidth, img.getHeight, 1,
            img.getColorModel.getNumComponents, "imageio")
        case None =>
          val (w, h, f) = StubDecoder.decode(payload)
          Decoded(w, h, f, 3, "stub")
      }
  }

  /** Wrap a text table as fake media rows (the test corpus has no real
    * binary payloads; `encode(text)` provides deterministic bytes with
    * realistic skew in size). */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lit("image").as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("image/fake").as("media_type"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))

  /** Batch decode: typed Dataset → mapPartitions → features.
    * Per-partition loop = one decoder instance per task, amortized
    * setup, sequential byte access — the shape that matters when the
    * decode step is a native library call. */
  def decodeFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      rows.map { r =>
        val d = ImageDecoder.decode(r.payload)
        digest.reset()
        val sha = digest.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.doc_id, r.modality, r.n_bytes,
          d.width, d.height, d.nFrames, d.channels, d.codec, sha)
      }
    }
  }

  /** Declarative metadata-only feature extraction (no payload decode):
    * stays in whole-stage codegen, and column pruning means the scan
    * skips payload pages entirely when only metadata is referenced. */
  def metadataFeatures(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      (lit(64) + pmod(col("n_bytes"), lit(577))).cast("int").as("fake_width"))

  /** A resized media row: new dims + recoded payload. */
  case class ResizedMedia(doc_id: Long, modality: String,
                          width: Int, height: Int, payload: Array[Byte])

  /** Batch resize: decode → resample → re-encode. REAL for JDK-codec
    * formats (PNG/BMP/GIF/JPEG): bilinear `Graphics2D` resample to
    * (targetW, targetH), re-encoded as PNG. Other payloads take the
    * deterministic byte down-sample stub (every k-th byte) standing in
    * for libvips/ffmpeg. Same partition-batch shape as
    * [[decodeFeatures]] — a native resampler swaps in without touching
    * the plumbing. Payload size shrinks ~(targetW·targetH)/(w·h),
    * which is the real scale lever: resize EARLY, before any shuffle
    * carries payloads. */
  def resizeBatch(media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    // fail fast on the driver: a non-positive target would otherwise
    // throw a raw IllegalArgumentException from the BufferedImage
    // constructor deep inside an executor task (real images) while the
    // stub path silently accepted it — the two paths must fail alike
    require(targetW > 0 && targetH > 0,
      s"resizeBatch: target dimensions must be positive, got ${targetW}x$targetH")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        ImageDecoder.readImage(r.payload) match {
          case Some(img) =>
            val out = new java.awt.image.BufferedImage(targetW, targetH,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, targetW, targetH, null)
            g.dispose()
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", baos)
            ResizedMedia(r.doc_id, r.modality, targetW, targetH, baos.toByteArray)
          case None =>
            val (w, h, _) = StubDecoder.decode(r.payload)
            val ratio = math.max(1.0, (w.toDouble * h) / (targetW.toDouble * targetH))
            val step = math.max(1, math.round(ratio).toInt)
            // primitive strided copy — this per-byte loop is the row
            // hot path, so no Range/boxing allocation
            val n = r.payload.length
            val out = new Array[Byte]((n + step - 1) / step)
            var i = 0; var j = 0
            while (i < n) { out(j) = r.payload(i); j += 1; i += step }
            ResizedMedia(r.doc_id, r.modality, targetW, targetH, out)
        }
      }
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image: bilinear
    * resample to a 9×8 luminance grid, bit (x,y) = lum(x,y) > lum(x+1,y).
    * The classic perceptual fingerprint — low-frequency structure
    * survives resizing, re-encoding and mild compression artifacts, so
    * a resized/recompressed near-duplicate lands within a few bits of
    * its original, findable by the same pigeonhole Hamming machinery
    * as SimHash ([[graft.dedup.Dedup.hamming64Pairs]]). Pure JDK. */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val small = new java.awt.image.BufferedImage(gw, gh,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    g.setRenderingHint(
      java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    // area-averaging first when downscaling sharply: a direct bilinear
    // drawImage to 9×8 samples only a few source pixels per cell and
    // aliases away the low-frequency structure dHash relies on
    g.drawImage(img.getScaledInstance(gw, gh, java.awt.Image.SCALE_AREA_AVERAGING),
      0, 0, null)
    g.dispose()
    var h = 0L
    var y = 0
    while (y < gh) {
      var x = 0
      var rgbPrev = small.getRGB(0, y)
      while (x < gw - 1) {
        val rgbNext = small.getRGB(x + 1, y)
        def lum(rgb: Int): Int =
          ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114)
        if (lum(rgbPrev) > lum(rgbNext)) h |= 1L << (y * (gw - 1) + x)
        rgbPrev = rgbNext
        x += 1
      }
      y += 1
    }
    h
  }

  /** dHash for NON-image payloads — the deterministic stub arm: the
    * byte stream is strided into the same 9×8 grid (cell = mean of its
    * byte slice) and gradient-hashed identically. Identical payloads
    * hash identically; it makes no perceptual claim (swap in a real
    * decoder per modality for that). */
  private def dHash64Stub(payload: Array[Byte]): Long = {
    val cells = 72
    val n = payload.length
    val sums = new Array[Long](cells); val counts = new Array[Long](cells)
    var i = 0
    while (i < n) {
      val c = (i.toLong * cells / math.max(n, 1)).toInt
      sums(c) += payload(i) & 0xff; counts(c) += 1
      i += 1
    }
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val a = y * 9 + x; val b = a + 1
        val la = if (counts(a) == 0) 0.0 else sums(a).toDouble / counts(a)
        val lb = if (counts(b) == 0) 0.0 else sums(b).toDouble / counts(b)
        if (la > lb) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Perceptual features per media row: 64-bit dHash + which path
    * produced it ("imageio" = real decode, "stub" = byte-grid arm).
    * Output `(id, sig, codec)` plugs straight into
    * [[graft.dedup.Dedup.hamming64Pairs]]. */
  def perceptualFeatures(media: DataFrame): DataFrame =
    signatures(media, "imageio")(ImageDecoder.readImage(_).map(dHash64))

  /** `(id, sig, codec)` per media row: `decode`'s 64-bit signature of
    * the payload with `codec`, or, for a payload `decode` cannot read,
    * the byte-grid stub ([[dHash64Stub]]) with codec "stub" — the body
    * of the image, audio and video tiers. */
  private def signatures(media: DataFrame, codec: String)(
      decode: Array[Byte] => Option[Long]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        decode(r.payload) match {
          case Some(sig) => (r.doc_id, sig, codec)
          case None => (r.doc_id, dHash64Stub(r.payload), "stub")
        }
      }
    }.toDF("id", "sig", "codec")
  }

  /** Pairs within `maxHamming` bits of the `(id, sig)` rows of
    * `signatures`, materialized first (see [[perceptualDupPairs]]). */
  private def hammingDupPairs(signatures: DataFrame, maxHamming: Int,
                              bucketCap: Int): DataFrame =
    graft.dedup.Dedup.hamming64Pairs(
      signatures.select("id", "sig").localCheckpoint(), maxHamming, bucketCap)

  /** Media near-duplicate pairs by perceptual hash: decode → dHash →
    * pigeonhole Hamming buckets → popcount verify. Finds
    * resized/recompressed near-duplicates that byte-level (sha2) and
    * embedding-stub dedup cannot — the perceptual tier of media dedup.
    * Payloads never shuffle: only `(id, 64-bit sig)` leaves the scan,
    * so the exchange is ~16 bytes/row regardless of media size —
    * the 100 TB shape.
    *
    * The signatures are materialized (the
    * [[graft.dedup.Dedup.minHashLshPairs]] `materializeSigs`
    * discipline): the pair generator references the signature table
    * four times (bucket self-join sides + both verify joins), and
    * without materialization each reference re-decodes every payload —
    * the one expensive step. A localCheckpoint of the ~16-byte rows
    * decodes once. The audio and video tiers do the same. */
  def perceptualDupPairs(media: DataFrame, maxHamming: Int = 8,
                         bucketCap: Int = 1000): DataFrame =
    hammingDupPairs(perceptualFeatures(media), maxHamming, bucketCap)

  /** Deterministic synthetic image corpus for exercising the REAL
    * decode path at query time (the parquet fixtures carry text, not
    * pixels): each doc_id renders a structured 96×72 PNG — seeded
    * gradient background + three seeded solid rectangles — with enough
    * low-frequency structure for dHash to be stable under resize.
    * Pure JDK, same bytes on every executor/run. */
  def syntheticImageTable(docs: DataFrame, width: Int = 96, height: Int = 72): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val img = renderSyntheticImage(id, width, height)
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        val bytes = baos.toByteArray
        MediaRow(id, "image", bytes, "image/png", bytes.length.toLong)
      }
    }.toDF()
  }

  /** [[resizeBatch]] re-projected back onto the media-table schema
    * with ids shifted by `idOffset` — the "replant a re-encoded
    * variant of every row" shape the perceptual-dedup query and its
    * pinning spec both use; one definition so the two can't silently
    * diverge if [[MediaRow]] ever changes. */
  def resizedMediaTable(media: DataFrame, idOffset: Long, w: Int, h: Int): DataFrame =
    resizeBatch(media, w, h).toDF()
      .select((col("doc_id") + idOffset).as("doc_id"), col("modality"),
        col("payload"), lit("image/png").as("media_type"),
        octet_length(col("payload")).cast("long").as("n_bytes"))

  /** Seeded structured image: a coarse 8×6 grid of solid random-color
    * blocks. Coarse blocks are the point — they give each image an
    * effectively random 9×8 luminance pattern (so two DIFFERENT images
    * sit ~32 dHash bits apart, far outside any sane Hamming ball; a
    * shared global structure like one fixed gradient direction would
    * correlate every image's low-frequency bits), while surviving
    * resize/re-encode essentially bit-exactly (block edges land at the
    * same relative positions at any resolution). */
  private def renderSyntheticImage(seed: Long, w: Int,
                                   h: Int): java.awt.image.BufferedImage = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    val bx = 8; val by = 6
    (0 until bx).foreach { i =>
      (0 until by).foreach { j =>
        g.setColor(new java.awt.Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
        val x0 = i * w / bx; val y0 = j * h / by
        g.fillRect(x0, y0, (i + 1) * w / bx - x0, (j + 1) * h / by - y0)
      }
    }
    g.dispose()
    img
  }

  /** Payload → embedding stub: a deterministic hash-derived float
    * vector standing in for a vision/audio encoder. Output plugs
    * straight into [[graft.similarity.Ann]] / [[graft.dedup.Dedup]]
    * embedding operators — media dedup is "embed, then embedding
    * near-dup" with no new machinery. */
  def embedStub(media: DataFrame, dim: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val embedded = media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val v = new Array[Float](dim)
        var h = 1125899906842597L
        var i = 0
        while (i < r.payload.length) { h = h * 31 + r.payload(i); i += 1 }
        var j = 0
        while (j < dim) {
          h ^= h << 13; h ^= h >>> 7; h ^= h << 17
          v(j) = (h >>> 11).toFloat / (1L << 53).toFloat - 0.5f
          j += 1
        }
        (r.doc_id, v)
      }
    }
    embedded.toDF("vec_id", "embedding")
  }

  /** Deterministic frame sampling plan for video-like payloads: every
    * `stride`-th frame index up to `maxFrames` — pure metadata,
    * expressible without decoding. */
  def frameSamplePlan(media: DataFrame, stride: Int = 10,
                      maxFrames: Int = 8): DataFrame =
    media.withColumn("n_frames_est",
        greatest(lit(1), (col("n_bytes") / 1024).cast("int")))
      .withColumn("sampled_frames",
        slice(sequence(lit(0), col("n_frames_est") - 1, lit(stride)), 1, maxFrames))

  // ---- audio: real JDK codec (javax.sound WAV/PCM) --------------------

  /** Decoded audio description; `codec` = "javasound" (real WAV parse
    * + PCM decode) or "stub" (payload-derived fallback — same total-
    * pipeline contract as [[ImageDecoder]]). */
  case class AudioInfo(doc_id: Long, sample_rate: Int, channels: Int,
                       bits: Int, n_samples: Long, duration_ms: Long,
                       codec: String)

  /** WAV decode via `javax.sound.sampled` — the audio twin of
    * [[ImageDecoder]]: magic-byte sniff first (RIFF....WAVE), header
    * bounds checked before any sample allocation, every failure mode
    * falls back to the stub arm so the pipeline stays total. */
  object AudioDecoder {
    private def isWav(p: Array[Byte]): Boolean =
      p.length >= 44 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

    /** Refuse payloads claiming more than ~64M samples (256 MB of
      * 16-bit stereo) — the MaxPixels discipline for audio. */
    val MaxSamples: Long = 64L * 1024 * 1024

    /** Real WAV bytes → (format info, mono-mixed samples in [-1, 1]);
      * None for anything else. */
    def readPcm(payload: Array[Byte]): Option[(Int, Int, Int, Array[Double])] =
      if (!isWav(payload)) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val f = in.getFormat
          val nFrames = in.getFrameLength
          val ch = f.getChannels
          val bits = f.getSampleSizeInBits
          if (nFrames <= 0 || nFrames * ch > MaxSamples || bits != 16 ||
              f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
            None
          else {
            val raw = in.readAllBytes()
            val n = nFrames.toInt
            val out = new Array[Double](n)
            val le = !f.isBigEndian
            var i = 0
            while (i < n) {
              // mix channels to mono
              var acc = 0.0
              var c = 0
              while (c < ch) {
                val o = (i * ch + c) * 2
                val s =
                  if (le) ((raw(o + 1) << 8) | (raw(o) & 0xff)).toShort
                  else ((raw(o) << 8) | (raw(o + 1) & 0xff)).toShort
                acc += s / 32768.0
                c += 1
              }
              out(i) = acc / ch
              i += 1
            }
            Some((f.getSampleRate.toInt, ch, bits, out))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Gain-invariant 64-bit audio fingerprint: the dHash idea on the
    * TIME axis — the signal splits into 64 equal windows, each
    * window's RMS energy forms the envelope, and bit i records
    * env(i+1) > env(i) (bit 63: last > first). Multiplying the signal
    * by any positive gain scales every window's RMS identically, so
    * comparisons — and the hash — are exactly invariant: a re-leveled
    * re-encode of the same recording co-buckets where byte-level
    * dedup sees an unrelated blob. Plugs into
    * [[graft.dedup.Dedup.hamming64Pairs]] like the image dHash. */
  def envelopeHash64(samples: Array[Double]): Long = {
    val w = 64
    val n = samples.length
    if (n == 0) return 0L
    val rms = new Array[Double](w)
    var i = 0
    while (i < w) {
      val from = (i.toLong * n / w).toInt
      val to = ((i + 1).toLong * n / w).toInt
      var acc = 0.0
      var j = from
      while (j < to) { acc += samples(j) * samples(j); j += 1 }
      rms(i) = if (to > from) math.sqrt(acc / (to - from)) else 0.0
      i += 1
    }
    var h = 0L
    i = 0
    while (i < w - 1) {
      if (rms(i + 1) > rms(i)) h |= 1L << i
      i += 1
    }
    if (rms(w - 1) > rms(0)) h |= 1L << 63
    h
  }

  /** Audio features per media row — real decode where the payload is
    * PCM WAV, stub-derived otherwise; total either way. */
  def audioFeatures(media: DataFrame): Dataset[AudioInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        AudioDecoder.readPcm(r.payload) match {
          case Some((sr, ch, bits, samples)) =>
            AudioInfo(r.doc_id, sr, ch, bits, samples.length.toLong,
              samples.length.toLong * 1000L / math.max(sr, 1), "javasound")
          case None =>
            val n = r.payload.length
            val lead = if (n > 0) r.payload(0) & 0xff else 0
            AudioInfo(r.doc_id, 8000 + lead, 1 + (n % 2), 16, n / 2L,
              (n / 2L) * 1000L / (8000 + lead), "stub")
        }
      }
    }
  }

  /** (id, sig, codec) — audio twin of [[perceptualFeatures]]. */
  def audioPerceptualFeatures(media: DataFrame): DataFrame =
    signatures(media, "javasound")(AudioDecoder.readPcm(_).map(pcm => envelopeHash64(pcm._4)))

  /** Audio near-duplicate pairs by envelope hash — decode → 64-bit
    * signature → pigeonhole Hamming buckets → popcount verify. Only
    * (id, sig) shuffles; payloads stay in the scan stage. */
  def audioDupPairs(media: DataFrame, maxHamming: Int = 4,
                    bucketCap: Int = 1000): DataFrame =
    hammingDupPairs(audioPerceptualFeatures(media), maxHamming, bucketCap)

  /** Deterministic synthetic WAV corpus (the audio
    * [[syntheticImageTable]]): per doc_id, one second of a seeded
    * sine carrier amplitude-modulated by a 64-step envelope whose
    * adjacent steps are forced DISTINCT — so every envelope
    * comparison carries a real margin and the hash is stable under
    * requantization. 16-bit mono PCM wrapped through the real
    * javax.sound writer; same bytes on every executor/run. */
  def syntheticAudioTable(docs: DataFrame, sampleRate: Int = 8192,
                          nSamples: Int = 8192): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val bytes = renderSyntheticWav(id, sampleRate, nSamples)
        MediaRow(id, "audio", bytes, "audio/wav", bytes.length.toLong)
      }
    }.toDF()
  }

  /** Re-encode every row at a different volume: decoded PCM × `gain`,
    * requantized, rewritten through the WAV writer with ids shifted —
    * every byte differs, the recording (and its envelope hash) does
    * not. The audio analogue of [[resizedMediaTable]]. */
  def gainScaledAudioTable(media: DataFrame, idOffset: Long,
                           gain: Double): DataFrame = {
    require(gain > 0 && gain <= 1.0,
      s"gainScaledAudioTable: gain must be in (0, 1], got $gain")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        AudioDecoder.readPcm(r.payload).map { case (sr, _, _, samples) =>
          val scaled = samples.map(_ * gain)
          val bytes = writeWav(scaled, sr)
          MediaRow(r.doc_id + idOffset, "audio", bytes, "audio/wav",
            bytes.length.toLong)
        }
      }
    }.toDF()
  }

  private def renderSyntheticWav(seed: Long, sampleRate: Int,
                                 nSamples: Int): Array[Byte] = {
    val w = 64
    val freq = 200.0 + java.lang.Long.remainderUnsigned(seed * 2654435761L, 1200L)
    // 16 coarse envelope levels; adjacent windows forced distinct so
    // every comparison bit has a quantization-proof margin. Levels
    // come from a full splitmix64 avalanche — a plain LCG mod 16
    // reads only the LOW bits, where `i * K` with any odd K is a
    // RAMP (K ≡ odd mod 16): every seed then produces the same
    // sawtooth envelope up to phase, and all recordings co-bucket
    // (measured: 56 cross-recording pairs in a 60-doc fixture)
    val levels = new Array[Double](w)
    var prev = -1
    var i = 0
    while (i < w) {
      var lvl = (java.lang.Long.remainderUnsigned(
        splitmix64(seed * 8191L + i), 16L)).toInt
      if (lvl == prev) lvl = (lvl + 1) % 16
      levels(i) = 0.25 + 0.75 * lvl / 16.0
      prev = lvl
      i += 1
    }
    val samples = new Array[Double](nSamples)
    i = 0
    while (i < nSamples) {
      val win = (i.toLong * w / nSamples).toInt
      samples(i) = levels(win) * 0.6 *
        math.sin(2.0 * math.Pi * freq * i / sampleRate)
      i += 1
    }
    writeWav(samples, sampleRate)
  }

  /** [-1,1] samples → 16-bit LE mono WAV bytes via the real
    * javax.sound writer (no hand-rolled headers). */
  private def writeWav(samples: Array[Double], sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-1.0, math.min(1.0, samples(i)))
      val v = math.round(s * 32767.0).toShort
      pcm(i * 2) = (v & 0xff).toByte
      pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  // ---- video: frame sampling + temporal perceptual signature ----------

  /** splitmix64 avalanche, shared by the audio envelope seeder and
    * the video scene seeder (full-width bit diffusion; low bits of a
    * product are a ramp, see the envelope comment above). */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Raw-frame video container ("GVID"): magic (4) + width (2 BE) +
    * height (2 BE) + nFrames (2 BE) + nFrames × (w·h) luminance
    * bytes. The JVM ships no video codec, so — per the library's
    * multimodal contract — the CONTAINER is synthetic while every
    * plumbing stage is real: magic-sniff + bounds-checked byte parse,
    * frame extraction, per-frame decode to a real BufferedImage, and
    * byte-level re-encode for the variant tables. A production
    * deployment swaps [[parse]] for an FFmpeg-backed demuxer with the
    * same signature; nothing downstream changes. */
  object GvidDecoder {
    val Magic: Array[Byte] = "GVID".getBytes("US-ASCII")

    private def be16(p: Array[Byte], off: Int): Int =
      ((p(off) & 0xff) << 8) | (p(off + 1) & 0xff)

    /** (width, height, nFrames) if `payload` is a well-formed GVID —
      * magic, sane dims, exact length — else None (stub arm). */
    def parse(payload: Array[Byte]): Option[(Int, Int, Int)] = {
      if (payload.length < 10 ||
        payload(0) != Magic(0) || payload(1) != Magic(1) ||
        payload(2) != Magic(2) || payload(3) != Magic(3)) None
      else {
        val w = be16(payload, 4); val h = be16(payload, 6)
        val n = be16(payload, 8)
        if (w <= 0 || h <= 0 || n <= 0 ||
          payload.length != 10L + w.toLong * h * n) None
        else Some((w, h, n))
      }
    }

    /** Frame `f` as a real grayscale BufferedImage (the dHash input). */
    def frame(payload: Array[Byte], w: Int, h: Int, f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val base = 10 + f * w * h
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val l = payload(base + y * w + x) & 0xff
          img.setRGB(x, y, (l << 16) | (l << 8) | l)
          x += 1
        }
        y += 1
      }
      img
    }

    def encode(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new Array[Byte](10 + w * h * frames.length)
      System.arraycopy(Magic, 0, out, 0, 4)
      out(4) = ((w >> 8) & 0xff).toByte; out(5) = (w & 0xff).toByte
      out(6) = ((h >> 8) & 0xff).toByte; out(7) = (h & 0xff).toByte
      out(8) = ((frames.length >> 8) & 0xff).toByte
      out(9) = (frames.length & 0xff).toByte
      frames.zipWithIndex.foreach { case (fr, i) =>
        System.arraycopy(fr, 0, out, 10 + i * w * h, w * h)
      }
      out
    }
  }

  /** Temporal perceptual signature: sample one frame at the CENTER of
    * each of `nScenes` equal time slices, dHash each sampled frame,
    * keep the top byte of each — a 64-bit signature at nScenes = 8.
    *
    * Sampling by RELATIVE position makes the signature frame-rate
    * invariant by construction: for any version with ≥ 2·nScenes
    * frames, the center frame of time slice s lies in slice s
    * (⌊⌊(s+½)n/S⌋·S/n⌋ = s whenever n ≥ 2S), so uniformly dropped
    * frames re-sample the same scene. dHash is luminance-GRADIENT
    * based, so a global brightness shift that stays inside [0, 255]
    * flips no bits. Together: frame-rate-halved and
    * brightness-shifted re-encodes attain Hamming distance 0 —
    * exactly the mm3/mm4 design discipline (recall on the planted
    * transforms is 1.0 by construction, not by tuning), with the
    * Hamming budget left for real-codec noise.
    *
    * Non-GVID payloads take the byte-grid stub arm ([[dHash64Stub]]'s
    * contract): the pipeline is total, `codec` says which path ran.
    * Output (id, sig, codec) plugs into
    * [[graft.dedup.Dedup.hamming64Pairs]] — only ~16 bytes/row ever
    * leave the scan, payloads stay put: the 100 TB shape. */
  def videoSignatures(media: DataFrame, nScenes: Int = 8): DataFrame = {
    require(nScenes >= 1 && nScenes <= 8,
      s"videoSignatures: nScenes must be in [1,8] (8 bits per scene " +
        s"in a 64-bit signature), got $nScenes")
    signatures(media, "gvid") { payload =>
      GvidDecoder.parse(payload).map { case (w, h, n) =>
        var sig = 0L
        var s = 0
        while (s < nScenes) {
          val f = ((2 * s + 1) * n) / (2 * nScenes) // ⌊(s+½)n/S⌋
          val dh = dHash64(GvidDecoder.frame(payload, w, h, f))
          // XOR-fold the 64-bit frame dHash to one byte: every
          // gradient row contributes (a single comparison row of
          // a smooth frame can be constant — all-0x00/0xFF bytes
          // would let distinct videos collide), and a flipped
          // dHash bit still flips exactly one signature bit
          var fold = 0L; var b = 0
          while (b < 8) { fold ^= (dh >>> (8 * b)) & 0xffL; b += 1 }
          sig |= fold << (8 * s)
          s += 1
        }
        sig
      }
    }
  }

  /** Video near-duplicate pairs: temporal signature → pigeonhole
    * Hamming buckets → popcount verify (the shared
    * [[graft.dedup.Dedup.hamming64Pairs]] machinery — payloads never
    * shuffle). Finds re-encodes byte-level dedup cannot: frame-rate
    * changes and brightness shifts by design (distance 0), codec
    * noise within `maxHamming`. */
  def videoDupPairs(media: DataFrame, maxHamming: Int = 4,
                    bucketCap: Int = 1000): DataFrame =
    hammingDupPairs(videoSignatures(media), maxHamming, bucketCap)

  /** Deterministic synthetic GVID corpus: `framesPerScene` identical
    * frames per scene × 8 scenes; each scene is a seeded bilinear
    * luminance gradient PLUS three seeded solid rectangles (the
    * syntheticImageTable recipe — a bare gradient is linear along
    * every row, making each dHash comparison row constant-sign and
    * letting distinct videos collide). All values stay inside
    * [30, 190]: headroom 30 below and 65 above, so a brightness
    * shift with delta ∈ [−30, +65] never clamps (clamping flattens
    * gradients and would break the exact-invariance claim). */
  def syntheticVideoTable(docs: DataFrame, width: Int = 48, height: Int = 36,
                          framesPerScene: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = width; val h = height; val fps = framesPerScene
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val frames = (0 until 8).flatMap { scene =>
        val s0 = splitmix64(id * 8 + scene + 7777)
        def rnd(k: Int): Long = splitmix64(s0 + k) >>> 8
        def corner(k: Int): Double = 30.0 + (rnd(k) % 131).toDouble
        val (c00, c10, c01, c11) = (corner(1), corner(2), corner(3), corner(4))
        val fr = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val fx = x.toDouble / (w - 1); val fy = y.toDouble / (h - 1)
            val l = (c00 * (1 - fx) * (1 - fy) + c10 * fx * (1 - fy) +
              c01 * (1 - fx) * fy + c11 * fx * fy)
            fr(y * w + x) = math.round(l).toByte
            x += 1
          }
          y += 1
        }
        var rect = 0
        while (rect < 3) {
          val rx = (rnd(10 + rect * 5) % math.max(1, w - 12)).toInt
          val ry = (rnd(11 + rect * 5) % math.max(1, h - 10)).toInt
          val rw = 6 + (rnd(12 + rect * 5) % 7).toInt
          val rh = 5 + (rnd(13 + rect * 5) % 6).toInt
          val rl = (30 + rnd(14 + rect * 5) % 161).toInt
          var y2 = ry
          while (y2 < math.min(h, ry + rh)) {
            var x2 = rx
            while (x2 < math.min(w, rx + rw)) {
              fr(y2 * w + x2) = rl.toByte
              x2 += 1
            }
            y2 += 1
          }
          rect += 1
        }
        Seq.fill(fps)(fr)
      }
      MediaRow(id, "video", GvidDecoder.encode(w, h, frames),
        "video/x-gvid", 10L + w.toLong * h * frames.length)
    }.toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
  }

  /** Byte-level re-encode keeping every `keepEvery`-th frame — the
    * frame-rate-change variant (REAL parse + re-encode of the
    * container bytes, not a re-render). */
  def frameDroppedVideoTable(media: DataFrame, idOffset: Long,
                             keepEvery: Int = 2): DataFrame = {
    require(keepEvery >= 1,
      s"frameDroppedVideoTable: keepEvery must be >= 1, got $keepEvery")
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].map { r =>
      val (w, h, n) = GvidDecoder.parse(r.payload).getOrElse(
        throw new IllegalArgumentException(
          s"frameDroppedVideoTable: doc ${r.doc_id} is not GVID"))
      // frame 0 always survives (0 until n by k is non-empty for
      // n >= 1), so the variant stays a parseable GVID — but fail
      // loudly rather than emit a frameless container if a future
      // edit breaks that
      val kept = (0 until n by keepEvery).map { f =>
        java.util.Arrays.copyOfRange(r.payload, 10 + f * w * h, 10 + (f + 1) * w * h)
      }
      require(kept.nonEmpty,
        s"frameDroppedVideoTable: doc ${r.doc_id} would keep zero frames")
      val p = GvidDecoder.encode(w, h, kept)
      MediaRow(r.doc_id + idOffset, r.modality, p, r.media_type, p.length.toLong)
    }.toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
  }

  /** Byte-level re-encode adding `delta` to every luminance value —
    * the brightness/gain variant. The synthetic corpus keeps values
    * in [30, 190] — headroom 30 below, 65 above — so delta ∈
    * [−30, +65] never clamps; outside that range clamped pixels
    * flatten gradients and the exact-invariance claim no longer
    * holds (dHash distance grows with the clamped area). */
  def brightnessShiftedVideoTable(media: DataFrame, idOffset: Long,
                                  delta: Int = 30): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].map { r =>
      val (w, h, n) = GvidDecoder.parse(r.payload).getOrElse(
        throw new IllegalArgumentException(
          s"brightnessShiftedVideoTable: doc ${r.doc_id} is not GVID"))
      val p = r.payload.clone()
      var i = 10
      while (i < p.length) {
        p(i) = math.max(0, math.min(255, (p(i) & 0xff) + delta)).toByte
        i += 1
      }
      MediaRow(r.doc_id + idOffset, r.modality, p, r.media_type, p.length.toLong)
    }.toDF("doc_id", "modality", "payload", "media_type", "n_bytes")
  }
}
