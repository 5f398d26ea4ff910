package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry.Declared
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import Fixtures._

/** The multimodal family (mm): binary metadata, and media dedup by
  * embedding and by perceptual image, audio and video signatures. */
private[graft] object MediaQueries {

  /** The corpus of mm3-mm5: the rendered `base`, with `third`
    * re-encoding every 3rd doc at ids +10^7 and `fifth` every 5th at
    * +2·10^7 — different bytes, the same media. `base` is
    * localCheckpointed: it feeds three branches (the union and both
    * variant filters), and without it the render re-runs per branch
    * (~767 codec passes instead of 500 in mm3). */
  private def withReencodes(base: DataFrame)(third: (DataFrame, Long) => DataFrame,
                                             fifth: (DataFrame, Long) => DataFrame): DataFrame = {
    val b = base.localCheckpoint()
    def every(n: Int) = b.filter(pmod(col("doc_id"), lit(n)) === 0)
    b.unionByName(third(every(3), 10000000L)).unionByName(fifth(every(5), 20000000L))
  }



  val declared: Seq[Declared] = Seq(

    Declared("mm1_binary_meta", (s, dir) =>
      Multimodal.metadataFeatures(Multimodal.asMediaTable(t(s, dir, "documents")))
        .orderBy(col("doc_id").asc),
      Some("""SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(64 + (strlen(text) % 577) AS INT) AS fake_width
         FROM documents ORDER BY doc_id""")),

    Declared("mm2_media_dedup", (s, dir) => {
      // media near-dedup end-to-end: binary payload → embedding stub →
      // SRP-LSH embedding near-dup — no media-specific dedup machinery.
      // Oracle-exact despite the engine-specific embedder: identical
      // payloads embed identically (cosine 1.0, so they land in the
      // SAME bucket at ANY nBits — recall 1.0 independent of bucket
      // granularity), and no distinct payloads reach 0.999 in 64-dim
      // stub space, so the pair set equals the identical-payload pairs
      // — replayable as text equality (payload = utf8(text)). A real
      // vision tower swaps in without touching the pipeline.
      //
      // nBits=16 keeps expected bucket occupancy O(1) (the FINITE
      // bucketCap is a guardrail that never triggers here): exact
      // recall comes from shrinking buckets, not from uncapping the
      // per-bucket candidate fan-out — an uncapped popular bucket is
      // quadratic, the one shape that melts at corpus scale.
      val media = Multimodal.asMediaTable(docsWithExactDups(s, dir))
      val emb = Multimodal.embedStub(media)
      Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
          threshold = 0.999, nBits = 16, tables = 2, bucketCap = 2000)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      Some(raw"""WITH all_docs AS (
           $exactDupsSql)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM all_docs a JOIN all_docs b
           ON a.text = b.text AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""")),

    Declared("mm3_perceptual_dedup", (s, dir) => {
      // PERCEPTUAL media near-dedup: real PNG pixels → dHash over the
      // decoded luminance grid → pigeonhole Hamming buckets. Finds the
      // near-duplicates mm2's byte-level tier cannot: the corpus is
      // every doc rendered as a structured 96×72 PNG (real JDK codec
      // path end-to-end), with every 3rd doc re-planted as a
      // bilinear-resized 64×48 re-encode and every 5th as a harsher
      // 48×36 re-encode — DIFFERENT bytes, same picture. Rows-only by
      // design (dHash values are engine-specific constants, like the
      // MinHash seeds); MultimodalSpec pins planted recall = 1.0 and
      // the exact pair set on a fixed fixture. Only (id, 64-bit sig)
      // ever shuffles — payloads stay in the scan stage.
      //
      // The corpus is bounded to doc_id < 500 (present at every SF):
      // the per-row PNG render+decode exists ONLY because the parquet
      // fixtures carry no pixels — it is fixture synthesis, not the
      // operator (measured: unbounded it costs 13 s at sf0.1 for 7.7k
      // images, pure codec time). Images are seeded by doc_id alone,
      // so the declared result is identical at every SF. The
      // operator's own scale path (signature extraction + pigeonhole
      // Hamming buckets) is corpus-linear and spec-measured.
      val corpus = withReencodes(Multimodal.syntheticImageTable(
          t(s, dir, "documents").filter(col("doc_id") < 500)))(
        Multimodal.resizedMediaTable(_, _, 64, 48), Multimodal.resizedMediaTable(_, _, 48, 36))
      Multimodal.perceptualDupPairs(corpus, maxHamming = 10, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("mm5_video_dedup", (s, dir) => {
      // VIDEO near-dedup via temporal perceptual signature: every doc
      // renders as a GVID (raw-frame container — the JVM ships no
      // video codec, so the container is synthetic while the parse /
      // frame-extract / dHash / re-encode plumbing is real, the
      // library's multimodal contract); every 3rd doc re-plants with
      // HALF THE FRAMES (frame-rate change, real byte-level
      // re-encode) and every 5th brightness-shifted +30. Scene-center
      // sampling by relative position + gradient dHash make both
      // transforms Hamming-0 BY CONSTRUCTION (recall 1.0 by design,
      // not tuning — the mm3/mm4 discipline); the budget is left for
      // real-codec noise. Rows-only (hash-design values);
      // MultimodalSpec pins the exact pair set, both invariances and
      // zero bridging. Only (id, 64-bit sig) shuffles; payloads stay
      // in the scan. Corpus bounded to doc_id < 400 — the render is
      // fixture synthesis, seeded by doc_id alone, identical at
      // every SF.
      val corpus = withReencodes(Multimodal.syntheticVideoTable(
          t(s, dir, "documents").filter(col("doc_id") < 400).select("doc_id")))(
        Multimodal.frameDroppedVideoTable(_, _, keepEvery = 2),
        Multimodal.brightnessShiftedVideoTable(_, _, delta = 30))
      Multimodal.videoDupPairs(corpus, maxHamming = 4, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None),

    Declared("mm4_audio_dedup", (s, dir) => {
      // AUDIO near-dedup through the real JDK codec (javax.sound WAV
      // decode end-to-end): every doc renders as one second of seeded
      // amplitude-modulated PCM; every 3rd re-plants at half volume
      // and every 5th at quarter volume — different bytes everywhere,
      // same recording. The 64-window envelope hash is EXACTLY
      // gain-invariant (RMS comparisons survive any positive gain),
      // so the planted variants co-bucket where byte-level dedup sees
      // unrelated blobs. Rows-only like mm3 (hash-design values);
      // MultimodalSpec pins header decode, exact gain invariance,
      // planted recall 1.0 and zero cross-recording pairs. Corpus
      // bounded to doc_id < 500 for the same reason as mm3: the WAV
      // synthesis exists only because the fixtures carry no audio.
      val corpus = withReencodes(Multimodal.syntheticAudioTable(
          t(s, dir, "documents").filter(col("doc_id") < 500)))(
        Multimodal.gainScaledAudioTable(_, _, 0.5), Multimodal.gainScaledAudioTable(_, _, 0.25))
      Multimodal.audioDupPairs(corpus, maxHamming = 2, bucketCap = 1000)
        .orderBy(col("id_a").asc, col("id_b").asc)
    },
      None)
  )
}
