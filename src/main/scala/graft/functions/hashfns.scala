package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Shingling + signature column functions for near-duplicate detection.
  *
  * Pipeline shape (scale rationale): the only thing that ever shuffles
  * is (doc_id, small fixed-width signature) — never document text.
  * Signatures are computed scan-side inside codegen, candidate pairs
  * come from equality bucketing (a plain shuffle-hash group), and only
  * verified candidates join back to the text by id.
  */
object hashfns {

  /** Word n-gram shingles of the normalized text, EVERY occurrence in
    * order (multiset semantics — LM counting, repetition measures).
    * One-pass codegen kernel; empty array when the document has fewer
    * than `n` words. */
  def wordShingles(text: Column, n: Int): Column =
    GraftFunctions.graft_word_shingles_all(text, n)

  /** Distinct word n-gram shingle strings via the one-pass codegen
    * kernel — semantically `array_distinct(wordShingles(text, n))`
    * (set-equal; element order differs, which set consumers ignore). */
  def distinctWordShingles(text: Column, n: Int): Column =
    GraftFunctions.graft_word_shingles(text, n)

  /** Distinct code-point n-gram hashes — the signature input for
    * scripts without word boundaries (CJK/Thai), one-pass kernel. */
  def charShingleHashes(text: Column, n: Int): Column =
    GraftFunctions.graft_char_shingle_hashes(text, n)

  /** Distinct 64-bit hashes of the shingle set — the input every
    * signature (minhash/simhash) consumes. Single codegen kernel
    * (normalize→split→window-hash→dedup in one pass); the composed
    * transform/array_distinct/xxhash64 chain evaluates interpreted
    * lambdas per shingle and is ~100× slower. */
  def shingleHashes(text: Column, n: Int): Column =
    GraftFunctions.graft_shingle_hashes(text, n)

  /** k-element MinHash signature (custom codegen expression). */
  def minHashSig(text: Column, n: Int, k: Int, seed: Long): Column =
    GraftFunctions.graft_minhash(shingleHashes(text, n), k, seed)

  /** LSH band keys: the signature split into `bands` bands of
    * `rowsPerBand` values, each band hashed to one 64-bit key. Two docs
    * collide on a band key iff their signatures agree on that whole
    * band — the classic (b, r) S-curve knob. Native one-pass kernel:
    * the composed slice/cast-to-string/concat/xxhash64 chain it
    * replaces allocated per-band slices and decimal strings per row
    * and was the single hottest step of the whole LSH pipeline. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftFunctions.graft_lsh_bands(sig, bands, rowsPerBand)

  /** 64-bit SimHash of the shingle set. */
  def simHashSig(text: Column, n: Int): Column =
    GraftFunctions.graft_simhash64(shingleHashes(text, n))

  /** Pigeonhole block keys for hamming-distance search: split the
    * 64-bit simhash into `blocks` bit-blocks; two hashes within
    * hamming distance `blocks - 1` must agree exactly on >=1 block, so
    * grouping by (block_idx, block_value) finds all such pairs without
    * an all-pairs comparison. */
  def simHashBlockKeys(sim: Column, blocks: Int): Column = {
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until blocks).map { b =>
      struct(lit(b).as("blk"),
        shiftrightunsigned(sim, b * width).bitwiseAND(lit(mask)).as("value"))
    }: _*)
  }

  /** Exact Jaccard similarity of two string arrays (verification step
    * on LSH candidates only — never on all pairs). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }
}
