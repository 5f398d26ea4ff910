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

  /** k-element MinHash signature (custom codegen expression). */
  def minHashSig(text: Column, n: Int, k: Int, seed: Long): Column =
    GraftFunctions.graft_minhash(GraftFunctions.graft_shingle_hashes(text, n), k, seed)

  /** 64-bit SimHash of the shingle set. */
  def simHashSig(text: Column, n: Int): Column =
    GraftFunctions.graft_simhash64(GraftFunctions.graft_shingle_hashes(text, n))

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
