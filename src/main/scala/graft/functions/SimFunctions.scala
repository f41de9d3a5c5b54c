package graft.functions

import org.apache.spark.sql.{Column, GraftNative}
import org.apache.spark.sql.functions._

/** Hash-based near-duplicate / similarity primitives for the
  * training-data-pipeline operators (dedup, ANN). All pure Column
  * combinators over built-in hash functions — map-only, codegen'd, no
  * UDFs — so signature computation costs one streaming pass per
  * partition at any corpus size.
  */
object SimFunctions {

  /** MinHash signature: K permutation-free min-hashes over a shingle
    * array. Hash function i is xxhash64 salted with the index column, so
    * one expression yields K independent hashes; `array_min` folds each
    * pass. Null-safe: empty shingle arrays must be filtered by the caller
    * (array_min(empty) = null).
    */
  def minHashSignature(shingleCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleCol, s => xxhash64(s, i))))

  /** Set Jaccard over two (already-distinct) shingle arrays.
    *
    * Union-free: for distinct arrays |a ∪ b| = |a| + |b| − |a ∩ b|
    * exactly, so the denominator needs no second per-row string
    * hash-set build (array_union was ~half the verify cost on the
    * d1/d2 candidate-pair hot path). The intersect appears twice in
    * the expression tree; ArrayIntersect is codegen'd, so whole-stage
    * subexpression elimination evaluates it once (NOT the interpreted
    * HOF re-inline trap — measured, see the d1/d2 bench receipts).
    * Same exact integers as the intersect/union form → same double.
    */
  def jaccard(a: Column, b: Column): Column = {
    val c = size(array_intersect(a, b))
    c.cast("double") / (size(a) + size(b) - c)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Split a 64-bit SimHash into `chunks` equal bit-slices for the
    * pigeonhole banding join: two signatures within hamming distance
    * (chunks-1) MUST share at least one identical chunk, so an equi-join
    * on (chunk_idx, chunk_value) finds all such pairs without an
    * all-pairs comparison.
    */
  def simHashChunks(sig: Column, chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    array((0 until chunks).map(i =>
      shiftright(sig, i * width).bitwiseAND(lit(mask))): _*)
  }

  /** Cast a float embedding to double — all similarity arithmetic runs
    * in double so results are bit-identical to the DuckDB oracle's
    * sequential fold.
    */
  def toDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays (matches DuckDB
    * list_dot_product accumulation order exactly — verified). Backed by
    * the native codegen expression graft.expressions.VecDot
    * (constructed directly — no session registration needed): the built-in
    * aggregate(zip_with(...)) HOF form evaluates interpreted at ~250×
    * the cost on the candidate-pair hot path.
    */
  def dot(a: Column, b: Column): Column =
    GraftNative.column(graft.expressions.VecDot(
      GraftNative.expression(a), GraftNative.expression(b)))

  /** L2 norm, same sequential fold (native VecNorm expression). */
  def l2Norm(c: Column): Column =
    GraftNative.column(graft.expressions.VecNorm(GraftNative.expression(c)))

  /** The unit vector `v / max(nrm, 1e-12)` as an ml dense vector — the
    * input ml k-means trains on (spherical k-means: euclidean cells then
    * order identically to cosine). The floor maps a zero vector to
    * zeros, not NaN.
    */
  def unitVector(v: Column, nrm: Column): Column =
    org.apache.spark.ml.functions.array_to_vector(
      transform(v, x => x / greatest(nrm, lit(1e-12))))
}
