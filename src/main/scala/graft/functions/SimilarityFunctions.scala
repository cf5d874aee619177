package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.functions._

/** Similarity / dedup sketches for LLM-data pipelines (SURVEY.md §2.3).
  *
  * The sketch computations (shingling, minhash, simhash, cosine, sign-LSH)
  * are native Catalyst expressions ([[NativeExpressions]]) backed by compiled
  * kernels ([[SketchImpl]]) that participate in whole-stage codegen. Candidate
  * generation always goes through LSH banding or an inverted index, so the
  * pair space is bounded by bucket co-occupancy — never an O(n²) cross join.
  * That is the property that keeps these operators viable at 100 TB.
  *
  * An earlier revision built the sketches from Catalyst higher-order
  * functions; those lambdas evaluate interpreted, and the per-element array
  * churn made simhash ~100× slower than this compiled form at sf0.1.
  */
object SimilarityFunctions {

  /** Modulus for hashed shingles / minhash seats: 1e9+7. */
  val P: Long = SketchImpl.P

  /** Per-row let-binding: evaluates `e` exactly once per row and passes the
    * bound value (a cheap lambda variable) to `f`. Implemented as
    * `transform(array(e), v => f(v))[1]` — the array constructor is argument
    * position, so `e` cannot be re-evaluated no matter how the consumer uses
    * the binding. Cost: one single-element array allocation per row.
    */
  def bind(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), v => f(v)), 1)

  /** Distinct word n-gram shingles of a text column, first-occurrence order.
    * Documents with fewer than n tokens yield an empty array.
    */
  def shingles(text: Column, n: Int = 3): Column =
    toCol(ShingleNGrams(toExpr(text), n))

  /** Distinct hashed shingles (`xxhash64(ngram) mod P`) of a text column —
    * the compact join-key form used by minhash and the inverted index.
    */
  def hashedShingles(text: Column, n: Int = 3): Column =
    toCol(HashedShingles(toExpr(text), n))

  /** Full-64-bit hashed shingles (no mod-P): the set-identity form for
    * exact-intersection verifies and membership joins (~n²/2⁶⁴ collisions).
    */
  def hashedShingles64(text: Column, n: Int = 3): Column =
    toCol(HashedShingles64(toExpr(text), n))

  /** Distinct Mersenne-61 rolling hashes of all w-code-point character
    * windows (stride 1) — exact-substring membership keys for
    * character-level decontamination. O(len) per row.
    */
  def charWindowHashes64(text: Column, w: Int = 32): Column =
    toCol(CharWindowHashes64(toExpr(text), w))

  /** MinHash signature (array<long> of length k) over pre-hashed shingles.
    * Hash family: h_j(x) = ((2j+1)·x + j·12582917) mod P — deterministic and
    * integer-exact.
    */
  def minhashSignature(hs: Column, k: Int = 64): Column =
    toCol(MinHashSignature(toExpr(hs), k))

  /** Hashed shingles → signature → b LSH band hashes, one fused kernel call
    * per row. Docs sharing any (band index, band hash) are candidate pairs.
    */
  def minhashBands(hs: Column, k: Int = 64, b: Int = 16, r: Int = 4): Column =
    toCol(MinHashBands(toExpr(hs), k, b, r))

  /** Exact Jaccard similarity of two (distinct-element) arrays — built-in
    * codegen'd set intersection; no custom kernel needed.
    */
  def jaccard(a: Column, b: Column): Column =
    bind(size(array_intersect(a, b)).cast("double")) { inter =>
      inter / (size(a) + size(b) - inter)
    }

  /** 64-bit packed SimHash of the whitespace tokens of a text column. */
  def simhash64(text: Column): Column = toCol(SimHash64(toExpr(text)))

  /** Hamming distance between two packed 64-bit sketches: popcount of xor —
    * entirely built-in codegen.
    */
  def hammingPacked(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The 8 byte-bands of a packed 64-bit simhash, as an array for
    * `posexplode` banding. By pigeonhole, any pair within hamming distance 7
    * shares at least one of the 8 byte-bands.
    */
  def simhashByteBands(sig: Column): Column =
    array((0 until 8).map(bi => shiftrightunsigned(sig, bi * 8).bitwiseAND(lit(255L))): _*)

  /** Cosine similarity of two numeric arrays, accumulated in double in
    * element order — bit-identical to the DuckDB oracle's fold.
    */
  def cosine(a: Column, b: Column): Column = toCol(CosineSim(toExpr(a), toExpr(b)))

  /** Product-quantization code of a vector against trained codebooks
    * (flat m × ksub × dsub). One compiled pass per row.
    */
  def pqEncode(vec: Column, codebooks: Seq[Double], m: Int, ksub: Int, dsub: Int): Column =
    toCol(PqEncode(toExpr(vec), codebooks, m, ksub, dsub))

  /** Asymmetric-distance cosine between an exact query vector and a PQ code. */
  def pqCosine(qv: Column, code: Column, codebooks: Seq[Double], m: Int, ksub: Int, dsub: Int): Column =
    toCol(PqCosine(toExpr(qv), toExpr(code), codebooks, m, ksub, dsub))

  /** Coordinates of a vector in a trained top-k PCA basis (centering +
    * rotation — native [[PcaProject]], one compiled O(k·dim) pass per row).
    */
  def pcaProject(v: Column, mean: Seq[Double], basis: Seq[Seq[Double]]): Column =
    toCol(PcaProject(toExpr(v), mean, basis))

  /** Global fine cell id from a two-level coarse-then-fine centroid
    * assignment — O(2√k · dim) per row at any total cell count k (see
    * [[IvfAssign]]). `fine(c)` holds coarse cell c's sub-centroids; the
    * returned id is the sub-centroid's index in the flattened forest.
    */
  def ivfAssign(v: Column, coarse: Seq[Seq[Double]], fine: Seq[Seq[Seq[Double]]]): Column =
    toCol(IvfAssign(toExpr(v), coarse, fine))

  /** Deterministic random hyperplanes for sign-LSH over embeddings:
    * `planes(nPlanes, dim)` — fixed seed so bucketing is reproducible.
    * Distinct seeds give independent plane sets for multi-table banding.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket id (long; bit p = sign of v·plane_p). */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    toCol(LshBucket(toExpr(vec), planes))
}
