package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expressions for the sketch/similarity hot paths.
  *
  * Each expression evaluates through a compiled kernel in [[SketchImpl]] and
  * emits the *same* static call from `doGenCode`, so the sketch computation
  * stays inside whole-stage codegen — no UDF boundary, no interpreted
  * higher-order-function lambdas, no per-element array churn. This is the
  * "custom Expression beats UDF beats HOF" tier of the design (SURVEY.md §3):
  * per row, one virtual-call-free static invoke over unsafe memory.
  *
  * The null policy and the argument checks live once, in [[Kernel]] and its
  * one-argument bases; each case class below keeps only its own parameters,
  * result type and kernel call.
  */
object NativeExpressions {
  private[functions] def isStr(dt: DataType): Boolean = dt.isInstanceOf[StringType]

  /** The vector kernels read either element width. */
  private[functions] def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _                                    => false
  }

  /** ARRAY<BIGINT> gate for the minhash kernels: UnsafeArrayData.getLong
    * on an int-packed array reads across element slots — plausible-looking
    * but garbage hashes — so reject anything else at analysis time.
    */
  private[functions] def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  /** True when a vector argument holds FLOATs, false for DOUBLEs. */
  private[functions] def floatElems(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType
}

/** What every native kernel shares. NULL in any argument gives NULL out
  * (`nullIntolerant`: the kernel never sees a NULL, and the optimizer may
  * infer IS NOT NULL on the arguments). The argument types are checked
  * once, at analysis; a mismatch fails with
  * `<fn> requires <argTypes>, got <actual types>`.
  *
  * `Serializable` here, so that task deserialization skips the one-argument
  * constructors of the bases below and calls UnaryExpression's or
  * BinaryExpression's no-argument one.
  */
trait Kernel extends Expression with Serializable {
  /** The SQL name, as the type-check message spells it. */
  protected def fn: String
  /** The accepted argument types, as the type-check message spells them. */
  protected def argTypes: String
  /** One test per argument, in argument order. */
  protected def argChecks: Seq[DataType => Boolean]
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.zip(argChecks).forall { case (c, ok) => ok(c.dataType) }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn requires $argTypes, got ${children.map(_.dataType.sql).mkString(", ")}")
}

/** A one-argument kernel over STRING text. */
abstract class StringKernel(protected val fn: String) extends UnaryExpression with Kernel {
  protected def argTypes: String = "STRING"
  protected def argChecks: Seq[DataType => Boolean] = Seq(NativeExpressions.isStr)
}

/** A one-argument kernel over an ARRAY<BIGINT> of hashed shingles. */
abstract class LongArrayKernel(protected val fn: String) extends UnaryExpression with Kernel {
  protected def argTypes: String = "ARRAY<BIGINT>"
  protected def argChecks: Seq[DataType => Boolean] = Seq(NativeExpressions.isLongArray)
}

/** A one-argument kernel over an ARRAY<FLOAT|DOUBLE> vector; `isFloat`
  * tells the kernel which element width to read.
  */
abstract class VectorKernel(protected val fn: String) extends UnaryExpression with Kernel {
  protected def argTypes: String = "ARRAY<FLOAT|DOUBLE>"
  protected def argChecks: Seq[DataType => Boolean] = Seq(NativeExpressions.isVector)
  protected lazy val isFloat: Boolean = NativeExpressions.floatElems(child.dataType)
}

/** A STRING kernel under a BPE merge table. The table is a REAL parameter:
  * any rank-ordered "left right" list (e.g. a tokenizer's merges.txt via
  * TextFunctions.loadBpeMerges), shipped as a plan constant
  * (addReferenceObj) — the task-binary broadcast path a production job uses
  * for its tokenizer assets. Size-bounded: vocab-scale tables (GPT-2 ships
  * 50k merges) are plan-constant territory; anything larger belongs in a
  * join, not an expression.
  */
abstract class BpeKernel(fn: String) extends StringKernel(fn) {
  def merges: Seq[String]
  require(merges.length <= 200000,
    s"merge table must stay vocab-scale (<= 200k pairs, got ${merges.length}) — " +
      "a plan constant is broadcast to every task")
  @transient protected lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, Integer.valueOf(i)) }
    m
  }
}

/** `simhash64(text)` → 64-bit packed SimHash of the whitespace tokens. */
case class SimHash64(child: Expression) extends StringKernel("simhash64") {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
}

/** `shingles(text, n)` → distinct word n-grams, first-occurrence order. */
case class ShingleNGrams(child: Expression, n: Int) extends StringKernel("shingles") {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.shingleNGrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.shingleNGrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleNGrams = copy(child = newChild)
}

/** `hashed_shingles(text, n)` → distinct `xxhash64(shingle) mod P` longs —
  * the join-key form of [[ShingleNGrams]].
  */
case class HashedShingles(child: Expression, n: Int) extends StringKernel("hashed_shingles") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.hashedShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.hashedShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingles = copy(child = newChild)
}

/** `hashed_shingles64(text, n)` → distinct full-64-bit `xxhash64(shingle)`
  * longs (no mod-P) — the set-identity form of [[HashedShingles]]:
  * collision bound ~n²/2⁶⁴, for exact-intersection verifies and membership
  * joins where the minhash [0, P) domain is not needed.
  */
case class HashedShingles64(child: Expression, n: Int) extends StringKernel("hashed_shingles64") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.hashedShingles64(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.hashedShingles64($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingles64 = copy(child = newChild)
}

/** `char_window_hashes64(text)` → distinct Mersenne-61 rolling hashes of
  * all w-code-point character windows (stride 1), first-occurrence order —
  * the exact-substring membership form for character-level decontamination.
  * O(len) per row: the roll is O(1) per window. The SQL registration pins
  * w = 32 (as shingles/minhash_bands pin their parameters); the Column API
  * (`TextFunctions.charWindowHashes64`) exposes w as a real parameter.
  */
case class CharWindowHashes64(child: Expression, w: Int) extends StringKernel("char_window_hashes64") {
  require(w >= 2, s"window must be >= 2 code points, got $w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.charWindowHashes64(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.charWindowHashes64($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes64 = copy(child = newChild)
}

/** `minhash_signature(hashedShingles, k)` → k-seat MinHash signature. */
case class MinHashSignature(child: Expression, k: Int) extends LongArrayKernel("minhash_signature") {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.minhashSignature(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.minhashSignature($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature = copy(child = newChild)
}

/** `minhash_bands(hashedShingles, k, b, r)` → b LSH band hashes (fused
  * signature + banding, one kernel call per row).
  */
case class MinHashBands(child: Expression, k: Int, b: Int, r: Int) extends LongArrayKernel("minhash_bands") {
  require(b * r == k, s"bands($b) * rows($r) must equal signature size($k)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.minhashBands(input.asInstanceOf[ArrayData], k, b, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.minhashBands($c, $k, $b, $r)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands = copy(child = newChild)
}

/** `marker_counts(text)` → per-marker-set membership counts of the lowercased
  * whitespace tokens, every set counted in one compiled tokenization pass.
  * Backs language-ID scoring and stopword ratios.
  */
case class MarkerCounts(child: Expression, markerSets: Seq[Seq[String]]) extends StringKernel("marker_counts") {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    markerSets.map { ms =>
      val h = new java.util.HashSet[UTF8String]()
      // Locale.ROOT: a tr-locale executor JVM lowercases "It" to dotless-ı
      // while the input tokens go through locale-independent
      // UTF8String.toLowerCase — the marker would never match there, and
      // interpreted eval (which re-materializes this @transient set per
      // JVM) would disagree with codegen (which ships the driver's sets).
      ms.foreach(m => h.add(UTF8String.fromString(m.toLowerCase(java.util.Locale.ROOT))))
      h
    }.toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.markerCounts(input.asInstanceOf[UTF8String], sets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markerSets", sets, "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.markerCounts($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): MarkerCounts = copy(child = newChild)
}

/** `word_rep_stats(text)` → [top_word_share, dup_word_frac] over the
  * lowercased whitespace tokens, one compiled pass per row (Gopher
  * repetition signals without an explode/shuffle pipeline).
  */
case class WordRepStats(child: Expression) extends StringKernel("word_rep_stats") {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.wordRepStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.wordRepStats($c)")
  override protected def withNewChildInternal(newChild: Expression): WordRepStats = copy(child = newChild)
}

/** `bpe_token_count(text)` → token count under a BPE merge table: GPT-2
  * pre-tokenization (contraction suffixes, letter/number/punctuation runs —
  * SketchImpl.bpeTokenCount) then greedy lowest-rank merges per segment.
  */
case class BpeTokenCount(child: Expression, merges: Seq[String]) extends BpeKernel("bpe_token_count") {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.bpeTokenCount(input.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.bpeTokenCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount = copy(child = newChild)
}

/** `bpe_segments(text)` → the tokenized form itself: the merged BPE symbol
  * sequence, space-joined (symbols never contain whitespace, so the join is
  * unambiguous and engine-portable). Same pre-tokenizer + merge loop as
  * [[BpeTokenCount]].
  */
case class BpeSegments(child: Expression, merges: Seq[String]) extends BpeKernel("bpe_segments") {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.bpeSegments(input.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.bpeSegments($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeSegments = copy(child = newChild)
}

/** `bpe_words(text)` → the lowercased PRE-TOKEN stream (no merges),
  * space-joined: the "word" units BPE training counts frequencies over.
  * Same pre-tokenizer scan as [[BpeTokenCount]]/[[BpeSegments]], so merges
  * learned over these words apply through those kernels with zero
  * segmentation drift between training and tokenization.
  */
case class BpeWords(child: Expression) extends StringKernel("bpe_words") {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.preTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.preTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): BpeWords = copy(child = newChild)
}

/** `char_entropy(text)` → Shannon entropy (nats) of the code-point
  * distribution, one compiled pass per row — the binary-junk detector.
  */
case class CharEntropy(child: Expression) extends StringKernel("char_entropy") {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.charEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.charEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropy = copy(child = newChild)
}

/** `normalize_text(text)` → Unicode NFC composition + ASCII whitespace
  * collapse + trim, one compiled pass per row (with an isNormalized fast
  * path for the already-composed ASCII majority).
  */
case class NormalizeText(child: Expression) extends StringKernel("normalize_text") {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeText = copy(child = newChild)
}

/** `canonicalize_url(url)` → the canonical form per UrlFunctions' contract,
  * as ONE compiled kernel call. Exists for generated-code size: the
  * equivalent builtin tree is ~40 nested regexp nodes, and optimizer
  * substitutions (predicate pushdown through an aggregate's grouping alias)
  * legitimately DUPLICATE the tree — q_url_frontier's crawled-set filter
  * blew the stage past janino's limits and dropped it to interpreted
  * execution. The kernel survives any number of substitutions as a single
  * static invoke; byte-identical to the builtin formulation (SketchImpl
  * applies the same java.util.regex patterns in the same order).
  */
case class CanonicalizeUrl(child: Expression) extends StringKernel("canonicalize_url") {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.canonicalizeUrl(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.canonicalizeUrl($c)")
  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl = copy(child = newChild)
}

/** `cosine_sim(a, b)` over float/double arrays, double accumulation in
  * element order (bit-matches the DuckDB oracle fold).
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression with Kernel {
  protected def fn: String = "cosine_sim"
  protected def argTypes: String = "ARRAY<FLOAT|DOUBLE>"
  protected def argChecks: Seq[DataType => Boolean] = Seq(NativeExpressions.isVector, NativeExpressions.isVector)
  override def dataType: DataType = DoubleType
  private lazy val aFloat = NativeExpressions.floatElems(left.dataType)
  private lazy val bFloat = NativeExpressions.floatElems(right.dataType)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SketchImpl.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SketchImpl.cosine($a, $b, $aFloat, $bFloat)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `pq_encode(vec)` → product-quantization code (one long): nearest codebook
  * centroid per subspace, bit-packed. 64 floats become a 32-bit code at
  * m=8, ksub=16 — the memory form a billion-vector index actually holds.
  */
case class PqEncode(child: Expression, codebooks: Seq[Double], m: Int, ksub: Int, dsub: Int)
    extends VectorKernel("pq_encode") {
  require(codebooks.length == m * ksub * dsub, "codebooks must be m*ksub*dsub doubles")
  override def dataType: DataType = LongType
  @transient private lazy val flat: Array[Double] = codebooks.toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.pqEncode(input.asInstanceOf[ArrayData], flat, m, ksub, dsub, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", flat, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.pqEncode($c, $ref, $m, $ksub, $dsub, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode = copy(child = newChild)
}

/** `pq_cosine(query_vec, code)` → asymmetric-distance cosine: exact query
  * side against the PQ reconstruction of the coded vector.
  */
case class PqCosine(left: Expression, right: Expression, codebooks: Seq[Double], m: Int, ksub: Int, dsub: Int)
    extends BinaryExpression with Kernel {
  require(codebooks.length == m * ksub * dsub, "codebooks must be m*ksub*dsub doubles")
  protected def fn: String = "pq_cosine"
  protected def argTypes: String = "(ARRAY<FLOAT|DOUBLE>, BIGINT)"
  protected def argChecks: Seq[DataType => Boolean] = Seq(NativeExpressions.isVector, _ == LongType)
  override def dataType: DataType = DoubleType
  @transient private lazy val flat: Array[Double] = codebooks.toArray
  private lazy val isFloat = NativeExpressions.floatElems(left.dataType)
  override protected def nullSafeEval(q: Any, code: Any): Any =
    SketchImpl.pqCosine(q.asInstanceOf[ArrayData], code.asInstanceOf[Long], flat, m, ksub, dsub, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", flat, "double[]")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.SketchImpl.pqCosine($q, $c, $ref, $m, $ksub, $dsub, $isFloat)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqCosine =
    copy(left = newLeft, right = newRight)
}

/** `lsh_bucket(vec)` → sign-LSH bucket id (bit p = sign of v·plane_p) against
  * a fixed, seeded hyperplane matrix. 2^nPlanes buckets bound every
  * downstream candidate join.
  */
case class LshBucket(child: Expression, planes: Seq[Seq[Double]]) extends VectorKernel("lsh_bucket") {
  override def dataType: DataType = LongType
  private val nPlanes = planes.length
  private val dim = planes.head.length
  @transient private lazy val flat: Array[Double] = planes.flatten.toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.lshBucket(input.asInstanceOf[ArrayData], flat, nPlanes, dim, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.lshBucket($c, $ref, $nPlanes, $dim, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): LshBucket = copy(child = newChild)
}

/** `ivf_assign(vec)` → global fine cell id from a TWO-LEVEL centroid
  * assignment (coarse argmax over √k centroids, then argmax over only the
  * winning cell's sub-centroids — SketchImpl.ivfAssign). This is the node
  * that removes the flat-argmax scale ceiling: a flat assignment compiles
  * one cosine kernel per cell (O(k) per row and O(k) codegen size, which
  * stops compiling near k ≈ 10³), while this single expression carries the
  * full centroid forest as plan constants (addReferenceObj — the same way
  * the PQ codebooks and LSH planes ship) and evaluates O(2√k · dim)
  * multiplies per row at ANY k. Centroid norms are precomputed once at
  * expression construction, not per row. Structural equality of the
  * centroid parameters keeps two identical assignment subtrees eligible
  * for ReuseExchange (the semdedup self-join pin depends on it).
  */
case class IvfAssign(child: Expression, coarse: Seq[Seq[Double]], fine: Seq[Seq[Seq[Double]]])
    extends VectorKernel("ivf_assign") {
  require(coarse.nonEmpty, "ivf_assign needs at least one coarse centroid")
  require(coarse.length == fine.length, "one sub-centroid group per coarse cell")
  require(fine.forall(_.nonEmpty), "every coarse cell needs >= 1 sub-centroid")
  // Uniform dims, or the flattened plan-constant arrays read shifted
  // offsets and every centroid after the malformed one misassigns.
  require((coarse ++ fine.flatten).forall(_.length == coarse.head.length),
    "ivf_assign: every centroid (coarse and fine) must share one dimension")
  override def dataType: DataType = IntegerType
  // The centroid forest is plan DATA, not plan STRUCTURE: the default
  // product-based rendering would inline k·dim doubles into every plan
  // string, blowing past Spark's plan-string truncation limit (which then
  // hides the rest of the plan from explain/audits). Render compactly.
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"kc=${coarse.length}", s"k=${fine.map(_.length).sum}", s"dim=${coarse.head.length}")
  @transient private lazy val dim = coarse.head.length
  @transient private lazy val coarseFlat: Array[Double] = coarse.flatten.toArray
  @transient private lazy val coarseNorm: Array[Double] =
    coarse.map(c => math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)).toArray
  @transient private lazy val fineFlat: Array[Double] = fine.flatten.flatten.toArray
  @transient private lazy val fineNorm: Array[Double] =
    fine.flatten.map(c => math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)).toArray
  @transient private lazy val fineStart: Array[Int] =
    fine.scanLeft(0)((acc, cell) => acc + cell.length).toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.ivfAssign(
      input.asInstanceOf[ArrayData], dim, coarseFlat, coarseNorm, fineFlat, fineNorm, fineStart, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cf = ctx.addReferenceObj("ivfCoarse", coarseFlat, "double[]")
    val cn = ctx.addReferenceObj("ivfCoarseNorm", coarseNorm, "double[]")
    val ff = ctx.addReferenceObj("ivfFine", fineFlat, "double[]")
    val fnorm = ctx.addReferenceObj("ivfFineNorm", fineNorm, "double[]")
    val fs = ctx.addReferenceObj("ivfFineStart", fineStart, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchImpl.ivfAssign($c, $dim, $cf, $cn, $ff, $fnorm, $fs, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): IvfAssign = copy(child = newChild)
}

/** `pca_project(vec)` → the vector's coordinates in a trained top-k PCA
  * basis (centering + rotation — SketchImpl.pcaProject). Mean and basis
  * ship as plan constants like the PQ codebooks; rendering is compacted
  * (k·dim doubles are plan DATA, not structure — see [[IvfAssign]]).
  */
case class PcaProject(child: Expression, mean: Seq[Double], basis: Seq[Seq[Double]])
    extends VectorKernel("pca_project") {
  require(basis.nonEmpty && basis.forall(_.length == mean.length),
    "basis rows must match the mean's dimensionality")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"k=${basis.length}", s"dim=${mean.length}")
  @transient private lazy val dim = mean.length
  @transient private lazy val nComp = basis.length
  @transient private lazy val meanFlat: Array[Double] = mean.toArray
  @transient private lazy val basisFlat: Array[Double] = basis.flatten.toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.pcaProject(input.asInstanceOf[ArrayData], meanFlat, basisFlat, nComp, dim, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("pcaMean", meanFlat, "double[]")
    val b = ctx.addReferenceObj("pcaBasis", basisFlat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchImpl.pcaProject($c, $m, $b, $nComp, $dim, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): PcaProject = copy(child = newChild)
}

/** `deflate_ratio(text)` → DEFLATE-compressed size / raw size
  * (SketchImpl.deflateRatio) — the compression-ratio junk signal. One
  * kernel call per row inside whole-stage codegen.
  */
case class DeflateRatio(child: Expression) extends StringKernel("deflate_ratio") {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.deflateRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchImpl.deflateRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): DeflateRatio = copy(child = newChild)
}

/** `linear_text_score(text)` → σ(bias + Σ_tokens weights[bucket(token)]):
  * the serving pass of the hashing-trick logistic classifier
  * (SketchImpl.linearTextScore). Feature hashing and the dot product run
  * fused in one compiled pass per row — no feature vector materializes.
  * Weights ship as a plan constant (bounded: the hash dimension, not the
  * vocabulary); rendering is compacted like the PQ/PCA constants.
  */
case class LinearTextScore(child: Expression, weights: Seq[Double], bias: Double)
    extends StringKernel("linear_text_score") {
  require(weights.nonEmpty && (weights.length & (weights.length - 1)) == 0,
    "weights length must be a power of two (mask-folded hash buckets)")
  override def dataType: DataType = DoubleType
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"dim=${weights.length}")
  @transient private lazy val flat: Array[Double] = weights.toArray
  override protected def nullSafeEval(input: Any): Any =
    SketchImpl.linearTextScore(input.asInstanceOf[UTF8String], flat, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("linearWeights", flat, "double[]")
    // bias ships as a reference object, not a spliced source literal: a
    // non-finite bias would render as `NaN`/`Infinity` — invalid Java —
    // and fail compilation where the interpreted path evaluates fine.
    val b = ctx.addReferenceObj("linearBias", java.lang.Double.valueOf(bias), "java.lang.Double")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchImpl.linearTextScore($c, $w, $b.doubleValue())")
  }
  override protected def withNewChildInternal(newChild: Expression): LinearTextScore = copy(child = newChild)
}

/** `robots_match(rules, path)` → the best-matching robots rule for `path`
  * over a parsed-rule array (struct<prefix, allow, rx>), or NULL when no
  * rule matches. One tight compiled loop per row with a shared
  * compiled-pattern cache — the HOF form (filter + regexp_like +
  * array_max) recompiles every NON-FOLDABLE regex per candidate × per rule,
  * which is the robots decision's real cost on a 100 TB frontier. Election
  * semantics are spec-pinned identical to TextQueries.robotsBestMatchRx:
  * longest raw pattern, allow wins ties, then greatest prefix.
  *
  * Not a [[Kernel]]: it keeps Spark's default null handling (no inferred
  * IS NOT NULL on its arguments) and its own message, which spells the
  * rule struct.
  */
case class RobotsMatch(rules: Expression, path: Expression) extends BinaryExpression {
  override def left: Expression = rules
  override def right: Expression = path
  override def dataType: DataType = StructType(Seq(
    StructField("l", IntegerType, nullable = false),
    StructField("allow", BooleanType, nullable = false),
    StructField("prefix", StringType, nullable = false)))
  override def nullable: Boolean = true
  private def okRules(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fields), _) =>
      fields.length == 3 &&
        fields(0).dataType.isInstanceOf[StringType] &&
        fields(1).dataType == BooleanType &&
        fields(2).dataType.isInstanceOf[StringType]
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (okRules(rules.dataType) && NativeExpressions.isStr(path.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"robots_match requires (ARRAY<STRUCT<STRING, BOOLEAN, STRING>>, STRING), " +
          s"got (${rules.dataType.sql}, ${path.dataType.sql})")
  override protected def nullSafeEval(r: Any, p: Any): Any =
    SketchImpl.robotsBestMatch(r.asInstanceOf[ArrayData], p.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, p) => s"""
      ${ev.value} = graft.functions.SketchImpl.robotsBestMatch($r, $p);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsMatch =
    copy(rules = newLeft, path = newRight)
}
