package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Registers graft's native sketch expressions as SQL functions, so
  * `spark.sql("SELECT simhash64(text) ...")` works anywhere the extension is
  * installed (`Engine.session` wires it in; external users can set
  * `spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    unary.foreach { case (name, build) => register(ext, name, 1)(es => build(es.head)) }
    register(ext, "cosine_sim", 2)(es => CosineSim(es(0), es(1)))
  }
}

object GraftExtensions {
  /** The one-argument SQL functions; parameters a kernel takes beyond its
    * argument are pinned here.
    */
  private val unary: Seq[(String, Expression => Expression)] = Seq(
    "simhash64" -> (SimHash64(_)),
    "shingles" -> (ShingleNGrams(_, 3)),
    "hashed_shingles" -> (HashedShingles(_, 3)),
    "minhash_signature" -> (MinHashSignature(_, 64)),
    "minhash_bands" -> (MinHashBands(_, 64, 16, 4)),
    "word_rep_stats" -> (WordRepStats(_)),
    "normalize_text" -> (NormalizeText(_)),
    "char_entropy" -> (CharEntropy(_)),
    "char_window_hashes64" -> (CharWindowHashes64(_, 32)),
    "bpe_token_count" -> (BpeTokenCount(_, TextFunctions.demoBpeMerges)),
    "bpe_segments" -> (BpeSegments(_, TextFunctions.demoBpeMerges)),
    "deflate_ratio" -> (DeflateRatio(_))
  )

  private def register(ext: SparkSessionExtensions, name: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction(
      (
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        es => {
          require(es.length == arity,
            s"$name expects $arity argument${if (arity == 1) "" else "s"}, got ${es.length}")
          build(es)
        }
      )
    )
}
