package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions — each generates a single static call into
  * GraftKernels so they stay inside whole-stage codegen (no UDF boxing,
  * no serialization of closures). Preference order per SURVEY.md par.7.3:
  * these are the only custom kernels the engine needs; everything else is
  * composed from org.apache.spark.sql.functions.
  */

/** jaro_winkler(str, str) -> double. Spark has levenshtein built in but no
  * Jaro-Winkler; the reference's classifier (idrt/model_classifier.py:129-178)
  * is replaced by deterministic string-similarity features of which this is
  * the main one.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    GraftKernels.jaroWinkler(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GraftKernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

/** char_tokenize(str, maxLength) -> array<int> of exactly maxLength ids
  * (reference tokenizer, idrt/data.py:216-242).
  */
case class CharTokenize(child: Expression, maxLength: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftKernels.tokenize(v.asInstanceOf[UTF8String], maxLength)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftKernels.tokenize($c, $maxLength)")
  override protected def withNewChildInternal(c: Expression): CharTokenize =
    copy(child = c)
  override def prettyName: String = "char_tokenize"
}

object CharTokenize {
  def column(c: Column, maxLength: Int): Column =
    GraftBridge.column(CharTokenize(GraftBridge.expression(c), maxLength))
}

/** cosine_sim(array<float|double>, array<float|double>) -> double. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => throw new IllegalArgumentException(s"cosine_sim expects arrays, got $t")
  }
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    // eval/codegen dispatch on the LEFT element type — a float/double mix
    // would read the right array with the wrong stride, silently producing
    // garbage similarities; require equal element types instead
    val same = ok && elemType(left) == elemType(right)
    if (same) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two arrays with the SAME element type " +
        s"(float or double; cast one side), got ${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  private lazy val isFloat = elemType(left) == FloatType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (isFloat) GraftKernels.cosineF(a, b) else GraftKernels.cosineD(a, b)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "cosineF" else "cosineD"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** l2_dist(array<float>, array<float>) -> double (euclidean,
  * reference: idrt/contrastive_metric.py:10-43).
  */
case class L2Dist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    GraftKernels.l2F(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.l2F($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Dist =
    copy(left = l, right = r)
  override def prettyName: String = "l2_dist"
}

/** simhash64(str) -> long — deterministic 64-bit SimHash over words. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    GraftKernels.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** ngram_embed(str, dim) -> array<float>: deterministic char-trigram
  * hashed embedding, L2-normalized (the Spark-native replacement for the
  * reference's PyTorch encoder, idrt/model.py:292-393 — SURVEY.md M1).
  */
case class NgramEmbed(child: Expression, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftKernels.embedF(v.asInstanceOf[UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.embedF($c, $dim)")
  override protected def withNewChildInternal(c: Expression): NgramEmbed = copy(child = c)
  override def prettyName: String = "ngram_embed"
}

/** rhp_key(array<float>, bits, seed) -> long LSH bucket key
  * (random-hyperplane signs; SURVEY.md J6 distributed replacement).
  */
case class RhpKey(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    GraftKernels.rhpKey(v.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.rhpKey($c, $bits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): RhpKey = copy(child = c)
  override def prettyName: String = "rhp_key"
}

/** shingle_hashes(str, w) -> sorted distinct array<long> of word w-shingle
  * hashes — the set side of the exact-Jaccard verifier (one pass, no
  * string-array materialization; pairs with sorted_overlap).
  */
case class ShingleHashes(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftKernels.shingleHashes64(v.asInstanceOf[UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.shingleHashes64($c, $width)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** minhash_sig(str, k, shingleWidth) -> array<long> signature. */
case class MinHashSig(child: Expression, k: Int, shingleWidth: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GraftKernels.minhashSig(v.asInstanceOf[UTF8String], k, shingleWidth)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftKernels.minhashSig($c, $k, $shingleWidth)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** rolling_minhash(str, width) -> long: min of rolling char-shingle
  * hashes (1-perm MinHash fingerprint).
  */
case class RollingMinHash(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    GraftKernels.rollingMinHash(v.asInstanceOf[UTF8String], width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftKernels.rollingMinHash($c, $width)")
  override protected def withNewChildInternal(c: Expression): RollingMinHash = copy(child = c)
  override def prettyName: String = "rolling_minhash"
}

/** sorted_overlap(array<long>, array<long>) -> int — common-element count
  * of two sorted arrays (merge scan; the Jaccard hot loop).
  */
case class SortedOverlap(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    GraftKernels.sortedOverlap(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftKernels.sortedOverlap($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedOverlap =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_overlap"
}

/** Column-level API for the custom expressions + composed similarity fns. */
object Similarity {
  import org.apache.spark.sql.functions._

  def jaroWinkler(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinkler(GraftBridge.expression(a), GraftBridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def l2Dist(a: Column, b: Column): Column =
    GraftBridge.column(L2Dist(GraftBridge.expression(a), GraftBridge.expression(b)))

  def simHash64(c: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(c)))

  def ngramEmbed(c: Column, dim: Int): Column =
    GraftBridge.column(NgramEmbed(GraftBridge.expression(c), dim))

  def rhpKey(c: Column, bits: Int, seed: Long): Column =
    GraftBridge.column(RhpKey(GraftBridge.expression(c), bits, seed))

  def minHashSig(c: Column, k: Int, shingleWidth: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(c), k, shingleWidth))

  def shingleHashes(c: Column, width: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(c), width))

  def sortedOverlap(a: Column, b: Column): Column =
    GraftBridge.column(SortedOverlap(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Annoy angular distance -> cosine similarity, (2 - d^2)/2
    * (reference: idrt/algorithm/run_search.py:159-161).
    */
  def angularToCosine(d: Column): Column = (lit(2.0) - d * d) / lit(2.0)

  /** Levenshtein similarity normalized to [0, 1]. Uses Spark's built-in
    * (codegen'd) levenshtein; 1.0 for two empty strings.
    */
  def levenshteinSim(a: Column, b: Column): Column = {
    val maxLen = greatest(length(a), length(b))
    when(maxLen === 0, lit(1.0))
      .otherwise(lit(1.0) - levenshtein(a, b).cast("double") / maxLen.cast("double"))
  }
}
