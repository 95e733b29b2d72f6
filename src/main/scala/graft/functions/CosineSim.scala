package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `ArrayType(FloatType)` columns — the §2B "scalar UDF surface" row done
  * the preferred way (SURVEY.md §4.2: a codegen'd `Expression` beats a
  * Scala UDF beats everything else): no serialization boundary, no
  * boxing, a tight primitive loop inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to `VectorOps.cosine` (same fold order, same
  * association: dot / (sqrt(Σx²) · sqrt(Σy²)) with float→double widening
  * per element), so it verifies against the same DuckDB oracle (q61 vs
  * q44) and `CosineSimSpec` asserts expression == higher-order-function
  * bit-for-bit. Mismatched lengths raise; zero vectors yield NaN (the
  * mathematical result of 0/0 — filter upstream if undefined is
  * unacceptable).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "cosine_sim"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires two ARRAY<FLOAT> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine_sim: dimension mismatch $n vs ${y.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, dot, na, nb, xv, yv) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("dot"),
          ctx.freshName("na"), ctx.freshName("nb"), ctx.freshName("xv"), ctx.freshName("yv"))
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: dimension mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = (double) $a.getFloat($i);
         |  final double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two `ArrayType(FloatType)` columns — the
  * per-PAIR half of cosine when norms are precomputed per SIDE: at pair
  * volumes (q46b/q78 candidate verification) the fused `cosine_sim`
  * kernel spends 2/3 of its FMAs recomputing norms that are invariant
  * per row; `dot_f(a, b) / (norm_a * norm_b)` with norms carried as
  * columns does the O(pairs·d) work with one FMA per element and is
  * bit-identical to `cosine_sim` (same fold order, same operand values
  * — `CosineSimSpec` asserts equality exactly).
  */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_f"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_f requires two ARRAY<FLOAT> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_f: dimension mismatch $n vs ${y.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, dot) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("dot"))
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "dot_f: dimension mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF =
    copy(left = newLeft, right = newRight)
}

/** Native EXACT integer dot product over two `ArrayType(LongType)`
  * columns — the per-pair kernel of the ⌊x·2²⁰+0.5⌋ grid family
  * (q105/q215/q229/q255/q317's candidate scoring and the coarse
  * assignment itself). The interpreted `aggregate(zip_with(...))`
  * chain it replaces costs microseconds per pair (higher-order
  * functions never enter whole-stage codegen); at probe volumes
  * (n·nprobe/nLists of the pair space) that loop IS the query. The
  * value is an exact BIGINT sum — order-invariant, so the swap is
  * bit-identical by construction and the DuckDB mirrors (`list_sum`
  * over exact integers) are untouched. Grid magnitudes bound the sum
  * far under 2⁶³ (|component| ≤ 2²¹ ⇒ 64-dim dot ≤ 2⁴⁸).
  */
case class DotL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_l"
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_l requires two ARRAY<BIGINT> arguments, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_l: dimension mismatch $n vs ${y.numElements()}")
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, dot) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("dot"))
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "dot_l: dimension mismatch " + $n + " vs " + $b.numElements());
         |}
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotL =
    copy(left = newLeft, right = newRight)
}

/** Engine extensions — registers native functions into every session
  * built with `spark.sql.extensions=graft.functions.GraftExtensions`
  * (GraftSession sets this), making `cosine_sim(a, b)` available to SQL
  * and `selectExpr` with full codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** (SQL name, expression class, arity, constructor over the arguments). */
  private val functions: Seq[(String, Class[_ <: Expression], Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim], 2, c => CosineSim(c(0), c(1))),
    ("dot_f", classOf[DotF], 2, c => DotF(c(0), c(1))),
    ("dot_l", classOf[DotL], 2, c => DotL(c(0), c(1))),
    ("minhash_sig", classOf[MinHashSig], 2, c => MinHashSig(c(0), c(1))),
    ("shingles3", classOf[Shingles3], 1, c => Shingles3(c(0))),
    ("winnow_mins", classOf[WinnowMins], 3, c => WinnowMins(c(0), c(1), c(2))),
    ("trigram_hashes", classOf[TrigramHashes], 1, c => TrigramHashes(c(0))),
    ("sad_bytes", classOf[SadBytes], 2, c => SadBytes(c(0), c(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount], 2,
      c => SortedIntersectCount(c(0), c(1))),
    ("gram5_md5", classOf[Gram5Md5], 1, c => Gram5Md5(c(0))),
    ("word_set_count", classOf[WordSetCount], 2, c => WordSetCount(c(0), c(1))),
    ("word_multi_count", classOf[WordMultiCount], 2, c => WordMultiCount(c(0), c(1))),
    ("subword_est", classOf[SubwordEst], 1, c => SubwordEst(c(0))),
    ("simhash62", classOf[SimHash62], 1, c => SimHash62(c(0))),
    ("jaro_winkler", classOf[JaroWinkler], 2, c => JaroWinkler(c(0), c(1))))

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, cls, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == arity,
            s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
          build(children)
        }))
    }
}
