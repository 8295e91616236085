package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine similarity over two float-vector columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why custom (SURVEY.md §7 custom-work item #3): the composable form
  * (`aggregate(zip_with(a,b,_*_), ...)` over `array<double>`) allocates
  * an intermediate array per row per term and runs through the
  * higher-order-function interpreter. This expression reads both
  * `ArrayData` buffers once, accumulating dot product and both norms in
  * a single fused loop — no allocation, and `doGenCode` keeps it inside
  * the WholeStageCodegen span of the enclosing scan. On a 100 TB ANN
  * scan this is the hot inner loop.
  *
  * Numerics: floats are widened to double per element and accumulated
  * sequentially, index order — identical IEEE ops to the oracle's
  * `list_sum(list_transform(...))` over `::DOUBLE[]`, so results are
  * bit-identical, not just close.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true

  /** Null on length mismatch or null elements (a schema/data bug must
    * not yield a confidently wrong similarity); zero vectors give NaN
    * like the arithmetic spelling. */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      // mirrors nullSafeEval: null on length mismatch / null element
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |    else {
         |      double $x = (double) $a.getFloat($i);
         |      double $y = (double) $b.getFloat($i);
         |      $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API surface for [[CosineSimilarity]] (SQL: `cosine_sim`). */
object GraftFunctions {
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
