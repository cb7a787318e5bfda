package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is CodegenFallback: every row allocates a zipped array and runs an
  * interpreted fold — measurable overhead when the surrounding
  * operator evaluates millions of candidate pairs (brute-force top-k
  * scores |Q|·|N| pairs; IVF/LSH still score every candidate). This
  * expression fuses dot product and both norms into ONE pass over the
  * arrays with zero allocation, inside whole-stage codegen.
  *
  * Semantics are IDENTICAL to the HOF formulation the DuckDB oracle
  * mirrors (hash-compared per query, and property-tested against the
  * HOF column in FunctionsSpec):
  *
  *  - each product/square is computed in double (float→double is
  *    exact) and accumulated LEFT-TO-RIGHT, so doubles are
  *    bit-identical to `list_sum(list_transform(...))` in DuckDB;
  *  - result = dot / (sqrt(na) · sqrt(nb)), `0.0` when either norm is
  *    zero (the HOF's `when(n === 0, 0.0)` guard);
  *  - NULL if either array is NULL, the lengths differ, or any element
  *    is NULL (`zip_with` pads with NULL ⇒ NULL product ⇒ NULL sum).
  *
  * Registered as SQL function `graft_cosine` via [[GraftFunctions]] /
  * [[GraftExtensions]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // checkInputDataTypes instead of ExpectsInputTypes: the latter's
  // AbstractDataType is private[sql]; no implicit casts are wanted
  // anyway — inputs must already be array<float>.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float>, array<float>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // length mismatch / NULL element
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xe = x.getFloat(i).toDouble
      val ye = y.getFloat(i).toDouble
      dot += xe * ye; na += xe * xe; nb += ye * ye
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xe = ctx.freshName("xe")
      val ye = ctx.freshName("ye")
      val denom = ctx.freshName("denom")
      s"""
        |final int $n = $a.numElements();
        |if ($n != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    final double $xe = (double) $a.getFloat($i);
        |    final double $ye = (double) $b.getFloat($i);
        |    $dot += $xe * $ye; $na += $xe * $xe; $nb += $ye * $ye;
        |  }
        |  if (!${ev.isNull}) {
        |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
        |  }
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
