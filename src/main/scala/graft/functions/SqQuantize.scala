package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native SQ8 scalar-quantization kernel (FAISS ScalarQuantizer
  * QT_8bit shape) — the per-dimension affine 256-level grid the
  * `Ann.sqTrain` pass fits. It replaces the `transform(vec, …)`
  * higher-order-function formulation, whose lambdas evaluate
  * INTERPRETED per element with two `element_at` lookups into
  * dim-sized literal arrays each; here the grids ride as codegen
  * reference objects ([[Interp1D]] pattern) and the whole per-row loop
  * fuses into WholeStageCodegen — on a 100 TB corpus the
  * reconstruct-and-score scan is the SQ8 search's entire cost.
  *
  * Bit-exactness contract with the HOF form (gate q_ann_sq8 stays
  * hash-identical):
  * code = `clamp(round((x − min_d)/scale_d, 0), 0, 255)` with Spark's
  * `round(_, 0)` semantics — HALF_UP (half away from zero) decided on
  * the EXACT value, which `Math.floor(v + 0.5)` alone does not honor
  * within one ulp of a half boundary (the float add can cross it);
  * [[SqQuantize.roundHalfUp]] post-corrects with exact nearby-double
  * comparisons. Negative quotients clamp to 0 either way, so the
  * positive-side correction is the whole story.
  */
object SqQuantize {

  /** Spark `round(v, 0)`-compatible HALF_UP on the exact value, for
    * the non-negative-after-clamp regime: floor(v+0.5) fast path, then
    * exact correction (k−v and v−k are Sterbenz-exact for |k−v| ≤ 1).
    */
  def roundHalfUp(v: Double): Double = {
    var k = math.floor(v + 0.5)
    if (k - v > 0.5) k -= 1.0
    else if (v - k >= 0.5 && v > 0.0) k += 1.0
    k
  }

  def code(v: Double): Int = {
    val r = roundHalfUp(v)
    val c = if (r < 0.0) 0.0 else if (r > 255.0) 255.0 else r
    c.toInt
  }

  def roundTrip(vec: ArrayData, isFloat: Boolean, mins: Array[Double],
      scales: Array[Double]): ArrayData = {
    val n = math.min(vec.numElements(), mins.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      out(i) = mins(i) + code((x - mins(i)) / scales(i)).toDouble * scales(i)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused encode→decode (`x̂` straight from `x`): the SQ8 search's
  * corpus-side scan — one loop, no intermediate code array survives
  * the row. */
case class SqRoundTrip(child: Expression, mins: Array[Double],
    scales: Array[Double]) extends UnaryExpression {
  require(mins.length == scales.length && mins.nonEmpty,
    "mins/scales must be same nonempty length")

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq_round_trip"

  override protected def nullSafeEval(input: Any): Any =
    SqQuantize.roundTrip(input.asInstanceOf[ArrayData], isFloat, mins, scales)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sqMins", mins, "double[]")
    val sc = ctx.addReferenceObj("sqScales", scales, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SqQuantize.roundTrip($c, $isFloat, $mn, $sc)")
  }

  override protected def withNewChildInternal(newChild: Expression): SqRoundTrip =
    copy(child = newChild)
}

object SqRoundTrip {
  def apply(col: Column, mins: Array[Double], scales: Array[Double]): Column =
    ExpressionBridge.column(
      SqRoundTrip(ExpressionBridge.expression(col), mins, scales))
}
