package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen d×d ridge solve — (A + λI) x = b by Cholesky
  * factorization — the ALS half-step kernel of
  * [[graft.llmdata.Glove]] and [[graft.recommend.ImplicitAls]] at
  * every rank. `left` is A's upper triangle, row-major
  * ((0,0),(0,1),…,(0,d−1),(1,1),…,(d−1,d−1), d(d+1)/2 doubles —
  * exactly the normal-equation aggregate column order); `right` is b
  * (d doubles). Returns the solution vector x, UNROUNDED — callers
  * apply the house round-6 handoff per element.
  *
  * Cross-engine exactness: the factorization is a FIXED sequence of
  * IEEE-754 double ops (left-associated subtraction chains, one sqrt
  * and one division per pivot — see [[CholeskySolve.compute]]), and
  * the DuckDB oracle mirror ([[graft.core.CholeskySql.nestedSolve]])
  * emits the SAME expression tree as one nested subquery layer per
  * factorization value, so both engines produce bit-identical
  * solutions before the round-6 handoff.
  * One static call per row inside WholeStageCodegen, no UDF.
  */
case class CholeskySolve(left: Expression, right: Expression,
    lambda: Double) extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cholesky_solve"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CholeskySolve.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], lambda)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CholeskySolve.compute($a, $b, $lambda)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CholeskySolve = copy(left = newLeft, right = newRight)
}

object CholeskySolve {

  /** Solve (A + λI) x = b. Operation order is the cross-engine
    * contract (see class doc): every accumulation is a left-associated
    * subtraction chain in ascending k.
    */
  def compute(aUpper: ArrayData, bArr: ArrayData,
      lambda: Double): GenericArrayData = {
    val b = bArr.toDoubleArray()
    val d = b.length
    val a = aUpper.toDoubleArray()
    require(a.length == d * (d + 1) / 2,
      s"upper triangle of a ${d}x$d matrix needs ${d * (d + 1) / 2} " +
        s"entries, got ${a.length}")
    // upper-triangle row-major index for (i, j) with i <= j
    @inline def idx(i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)
    val l = Array.ofDim[Double](d, d)
    var j = 0
    while (j < d) {
      var s = a(idx(j, j)) + lambda
      var k = 0
      while (k < j) { s -= l(j)(k) * l(j)(k); k += 1 }
      l(j)(j) = math.sqrt(s)
      var i = j + 1
      while (i < d) {
        var t = a(idx(j, i))
        var k2 = 0
        while (k2 < j) { t -= l(i)(k2) * l(j)(k2); k2 += 1 }
        l(i)(j) = t / l(j)(j)
        i += 1
      }
      j += 1
    }
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      var t = b(i)
      var k = 0
      while (k < i) { t -= l(i)(k) * z(k); k += 1 }
      z(i) = t / l(i)(i)
      i += 1
    }
    val x = new Array[Double](d)
    i = d - 1
    while (i >= 0) {
      var t = z(i)
      var k = i + 1
      while (k < d) { t -= l(k)(i) * x(k); k += 1 }
      x(i) = t / l(i)(i)
      i -= 1
    }
    new GenericArrayData(x)
  }

  def apply(aUpper: Column, b: Column, lambda: Double): Column =
    ExpressionBridge.column(CholeskySolve(
      ExpressionBridge.expression(aUpper),
      ExpressionBridge.expression(b), lambda))
}
