package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native sign-random-projection LSH signature over a float vector.
  *
  * Numerically IDENTICAL to the unrolled SQL formulation in
  * graft.ops.VectorOpsImpl.lshSignature — the projection accumulates
  * `sign_ji * (double) x_i` left-to-right in index order, so the IEEE
  * result (and therefore every signature bit) matches the DuckDB oracle
  * bit-for-bit — while staying a single static call inside
  * WholeStageCodegen. The unrolled form can exceed the JVM 64 KB method
  * limit and drop to interpreted eval; this one cannot. A vector shorter
  * than the hyperplanes, or a null element, throws ([[JlProject]]).
  */
object SignLshOp {
  /** hyperplanes(j)(i) ∈ {-1, +1}; bit j set iff Σ_i h_ji · x_i > 0 — the
    * sign of [[JlProject.project]]'s chain (`> 0.0` is false for both
    * zeros, so seeding from the first term leaves every bit as it was). */
  def compute(vec: ArrayData, planes: Array[Array[Int]]): Long = {
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      if (JlProject.project(vec, planes(j), vecFloat = true) > 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

case class SignLshExpr(child: Expression, planes: Array[Array[Int]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh"

  // the eval reads raw floats via ArrayData.getFloat — an array<double>
  // input would silently yield garbage signatures; fail at analysis instead
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SignLshOp.compute(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "int[][]")
    defineCodeGen(ctx, ev, c => s"graft.expr.SignLshOp.compute($c, $planesRef)")
  }

  // Array fields break case-class equality/hashCode; normalize for plan
  // transforms and canonicalization.
  override def equals(other: Any): Boolean = other match {
    case s: SignLshExpr =>
      s.child == child && s.planes.length == planes.length &&
        s.planes.zip(planes).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + planes.map(java.util.Arrays.hashCode).toSeq.hashCode()

  override protected def withNewChildInternal(newChild: Expression): SignLshExpr =
    copy(child = newChild)
}

object SignLshFunctions {
  import org.apache.spark.sql.graftshim.Bridge

  def signLsh(vec: Column, planes: IndexedSeq[IndexedSeq[Int]]): Column =
    Bridge.column(SignLshExpr(Bridge.expression(vec), planes.map(_.toArray).toArray))
}
