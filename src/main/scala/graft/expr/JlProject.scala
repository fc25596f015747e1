package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native ±1 random projection (Johnson-Lindenstrauss sketch) over a
  * numeric vector — the hot-path form of the unrolled
  * `(h_j1 * CAST(element_at(vec, 1) AS DOUBLE) + … + h_j64 * …) * 0.25`
  * text, one 64-term chain per output dimension (16 × 64 literal terms per
  * sketch, on both sides of the JL rerank self-join).
  *
  * Why an Expression: the unrolled text is pure driver cost — analysis,
  * optimization and a Janino compile of ~1,000 inlined terms per plan —
  * while the projection itself is a few thousand flops over a few hundred
  * rows. Here the hyperplanes travel as one codegen reference object and
  * the generated code is one static call.
  *
  * Bitwise parity with the unrolled form (and therefore with the DuckDB
  * oracles, which keep the unrolled text):
  *  - each element is widened to double BEFORE multiplying, like the CAST;
  *    `h * x` with h = ±1 widened to double is the same IEEE product the
  *    literal `1 * x` / `-1 * x` computes;
  *  - the accumulator is SEEDED WITH THE FIRST TERM, not 0.0, and adds
  *    left to right in index order: `h·x` can be −0.0, and `0.0 + −0.0`
  *    is +0.0, so a 0.0 seed would flip the sign of an all-zero chain;
  *  - the scale is applied last, as one multiply (`(sum) * 0.25`).
  *
  * Fail-loud semantics (the [[DotF64]] discipline): a vector shorter than
  * a hyperplane, or a null element, throws instead of yielding NULL.
  */
object JlProject {

  /** Σ_i h(i) · x_i, left-associative from the first term. Shared with
    * [[SignLshOp]], which keeps only the sign. */
  def project(vec: ArrayData, h: Array[Int], vecFloat: Boolean): Double = {
    val n = h.length
    if (vec.numElements() < n)
      throw new IllegalArgumentException(
        s"jl_project: vector of ${vec.numElements()} elements too short for $n-dim hyperplanes")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i))
        throw new IllegalArgumentException(s"jl_project: null element at index $i")
      val x = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val t = h(i) * x
      acc = if (i == 0) t else acc + t
      i += 1
    }
    acc
  }

  /** Called from both interpreted eval and generated code. */
  def compute(vec: ArrayData, planes: Array[Array[Int]], scale: Double,
      vecFloat: Boolean): ArrayData = {
    val out = new Array[Double](planes.length)
    var j = 0
    while (j < planes.length) {
      out(j) = project(vec, planes(j), vecFloat) * scale
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** `array<double>` of `(Σ_i planes(j)(i) · vec_i) * scale`, one element
    * per hyperplane (pass the first n hyperplanes for the first n dims). */
  def jlProject(vec: Column, planes: IndexedSeq[IndexedSeq[Int]], scale: Double): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(JlProjectExpr(Bridge.expression(vec), planes.map(_.toArray).toArray, scale))
  }
}

case class JlProjectExpr(child: Expression, planes: Array[Array[Int]], scale: Double)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"

  private def vecIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    JlProject.compute(input.asInstanceOf[ArrayData], planes, scale, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "int[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.JlProject.compute($c, $planesRef, " +
        s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(scale)}L), $vecIsFloat)")
  }

  // Array fields break case-class equality/hashCode (the SignLshExpr fix).
  override def equals(other: Any): Boolean = other match {
    case e: JlProjectExpr =>
      e.child == child && e.scale.equals(scale) &&
        java.util.Arrays.deepEquals(e.planes.asInstanceOf[Array[AnyRef]],
          planes.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    (31 * child.hashCode() + java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])) *
      31 + scale.hashCode()

  override protected def withNewChildInternal(newChild: Expression): JlProjectExpr =
    copy(child = newChild)
}
