package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Product-quantization codebooks: per subspace m, the center labels and
  * their sub-vectors (`vectors(m)(c)` has the subspace's width). Subspace m
  * covers the query window that starts where subspace m − 1 ends. A plain
  * class so the expression can hand it to generated code as one reference
  * object and still compare by value. */
final class AdcCodebooks(val labels: Array[Array[Long]], val vectors: Array[Array[Array[Double]]])
    extends Serializable {
  require(labels.length == vectors.length && labels.indices.forall(m =>
      labels(m).length == vectors(m).length && vectors(m).nonEmpty &&
        vectors(m).forall(_.length == vectors(m)(0).length)),
    "adc: ragged codebooks")

  override def equals(other: Any): Boolean = other match {
    case o: AdcCodebooks =>
      java.util.Arrays.deepEquals(o.labels.asInstanceOf[Array[AnyRef]],
        labels.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.deepEquals(o.vectors.asInstanceOf[Array[AnyRef]],
          vectors.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * java.util.Arrays.deepHashCode(labels.asInstanceOf[Array[AnyRef]]) +
      java.util.Arrays.deepHashCode(vectors.asInstanceOf[Array[AnyRef]])
}

/** Native asymmetric distance (ADC) over product-quantization codes —
  * the hot-path form of the unrolled
  * `Σ_m Σ_j (CAST(element_at(q, i) AS DOUBLE) − element_at(cb_mj,
  * array_position(labels_m, code_m)))²` Column tree, which built 64
  * per-row literal arrays (k doubles each) plus 8 `array_position` lookups
  * for every candidate row and planned ~1,000 nodes per search.
  *
  * Bitwise parity with the unrolled form (and therefore with the DuckDB
  * oracles, which keep the unrolled text):
  *  - each query element is widened to double before subtracting;
  *  - the inner sum runs over j inside subspace m and the outer one over
  *    m, each left-associative from its FIRST term — exactly the nesting
  *    of the `(… reduce(_ + _)) reduce(_ + _)` tree;
  *  - a code resolves to the FIRST center carrying its label
  *    (`array_position` semantics).
  *
  * Fail-loud semantics: a query vector too short for the codebooks, a null
  * element, a null code, too few codes or a code no center carries throws.
  * (The unrolled form threw on an unknown code too: `element_at(…, 0)`.)
  */
object AdcF64 {

  /** Called from both interpreted eval and generated code. */
  def compute(q: ArrayData, codes: ArrayData, books: AdcCodebooks, qFloat: Boolean): Double = {
    val nm = books.labels.length
    if (codes.numElements() < nm)
      throw new IllegalArgumentException(
        s"adc: ${codes.numElements()} codes for $nm subspaces")
    var total = 0.0
    var offset = 0
    var m = 0
    while (m < nm) {
      if (codes.isNullAt(m))
        throw new IllegalArgumentException(s"adc: null code for subspace $m")
      val code = codes.getLong(m)
      val ls = books.labels(m)
      var c = 0
      while (c < ls.length && ls(c) != code) c += 1
      if (c == ls.length)
        throw new IllegalArgumentException(s"adc: code $code not in subspace $m's codebook")
      val cv = books.vectors(m)(c)
      if (q.numElements() < offset + cv.length)
        throw new IllegalArgumentException(
          s"adc: vector of ${q.numElements()} elements too short " +
            s"for window [$offset, ${offset + cv.length})")
      var sub = 0.0
      var j = 0
      while (j < cv.length) {
        val i = offset + j
        if (q.isNullAt(i))
          throw new IllegalArgumentException(s"adc: null element at index $i")
        val x = if (qFloat) q.getFloat(i).toDouble else q.getDouble(i)
        val d = x - cv(j)
        val t = d * d
        sub = if (j == 0) t else sub + t
        j += 1
      }
      total = if (m == 0) sub else total + sub
      offset += cv.length
      m += 1
    }
    total
  }

  /** `double`: Σ_m ‖q_m − books(m)[codes[m]]‖², where `codes` is an
    * `array<bigint>` with one code per subspace and `books(m)` lists subspace
    * m's (label, sub-vector) centers. */
  def adcDistance(q: Column, codes: Column, books: Seq[Seq[(Long, Array[Double])]]): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    val cb = new AdcCodebooks(books.map(_.map(_._1).toArray).toArray,
      books.map(_.map(_._2).toArray).toArray)
    Bridge.column(AdcF64Expr(Bridge.expression(q), Bridge.expression(codes), cb))
  }
}

case class AdcF64Expr(left: Expression, right: Expression, books: AdcCodebooks)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adcf64"

  private def qIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<bigint>), got " +
        s"(${other._1.simpleString}, ${other._2.simpleString})")
  }

  override protected def nullSafeEval(q: Any, codes: Any): Any =
    AdcF64.compute(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], books, qIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("books", books, classOf[AdcCodebooks].getName)
    defineCodeGen(ctx, ev, (q, codes) =>
      s"graft.expr.AdcF64.compute($q, $codes, $booksRef, $qIsFloat)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcF64Expr =
    copy(left = newLeft, right = newRight)
}
