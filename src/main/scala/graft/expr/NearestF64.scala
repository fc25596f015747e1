package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._

/** Native nearest-center argmin over a baked codebook — the hot-path form
  * of the unrolled `array_min(array(struct((e1-c1)²+…+(e64-c64)², label),
  * …))` expression text the assignment/encode operators previously inlined
  * (k centers × 64 dims ≈ 512 literal nodes per argmin).
  *
  * Why an Expression and not the unrolled text (the [[DotF64]] argument,
  * plus one more that matters for ITERATIVE trainers): the unrolled chain
  * inlines every center component as a Java double constant, so
  *  - each k-means/PQ Lloyd iteration generates DIFFERENT source and pays
  *    a fresh Janino compile of a multi-thousand-statement method (the
  *    measured driver gap of the round-16 baseline: 4.3 s of 7.6 s on
  *    index:embed_kmeans_model), and
  *  - the serialized plan ships ~1.6 MB task binaries per stage.
  * This expression keeps the codebook as an array VALUE (a codegen
  * reference object), so the generated source is one static call,
  * IDENTICAL across iterations and subspaces — compiled once per JVM,
  * metadata-sized task binaries.
  *
  * `nearestf64(vec, centers[, offset])` where `centers` is
  * `array<struct<l bigint, v array<double>>>` (normally a literal) and
  * `offset` (int literal, default 0) is the 0-based start of the subspace
  * window inside `vec` (PQ subspace m passes m×subDims). Returns
  * `struct<d double, l bigint>`: the smallest squared distance and its
  * center label. The engine's operators build it through [[nearest]],
  * with the codebook as one literal value instead of SQL text; the SQL
  * name is registered by `GraftExtensions.install`.
  *
  * Bitwise parity with the unrolled form (and therefore with the DuckDB
  * oracles, which keep the unrolled text):
  *  - each element is widened to double BEFORE subtracting, exactly like
  *    the `CAST(element_at(vec, i) AS DOUBLE)` in the unrolled text;
  *  - per-center d² accumulates left-associatively from 0.0 (`0.0 + t1`
  *    is IEEE-exact: t1 = d·d is never −0.0);
  *  - the argmin replicates Spark's struct ordering over (d, l):
  *    `java.lang.Double.compare` is exactly Spark's double ordering here
  *    (NaN greatest, NaN == NaN; −0.0 cannot occur in a sum of squares),
  *    ties on d fall to the smaller label — identical to
  *    `array_min(array(struct(d, l), …))`.
  *
  * Fail-loud semantics (the [[DotF64]] discipline): a vector too short
  * for the requested window, or a null element, throws instead of
  * yielding NULL — for dense fixed-width vectors that is corruption.
  */
object NearestF64 {

  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

  val function: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier("nearestf64"),
      new ExpressionInfo(classOf[NearestF64Expr].getName, "nearestf64"),
      (args: Seq[Expression]) => args match {
        case Seq(v, c) => NearestF64Expr(v, c, 0)
        case Seq(v, c, Literal(o: Int, IntegerType)) => NearestF64Expr(v, c, o)
        case _ => throw new IllegalArgumentException(
          "nearestf64(vec array<float|double>, centers array<struct<l bigint, " +
            "v array<double>>>[, offset int literal])")
      })

  /** Squared distance from `vec[offset, offset + n)` to center `cv`
    * (n = |cv|): widen-then-subtract per element, left-associative from
    * 0.0. Shared by the argmin ([[compute]]) and the ranking
    * ([[computeTopN]]). */
  def dist2(vec: ArrayData, cv: ArrayData, offset: Int, vecFloat: Boolean): Double = {
    val n = cv.numElements()
    if (vec.numElements() < offset + n)
      throw new IllegalArgumentException(
        s"nearestf64: vector of ${vec.numElements()} elements too short " +
          s"for window [$offset, ${offset + n})")
    var d = 0.0
    var j = 0
    while (j < n) {
      val i = offset + j
      if (vec.isNullAt(i))
        throw new IllegalArgumentException(s"nearestf64: null element at index $i")
      val x = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      val diff = x - cv.getDouble(j)
      d += diff * diff
      j += 1
    }
    d
  }

  /** Spark's ascending order on `struct(d double, l bigint)`:
    * `java.lang.Double.compare` on d (NaN greatest, NaN == NaN; −0.0
    * cannot occur in a sum of squares), then the smaller label. */
  private def before(d1: Double, l1: Long, d2: Double, l2: Long): Boolean = {
    val cmp = java.lang.Double.compare(d1, d2)
    cmp < 0 || (cmp == 0 && l1 < l2)
  }

  private def nonEmpty(centers: ArrayData): Int = {
    val k = centers.numElements()
    if (k == 0)
      throw new IllegalArgumentException("nearestf64: empty codebook")
    k
  }

  /** Called from both interpreted eval and generated code. */
  def compute(vec: ArrayData, centers: ArrayData, offset: Int,
      vecFloat: Boolean): InternalRow = {
    val k = nonEmpty(centers)
    var bestD = 0.0
    var bestL = 0L
    var c = 0
    while (c < k) {
      val cs = centers.getStruct(c, 2)
      val l = cs.getLong(0)
      val d = dist2(vec, cs.getArray(1), offset, vecFloat)
      if (c == 0 || before(d, l, bestD, bestL)) {
        bestD = d
        bestL = l
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestL))
  }

  /** The labels of the n nearest centers, nearest first, in the order
    * `array_sort(array(struct(d, l), …))` puts them. */
  def computeTopN(vec: ArrayData, centers: ArrayData, n: Int,
      vecFloat: Boolean): ArrayData = {
    val k = nonEmpty(centers)
    if (n < 1 || n > k)
      throw new IllegalArgumentException(s"nearestf64: top $n of a $k-center codebook")
    val ds = new Array[Double](k)
    val ls = new Array[Long](k)
    var c = 0
    while (c < k) {
      val cs = centers.getStruct(c, 2)
      ls(c) = cs.getLong(0)
      ds(c) = dist2(vec, cs.getArray(1), 0, vecFloat)
      c += 1
    }
    // selection of the n smallest: k is a coarse codebook (tens of centers)
    val out = new Array[Long](n)
    var r = 0
    while (r < n) {
      var best = r
      var i = r + 1
      while (i < k) {
        if (before(ds(i), ls(i), ds(best), ls(best))) best = i
        i += 1
      }
      val td = ds(r); ds(r) = ds(best); ds(best) = td
      val tl = ls(r); ls(r) = ls(best); ls(best) = tl
      out(r) = ls(r)
      r += 1
    }
    ArrayData.toArrayData(out)
  }

  /** The codebook as an `array<struct<l bigint, v array<double>>>`
    * literal value: one codegen reference object, however large. */
  private def centersLiteral(cents: Seq[(Long, Array[Double])]): Literal =
    Literal(new GenericArrayData(cents.map { case (l, v) =>
      new GenericInternalRow(Array[Any](l, ArrayData.toArrayData(v)))
    }.toArray[Any]), ArrayType(StructType(Seq(
      StructField("l", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false))),
      containsNull = false))

  /** `struct<d double, l bigint>`: the center nearest to the window of
    * `vec` that starts at `offset` — `nearestf64(vec, centers, offset)` as a
    * Column. The codebook is one literal value, not SQL text: the plan
    * carries one node for it however large it is, and the generated code
    * is identical across Lloyd iterations. */
  def nearest(vec: Column, cents: Seq[(Long, Array[Double])], offset: Int = 0): Column = {
    Bridge.column(NearestF64Expr(Bridge.expression(vec), centersLiteral(cents), offset))
  }

  /** `vec − center(label)` over the center's width: the residual IVF-PQ
    * encodes. The label resolves to the first center carrying it (the
    * `array_position` lookup the unrolled per-dim form used); an unknown
    * label, a short vector or a null element throws. */
  def computeResidual(vec: ArrayData, label: Long, centers: ArrayData,
      vecFloat: Boolean): ArrayData = {
    val k = nonEmpty(centers)
    var c = 0
    while (c < k && centers.getStruct(c, 2).getLong(0) != label) c += 1
    if (c == k)
      throw new IllegalArgumentException(s"nearestf64: label $label not in the codebook")
    val cv = centers.getStruct(c, 2).getArray(1)
    val n = cv.numElements()
    if (vec.numElements() < n)
      throw new IllegalArgumentException(
        s"nearestf64: vector of ${vec.numElements()} elements too short for [0, $n)")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i))
        throw new IllegalArgumentException(s"nearestf64: null element at index $i")
      val x = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      out(i) = x - cv.getDouble(i)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** `array<double>`: `vec − cents(label)`, element by element. */
  def residual(vec: Column, label: Column, cents: Seq[(Long, Array[Double])]): Column = {
    Bridge.column(ResidualF64Expr(Bridge.expression(vec), Bridge.expression(label),
      centersLiteral(cents)))
  }

  /** `array<bigint>`: the labels of the n centers nearest to `vec`, ordered
    * by (d², label) — the probe ranking of a multi-probe IVF search. */
  def nearestLabels(vec: Column, cents: Seq[(Long, Array[Double])], n: Int): Column = {
    Bridge.column(NearestNF64Expr(Bridge.expression(vec), centersLiteral(cents), n))
  }
}

case class NearestF64Expr(left: Expression, right: Expression, offset: Int)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("l", LongType, nullable = false)))

  override def prettyName: String = "nearestf64"

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, array<struct<bigint, " +
          s"array<double>>>), got (${other._1.simpleString}, ${other._2.simpleString})")
    }

  override protected def nullSafeEval(v: Any, c: Any): Any =
    NearestF64.compute(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      offset, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.expr.NearestF64.compute($v, $c, $offset, $vecIsFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestF64Expr =
    copy(left = newLeft, right = newRight)
}

/** [[NearestF64Expr]] ranked instead of minimized: `array<bigint>` of the
  * n nearest center labels over the full vector, same distance loop, same
  * (d², label) order — the native form of `array_sort(array(struct(d, l),
  * …))` followed by `element_at(…, p).l` for p = 1..n. */
case class NearestNF64Expr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "nearestnf64"

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    NearestF64Expr(left, right, 0).checkInputDataTypes()

  override protected def nullSafeEval(v: Any, c: Any): Any =
    NearestF64.computeTopN(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      n, vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) =>
      s"graft.expr.NearestF64.computeTopN($v, $c, $n, $vecIsFloat)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestNF64Expr =
    copy(left = newLeft, right = newRight)
}

/** `vec − center(label)` ([[NearestF64.computeResidual]]): the native form
  * of the per-dim `CAST(element_at(vec, i) AS DOUBLE) − element_at(array(c_1i,
  * …, c_ki), array_position(labels, label))` residual (k × 64 literal
  * nodes), bitwise the same subtraction. A null vector or label yields
  * NULL. */
case class ResidualF64Expr(vec: Expression, label: Expression, centers: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = label
  override def third: Expression = centers

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "residualf64"

  private def vecIsFloat: Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = label.dataType match {
    case LongType => NearestF64Expr(vec, centers, 0).checkInputDataTypes()
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint label, got ${other.simpleString}")
  }

  override protected def nullSafeEval(v: Any, l: Any, c: Any): Any =
    NearestF64.computeResidual(v.asInstanceOf[ArrayData], l.asInstanceOf[Long],
      c.asInstanceOf[ArrayData], vecIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, l, c) =>
      s"graft.expr.NearestF64.computeResidual($v, $l, $c, $vecIsFloat)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): ResidualF64Expr =
    copy(vec = newFirst, label = newSecond, centers = newThird)
}
