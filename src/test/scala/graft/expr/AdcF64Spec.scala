package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec

/** [[AdcF64Expr]] replaced three near-identical unrolled ADC Column trees
  * (per-label PQ, learned PQ, residual PQ): per subspace m and dim j,
  * `(q_i − element_at(cb_mj, array_position(labels_m, code_m)))²`, summed
  * over j, then over m. The DuckDB oracles keep the unrolled form, so this
  * spec pins the kernel to it bit for bit over seeded vectors, float and
  * double queries, NaN, and the fail-loud inputs.
  */
class AdcF64Spec extends SparkSpec with KernelChecks {
  import spark.implicits._

  private val M = 8
  private val Sub = 8
  private val K = 8

  /** Per-subspace codebooks; labels deliberately not 0..k-1 in order. */
  private def books(seed: Int): IndexedSeq[Seq[(Long, Array[Double])]] = {
    val rng = new scala.util.Random(seed)
    (0 until M).map(_ => (0 until K).map(i =>
      ((3 * (K - i)).toLong, Array.fill(Sub)(rng.nextDouble() * 2 - 1))))
  }

  /** (id, q, code0..code7) with every code drawn from its subspace's labels. */
  private def rows(seed: Int, n: Int, bs: IndexedSeq[Seq[(Long, Array[Double])]],
      double: Boolean): DataFrame = {
    val rng = new scala.util.Random(seed)
    val base = (0 until n).map { i =>
      val q = Array.fill(M * Sub)(rng.nextDouble() * 2 - 1)
      (i.toLong, q, q.map(_.toFloat), (0 until M).map(m => bs(m)(rng.nextInt(K))._1).toArray)
    }
    val df =
      if (double) base.map(r => (r._1, r._2, r._4)).toDF("id", "q", "codes")
      else base.map(r => (r._1, r._3, r._4)).toDF("id", "q", "codes")
    df.select(col("id") +: col("q") +:
      (0 until M).map(m => element_at(col("codes"), m + 1).as(s"code$m")): _*)
  }

  /** The Column tree adcDistance/adcDistanceLearned built before the kernel
    * (adcDistanceResidual: the same without the CAST, on array<double>). */
  private def unrolled(bs: IndexedSeq[Seq[(Long, Array[Double])]]): Column =
    (0 until M).map { m =>
      val labels = array(bs(m).map(c => lit(c._1)): _*)
      val pos = array_position(labels, col(s"code$m")).cast(IntegerType)
      (1 to Sub).map { j =>
        val i = m * Sub + j
        val cb = array(bs(m).map(c => lit(c._2(j - 1))): _*)
        val d = expr(s"CAST(element_at(q, $i) AS DOUBLE)") - element_at(cb, pos)
        d * d
      }.reduce(_ + _)
    }.reduce(_ + _)

  private def kernel(bs: IndexedSeq[Seq[(Long, Array[Double])]]): Column =
    AdcF64.adcDistance(col("q"), array((0 until M).map(m => col(s"code$m")): _*), bs)

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def assertParity(df: DataFrame, bs: IndexedSeq[Seq[(Long, Array[Double])]]): Unit = {
    val out = df.select(col("id"), kernel(bs).as("k"), unrolled(bs).as("u"))
      .as[(Long, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, k, u) => assert(bits(k) == bits(u), s"row $id: $k != $u") }
  }

  test("bitwise-equals the unrolled tree on float queries (per-label and learned PQ)") {
    val bs = books(11)
    assertParity(rows(seed = 42, n = 300, bs, double = false), bs)
  }

  test("bitwise-equals the unrolled tree on double queries (residual PQ)") {
    val bs = books(12)
    assertParity(rows(seed = 43, n = 300, bs, double = true), bs)
  }

  test("NaN in a query or a codebook propagates like the unrolled tree") {
    val bs = books(13)
    val nanBooks = bs.updated(2, bs(2).updated(1, (bs(2)(1)._1,
      bs(2)(1)._2.updated(4, Double.NaN))))
    val df = rows(seed = 44, n = 50, nanBooks, double = false)
    assertParity(df, nanBooks)
    val withNanQuery = df.withColumn("q",
      expr("transform(q, (x, i) -> IF(i = 9, CAST('NaN' AS FLOAT), x))"))
    assertParity(withNanQuery, nanBooks)
  }

  test("a label carried twice resolves to its first center, like array_position") {
    val bs = books(14)
    val dup = bs.updated(0, bs(0) :+ ((bs(0).head._1, Array.fill(Sub)(9.0))))
    assertParity(rows(seed = 45, n = 50, dup, double = false), dup)
  }

  test("codegen agrees with interpreted eval") {
    val bs = books(15)
    val df = rows(seed = 46, n = 100, bs, double = false).select(kernel(bs))
    def run(): Seq[Long] = df.as[Double].collect().toSeq.map(bits)
    assert(run() == interpreted(run()))
  }

  test("a code no center carries throws") {
    val bs = books(16)
    val df = rows(seed = 47, n = 1, bs, double = false).withColumn("code3", lit(1L))
    assertThrowsWith("not in subspace 3")(df.select(kernel(bs)).collect())
  }

  test("a null code throws instead of yielding NULL") {
    val bs = books(17)
    val df = rows(seed = 48, n = 1, bs, double = false)
      .withColumn("code5", lit(null).cast("bigint"))
    assertThrowsWith("null code")(df.select(kernel(bs)).collect())
  }

  test("a short query vector or a null element throws") {
    val bs = books(18)
    val df = rows(seed = 49, n = 1, bs, double = false)
    assertThrowsWith("too short")(
      df.withColumn("q", slice(col("q"), 1, M * Sub - 1)).select(kernel(bs)).collect())
    assertThrowsWith("null element")(
      df.withColumn("q", expr("transform(q, (x, i) -> IF(i = 20, CAST(NULL AS FLOAT), x))"))
        .select(kernel(bs)).collect())
  }

  test("a null query vector yields NULL (standard BinaryExpression null propagation)") {
    val bs = books(19)
    val df = rows(seed = 50, n = 1, bs, double = false)
      .withColumn("q", lit(null).cast("array<float>"))
    assert(df.select(kernel(bs)).collect().head.isNullAt(0))
  }
}
