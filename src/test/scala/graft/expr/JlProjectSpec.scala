package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.VectorOpsImpl.{hyperplanes, lshSignature}

/** [[JlProjectExpr]] replaced the unrolled JL sketch text
  * `(h_j1 * CAST(element_at(v, 1) AS DOUBLE) + … ) * 0.25` in the JL
  * projection (q69) and the JL rerank path; [[SignLshOp]] shares its
  * projection loop. The DuckDB oracles keep the unrolled text, so this
  * spec pins the kernel to it bit for bit (`doubleToLongBits`: −0.0 and
  * +0.0 differ, every NaN is one NaN), including the −0.0 chain a 0.0 seed
  * would get wrong, plus the fail-loud contract.
  */
class JlProjectSpec extends SparkSpec with KernelChecks {
  import spark.implicits._

  private val Dims = 64

  private def vecs(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(Dims)((rng.nextDouble() * 2 - 1).toFloat)))
  }

  /** Every term of plane 0's chain is −0.0: x_i = −0.0 where h_0(i) = +1
    * and +0.0 where h_0(i) = −1. The unrolled chain starts from term 1, so
    * p0 is −0.0; a 0.0-seeded loop would return +0.0. */
  private val negZeroChain: Array[Float] =
    hyperplanes(0).map(h => if (h == 1) -0.0f else 0.0f).toArray

  /** The text jlSketch/jlProject inlined before the kernel (and the oracle
    * still runs). */
  private def unrolled(j: Int): Column = {
    val sum = (1 to Dims)
      .map(i => s"${hyperplanes(j)(i - 1)} * CAST(element_at(v, $i) AS DOUBLE)")
      .mkString(" + ")
    expr(s"($sum) * 0.25")
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def assertParity(df: DataFrame, planes: Int): Unit = {
    val kernel = JlProject.jlProject(col("v"), hyperplanes.take(planes), 0.25)
    val rows = df.select(col("id") +: kernel.as("k") +: (0 until planes).map(j =>
        unrolled(j).as(s"u$j")): _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getSeq[Double](1)
      assert(k.size == planes)
      (0 until planes).foreach { j =>
        assert(bits(k(j)) == bits(r.getDouble(2 + j)),
          s"row ${r.getLong(0)} dim $j: ${k(j)} != ${r.getDouble(2 + j)}")
      }
    }
  }

  test("bitwise-equals the unrolled 16 × 64 sketch on seeded vectors") {
    assertParity(vecs(seed = 42, n = 200).toDF("id", "v"), 16)
  }

  test("the first n dims equal the unrolled first n (the q69 shape)") {
    assertParity(vecs(seed = 9, n = 50).toDF("id", "v"), 4)
  }

  test("an all −0.0 chain stays −0.0: the sum is seeded with its first term") {
    val df = Seq((1L, negZeroChain)).toDF("id", "v")
    assertParity(df, 16)
    val p0 = df.select(element_at(
      JlProject.jlProject(col("v"), hyperplanes.take(1), 0.25), 1)).as[Double].head()
    assert(bits(p0) == bits(-0.0), s"p0 = $p0, expected -0.0")
  }

  test("NaN elements propagate exactly like the unrolled chain") {
    val v = vecs(seed = 5, n = 1).head._2.clone()
    v(17) = Float.NaN
    assertParity(Seq((1L, v)).toDF("id", "v"), 16)
  }

  test("double-array vectors are accepted and widen nothing") {
    val rng = new scala.util.Random(3)
    val df = Seq((1L, Array.fill(Dims)(rng.nextDouble() - 0.5))).toDF("id", "v")
    assertParity(df, 16)
  }

  test("codegen agrees with interpreted eval") {
    val df = (vecs(seed = 23, n = 50) :+ ((99L, negZeroChain))).toDF("id", "v")
      .select(JlProject.jlProject(col("v"), hyperplanes, 0.25).as("p"))
    def run(): Seq[Seq[Long]] = df.as[Seq[Double]].collect().toSeq.map(_.map(bits))
    assert(run() == interpreted(run()))
  }

  test("sign-LSH keeps the unrolled signature bits on the shared loop") {
    val df = (vecs(seed = 77, n = 200) :+ ((999L, negZeroChain))).toDF("id", "v")
    val rows = df.select(col("id"),
        SignLshFunctions.signLsh(col("v"), hyperplanes).as("k"),
        expr(s"CAST(${lshSignature(i => s"CAST(element_at(v, $i) AS DOUBLE)")} AS BIGINT)")
          .as("u"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, k, u) => assert(k == u, s"row $id: $k != $u") }
  }

  test("a vector shorter than the hyperplanes throws instead of yielding NULL") {
    val df = Seq((1L, Array.fill(Dims - 1)(0.5f))).toDF("id", "v")
    assertThrowsWith("too short")(
      df.select(JlProject.jlProject(col("v"), hyperplanes, 0.25)).collect())
    assertThrowsWith("too short")(
      df.select(SignLshFunctions.signLsh(col("v"), hyperplanes)).collect())
  }

  test("a null element throws instead of yielding NULL") {
    val v: Seq[java.lang.Float] = (0 until Dims).map(i =>
      if (i == 40) null else java.lang.Float.valueOf(0.5f))
    val df = Seq((1L, v)).toDF("id", "v")
    assertThrowsWith("null element")(
      df.select(JlProject.jlProject(col("v"), hyperplanes, 0.25)).collect())
  }

  test("a null vector yields NULL (standard UnaryExpression null propagation)") {
    val df = Seq((Option.empty[Array[Float]], 1)).toDF("v", "x")
    assert(df.select(JlProject.jlProject(col("v"), hyperplanes, 0.25))
      .collect().head.isNullAt(0))
  }
}
