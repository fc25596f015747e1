package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[NearestNF64Expr]] replaced the multi-probe IVF probe ranking
  * `array_sort(array(struct(Σ(CAST(e_i) − c_i)², label), …))` (k × 64
  * literal terms) followed by `element_at(…, p).l`. This spec pins the
  * ranked labels to that form over seeded vectors, exact ties on d², NaN
  * distances, and the fail-loud inputs.
  */
class NearestNF64Spec extends SparkSpec with KernelChecks {
  import spark.implicits._

  private val Dims = 64

  private def vecs(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(Dims)((rng.nextDouble() * 2 - 1).toFloat)))
  }

  /** Labels deliberately not in scan order, so a ranking that ignored the
    * label tie-break could not pass by position. */
  private def centers(seed: Int, k: Int): Seq[(Long, Array[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until k).map(i => ((5 * (k - i)).toLong, Array.fill(Dims)(rng.nextDouble() * 2 - 1)))
  }

  /** The probe ranking ivfMultiProbeTopKPlan/ivfProbeTopKN built before the
    * kernel: the p-th label of the array_sort'ed (d², label) structs. */
  private def unrolled(cents: Seq[(Long, Array[Double])], p: Int): Column = {
    def dist2(cv: Array[Double]): Column =
      (1 to Dims).map { i =>
        val d = expr(s"CAST(element_at(v, $i) AS DOUBLE)") - lit(cv(i - 1))
        d * d
      }.reduce(_ + _)
    val rank = array_sort(array(cents.map { case (cl, cv) =>
      struct(dist2(cv).as("d"), lit(cl).as("l"))
    }: _*))
    element_at(rank, p).getField("l")
  }

  private def assertParity(df: DataFrame, cents: Seq[(Long, Array[Double])], n: Int): Unit = {
    val rows = df.select(col("id") +:
        NearestF64.nearestLabels(col("v"), cents, n).as("k") +:
        (1 to n).map(p => unrolled(cents, p).as(s"u$p")): _*).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getSeq[Long](1)
      val u = (1 to n).map(p => r.getLong(1 + p))
      assert(k == u, s"row ${r.getLong(0)}: $k != $u")
    }
  }

  test("ranks exactly like array_sort over (d², label) structs, every depth") {
    val cents = centers(seed = 11, k = 8)
    val df = vecs(seed = 42, n = 200).toDF("id", "v")
    Seq(1, 2, 4, 8).foreach(n => assertParity(df, cents, n))
  }

  test("exact d² ties order by the smaller label") {
    // centers 0/1 and 4/5 share vectors: their distances tie bit for bit
    val base = centers(seed = 12, k = 6)
    val cents = base.zipWithIndex.map { case ((l, v), i) =>
      (l, if (i == 1) base(0)._2 else if (i == 5) base(4)._2 else v)
    }
    val df = (vecs(seed = 43, n = 100) :+ ((999L, base(0)._2.map(_.toFloat)))).toDF("id", "v")
    assertParity(df, cents, 6)
    val tied = df.filter(col("id") === 999L)
      .select(NearestF64.nearestLabels(col("v"), cents, 2)).as[Seq[Long]].head()
    assert(tied == Seq(cents(1)._1, cents(0)._1).sorted, s"tie order $tied")
  }

  test("NaN distances rank last, ties among them by label") {
    val base = centers(seed = 13, k = 5)
    val cents = base.updated(2, (base(2)._1, base(2)._2.updated(7, Double.NaN)))
    val v = vecs(seed = 44, n = 20)
    assertParity(v.toDF("id", "v"), cents, 5)
    // a NaN query element makes every d² NaN: pure label order
    val nanQ = v.head._2.clone()
    nanQ(3) = Float.NaN
    assertParity(Seq((1L, nanQ)).toDF("id", "v"), cents, 5)
  }

  test("codegen agrees with interpreted eval") {
    val cents = centers(seed = 14, k = 8)
    val df = vecs(seed = 45, n = 100).toDF("id", "v")
      .select(NearestF64.nearestLabels(col("v"), cents, 3))
    def run(): Seq[Seq[Long]] = df.as[Seq[Long]].collect().toSeq
    assert(run() == interpreted(run()))
  }

  test("short vectors, null elements and over-deep rankings throw") {
    val cents = centers(seed = 15, k = 4)
    assertThrowsWith("too short")(Seq((1L, Array.fill(Dims - 1)(0.5f))).toDF("id", "v")
      .select(NearestF64.nearestLabels(col("v"), cents, 2)).collect())
    val withNull: Seq[java.lang.Float] = (0 until Dims).map(i =>
      if (i == 33) null else java.lang.Float.valueOf(0.5f))
    assertThrowsWith("null element")(Seq((1L, withNull)).toDF("id", "v")
      .select(NearestF64.nearestLabels(col("v"), cents, 2)).collect())
    assertThrowsWith("top 5 of a 4-center codebook")(vecs(seed = 46, n = 1).toDF("id", "v")
      .select(NearestF64.nearestLabels(col("v"), cents, 5)).collect())
  }
}
