package graft.expr


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[NearestF64Expr]] replaced the unrolled
  * `array_min(array(struct((e1-c1)²+…+(e64-c64)², label), …))` argmin text in
  * the assignment/encode operators (k-means Lloyd steps, IVF assignment, PQ
  * encodes); the DuckDB oracles KEEP the unrolled form, so every vector gate
  * rests on the two forms being bitwise equal — distance AND label, over the
  * full vector and over PQ subspace windows. This spec pins that equality
  * row-for-row, plus the fail-loud contract the unrolled form did not have.
  */
class NearestF64Spec extends SparkSpec {
  import spark.implicits._

  graft.GraftExtensions.install(spark)

  private val Dims = 64
  private val K = 8

  /** Deterministic pseudo-random float vectors, the embeddings-table shape. */
  private def vecs(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(Dims)((rng.nextDouble() * 2 - 1).toFloat)))
  }

  /** Deterministic centers; labels deliberately NOT 0..k-1-ordered so the
    * tie-break and the argmin cannot pass by scan order alone. */
  private def centers(seed: Int, k: Int, dims: Int): Seq[(Long, Array[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until k).map(i => ((k - 1 - i).toLong, Array.fill(dims)(rng.nextDouble() * 2 - 1)))
  }

  private def centersSql(cents: Seq[(Long, Array[Double])]): String =
    cents.map { case (cl, cv) =>
      s"named_struct('l', ${cl}L, 'v', array(${cv.map(v => s"${v}D").mkString(",")}))"
    }.mkString("array(", ",", ")")

  /** The unrolled text the operators used through round 15 (and the DuckDB
    * oracles still use): per-center left-associative Σ(cast(e_i)−c_i)²,
    * array_min over (d, l) structs. */
  private def unrolledSql(cents: Seq[(Long, Array[Double])], offset: Int): String = {
    val structs = cents.map { case (cl, cv) =>
      val d = cv.indices.map { j =>
        val i = offset + j + 1
        s"(CAST(element_at(vec, $i) AS DOUBLE) - ${cv(j)}D) * (CAST(element_at(vec, $i) AS DOUBLE) - ${cv(j)}D)"
      }.mkString(" + ")
      s"named_struct('d', $d, 'l', ${cl}L)"
    }.mkString(", ")
    s"array_min(array($structs))"
  }

  private def assertBitwiseEqual(rows: Array[(Long, Double, Long, Double, Long)]): Unit = {
    assert(rows.nonEmpty)
    rows.foreach { case (id, nd, nl, rd, rl) =>
      assert(java.lang.Double.doubleToRawLongBits(nd) ==
        java.lang.Double.doubleToRawLongBits(rd), s"row $id dist: $nd != $rd")
      assert(nl == rl, s"row $id label: $nl != $rl")
    }
  }

  test("bitwise-equals the unrolled array_min form on float vectors (full window)") {
    val cents = centers(seed = 11, k = K, dims = Dims)
    val df = vecs(seed = 42, n = 200).toDF("id", "vec")
    val rows = df.selectExpr("id",
        s"nearestf64(vec, ${centersSql(cents)}).d AS nd",
        s"nearestf64(vec, ${centersSql(cents)}).l AS nl",
        s"${unrolledSql(cents, 0)}.d AS rd",
        s"${unrolledSql(cents, 0)}.l AS rl")
      .as[(Long, Double, Long, Double, Long)].collect()
    assertBitwiseEqual(rows)
  }

  test("bitwise-equals the unrolled form over every PQ subspace window") {
    val df = vecs(seed = 7, n = 100).toDF("id", "vec")
    val sub = Dims / 8
    (0 until 8).foreach { m =>
      val cents = centers(seed = 100 + m, k = K, dims = sub)
      val rows = df.selectExpr("id",
          s"nearestf64(vec, ${centersSql(cents)}, ${m * sub}).d AS nd",
          s"nearestf64(vec, ${centersSql(cents)}, ${m * sub}).l AS nl",
          s"${unrolledSql(cents, m * sub)}.d AS rd",
          s"${unrolledSql(cents, m * sub)}.l AS rl")
        .as[(Long, Double, Long, Double, Long)].collect()
      assertBitwiseEqual(rows)
    }
  }

  test("double-array vectors are accepted (the residual-PQ input shape)") {
    val cents = centers(seed = 3, k = 4, dims = 8)
    val df = Seq((1L, Array.fill(8)(0.25))).toDF("id", "vec")
    val rows = df.selectExpr("id",
        s"nearestf64(vec, ${centersSql(cents)}).d AS nd",
        s"nearestf64(vec, ${centersSql(cents)}).l AS nl",
        s"${unrolledSql(cents, 0)}.d AS rd",
        s"${unrolledSql(cents, 0)}.l AS rl")
      .as[(Long, Double, Long, Double, Long)].collect()
    assertBitwiseEqual(rows)
  }

  test("equidistant centers tie to the smaller label, like struct array_min") {
    // two identical center vectors with labels 5 and 2 → d ties exactly
    val cv = Array.fill(4)(0.5)
    val cents = Seq((5L, cv), (2L, cv))
    val df = Seq((1L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("id", "vec")
    val both = df.selectExpr(
        s"nearestf64(vec, ${centersSql(cents)}).l AS nl",
        s"${unrolledSql(cents, 0)}.l AS rl")
      .as[(Long, Long)].head()
    assert(both == ((2L, 2L)))
  }

  test("residual bitwise-equals the unrolled per-dim element_at/array_position form") {
    // the residual IVF-PQ view's vec − center(assigned), as it was built
    // before ResidualF64Expr: one k-double literal array per dim, indexed
    // by array_position of the label
    val cents = centers(seed = 31, k = K, dims = Dims)
    val rng = new scala.util.Random(37)
    val df = vecs(seed = 29, n = 100).map { case (id, v) =>
      (id, v, cents(rng.nextInt(K))._1)
    }.toDF("id", "vec", "label")
    val labels = array(cents.map(c => lit(c._1)): _*)
    val pos = array_position(labels, col("label")).cast("int")
    val unrolled = array((1 to Dims).map { i =>
      val cb = array(cents.map(c => lit(c._2(i - 1))): _*)
      expr(s"CAST(element_at(vec, $i) AS DOUBLE)") - element_at(cb, pos)
    }: _*)
    val rows = df.select(col("id"),
        NearestF64.residual(col("vec"), col("label"), cents).as("k"), unrolled.as("u"))
      .collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val k = r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)
      val u = r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits)
      assert(k == u, s"row ${r.getLong(0)}")
    }
    assertThrowsWith("not in the codebook")(
      df.withColumn("label", lit(12345L))
        .select(NearestF64.residual(col("vec"), col("label"), cents)).collect())
  }

  test("codegen agrees with interpreted eval") {
    val cents = centers(seed = 19, k = K, dims = Dims)
    val df = vecs(seed = 23, n = 50).toDF("id", "vec")
      .selectExpr(s"nearestf64(vec, ${centersSql(cents)}) AS m")
      .selectExpr("m.d AS d", "m.l AS l")
    val gen = df.as[(Double, Long)].collect().toSeq
    val interp = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try df.as[(Double, Long)].collect().toSeq
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", prev)
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    assert(gen.map { case (d, l) => (java.lang.Double.doubleToRawLongBits(d), l) } ==
      interp.map { case (d, l) => (java.lang.Double.doubleToRawLongBits(d), l) })
  }

  /** Walk the cause chain (cluster wraps in SparkException). */
  private def assertThrowsWith(marker: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains(marker)), s"no '$marker' in $messages")
  }

  test("vector too short for the window throws instead of yielding garbage") {
    val cents = centers(seed = 3, k = 2, dims = 8)
    val df = Seq((1L, Array.fill(10)(0.5f))).toDF("id", "vec")
    assertThrowsWith("too short")(
      df.selectExpr(s"nearestf64(vec, ${centersSql(cents)}, 4)").collect())
  }

  test("null element throws instead of yielding NULL") {
    val cents = centers(seed = 3, k = 2, dims = 2)
    val df = Seq((1L, Seq[java.lang.Float](1.0f, null))).toDF("id", "vec")
    assertThrowsWith("null element")(
      df.selectExpr(s"nearestf64(vec, ${centersSql(cents)})").collect())
  }

  test("null vector input yields NULL (standard BinaryExpression null propagation)") {
    val cents = centers(seed = 3, k = 2, dims = 2)
    val df = Seq((Option.empty[Array[Float]], 1)).toDF("vec", "x")
    assert(df.selectExpr(s"nearestf64(vec, ${centersSql(cents)})")
      .collect().head.isNullAt(0))
  }

  test("empty codebook throws") {
    val df = Seq((1L, Array(1.0f))).toDF("id", "vec")
    assertThrowsWith("empty codebook")(
      df.selectExpr(
        "nearestf64(vec, CAST(array() AS array<struct<l bigint, v array<double>>>))")
        .collect())
  }
}
