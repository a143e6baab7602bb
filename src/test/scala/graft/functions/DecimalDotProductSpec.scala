package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.SparkSpec

/** The codegen'd exact-decimal dot product vs (a) a driver-side
  * BigDecimal re-computation (bit-exact contract) and (b) the original
  * higher-order-function route (bounded ~1e-13 divergence from the
  * fold's per-step precision-loss rounding — see VectorOps scaladoc).
  */
class DecimalDotProductSpec extends SparkSpec {

  private def emb = graft.tables.Tables.embeddings(spark, sf)

  /** Driver-side mirror of the expression's contract: per-element
    * double product, one HALF_UP round to scale 14, exact sum.
    */
  private def refDot(a: Seq[Float], b: Seq[Float]): java.math.BigDecimal =
    a.zip(b).map { case (x, y) =>
      java.math.BigDecimal.valueOf(x.toDouble * y.toDouble)
        .setScale(14, java.math.RoundingMode.HALF_UP)
    }.foldLeft(java.math.BigDecimal.ZERO)(_ add _)

  test("codegen result is bit-exact vs driver-side BigDecimal") {
    val rows = emb.limit(40)
      .select(col("embedding"),
        DecimalDotProduct.dot(col("embedding"), col("embedding")).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val expect = refDot(v, v)
      val got = r.getDecimal(1)
      assert(got.compareTo(expect) == 0, s"got=$got expect=$expect")
    }
  }

  test("agrees with the HOF route to within the fold's rounding budget") {
    val a = emb.limit(60).select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.limit(60).select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val both = a.join(b, col("ib") === col("ia") + 1)
      .select(
        DecimalDotProduct.dot(col("ea"), col("eb")).cast("double").as("cg"),
        VectorOps.dotDecimalHof(col("ea"), col("eb")).cast("double").as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-10,
        s"cg=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("interpreted eval matches codegen (whole-stage off)") {
    val q = emb.limit(20)
      .select(DecimalDotProduct.dot(col("embedding"), col("embedding")).as("d"))
    val cg = q.collect().map(_.getDecimal(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = q.collect().map(_.getDecimal(0))
      cg.zip(interp).foreach { case (x, y) => assert(x.compareTo(y) == 0) }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null semantics: null array, length mismatch, null element") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),   // 11.0
      (None, Some(Seq(1.0f))),                          // null input
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f))),         // length mismatch
      (Some(Seq(1.0f, Float.NaN)), Some(Seq(1.0f, 1.0f))) // NaN product
    ).toDF("a", "b")
    val out = df.select(DecimalDotProduct.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDecimal(0).compareTo(new java.math.BigDecimal("11")) == 0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))

    val df2 = spark.sql("SELECT array(cast(1.0 as float), cast(null as float)) a, " +
      "array(cast(1.0 as float), cast(1.0 as float)) b")
      .select(DecimalDotProduct.dot(col("a"), col("b")).as("d")).collect()
    assert(df2(0).isNullAt(0))
  }

  test("hybrid fast/fallback rounding is bit-exact near HALF_UP boundaries") {
    // Products that land ON or NEAR k + 0.5 ulp-of-scale-14 boundaries
    // (forcing the BigDecimal fallback), plus magnitudes > 11.25 where
    // the error margin exceeds 1/2 (always-fallback region), plus
    // ordinary fast-path values — all must equal the reference
    // element-wise BigDecimal computation exactly.
    val vals = Seq(
      2.5e-14, -2.5e-14, 1.5e-14, 0.5e-14, 0.49999999999999e-14,
      1.000000000000005, -1.000000000000015, 123.456, -789.0123456,
      0.1, -0.2, 1e-20, -1e-20, 0.0, 12345.6789)
    val rows = vals.map(v => (Seq(v), Seq(1.0)))
    import spark.implicits._
    val df = rows.toDF("a", "b")
      .select(DecimalDotProduct.dot(col("a"), col("b")).as("d"))
    val got = df.collect().map(_.getDecimal(0))
    vals.zip(got).foreach { case (v, g) =>
      val expect = java.math.BigDecimal.valueOf(v)
        .setScale(14, java.math.RoundingMode.HALF_UP)
      assert(g.compareTo(expect) == 0, s"v=$v got=$g expect=$expect")
    }
  }

  test("registers as a SQL function") {
    graft.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    emb.limit(5).createOrReplaceTempView("ddp_test")
    val rows = spark.sql(
      "SELECT vec_dot_decimal(embedding, embedding) AS d FROM ddp_test").collect()
    assert(rows.forall(r => r.getDecimal(0).signum >= 0))
  }

  test("rejects wrong input types at analysis") {
    val err = intercept[Exception] {
      emb.select(DecimalDotProduct.dot(col("vec_id"), col("embedding"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float|double>") ||
           err.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
