package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class FloatVectorCosineSpec extends SparkSpec {
  import FloatVectorCosine.cosineFast

  private def emb = graft.tables.Tables.embeddings(spark, sf)

  test("fused codegen cosine agrees with the decimal-exact route") {
    val pairs = emb.limit(50).select(col("vec_id"), col("embedding"))
    val a = pairs.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = pairs.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val both = a.join(b, col("ib") === col("ia") + 1)
      .select(
        cosineFast(col("ea"), col("eb")).as("fast"),
        VectorOps.cosine(col("ea"), col("eb")).as("exact"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"fast=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }

  test("registers as a SQL function") {
    graft.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    emb.limit(5).createOrReplaceTempView("fvc_test")
    val self = spark.sql(
      "SELECT vec_cosine(embedding, embedding) AS c FROM fvc_test")
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("rejects wrong input types at analysis") {
    val err = intercept[Exception] {
      emb.select(cosineFast(col("vec_id"), col("embedding"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<float>") ||
           err.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("interpreted eval matches codegen (whole-stage off)") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = emb.limit(20)
        .select(cosineFast(col("embedding"), col("embedding")).as("c"))
        .collect().map(_.getDouble(0))
      assert(interp.forall(c => math.abs(c - 1.0) < 1e-9))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null on length mismatch and zero-norm (matches decimal route)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f)),         // length mismatch
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),   // zero-norm left
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))    // fine
    ).toDF("a", "b")
    val out = df.select(cosineFast(col("a"), col("b")).as("c")).collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(math.abs(out(2).getDouble(0) - 1.0) < 1e-12)
    // decimal route agrees on the same frame
    val dec = df.select(VectorOps.cosine(col("a"), col("b")).as("c")).collect()
    assert(dec(0).isNullAt(0) && dec(1).isNullAt(0))
  }
}
