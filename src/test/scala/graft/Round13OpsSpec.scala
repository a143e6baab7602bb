package graft

import org.apache.spark.sql.functions._
import graft.functions.{FloatVectorCosine, VectorOps}
import graft.queries.{SimilarityQueries, StreamingQueries}
import graft.tables.Tables

/** Round-13 pins: the float pre-screen in front of decimal threshold
  * decisions (dedup_dbscan / dedup_embedding_pairs), the scaled
  * kNN-graph family's structure, the enforced `partialsOf` seed
  * contract, and TinyOrder's null-key guard.
  */
class Round13OpsSpec extends SparkSpec {

  // ---- float pre-screen (exactCosAtLeast) --------------------------

  test("float/decimal cosine divergence stays an order under FloatCosMargin") {
    val emb = Tables.embeddings(spark, sf)
      .withColumn("nrm",
        sqrt(VectorOps.normSqDecimal(col("embedding")).cast("double")))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val maxDiv = a.join(b, col("va") < col("vb"))
      .select(abs(
        VectorOps.dotDecimal(col("ea"), col("eb")).cast("double") /
          (col("na") * col("nb")) -
        FloatVectorCosine.cosineFast(col("ea"), col("eb"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    info(f"max |cos_float - cos_decimal| = $maxDiv%.3e over all fixture pairs")
    assert(maxDiv < SimilarityQueries.FloatCosMargin / 10,
      f"divergence $maxDiv%.3e approaches FloatCosMargin " +
        f"${SimilarityQueries.FloatCosMargin}%.1e — the pre-screened " +
        "threshold decision is no longer decision-identical")
  }

  test("pre-screened dbscan edge set equals the bare decimal edge set") {
    val emb = Tables.embeddings(spark, sf)
      .withColumn("nrm",
        sqrt(VectorOps.normSqDecimal(col("embedding")).cast("double")))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val pairs = a.join(b, col("va") < col("vb"))
    val bare = pairs
      .filter(VectorOps.dotDecimal(col("ea"), col("eb")).cast("double") /
        (col("na") * col("nb")) >= SimilarityQueries.DbscanCos)
      .select(col("va"), col("vb"))
    val screened = SimilarityQueries.queries("dedup_dbscan")(spark, sf)
    // the taxonomy output is a pure function of the edge set, so
    // comparing the full query against dbscanFrom over the bare edges
    // would just re-run shared code; compare the EDGE SETS directly
    val screenedEdges = pairs
      .filter(
        (FloatVectorCosine.cosineFast(col("ea"), col("eb")) >=
          lit(SimilarityQueries.DbscanCos - SimilarityQueries.FloatCosMargin)) &&
        ((FloatVectorCosine.cosineFast(col("ea"), col("eb")) >=
          lit(SimilarityQueries.DbscanCos + SimilarityQueries.FloatCosMargin)) ||
          VectorOps.dotDecimal(col("ea"), col("eb")).cast("double") /
            (col("na") * col("nb")) >= SimilarityQueries.DbscanCos))
      .select(col("va"), col("vb"))
    assert(bare.exceptAll(screenedEdges).isEmpty &&
           screenedEdges.exceptAll(bare).isEmpty,
      "float pre-screen changed the ε-edge set")
    assert(screened.count() == Tables.embeddings(spark, sf).count())
  }

  // ---- scaled kNN-graph family -------------------------------------

  test("emb_knn_graph_scaled: contiguous ranks, no self-edges, ordered cosines") {
    val g = SimilarityQueries.queries("emb_knn_graph_scaled")(spark, sf)
      .persist()
    try {
      assert(g.count() > 0)
      assert(g.filter(col("src") === col("dst")).count() == 0)
      // per src: ranks are 1..n with n <= 5, and cos_r non-increasing
      val bad = g.groupBy(col("src"))
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
          min(col("rank")).as("mn"))
        .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("n") > 5)
      assert(bad.count() == 0, "rank sequence not contiguous from 1")
      val disorder = g.as("x").join(g.as("y"),
          col("x.src") === col("y.src") &&
            col("x.rank") + 1 === col("y.rank"))
        .filter(col("y.cos_r") > col("x.cos_r"))
      assert(disorder.count() == 0, "cos_r increases with rank")
    } finally { g.unpersist(); () }
  }

  test("scaled intrinsic dim and accuracy ride the scaled graph chain") {
    val id = SimilarityQueries.queries("emb_intrinsic_dim_scaled")(spark, sf)
      .head()
    assert(id.getLong(0) >= id.getLong(1)) // n_pts >= n_used
    val acc = SimilarityQueries.queries("emb_knn_accuracy_scaled")(spark, sf)
    // per-class accuracy is a [0,1] rate over a complete label partition
    assert(acc.filter(col("acc_r") < 0.0 || col("acc_r") > 1.0).count() == 0)
  }

  // ---- partialsOf seed contract ------------------------------------

  test("partialsOf truncates a global builder's seed row (max merge stays honest)") {
    // deliberately-global max builder: on an EMPTY frame it emits one
    // sentinel row that would win any max merge — the exact footgun
    // the seed truncation exists to stop (VERDICT r12 item 5)
    val partials = StreamingQueries.partialsOf(
        StreamingQueries.eventsStream(spark, sf)) { b =>
      b.agg(coalesce(max(col("value")), lit(9.99e9)).as("mx"))
    }
    val merged = partials.agg(max(col("mx"))).head().getDouble(0)
    val truth = Tables.events(spark, sf)
      .agg(max(col("value"))).head().getDouble(0)
    assert(merged == truth,
      f"seed sentinel leaked into the merge: merged=$merged%.4f truth=$truth%.4f")
  }

  // ---- Theil-Sen exact anchor (retired query, VERDICT r12 item 8) ---

  test("all-pairs Theil-Sen equals the windowed chain at a span-covering bound") {
    import graft.queries.EventQueries
    val hourly = EventQueries.hourlySeries(spark, sf)
      .persist()
    try {
      val spanHours = hourly
        .agg(((max(col("hour_ms")) - min(col("hour_ms"))) / 3600000L)
          .cast("long")).head().getLong(0)
      val exact = EventQueries.theilsenOver(hourly)
        .collect().map(_.toString).sorted
      val winAll = EventQueries.theilsenOver(hourly, Some(spanHours + 1))
        .collect().map(_.toString).sorted
      assert(exact.nonEmpty && exact.sameElements(winAll),
        "retired all-pairs formulation diverged from the span-covering " +
          "windowed chain — the transitively-verified anchor broke")
    } finally { hourly.unpersist(); () }
  }

  // ---- TinyOrder null-key guard ------------------------------------

  test("TinyOrder raises on a NULL sort key instead of mis-ranking") {
    import spark.implicits._
    val df = Seq((1L, Some(2.0)), (2L, None)).toDF("id", "v")
    val e = intercept[Exception] {
      graft.operators.TinyOrder.rank(df, "rnk",
        Seq(col("v"), col("id"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("TinyOrder sort key")),
      s"expected the TinyOrder null-key raise, got: ${e.getMessage}")
  }
}
