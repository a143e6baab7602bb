package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

/** Property pins for the round-12 wave-6 operators: a BigDecimal
  * replica of the personalized-PageRank iteration, exact third-cut
  * accounting for the CCNet buckets, and an independent
  * squared-difference reformulation of the PQ distortion audit.
  */
class Round12Wave6Spec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def round(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  test("ppr: matches a BigDecimal replica of the teleport iteration") {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    val edges0 = DedupQueries.lshEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val verts = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val sym = edges0.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (v, xs) => v -> xs.length }
    val seed = edges0.map(_._1).min
    var pr: Map[Long, Double] =
      verts.map(v => v -> (if (v == seed) 1.0 else 0.0)).toMap
    (1 to 3).foreach { _ =>
      val in = scala.collection.mutable.HashMap[Long, BD]()
      sym.foreach { case (s0, d0) =>
        val c = BD.valueOf(pr(s0) / deg(s0)).setScale(14, RM.HALF_UP)
        in(d0) = in.getOrElse(d0, BD.ZERO).add(c)
      }
      pr = verts.map { v =>
        val base = if (v == seed) 0.15 else 0.0
        v -> round(base + 0.85 * in.getOrElse(v, BD.ZERO).doubleValue, 9)
      }.toMap
    }
    val expect = pr.toSeq.filter(_._2 > 0.0)
      .sortBy { case (v, p) => (-p, v) }.take(DedupQueries.PprTopK)
      .zipWithIndex
      .map { case ((v, p), i) => v -> ((round(p, 6), (i + 1).toLong)) }
      .toMap
    val out = q("graph_ppr").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("ppr_r"), r.getAs[Long]("rnk")))).toMap
    assert(out == expect, s"engine=${out.size} local=${expect.size} rows")
    assert(out.contains(seed))
  }

  test("ccnet buckets: exact third cuts and score monotonicity") {
    val out = q("pipeline_ccnet_buckets").cache()
    val n = out.count()
    val sizes = out.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes("head") == n / 3)
    assert(sizes("middle") == 2 * n / 3 - n / 3)
    assert(sizes("tail") == n - 2 * n / 3)
    // buckets are ordered by score: every head doc scores ≥ every
    // middle doc, every middle ≥ every tail (ties may straddle cuts,
    // hence ≥)
    def stat(b: String, f: org.apache.spark.sql.Column) =
      out.filter(col("bucket") === b).agg(f).head().getDouble(0)
    assert(stat("head", min(col("avg_logprob_r"))) >=
      stat("middle", max(col("avg_logprob_r"))) - 1e-12)
    assert(stat("middle", min(col("avg_logprob_r"))) >=
      stat("tail", max(col("avg_logprob_r"))) - 1e-12)
    // scope = exactly the bigram-scored docs
    assert(n == q("text_bigram_lm").count())
    out.unpersist()
  }

  test("pq distortion: agrees with a direct squared-difference recompute") {
    // independent route: decode the DEPLOYED assignment (pq_codes) and
    // the codebook, then Σ_d (x_d − c_d)² in plain per-dim arithmetic —
    // no surrogate identity, no decimal kernel
    val emb = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cb = q("pq_codebook").collect()
      .map(r => (r.getAs[Long]("m"), r.getAs[Long]("j"),
        r.getAs[Long]("d")) -> r.getAs[Double]("c")).toMap
    val codes = q("pq_codes").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("m")) ->
        r.getAs[Long]("code")).toMap
    val dsub = 8
    val sums = scala.collection.mutable.HashMap[Long, (Double, Long)]()
    codes.foreach { case ((v, m), j) =>
      val x = emb(v)
      val d2 = (0 until dsub).map { d =>
        val diff = x((m * dsub + d).toInt).toDouble - cb((m, j, d.toLong))
        diff * diff
      }.sum
      val (acc, cnt) = sums.getOrElse(m, (0.0, 0L))
      sums(m) = (acc + d2, cnt + 1)
    }
    val expect = sums.map { case (m, (acc, cnt)) => m -> acc / cnt }
    val out = q("emb_pq_distortion").collect()
      .map(r => r.getAs[Long]("m") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_dist_r")))).toMap
    assert(out.keySet == expect.keySet)
    out.foreach { case (m, (cnt, mean)) =>
      assert(cnt == sums(m)._2)
      assert(math.abs(mean - expect(m)) < 1e-4,
        s"subspace $m: engine $mean vs direct ${expect(m)}")
      assert(mean >= -1e-9)
    }
  }
}
