package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.queries.SimilarityQueries

/** Behavior of the bounded-Lloyd training loop on clustered synthetic
  * data (the oracle pins kmeans_train's exact values on the fixture;
  * this pins the properties that make it a TRAINER): recovery from a
  * corrupted init, and the quantized-fixpoint early exit — a longer
  * round budget must not change a converged result.
  */
class KMeansTrainSpec extends SparkSpec {

  private val Dim = 64
  private val NClusters = 6
  private val PerCluster = 15

  private def lcg(seed: Long): Iterator[Double] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0)

  /** Tight clusters (same-cluster cosine ≈ 0.99, cross ≈ 0). */
  private lazy val vectors: Seq[(Long, Seq[Float])] =
    (0 until NClusters).flatMap { c =>
      val center = lcg(c * 7919L + 13L).take(Dim).toSeq
      (0 until PerCluster).map { m =>
        val noise = lcg(c * 104729L + m * 31L + 7L).take(Dim).toSeq
        val v = center.zip(noise).map { case (x, n) => (x + 0.05 * n).toFloat }
        ((c * PerCluster + m).toLong, v)
      }
    }

  private def emb: DataFrame = {
    import spark.implicits._
    vectors.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(VectorOps.normSqDecimal(col("embedding")).cast("double")))
  }

  /** Init centroids from labels with every 5th vector mislabeled into
    * the next cluster — the trainer must shake the corruption out.
    */
  private def corruptedInit(e: DataFrame): DataFrame =
    SimilarityQueries.centsFrameOf(
      e.withColumn("true_c", (col("vec_id") / PerCluster).cast("long"))
        .withColumn("list_id",
          when(col("vec_id") % 5 === 0, (col("true_c") + 1) % NClusters)
            .otherwise(col("true_c")))
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("list_id"), col("i"))
        .agg(round(
          sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
            count(lit(1)), 6).as("c")))

  test("training recovers true clusters from a 20%-corrupted init") {
    val e = emb
    val trained = SimilarityQueries.lloydTrainLong(e, corruptedInit(e), 5)
    val assigned = SimilarityQueries.assignTo(
        e, SimilarityQueries.centsFrameOf(trained))
      .withColumn("true_c", (col("vec_id") / PerCluster).cast("long"))
      .select(col("true_c"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every true cluster lands wholly in one trained list...
    val byCluster = assigned.groupBy(_._1)
    val purity = byCluster.map { case (_, rs) =>
      rs.groupBy(_._2).values.map(_.size).max.toDouble / rs.size
    }.sum / NClusters
    // ...and those winning lists are DISTINCT — purity alone is 1.0
    // even if training collapses everything into a single list
    val winners = byCluster.map { case (_, rs) =>
      rs.groupBy(_._2).maxBy(_._2.size)._1
    }.toSet
    info(f"post-training cluster purity = $purity%.3f, distinct lists = ${winners.size}")
    assert(purity >= 0.99, f"training left mixed clusters (purity $purity%.3f)")
    assert(winners.size === NClusters,
      s"clusters collapsed: ${winners.size} distinct lists for $NClusters clusters")
  }

  test("early exit at the quantized fixpoint: longer budget, same result") {
    val e = emb
    val t5 = SimilarityQueries.lloydTrainLong(e, corruptedInit(e), 5)
    val t8 = SimilarityQueries.lloydTrainLong(e, corruptedInit(e), 8)
    assert(t5.exceptAll(t8).isEmpty && t8.exceptAll(t5).isEmpty,
      "a converged training run changed its output under a larger round budget")
  }

  test("fixpoint check treats a -0.0 / 0.0 coordinate flip as unchanged") {
    import org.apache.spark.sql.Row
    val neg = SimilarityQueries.centroidMap(Array(Row(0, 1, -0.0), Row(0, 2, 0.5)))
    val pos = SimilarityQueries.centroidMap(Array(Row(0, 1, 0.0), Row(0, 2, 0.5)))
    assert(neg == pos)
    assert(java.lang.Double.compare(neg((0, 1)).asInstanceOf[Double], 0.0) == 0,
      "-0.0 must be stored as 0.0")
  }
}
