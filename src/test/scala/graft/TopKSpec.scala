package graft

import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries

/** Pins the search chain's one top-K cut, `SimilarityQueries.topK`, on
  * planted scores: ties go to the smaller id, every query gets exactly
  * k rows numbered 1..k, the rank is a long, and a query with fewer
  * than k candidates keeps them all.
  */
class TopKSpec extends SparkSpec {
  import org.apache.spark.sql.types.LongType

  // q 1: six candidates, scores 0.9 ×3 (ids 30, 10, 20), 0.5 ×2 (ids
  // 50, 40), 0.1; q 2: two candidates only
  private def planted = spark.createDataFrame(Seq(
    (1L, 30L, 0.9), (1L, 10L, 0.9), (1L, 20L, 0.9),
    (1L, 50L, 0.5), (1L, 40L, 0.5), (1L, 60L, 0.1),
    (2L, 70L, 0.3), (2L, 71L, 0.3))).toDF("q_id", "vec_id", "cos")

  private def cut(k: Int) = SimilarityQueries.topK(planted, "cos", "vec_id", k, "rank")
    .select(col("q_id"), col("rank"), col("vec_id"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("equal scores rank by the smaller id") {
    assert(cut(4).filter(_._1 == 1L) ==
      Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L), (1L, 4L, 40L)))
  }

  test("each query with at least k candidates gets exactly k rows") {
    (1 to 6).foreach { k =>
      assert(cut(k).count(_._1 == 1L) == k, s"k=$k")
    }
  }

  test("the rank column is a long") {
    val out = SimilarityQueries.topK(planted, "cos", "vec_id", 3, "rank")
    assert(out.schema("rank").dataType == LongType)
  }

  test("a query with fewer than k candidates keeps all of them") {
    assert(cut(5).filter(_._1 == 2L) == Seq((2L, 1L, 70L), (2L, 2L, 71L)))
  }
}
