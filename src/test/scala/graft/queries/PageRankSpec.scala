package graft.queries

import graft.SparkSpec
import graft.tables.Tables

/** `graph_pagerank` against an independent in-memory power iteration
  * over the collected star edges: the same PrRounds (3) rounds from
  * the uniform 1/n start, pr ← 0.15/n + 0.85·Σ_{u→v} pr(u)/deg(u),
  * each round rounded to 9 dp, no dangling redistribution.
  */
class PageRankSpec extends SparkSpec {

  private def q9(x: Double) =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val n = Tables.documents(spark, sf).count()

  private lazy val ranks =
    DedupQueries.queries("graph_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private lazy val adj = DedupQueries.lshEdges(spark, sf).collect()
    .map(r => (r.getLong(0), r.getLong(1)))
    .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("ranks equal an in-memory power iteration within 1e-9") {
    val ids = ranks.keySet
    assert(ids.size.toLong == n)
    var pr = ids.map(_ -> q9(1.0 / n)).toMap
    (1 to 3).foreach { _ =>
      val in = adj.toSeq
        .flatMap { case (u, ns) => ns.map(_ -> pr(u) / ns.size) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      pr = ids.map(v => v -> q9(0.15 / n + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    ids.foreach { v =>
      assert(math.abs(ranks(v) - pr(v)) <= 1e-9, s"doc $v: ${ranks(v)} vs ${pr(v)}")
    }
  }

  test("isolated docs hold the teleport floor 0.15/n") {
    val isolated = ranks.keySet -- adj.keySet
    assert(isolated.nonEmpty)
    isolated.foreach(v => assert(math.abs(ranks(v) - 0.15 / n) <= 1e-9, s"doc $v"))
  }
}
