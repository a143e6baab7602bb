package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Laws for multi-source BFS over the dedup graph (`graph_bfs`):
  * exact agreement with an independent in-memory BFS, the seed and
  * level structure, and fixpoint before the round cap.
  */
class BfsSpec extends SparkSpec {

  private lazy val dists =
    DedupQueries.queries("graph_bfs")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private lazy val (reps, adj) = {
    val cc = DedupQueries.queries("dedup_cc")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val edges = DedupQueries.lshEdges(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (cc.map(_._2).toSet, sym)
  }

  test("distances equal an independent in-memory BFS from the rep set") {
    // plain queue BFS over the same (verified) edge set
    var frontier = reps
    var level = 0L
    val seen = scala.collection.mutable.Map[Long, Long]()
    reps.foreach(seen(_) = 0L)
    while (frontier.nonEmpty && level < DedupQueries.BfsRounds) {
      level += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(seen.contains)
      next.foreach(seen(_) = level)
      frontier = next
    }
    assert(dists == seen.toMap)
  }

  test("component representatives are exactly the zero level") {
    assert(dists.filter(_._2 == 0L).keySet == reps)
  }

  test("BFS level property: adjacent vertices differ by at most one hop") {
    adj.foreach { case (v, ns) =>
      ns.foreach { n =>
        (dists.get(v), dists.get(n)) match {
          case (Some(dv), Some(dn)) =>
            assert(math.abs(dv - dn) <= 1, s"edge $v($dv)-$n($dn)")
          case _ => ()
        }
      }
    }
  }

  test("the round cap sits past the fixpoint: +1 round changes nothing") {
    val seeds = spark.createDataFrame(
      reps.toSeq.sorted.map(Tuple1(_))).toDF("v")
    val edges = DedupQueries.lshEdges(spark, sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val more = graft.operators.Bfs
      .distances(seeds, edges, DedupQueries.BfsRounds + 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == dists)
  }

  test("distances equal the per-vertex minimum of labeledDistances") {
    val seeds = reps.toSeq.sorted
    val pairs = DedupQueries.lshPairs(spark, sf)
    val plain = graft.operators.Bfs.distances(
        spark.createDataFrame(seeds.map(Tuple1(_))).toDF("v"), pairs,
        DedupQueries.BfsRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perSeed = graft.operators.Bfs.labeledDistances(
        spark.createDataFrame(seeds.map(Tuple1(_))).toDF("s"), pairs,
        DedupQueries.BfsRounds)
      .collect().map(r => r.getLong(1) -> r.getLong(2))
      .groupMapReduce(_._1)(_._2)(math.min)
    assert(plain == perSeed)
  }
}
