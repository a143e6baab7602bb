package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bounded-round multi-source BFS — frontier expansion as iterated
  * join/min, the fourth member of the graph suite next to connected
  * components, PageRank and k-core. Each round is one shuffle join
  * (current distances ⋈ edges) + one partial-aggregable min — the
  * [[ConnectedComponents]] round shape, with the same per-round
  * eager `localCheckpoint` lineage truncation and the same
  * monotone-aggregate convergence test: assigned-vertex count only
  * grows and the distance sum over a FIXED vertex only shrinks, so
  * the (count, sum) pair is stationary iff the round was a no-op —
  * one cheap aggregate per round instead of a join-and-compare.
  *
  * At 100 TB: O(rounds · |E|) like CC; distances cap at `maxRounds`
  * hops (vertices further out carry no row — callers choose the
  * horizon, and real dedup-graph diameters are tiny because LSH
  * stars have radius 1 around each bucket rep).
  */
object Bfs {

  /** @param seeds one row per source vertex, column `v` (long) —
    *              distance 0
    * @param pairs undirected edges (a, b) (long) — mirrored internally
    * @return (v, dist): min hop count from any seed, for vertices
    *         within `maxRounds` hops
    */
  def distances(seeds: DataFrame, pairs: DataFrame, maxRounds: Int): DataFrame =
    rounds(seeds.select(col("v"), lit(0L).as("dist")), Nil, pairs, maxRounds)

  /** Per-seed BFS — the SAME bounded-round join/min shape with the
    * frontier keyed (seed, vertex) instead of vertex alone, so each
    * seed's distance field stays separate (the product-graph trick:
    * |seeds| independent BFS runs share every round's single edge
    * join). Per-seed order statistics (closeness, harmonic
    * centrality, eccentricity-within-horizon) read straight off the
    * result. O(rounds · |seeds| · |E|) worst case — callers keep the
    * seed set small (a sampled-centrality panel, not all-pairs).
    *
    * @param seeds one row per source vertex, column `s` (long)
    * @param pairs undirected edges (a, b) (long) — mirrored internally
    * @return (s, v, dist): min hop count from seed `s`, for vertices
    *         within `maxRounds` hops of it
    */
  def labeledDistances(seeds: DataFrame, pairs: DataFrame,
                       maxRounds: Int): DataFrame =
    rounds(seeds.select(col("s"), col("s").as("v"), lit(0L).as("dist")),
      Seq("s"), pairs, maxRounds)

  /** The round loop behind both entry points: `start` is the distance-0
    * frame (keys…, v, dist), and every round propagates `dist + 1`
    * along the mirrored edges and keeps the min per (keys…, v).
    */
  private def rounds(start: DataFrame, keys: Seq[String], pairs: DataFrame,
                     maxRounds: Int): DataFrame = {
    val edges = Graph.mirror(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    def state(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col("dist").cast("decimal(38,0)")),
                 lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    val k = keys.map(col)
    var dist = start.localCheckpoint()
    var prev = state(dist)
    var it = 0
    var done = false
    while (!done && it < maxRounds) {
      val prop = edges
        .join(dist.select(k ++ Seq(col("v").as("src"), col("dist")): _*), "src")
        .select(k ++ Seq(col("dst").as("v"), (col("dist") + 1L).as("dist")): _*)
      val next = dist.unionAll(prop)
        .groupBy(k :+ col("v"): _*).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      val nextState = state(next)
      dist = next
      done = nextState == prev
      prev = nextState
      it += 1
    }
    edges.unpersist()
    dist
  }
}
