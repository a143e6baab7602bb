package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The steps the graph queries over an undirected edge list share,
  * each defined once: mirroring, degree count, hub-capped wedge
  * enumeration, the non-edge anti-join and one PageRank round.
  *
  * Contract: the input is undirected pairs, columns `a`, `b` (long),
  * each pair ONCE (never also as (b, a)). Every output column is
  * named below. Every step returns a lazy frame: the caller owns
  * persistence and places its `persist` / `localCheckpoint` where its
  * reuse or loop needs one ([[ConnectedComponents]] and [[Bfs]] are
  * such callers).
  */
object Graph {

  /** (a, b) pairs → (src, dst), each pair in both directions. */
  def mirror(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** (src, deg) over a [[mirror]]ed frame: one row per vertex with at
    * least one edge. Column pruning reduces it to a count over the
    * union of the two endpoint columns.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))

  /** (z, u, w, deg): every wedge u – z – w with u < w whose middle z
    * has degree `deg` ≤ `hubCap` — a self-join of the mirrored edges
    * on the middle vertex, bounded by Σ deg(z)² ≤ hubCap·|E|. A wedge
    * middle has deg ≥ 2.
    */
  def wedges(edges: DataFrame, deg: DataFrame, hubCap: Int): DataFrame = {
    val mid = edges.join(deg.filter(col("deg") <= hubCap), "src")
    mid.select(col("src").as("z"), col("dst").as("u"), col("deg"))
      .join(mid.select(col("src").as("z"), col("dst").as("w")), "z")
      .filter(col("u") < col("w"))
  }

  /** The rows of `scored` (keyed `u`, `w`) whose pair is not an edge. */
  def nonEdges(scored: DataFrame, edges: DataFrame): DataFrame =
    scored.join(edges.select(col("src").as("u"), col("dst").as("w")),
      Seq("u", "w"), "left_anti")

  /** One PageRank power-iteration round: (v, pr) ←
    * teleport + 0.85·Σ_{u→v} pr(u)/deg(u) over every vertex of `base`
    * (column `v`, plus whatever `teleport` reads). Contributions are
    * DECIMAL(28,14)-quantized before the sum (order-free) and the rank
    * is rounded to 9 dp, so chained rounds stay engine-identical.
    * Dangling mass is not redistributed.
    */
  def rankRound(rank: DataFrame, edges: DataFrame, deg: DataFrame,
                base: DataFrame, teleport: Column): DataFrame = {
    val contrib = rank.join(edges, col("v") === col("src"))
      .join(deg, "src")
      .select(col("dst"),
        (col("pr") / col("deg")).cast("decimal(28,14)").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).cast("double").as("in_sum"))
    base.join(contrib, col("v") === col("dst"), "left")
      .select(col("v"),
        round(teleport + lit(0.85) * coalesce(col("in_sum"), lit(0.0)), 9)
          .as("pr"))
  }
}
