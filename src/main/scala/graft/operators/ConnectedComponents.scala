package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by min-label propagation with
  * POINTER JUMPING — the Pregel/MapReduce-CC pattern. Each round is
  * one shuffle join (neighbor labels) + one partial-aggregable min +
  * one self-join (lbl ← label(lbl)); jumping collapses chains in
  * O(log n) rounds where plain propagation needs graph-diameter
  * rounds. At 100 TB this is the large-star/small-star loop.
  *
  * Every round's result is localCheckpoint'ed (eager): iterative
  * plans otherwise embed the full round history, so analysis /
  * optimization cost grows superlinearly and the final consumer
  * re-pays the whole lineage (measured 48 s → 10 s at sf0.1 from
  * truncation alone). On a cluster the same call site is a reliable
  * checkpoint to the cluster FS.
  *
  * Convergence: per-vertex labels only ever DECREASE, so the global
  * label sum is strictly monotone until the fixpoint — an unchanged
  * sum means no label changed (one aggregate per round instead of a
  * join-and-compare pass). The sum accumulates in DECIMAL(38,0):
  * at real-id scale (10¹² vertices × 10¹²-range ids ≈ 10²⁴) a Long
  * sum wraps and "unchanged" stops being a proof; 38 digits cannot
  * overflow before the byte count does. The fixpoint is the unique
  * component minimum, so the output is deterministic.
  */
object ConnectedComponents {

  /** @param verts one row per vertex, column `v` (long)
    * @param pairs undirected edges, columns `a`, `b` (long) — each
    *              pair is mirrored internally
    * @return one row per vertex: (v, lbl) with lbl = min vertex id of
    *         v's connected component
    */
  def labels(verts: DataFrame, pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = Graph.mirror(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    // coalesce: sum over zero rows is NULL — without it an empty verts
    // frame NPEs at compareTo, so the operator would not be total
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
                      lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var labels = verts.select(col("v"), col("v").as("lbl")).localCheckpoint()
    var prevSum = labelSum(labels)
    var it = 0
    var done = false
    while (!done && it < maxRounds) {
      val prop = edges
        .join(labels.select(col("v").as("src"), col("lbl").as("plbl")), "src")
        .select(col("dst").as("v"), col("plbl").as("lbl"))
      val minned = labels.unionAll(prop)
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
      val ptr = minned.select(col("v").as("pv"), col("lbl").as("jlbl"))
      val next = minned.join(ptr, minned("lbl") === ptr("pv"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint() // eager: materializes AND truncates lineage
      val nextSum = labelSum(next)
      labels = next
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    edges.unpersist()
    labels
  }
}
