package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-event) join — the canonical "operator Spark
  * lacks" (see the custom-operator preference order, SURVEY.md §4.3 /
  * spark_guide): for every left row, attach the latest right row of
  * the same key with right.ts ≤ left.ts.
  *
  * Composed from built-ins (preference (a)): tag both sides, UNION
  * them, and carry the right payload forward with
  * `last(_, ignoreNulls)` over a (key, ts, tiebreak) window — one
  * shuffle on the key, one sort, no join at all. This beats the
  * join-shaped formulations at scale: a range/theta join explodes to
  * candidate pairs, while the union-scan is O(n log n) per key
  * partition and streams through a single window operator.
  * (A custom `SparkStrategy` sort-merge AsOfJoinExec — preference
  * (c) — only pays off once both sides are pre-sorted bucketed
  * tables; the logical plan here keeps that door open.)
  *
  * Right-side ties on (key, ts) resolve to the largest tiebreak value
  * (last in window order), deterministically.
  */
object AsOfJoin {

  /** @param left       rows to enrich
    * @param right      rows providing the carried value
    * @param key        equality key column name (both sides)
    * @param ts         event-time (ms) column name (both sides)
    * @param tiebreak   unique-ish ordering column name (both sides)
    * @param rightValue right-side value column to carry
    * @return left rows + `asof_<rightValue>` column (null if no prior
    *         right row)
    */
  def asOf(left: DataFrame, right: DataFrame, key: String, ts: String,
           tiebreak: String, rightValue: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(right.schema(rightValue).dataType))
    val r = right
      .select(col(key), col(ts), col(tiebreak), col(rightValue).as("__rv"))
      .withColumn("__side", lit(0))
    // pad the right side to the left schema
    val rPadded = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(l.schema(c).dataType))
    }.select(l.columns.map(col).toSeq: _*)

    // right rows sort before left rows at equal ts (side 0 < 1), so a
    // same-ts right row IS visible to the left row (ts ≤ semantics)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__side"), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(rPadded)
      .withColumn(s"asof_$rightValue", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rv")
  }
}
