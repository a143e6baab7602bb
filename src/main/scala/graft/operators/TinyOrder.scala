package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order statistics for frames PROVEN tiny (≲ 10⁴ rows: top-k results
  * after a distributed `orderBy().limit(k)`, per-slice offset tables,
  * per-stratum count frames, contingency cells) — computed as a
  * triangular SELF-JOIN instead of an unpartitioned window.
  *
  * Why not `Window.orderBy(...)`: an empty partition spec funnels the
  * frame through one task AND logs a per-execution WindowExec warning
  * that drowns the signal the warning exists to give (a data-sized
  * frame accidentally hitting a global window). A constant partition
  * key does not help — the optimizer strips foldable keys and the
  * exec sees an empty spec again. For a frame of n rows the
  * triangular join is n² pairs — at the documented sizes that is at
  * most ~10⁸ comparisons spread across the cluster, no
  * single-partition sort, no warning, and every plan stays
  * whole-stage-codegen joins + hash aggregates.
  *
  * Requirements: `sortCols` must form a TOTAL order (include a unique
  * tiebreak) with non-null keys, every column ascending — express
  * descending order as `negate(col)`, the [[GlobalOrder]] convention.
  * Data-sized frames must use [[GlobalOrder]] instead.
  *
  * Further contract points (ADVICE r17):
  *   - EVERY input column must be an orderable type — the packed
  *     array_sort compares the full-row struct, so a MapType column
  *     fails analysis (the pre-r17 triangular join accepted it; no
  *     current caller carries one).
  *   - The result is fully LAZY and holds ONE reference to the
  *     upstream plan. A caller that fans the returned frame into
  *     several plan branches re-runs the (possibly data-sized)
  *     upstream chain once per branch — such callers must checkpoint
  *     the result themselves (the layout queries do exactly this).
  */
object TinyOrder {

  /** Keys must be NON-NULL (ADVICE r12, the [[GlobalOrder.normKey]]
    * convention): a NULL key silently falls out of the `<` comparison
    * and the struct-equality join — the row would get rank 1 / prefix
    * 0 instead of an error — so each key raises loudly instead.
    */
  private def key(sortCols: Seq[Column]): Column =
    struct(sortCols.zipWithIndex.map { case (c, i) =>
      when(c.isNull, raise_error(lit(
        s"TinyOrder sort key c$i is NULL — keys must form a " +
          "non-null total order; coalesce NULLs to a sentinel that " +
          "encodes the intended NULL placement"))).otherwise(c).as(s"c$i")
    }: _*)

  /** df + 1-based rank `out` under the total order `sortCols`:
    * rank(r) = 1 + |{r′ : key(r′) < key(r)}|.
    */
  def rank(df: DataFrame, out: String, sortCols: Seq[Column]): DataFrame =
    prefixAgg(df, lit(1L), out, sortCols, "sum", lit(0L),
      post = _ + lit(1L))

  /** df + the EXCLUSIVE running sum of `value` under `sortCols`
    * (0 for the first row) — the tiny-frame
    * `sum(value).over(orderBy(...).rowsBetween(unboundedPreceding, -1))`.
    */
  def exclusivePrefixSum(df: DataFrame, value: Column, out: String,
                         sortCols: Seq[Column]): DataFrame =
    prefixAgg(df, value, out, sortCols, "sum", lit(0L))

  /** df + the EXCLUSIVE running max of `value` under `sortCols`
    * (NULL for the first row) — the tiny-frame
    * `max(value).over(orderBy(...).rowsBetween(unboundedPreceding, -1))`.
    */
  def exclusivePrefixMax(df: DataFrame, value: Column, out: String,
                         sortCols: Seq[Column]): DataFrame =
    prefixAgg(df, value, out, sortCols, "max",
      lit(null).cast("double"))

  private def prefixAgg(df: DataFrame, value: Column, out: String,
                        sortCols: Seq[Column], agg: String, zero: Column,
                        post: Column => Column = identity): DataFrame = {
    // r17 rewrite (guide §1.2 "per-task work", §7.3 driver time). The
    // previous shape was a triangular self-join over three references
    // to the frame, held together by an EAGER persist + localCheckpoint
    // + unpersist so the (usually data-sized) upstream chain ran once.
    // That eagerness cost ~1 s of driver/job overhead PER CALL at
    // construction time (4 scheduled jobs, two broadcast exchanges, a
    // checkpoint) — measured as the dominant term of
    // GlobalOrder.withRowNumber and hence of every ranked query's
    // build (OPTIMIZATION_r17.md). The frame is ≲10⁴ rows by contract,
    // so pack it instead: ONE collect_list aggregate (a single
    // upstream pass by construction — the pack is the only reference),
    // array_sort on the (key, row, value) structs realizes the total
    // order, posexplode restores rows, and the running aggregate is a
    // window over the (already single-partition) tiny frame, ordered
    // by the array position. The window partitions on a NON-FOLDABLE
    // constant (pmod(idx, 1)) — same single partition, but the
    // optimizer cannot strip it, so WindowExec's global-window warning
    // stays silent and the plan stays lazy: no job runs until the
    // caller's action. Keys are unique by contract (callers include a
    // tiebreak), so position order ≡ strict-key order and the values
    // are unchanged (oracle re-verified across the full suite).
    val k = key(sortCols)
    val rowStruct = struct(df.columns.toSeq.map(col): _*)
    val packed = df.agg(array_sort(collect_list(
      struct(k.as("__to_k"), rowStruct.as("__to_r"), value.as("__to_v"))))
      .as("__to_arr"))
    val rows = packed
      .select(posexplode(col("__to_arr")).as(Seq("__to_i", "__to_e")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("__to_i"), lit(1)))
      .orderBy(col("__to_i"))
      .rowsBetween(Long.MinValue, -1)
    rows.select(col("__to_e.__to_r.*"),
      post(coalesce(
        call_function(agg, col("__to_e.__to_v")).over(w), zero)).as(out))
  }
}
