package graft

/** Prints each named SparkEntry query's `queryExecution.executedPlan`
  * tree with the run-specific numbers stripped (`#12` expression ids
  * print as `#`, `plan_id=3` as `plan_id=`, `RDD[7]` as `RDD[]`), so
  * two dumps of the same code diff clean — across commits too, when
  * both sides build the same queries in the same order (distinct
  * aggregates still number their `gid` groups by expression hash, which
  * depends on what was built before). The tree still shows what a plan
  * review checks:
  * PushedFilters at the parquet scan, broadcast dims, partial
  * aggregates and the WholeStageCodegen stages.
  *
  * Usage: graft.Plans [queryName ...] (default: a representative set)
  */
object Plans {
  private val runIds = """(?<=#|plan_id=)\d+|(?<=RDD\[)\d+(?=\])""".r

  /** `df`'s executed plan tree without its run-specific ids. */
  private def stripped(df: org.apache.spark.sql.DataFrame): String =
    runIds.replaceAllIn(df.queryExecution.executedPlan.toString, "")

  def main(args: Array[String]): Unit = {
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q5_regional_revenue", "q3_top_orders",
               "events_window_agg", "ann_topk_bruteforce", "dedup_minhash_bands")
    Harness.only(Some(names.mkString(",")), SparkEntry.queries.keySet)
    val spark = Harness.session(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    try names.foreach { n =>
      println(s"\n========== $n ==========")
      print(stripped(SparkEntry.queries(n)(spark, sfDir)))
    } finally spark.stop()
  }
}
