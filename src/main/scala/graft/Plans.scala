package graft

/** Prints `.explain("formatted")` for one or all SparkEntry queries —
  * the plan-quality feedback loop: check PushedFilters reach the
  * parquet scan, dims broadcast, aggregates have partial phases, and
  * WholeStageCodegen spans are wide.
  *
  * Usage: graft.Plans [queryName ...] (default: a representative set)
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q5_regional_revenue", "q3_top_orders",
               "events_window_agg", "ann_topk_bruteforce", "dedup_minhash_bands")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n (have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
      }
    }
    spark.stop()
  }
}
