package graft.tables

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The 100 TB co-location story: bucketing both join sides on the key
  * removes the per-query shuffle — `SortMergeJoin` reads bucketed
  * scans directly, with no `Exchange` in the plan. At cluster scale
  * this is the difference between shuffling the fact table on every
  * join and shuffling it once at write time.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    // force the co-located SMJ path (the sf0.001 dim is small enough
    // to broadcast, which would bypass the bucketing under test);
    // restore in finally so a failure can't leak the disabled
    // threshold into later suites on the shared session
    val prevThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    // external tables via option("path") — warehouse.dir is static conf
    val wh = graft.Ephemeral.dataDir("graft-warehouse-").toString
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")

    Tables.lineitem(spark, sf)
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_bucketed").saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_bucketed").saveAsTable("ord_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not reshuffle either side (the only
    // exchange allowed is the one under the final aggregation)
    val joinPart = plan.split("HashAggregate").last
    assert(joinPart.contains("SortMergeJoin") || joinPart.contains("ShuffledHashJoin"))
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
           !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
      s"join should read bucketed scans shuffle-free:\n$plan")

    // and it still computes the right thing
    val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBuckets == direct)
    } finally {
      prevThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }
}
