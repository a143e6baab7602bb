package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}

/** Skew-mitigation evidence harness: one adversarially skewed join
  * (90% of the fact rows on a single key) measured three ways —
  *
  *   1. `plain`  — AQE skew handling OFF: the hot key's entire
  *      shuffle partition lands on ONE task (the 100 TB failure mode);
  *   2. `aqe`    — `spark.sql.adaptive.skewJoin` ON: the runtime
  *      splits the oversized partition into advisory-sized slices and
  *      replicates the matching dim partition (modern Spark's first
  *      answer to skew — no query rewrite);
  *   3. `salted` — the explicit [[graft.operators.Salting]] rewrite
  *      (AQE skew off): the static-plan fallback for engines/paths AQE
  *      cannot help (e.g. a giant aggregation key).
  *
  * All three joins are forced to shuffle (broadcast disabled — the
  * dim side would otherwise broadcast and hide the skew) and fully
  * materialized through an aggregation. Alongside wall clock, the
  * harness reports the AQE plan's own skew metrics
  * (`numSkewedPartitions` / `numSkewedSplits` summed over the final
  * plan's `AQEShuffleRead` nodes) — the assertion-grade proof that the
  * split actually fired, spec-pinned in `PlanShapeSpec`.
  *
  * Output: one JSON line on stdout. Knobs: `SPARK_GRAFT_SKEW_ROWS`
  * (default 20M fact rows ≈ the 10× operating point), `SPARK_GRAFT_CPUS`.
  */
object SkewBench {

  /** 90%-hot-key fact: key 0 carries 9 of every 10 rows, the rest
    * spread over 1..999. Payload is the row id (also the salt source).
    */
  private[graft] def skewedFact(s: SparkSession, rows: Long): DataFrame =
    s.range(rows).select(
      when(pmod(col("id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("id"), lit(1000))).as("k"),
      col("id").as("payload"))

  private[graft] def dimTable(s: SparkSession): DataFrame =
    s.range(1000).select(col("id").as("k"), (col("id") * 7).as("dval"))

  /** Executes the join fully and returns (result row, wall seconds,
    * skewed partitions, skew splits) from the final adaptive plan.
    */
  private[graft] def runJoin(joined: DataFrame): (Double, Long, Long, String) = {
    // sum(payload) keeps the fact payload column alive through the
    // shuffle: without it Catalyst prunes the fact side down to the
    // constant hot key, which compresses to nothing — and byte-based
    // skew detection (like a real wide fact row) never sees the skew
    val agg = joined.agg(count(lit(1)).as("n"), sum(col("dval")).as("s"),
      sum(col("payload")).as("sp"))
    val t0 = System.nanoTime()
    agg.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val (parts, splits) = skewMetrics(agg)
    (sec, parts, splits, agg.queryExecution.executedPlan.toString)
  }

  /** Sums numSkewedPartitions / numSkewedSplits over every
    * AQEShuffleRead in the EXECUTED adaptive plan (recursing into
    * reused/child adaptive plans).
    */
  private[graft] def skewMetrics(df: DataFrame): (Long, Long) = {
    // QueryStageExec wraps its subtree as a LEAF (collect doesn't
    // descend), so recurse through stage plans explicitly
    def reads(plan: org.apache.spark.sql.execution.SparkPlan): Seq[AQEShuffleReadExec] =
      plan.collect {
        case a: AdaptiveSparkPlanExec => reads(a.executedPlan)
        case q: QueryStageExec => reads(q.plan)
        case r: AQEShuffleReadExec => Seq(r) ++ r.children.flatMap(reads)
      }.flatten
    val rs = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => reads(a.executedPlan)
      case p => reads(p)
    }
    def metric(name: String) =
      rs.flatMap(_.metrics.get(name)).map(_.value).sum
    (metric("numSkewedPartitions"), metric("numSkewedSplits"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val spark = Harness.session(cpus)
    // force the shuffle join + make the skew thresholds bite at bench
    // scale (defaults target 256 MB partitions; the hot partition here
    // is ~150 MB of longs — same shape, smaller constant)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")

    val fact = skewedFact(spark, rows)
    val dim = dimTable(spark)

    // warm: scheduler + codegen + shuffle machinery
    fact.limit(1000).join(dim, "k").agg(count(lit(1))).collect()

    def measure(name: String, aqeSkew: Boolean)(mk: => DataFrame) = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
      val (sec, parts, splits, _) = runJoin(mk)
      System.err.println(
        f"[skew] $name%-8s ${sec}%7.2f s   skewedPartitions=$parts%3d  skewSplits=$splits%3d")
      (name, sec, parts, splits)
    }

    val results = Seq(
      measure("plain", aqeSkew = false)(fact.join(dim, "k")),
      measure("aqe", aqeSkew = true)(fact.join(dim, "k")),
      measure("salted", aqeSkew = false)(
        graft.operators.Salting.saltedJoin(fact, dim, "k", "k",
          col("payload"), cpus)))

    val qs = results.map { case (n, sec, parts, splits) =>
      f""""$n":{"sec":$sec%.3f,"skewedPartitions":$parts,"skewSplits":$splits}"""
    }.mkString("{", ",", "}")
    println(s"""{"rows":$rows,"hotShare":0.9,"modes":$qs}""")
    spark.stop()
  }
}
