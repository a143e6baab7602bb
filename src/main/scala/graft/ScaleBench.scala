package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve benchmark (VERDICT r2 item 4): measures the dedup/ANN
  * query families at 1× and N× (default 10×) corpus size, where the N×
  * corpus is the fixture self-unioned with id offsets — every doc/vec
  * gains N−1 exact copies, which makes the LSH collision graph N×
  * DENSER per bucket (the adversarial case for anything pair-shaped).
  *
  * What the curve demonstrates: the pruned paths (LSH star edges,
  * bucket-probe ANN, IVF) and the linear projections scale ~linearly
  * with the corpus, because their work is bounded by bands·n edges /
  * probed-bucket membership — never by in-bucket pairs. Brute-force
  * top-k also scales linearly (it is O(n·q) by construction) but from
  * a ~full-corpus-scan offset the pruned paths avoid. A quadratic
  * regression (e.g. all-pairs in-bucket enumeration) would show up as
  * a ~N² ratio here — this main is the regression harness for that.
  *
  * Output: one JSON line `{"factor":N,"reps":R,"queries":{name:
  * {"x1":s,"xN":s,"ratio":r[,"x1_spread":[lo,hi],"xN_spread":[lo,hi]]
  * }}}` on stdout; human-readable table on stderr. With
  * `SPARK_GRAFT_BENCH_REPS`=R > 1 every cell is the per-rep MEDIAN
  * (even R averages the two middle reps) with the [min,max] spread
  * recorded beside it. Measured results are recorded in
  * BENCH_NOTES.md.
  */
object ScaleBench {

  /** The corpus block of the curve: every query except the streaming
    * twins (their own block below), the four `sensor_*` queries —
    * their virtual-clock source is input-independent by construction,
    * so a ratio row would measure nothing — and `events_ewma`, whose
    * corpus-axis row is retired to the Round14OpsSpec pin
    * (single-series sort concentration — the theilsen precedent); the
    * bucketed-halo formulation carries the family's corpus row, and
    * the series axis ([[SeriesScaledQueries]]) measures events_ewma.
    */
  private[graft] def ScaledQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(n =>
      n.startsWith("sensor_") || n.startsWith("stream_") || n == "events_ewma")

  /** Streaming block of the curve (VERDICT r3 item 6): every `stream_*`
    * twin. The scaled dir replays `factor`× events (self-union with
    * disjoint ts offsets — `factor`× history). Caveat on what this measures: the replay
    * always cuts history into the same [[graft.queries.StreamingQueries]]
    * 3 quantile files, so at `factor`× each micro-batch SPANS
    * `factor`× more event-time and legitimately holds more in-horizon
    * state before the between-batch watermark advance — the rows
    * bound growth (observed ≤2× at 10×, ≪linear at 100×) but cannot
    * by themselves distinguish horizon-bounded state from unbounded
    * retention; that eviction property is pinned functionally instead
    * (watermark cutoffs in every stream oracle + the bounded-state
    * dedup/join operators' spec coverage). A deployment has constant
    * batch spans (trigger interval), where state is strictly
    * O(keys-in-horizon).
    */
  private[graft] def StreamScaledQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(_.startsWith("stream_"))

  /** The series-mode panel (`SPARK_GRAFT_SCALE_MODE=series`, VERDICT r7
    * item 5): three of the five (`events_drift`, `events_binning`,
    * `sketch_quantiles_by_type`) partition a window by `event_type` and
    * sort within the series, so the corpus-mode self-union (same types,
    * N× LONGER series) measures their worst axis — a bigger single sort
    * per partition; the other two (`events_seasonality`,
    * `events_anomaly`) are per-type hash aggregations that scale on
    * group count. Production scaling is the OTHER axis: more endpoints /
    * metrics / tenants = more SERIES of unchanged length, which are
    * independent window partitions / groups that distribute. The series
    * mode measures that axis directly.
    */
  private[graft] val SeriesScaledQueries = Seq(
    "events_drift", "events_binning", "sketch_quantiles_by_type",
    "events_seasonality", "events_anomaly", "events_ewma",
    "events_acf", "events_cross_corr")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    // "corpus" (default): self-union adversary — same keys/types, N×
    // denser buckets / longer series. "series": events self-unioned
    // under N× DISTINCT event_type values — more series, same length.
    // Fail fast on anything else (a typo must not silently fall back
    // to the 70+-query corpus run).
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "corpus")
    require(mode == "corpus" || mode == "series",
      s"SPARK_GRAFT_SCALE_MODE='$mode' — accepted values: corpus, series")
    val spark = Harness.session(Harness.cpus(32))

    // Semantic dedup's production control: nlist ∝ corpus holds
    // cluster size constant, so total pair work grows linearly — the
    // contrast rows to dedup_semantic_fast's fixed-nlist quadratic
    // (run when selected, or by default with the full corpus suite).
    val nlistRows = Seq[(String, (String, Int) => DataFrame)](
      // flat assignment: pair work linear, assignment O(n·nlist) —
      // quadratic again when nlist ∝ n (the measured trap)
      "dedup_semantic_scaled_nlist" ->
        (graft.queries.SimilarityQueries.semanticDedupScaledNlist(spark, _, _)),
      // hierarchical assignment: O(n·(√nlist + nlist/√nlist)·dim) —
      // the production control that keeps the TOTAL linear
      "dedup_semantic_hier_nlist" -> { (dir, nlist) =>
        val ncoarse = math.max(4, math.sqrt(nlist.toDouble).round.toInt)
        graft.queries.SimilarityQueries
          .semanticDedupHierarchicalNlist(spark, dir, nlist, ncoarse)
      })

    // SPARK_GRAFT_SCALE_QUERIES=a,b,c restricts the run (targeted 100×
    // rows without paying for the full suite at that factor).
    val only = Harness.only(sys.env.get("SPARK_GRAFT_SCALE_QUERIES"),
      SparkEntry.queries.keySet ++ nlistRows.map(_._1))

    // SPARK_GRAFT_BENCH_REPS: every (query, dir) cell is the per-rep
    // median plus [min, max] spread — the scale ratios are the rows
    // the 100 TB story rests on and BENCH_NOTES documents a 2.1-7.8×
    // same-code spread on single-run stream rows (VERDICT r15 item 2).
    val reps = Harness.benchReps

    val scaled =
      if (mode == "series") buildSeriesScaledDir(spark, sfDir, factor)
      else buildScaledDir(spark, sfDir, factor, graft.Ephemeral.dataDir("graft-scale-"))

    // Warm the session (scheduler, codegen, decimal path) so the first
    // measured query doesn't absorb one-time session cost.
    try Harness.noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }

    // Build both split source dirs BEFORE timing: the one-time
    // read-sort-write of the events fixture is harness setup (Bench
    // warms it the same way), not per-query streaming cost.
    if (mode != "series") {
      try {
        graft.queries.StreamingQueries.eventsStream(spark, sfDir)
        graft.queries.StreamingQueries.eventsStream(spark, scaled.toString)
        // Warm the STREAMING engine too (micro-batch planner, state
        // store init, sink codegen): without this the first streaming
        // row of a subset run absorbs ~15-30 s of one-time engine
        // cost that the full suite hides in its 70 earlier queries.
        Harness.runOnce(spark, "stream_window_agg", sfDir)
      } catch { case _: Throwable => () }
    }

    // One row: `cell(dir, nlist)` timed at 1× and `factor`×. Full
    // per-query cost: the curve measures each query standalone, so
    // cross-query materialized artifacts are dropped before every rep
    // (the shared-artifact posture is measured separately — Bench
    // end-to-end, IndexBench build-vs-marginal), and every rep pays
    // the full build, so the median is a median of like-for-like
    // timings.
    def row(name: String)(cell: (String, Int) => Double) = {
      def time(dir: String, nlist: Int) =
        Harness.reps(reps) { graft.queries.Artifacts.clear(); cell(dir, nlist) }
      val (t1, lo1, hi1) = time(sfDir, 10)
      val (tN, loN, hiN) = time(scaled.toString, 10 * factor)
      System.err.println(f"[scale] $name%-22s 1x ${t1}%7.2f s   ${factor}x ${tN}%7.2f s   ratio ${tN / t1}%5.2f" +
        (if (reps > 1) f"   [${lo1}%.2f..${hi1}%.2f / ${loN}%.2f..${hiN}%.2f]" else ""))
      (name, t1, tN, (lo1, hi1, loN, hiN))
    }

    val baseQueries =
      if (mode == "series") SeriesScaledQueries
      else ScaledQueries ++ StreamScaledQueries
    val rows = baseQueries.filter(q => only.forall(_.contains(q))).map { name =>
      row(name)((dir, _) => Harness.runOnce(spark, name, dir))
    }
    val customRows =
      if (mode == "series") Nil
      else nlistRows.filter(r => only.forall(_.contains(r._1))).map { case (name, run) =>
        row(name)((dir, nlist) =>
          try Harness.seconds(Harness.noop(run(dir, nlist)))
          finally spark.catalog.clearCache())
      }

    val qs = (rows ++ customRows).map { case (n, t1, tN, (lo1, hi1, loN, hiN)) =>
      val spread =
        if (reps > 1)
          f""","x1_spread":[$lo1%.3f,$hi1%.3f],"x$factor%d_spread":[$loN%.3f,$hiN%.3f]"""
        else ""
      f""""$n":{"x1":$t1%.3f,"x$factor%d":$tN%.3f,"ratio":${tN / t1}%.2f$spread}"""
    }.mkString("{", ",", "}")
    println(s"""{"factor":$factor,"mode":"$mode","reps":$reps,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Symlinks every entry of `sfDir` whose name `skip` rejects into
    * `tmp`, by ABSOLUTE target — a relative `sfDir` would otherwise
    * give links that resolve against `tmp` and dangle. Registers no
    * cleanup: an [[graft.Ephemeral.dataDir]] `tmp` goes with that
    * root's hook.
    */
  private def linkFixtures(sfDir: String, tmp: Path, skip: String => Boolean): Unit = {
    val listing = Files.list(Paths.get(sfDir))
    try listing.iterator().asScala
      .filterNot(p => skip(p.getFileName.toString))
      .foreach(p => Files.createSymbolicLink(tmp.resolve(p.getFileName), p.toAbsolutePath.normalize))
    finally listing.close()
  }

  /** Fills the empty dir `tmp` (ScaleBench's and IndexBench's
    * [[graft.Ephemeral.dataDir]], or BuildScaled's persistent output)
    * and returns it: every fixture table symlinked except documents /
    * embeddings (written as `factor`-way self-unions with id offsets —
    * labels and content preserved → N× denser LSH buckets) and events
    * (self-union with DISJOINT ts offsets: `factor`× replay history
    * with an hour's gap between copies, so the watermark advances
    * monotonically through the longer stream).
    */
  private[graft] def buildScaledDir(spark: SparkSession, sfDir: String, factor: Int, tmp: Path,
                                    tables: Set[String] = Set("documents", "embeddings", "events",
                                      "orders", "lineitem", "customer")): Path = {
    linkFixtures(sfDir, tmp, name => tables.exists(name.startsWith))

    if (tables("events")) {
      // events: normalize the fixture's ts to epoch-ms (adaptive to its
      // physical type, Tables.tsMsExpr), offset each copy by span + 1 h
      // so copies never interleave, and write ts back as ms-precision
      // TIMESTAMP — the adaptive loaders read either shape.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val loaded = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = loaded.withColumn("__ms", graft.tables.Tables.tsMsExpr(loaded.schema("ts").dataType))
      val (tsMin, tsMax) = {
        val r = ev.agg(min("__ms"), max("__ms")).head()
        (r.getLong(0), r.getLong(1))
      }
      val span = tsMax - tsMin + 3600L * 1000L
      val eOff = ev.agg(max("event_id")).head().getLong(0) + 1
      (0 until factor)
        .map(i => ev.withColumn("event_id", col("event_id") + lit(i * eOff))
                    .withColumn("ts", timestamp_millis(col("__ms") + lit(i * span)))
                    .drop("__ms"))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    }

    if (tables("documents")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val dOff = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until factor)
        .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * dOff)))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)
    }

    if (tables("embeddings")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val vOff = emb.agg(max("vec_id")).head().getLong(0) + 1
      (0 until factor)
        .map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * vOff)))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("embeddings.parquet").toString)
    }

    // relational fact/dim tables: ONE shared o_orderkey offset keeps
    // the orders⋈lineitem join aligned across copies (every copy joins
    // only within itself — the row multiplicity a real N× warehouse
    // has)
    if (tables("orders") || tables("lineitem")) {
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      val oOff = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      (0 until factor)
        .map(i => ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * oOff)))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("orders.parquet").toString)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      (0 until factor)
        .map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * oOff)))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("lineitem.parquet").toString)
    }

    if (tables("customer")) {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val cOff = cust.agg(max("c_custkey")).head().getLong(0) + 1
      (0 until factor)
        .map(i => cust.withColumn("c_custkey", col("c_custkey") + lit(i * cOff)))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(tmp.resolve("customer.parquet").toString)
    }
    tmp
  }

  /** More-SERIES temp dir: events self-unioned `factor` ways with a
    * DISTINCT `event_type` per copy (`type#i`) and offset event_ids —
    * timestamps and values untouched, so every copy is a fresh series
    * of UNCHANGED length (vs [[buildScaledDir]]'s same-type union that
    * makes each series `factor`× LONGER). The per-series window sorts
    * (`events_drift`/`events_binning`/`sketch_quantiles_by_type`)
    * partition on `event_type`: this dir multiplies their partition
    * COUNT, the axis a production deployment actually grows on (more
    * endpoints/metrics/tenants), while the per-partition sort stays
    * constant-size.
    */
  private[graft] def buildSeriesScaledDir(spark: SparkSession, sfDir: String,
                                          factor: Int): Path = {
    val tmp = graft.Ephemeral.dataDir("graft-series-")
    linkFixtures(sfDir, tmp, _.startsWith("events"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val eOff = ev.agg(max("event_id")).head().getLong(0) + 1
    // concat_ws, not concat: a NULL event_type must still fan out into
    // per-copy distinct series instead of collapsing every copy's null
    // rows into one factor×-longer null series.
    (0 until factor)
      .map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * eOff))
        .withColumn("event_type", concat_ws("#", coalesce(col("event_type"), lit("null")), lit(i.toString))))
      .reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    tmp
  }
}
