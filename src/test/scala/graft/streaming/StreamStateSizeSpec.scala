package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** State-SIZE evidence for the bounded-state streaming operators
  * (VERDICT r5/r6 item): the state store's own `numRowsTotal` metric
  * (from `StreamingQueryProgress.stateOperators`) must stay flat when
  * the replayed HISTORY grows 10×, because state is
  * O(keys-in-horizon), not O(history). The oracle hash-checks prove
  * the bounded operators' OUTPUTS right; this spec pins the property
  * that makes them deployable on an unbounded stream.
  *
  * Methodology: a synthetic minute-grid event stream written as one
  * file per HOUR and replayed with `maxFilesPerTrigger=1`, so a
  * micro-batch spans the same event-time at 1× (3 h) and 10× (30 h) —
  * unlike a quantile cut, the longer history adds BATCHES, not
  * batch-span, and any state growth is real retention, not a wider
  * horizon (the ScaleBench caveat this design removes).
  */
class StreamStateSizeSpec extends SparkSpec {

  private val UsersPerMinute = 20L

  /** One file per hour: every minute, users 0..19 emit one event —
    * "view" on even minutes, "purchase" on odd. Time-ordered replay
    * via pinned modification times.
    */
  private def writeReplay(hours: Int): Path = {
    val dir = Files.createTempDirectory("graft-statesize-")
    val work = Files.createTempDirectory("graft-statesize-work-")
    val base = System.currentTimeMillis() - 7200000L
    (0 until hours).foreach { h =>
      val df = spark.range(60)
        .select((col("id") + h * 60L).as("minute"))
        .select(explode(sequence(lit(0L), lit(UsersPerMinute - 1))).as("user_id"),
                (col("minute") * 60000L).as("ts_ms"),
                when(col("minute") % 2 === 0, "view").otherwise("purchase").as("event_type"))
      val out = work.resolve(s"out$h")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dest = dir.resolve(f"$h%03d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(base + h * 1000L))
    }
    Seq(dir, work).foreach(d => sys.addShutdownHook {
      Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
    })
    dir
  }

  private def source(dir: Path): DataFrame = {
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_ms", LongType),
      StructField("event_type", StringType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  /** Runs the bounded replay to a memory sink and returns the MAX
    * total state rows over all micro-batch progress reports.
    */
  private def maxStateRows(streamed: DataFrame): Long = {
    val name = s"state_size_${System.nanoTime()}"
    val ckpt = graft.Ephemeral.dir("graft-ckpt-")
    val q = streamed.writeStream
      .outputMode("append")
      .queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .format("memory")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val rows = q.recentProgress.toSeq
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    assert(rows.nonEmpty, "no progress reports captured")
    rows.max
  }

  // stream_dedup_within_wm's operator shape: horizon-bounded dedup on
  // (user_id, hour bucket) with a 30 min delay
  private def boundedDedup(src: DataFrame): DataFrame = src
    .withWatermark("ts", "30 minutes")
    .select(col("user_id"),
            (col("ts_ms") - col("ts_ms") % 3600000L).as("hour_ms"), col("ts"))
    .dropDuplicatesWithinWatermark("user_id", "hour_ms")
    .select(col("user_id"), col("hour_ms"))

  // the exact-distinct twin whose state legitimately grows with
  // history — the contrast that proves the metric can tell
  private def unboundedDedup(src: DataFrame): DataFrame = src
    .withWatermark("ts", "30 minutes")
    .select(col("user_id"),
            (col("ts_ms") - col("ts_ms") % 3600000L).as("hour_ms"))
    .dropDuplicates("user_id", "hour_ms")

  // stream_stream_join's operator shape: view ⋈ purchase within 10 min
  private def intervalJoin(src: DataFrame): DataFrame = {
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_ms").as("view_ms"),
              col("ts").as("v_ts"))
      .withWatermark("v_ts", "0 seconds")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_ms").as("purchase_ms"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") < col("v_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_ms"), col("purchase_ms"))
  }

  private lazy val dir1x = writeReplay(3)
  private lazy val dir10x = writeReplay(30)

  test("dropDuplicatesWithinWatermark state stays flat across a 10x-history replay") {
    val s1 = maxStateRows(boundedDedup(source(dir1x)))
    val s10 = maxStateRows(boundedDedup(source(dir10x)))
    assert(s1 > 0)
    // keys-in-horizon (~2 hours of (user, hour) keys) is the bound —
    // NOT 10× the history; allow generous slack over the 1× run
    assert(s10 <= 3 * s1,
      s"bounded dedup state grew with history: 1x max=$s1, 10x max=$s10")
  }

  test("unbounded dropDuplicates contrast: history-proportional state, and the gap is visible") {
    val bounded10 = maxStateRows(boundedDedup(source(dir10x)))
    val unbounded10 = maxStateRows(unboundedDedup(source(dir10x)))
    // 30 h of (user, hour) keys ≈ 600 vs a ~2 h horizon ≈ 40-80: the
    // metric must separate the two regimes decisively
    assert(unbounded10 >= 3 * bounded10,
      s"contrast lost: unbounded max=$unbounded10 vs bounded max=$bounded10")
  }

  test("stream-stream interval join state stays flat across a 10x-history replay") {
    val s1 = maxStateRows(intervalJoin(source(dir1x)))
    val s10 = maxStateRows(intervalJoin(source(dir10x)))
    assert(s1 > 0)
    assert(s10 <= 3 * s1,
      s"join state grew with history: 1x max=$s1, 10x max=$s10")
  }

  // stream_gapfill's operator shape: per-key LOCF gap-fill. State is
  // one row per key holding (cursor, carry, open-hour partials) —
  // pending drains as the watermark closes buckets, so total state
  // rows are O(keys) and the per-key blob is O(horizon), never
  // O(history). 10× more replay HOURS must not move the row count.
  private def gapfill(src: DataFrame): DataFrame = {
    implicit val enc = org.apache.spark.sql.Encoders.product[GapFillStream.In]
    val in = src
      .withWatermark("ts", "0 seconds")
      .select(col("event_type").as("key"), col("ts_ms").as("tsMs"),
              lit(1.0).as("value"), col("ts"))
      .as[GapFillStream.In]
    GapFillStream.grid(in, gridOriginMs = 0L).toDF()
  }

  test("gap-fill state rows stay flat across a 10x-history replay") {
    val s1 = maxStateRows(gapfill(source(dir1x)))
    val s10 = maxStateRows(gapfill(source(dir10x)))
    assert(s1 > 0)
    assert(s10 <= 3 * s1,
      s"gap-fill state grew with history: 1x max=$s1, 10x max=$s10")
  }
}
