package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.StreamingQueries
import graft.tables.Tables

/** CI evidence for the multi-batch replay contract (VERDICT r2 item 2):
  * the streaming oracle queries must process ≥3 data-carrying
  * micro-batches with the event-time watermark ADVANCING between them,
  * and the incremental result must equal the batch result. The oracle
  * hash-match proves the second half at sf0.01 every round; this spec
  * pins the first half (that the replay actually IS multi-batch —
  * otherwise the oracle silently degrades back to a single-batch check)
  * and re-proves incremental ≡ batch in-process at sf0.001.
  */
class MultiBatchReplaySpec extends SparkSpec {

  test("events replay runs >=3 data micro-batches with advancing watermark") {
    val windowed = StreamingQueries.eventsStream(spark, sf)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
              unix_millis(col("window.start")).as("window_start_ms"),
              col("cnt"))
    val ckpt = graft.Ephemeral.dir("graft-mbr-ckpt-")
    val q = windowed.writeStream
      .outputMode("append")
      .queryName("mbr_out")
      .option("checkpointLocation", ckpt.toString)
      .format("memory")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length >= 3,
      s"expected >=3 data-carrying micro-batches, saw ${dataBatches.length}")
    // The watermark string is ISO-8601, so lexicographic order is
    // chronological; it must strictly advance across data batches once
    // the first batch has set it.
    val wms = dataBatches.map(_.eventTime.get("watermark")).filter(_ != null)
    assert(wms.distinct.length >= 3,
      s"watermark did not advance across batches: ${wms.mkString(", ")}")
    assert(wms.sameElements(wms.sorted),
      s"watermark regressed during replay: ${wms.mkString(", ")}")

    // Incremental ≡ batch: the accumulated append-mode emissions equal
    // the batch aggregation cut at the final watermark.
    val streamed = spark.table("mbr_out")
    val batch = Tables.events(spark, sf)
      .withColumn("window_start_ms",
        col("ts_ms") - col("ts_ms") % 3600000L)
      .groupBy(col("event_type"), col("window_start_ms"))
      .agg(count(lit(1)).as("cnt"))
    val maxTs = Tables.events(spark, sf).agg(max(col("ts_ms"))).head().getLong(0)
    val expected = batch.filter(col("window_start_ms") + 3600000L <= maxTs)
    assert(streamed.count() === expected.count())
    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty,
      "incremental append-mode result diverged from the batch aggregation")
  }

  test("split files never divide an ms cohort and are strictly ms-ordered") {
    // Cross-batch stateful folds (CusumStream) sort each batch by
    // (ts_ms, event_id); bit-identity with the batch oracle's global
    // (ts_ms, event_id) order therefore needs every ms cohort to live
    // in exactly ONE split file, with files strictly ordered on ms —
    // a nanos-quantile cut could straddle two same-ms events (sf0.1
    // has sub-ms-distinct pairs). The split cuts on ms to guarantee
    // this; pin it here.
    val (srcDir, _) = StreamingQueries.split(spark, sf, "events")
    val files = Files.list(srcDir).iterator()
    val ranges = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        val r = spark.read.parquet(f.toString)
          .select(col("ts_ms").as("ms"))
          .agg(min(col("ms")), max(col("ms"))).head()
        ranges += ((f.getFileName.toString, r.getLong(0), r.getLong(1)))
      }
    }
    assert(ranges.length >= 3, s"expected >=3 split files, saw $ranges")
    ranges.toList.sortBy(_._1).sliding(2).foreach {
      case Seq((fa, _, maxA), (fb, minB, _)) =>
        assert(maxA < minB,
          s"$fa max ms $maxA overlaps $fb min ms $minB — an ms cohort straddles a batch boundary")
      case _ => ()
    }
  }
}
