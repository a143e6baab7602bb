package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Ephemeral, SparkEntry, SparkSpec}
import graft.queries.StreamingQueries
import graft.tables.Tables

/** Pins `StreamingQueries.partialsOf` and the one bounded replay
  * runner behind it, which every `stream_*` twin drives: the
  * zero-batch edge, cleanup of its scratch, partials that outlive the
  * catalog cache, batch-id order, the one sum/max merge law
  * (`merged`: typed like a hand-written `sum`, max ≡ batch max, a
  * malformed key list fails) and merge(partials) ≡ batch, a stateful
  * append stream's output ≡ its batch aggregation, the carried-state
  * folds ≡ their batch twins, and a session left as it was found —
  * also when two replays start at once on two threads.
  */
class PartialsOfSpec extends SparkSpec {

  /** A parquet source dir holding one file per range, replayed one
    * file per trigger in range order; it lives under the ephemeral
    * scratch base, which is deleted at JVM exit. */
  private def rangeSource(ranges: Seq[(Long, Long)]): Path = {
    val src = Ephemeral.dir("graft-partials-spec-src-")
    val scratch = Ephemeral.dir("graft-partials-spec-work-")
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val work = scratch.resolve(s"w$i")
      spark.range(lo, hi).toDF("v").coalesce(1).write.parquet(work.toString)
      val listing = Files.list(work)
      val part = try listing.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally listing.close()
      val dest = src.resolve(f"$i%03d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000L + i * 1000L))
    }
    Ephemeral.deleteTree(scratch)
    src
  }

  private def stream(src: Path): DataFrame =
    spark.readStream.schema("v LONG").option("maxFilesPerTrigger", "1")
      .parquet(src.toString)

  private def scratchEntries(): Set[Path] = {
    val listing = Files.list(Ephemeral.base)
    try listing.iterator().asScala.toSet finally listing.close()
  }

  private val cells = (b: DataFrame) =>
    b.groupBy((col("v") % 3).as("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

  test("a source with zero files yields zero rows with the builder's schema") {
    val partials = StreamingQueries.partialsOf(stream(rangeSource(Nil)))(cells)
    assert(partials.count() == 0)
    assert(partials.schema.map(f => (f.name, f.dataType)) ==
      cells(spark.range(0).toDF("v")).schema.map(f => (f.name, f.dataType)))
  }

  test("leaves no entry under the ephemeral scratch base") {
    val src = rangeSource(Seq((0L, 10L), (10L, 20L)))
    val before = scratchEntries()
    val partials = StreamingQueries.partialsOf(stream(src))(cells)
    assert(partials.count() > 0)
    val left = scratchEntries() -- before
    assert(left.isEmpty, s"partialsOf left scratch behind: $left")
  }

  test("partials survive clearCache and keep batch-id order") {
    val src = rangeSource(Seq((0L, 10L), (10L, 20L), (20L, 30L)))
    val partials = StreamingQueries.partialsOfEach(stream(src)) { (b, bid) =>
      b.agg(lit(bid).as("bid"), min(col("v")).as("lo"), max(col("v")).as("hi"))
    }.head
    spark.catalog.clearCache()
    System.gc()
    val got = partials.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 9L), (1L, 10L, 19L), (2L, 20L, 29L)))
  }

  /** Replays the events stream through a sum-merged per-type builder
    * and checks the merge against the batch computation. */
  private def checkSumMerged(): Unit = {
    val byType = (b: DataFrame) => b.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    val merged = StreamingQueries.partialsOf(StreamingQueries.eventsStream(spark, sf))(byType)
      .transform(StreamingQueries.merged(sum, "event_type"))
    val batch = byType(Tables.events(spark, sf))
    assert(merged.exceptAll(batch).isEmpty && batch.exceptAll(merged).isEmpty)
    assert(merged.count() > 1)
  }

  /** Replays an append-mode windowed count (stateful, on the state
    * store `rocksdb` picks) and checks it against the batch
    * aggregation. */
  private def checkWindowed(rocksdb: Boolean): Unit = {
    val windowed = StreamingQueries.eventsStream(spark, sf)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), unix_millis(col("window.start")).as("start_ms"), col("cnt"))
    val streamed = StreamingQueries.partialsOf(windowed, rocksdb)(identity)
    // append emits a window once the final watermark (max ts, 0 s
    // delay) reaches its end
    val ev = Tables.events(spark, sf)
    val maxMs = ev.agg(max(col("ts_ms"))).head().getLong(0)
    val batch = ev
      .groupBy(col("event_type"), (col("ts_ms") - col("ts_ms") % 3600000L).as("start_ms"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("start_ms") + 3600000L <= maxMs)
    assert(batch.count() > 1)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a sum-merged builder equals its batch computation") {
    checkSumMerged()
  }

  private def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  test("a sum merge of a zero-file source is typed like the hand-written sum") {
    val decCells = (b: DataFrame) => b.groupBy((col("v") % 3).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(10,2)")).as("sd"))
    val partials = StreamingQueries.partialsOf(stream(rangeSource(Nil)))(decCells)
    val got = partials.transform(StreamingQueries.merged(sum, "k"))
    val byHand = partials.groupBy(col("k"))
      .agg(sum(col("n")).as("n"), sum(col("sd")).as("sd"))
    assert(got.count() == 0)
    assert(typed(got) == typed(byHand))
    // sum widens decimal(p, s) to decimal(p + 10, s) once per merge level
    assert(got.schema("sd").dataType == DecimalType(30, 2))
  }

  test("a max merge over three files equals the batch max") {
    // the largest values arrive first, so neither a last-batch-wins
    // nor a summing merge can pass
    val src = rangeSource(Seq((20L, 30L), (0L, 10L), (10L, 20L)))
    val tops = (b: DataFrame) => b.groupBy((col("v") % 4).as("k")).agg(max(col("v")).as("hi"))
    val got = StreamingQueries.partialsOf(stream(src))(tops)
      .transform(StreamingQueries.merged(max, "k"))
    val batch = tops(spark.range(0, 30).toDF("v"))
    assert(got.count() == 4)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("a merge with no value column, or a missing key, fails naming its keys") {
    val keysOnly = spark.range(3).select(col("id").as("a"), (col("id") % 2).as("b"))
    val noValue = intercept[IllegalArgumentException](
      keysOnly.transform(StreamingQueries.merged(sum, "a", "b")))
    assert(noValue.getMessage.contains("(a, b)"))
    val missing = intercept[IllegalArgumentException](
      keysOnly.transform(StreamingQueries.merged(sum, "a", "c")))
    assert(missing.getMessage.contains("(a, c)"))
  }

  test("an append-mode windowed count with a watermark equals the batch aggregation") {
    checkWindowed(rocksdb = false)
  }

  // the replay's tuning keys, all set around start() only
  private val tunedKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.streaming.minBatchesToRetain",
    "spark.sql.streaming.stateStore.maintenanceInterval",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")

  private def tunedConf(): Seq[Option[String]] = tunedKeys.map(spark.conf.getOption)

  // per-JVM split source dirs are built once and shared by every twin
  private def perReplay(entries: Set[Path]): Set[Path] =
    entries.filterNot(_.getFileName.toString.matches("graft-.*-splits-.*"))

  /** Runs `body`, then checks that it left no scratch under
    * `Ephemeral.base`, no `stream_out_*` view and every tuned conf key
    * as it was. */
  private def leavesNothing[A](body: => A): A = {
    val (before, conf) = (scratchEntries(), tunedConf())
    val out = body
    val left = perReplay(scratchEntries() -- before)
    assert(left.isEmpty, s"replay left scratch behind: $left")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("stream_out_")))
    assert(tunedConf() == conf)
    out
  }

  test("a RocksDB replay restores the session conf and leaves no scratch") {
    val src = rangeSource(Seq((0L, 10L), (10L, 20L)))
    val got = leavesNothing(
      StreamingQueries.partialsOf(stream(src), rocksdb = true)(identity).count())
    assert(got == 20)
  }

  test("two replays started at once on two threads keep their results and the session conf") {
    val conf = tunedConf()
    // each round lines both replays up at one barrier and holds the
    // second back a little longer, so across rounds its start lands
    // inside the first one's set → start() → restore window
    Seq(0L, 5L, 10L, 20L, 40L, 80L).foreach { lagMs =>
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq[(Long, () => Unit)](
        0L -> (() => checkSumMerged()),
        lagMs -> (() => checkWindowed(rocksdb = true))
      ).map { case (wait, body) => new Thread(() =>
        try { gate.await(); Thread.sleep(wait); body() }
        catch { case t: Throwable => errors.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      errors.asScala.headOption.foreach(t => throw t)
      assert(tunedConf() == conf, s"a ${lagMs} ms lag left the replay tuning set")
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.toSeq
    assert(cols == b.columns.sorted.toSeq)
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    assert(x.count() > 0)
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty)
  }

  Seq("stream_sprt" -> "events_sprt",
      "stream_cdc_maintain" -> "cdc_agg_maintain",
      "stream_perplexity" -> "text_perplexity_heldout").foreach { case (twin, batch) =>
    test(s"$twin equals $batch and leaves nothing behind") {
      val streamed = leavesNothing(SparkEntry.queries(twin)(spark, sf))
      sameRows(streamed, SparkEntry.queries(batch)(spark, sf))
    }
  }
}
