package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Ephemeral, SparkSpec}
import graft.queries.StreamingQueries
import graft.tables.Tables

/** Pins `StreamingQueries.partialsOf`, the bounded foreachBatch replay
  * ~55 streaming twins merge their state from: the zero-batch edge,
  * cleanup of its scratch, partials that outlive the catalog cache,
  * batch-id order, and merge(partials) ≡ batch.
  */
class PartialsOfSpec extends SparkSpec {

  /** A parquet source dir holding one file per range, replayed one
    * file per trigger in range order. */
  private def rangeSource(ranges: Seq[(Long, Long)]): Path = {
    val src = Files.createTempDirectory("partials-spec-src-")
    val scratch = Files.createTempDirectory("partials-spec-work-")
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
    val partials = StreamingQueries.partialsOfIndexed(stream(src)) { (b, bid) =>
      b.agg(lit(bid).as("bid"), min(col("v")).as("lo"), max(col("v")).as("hi"))
    }
    spark.catalog.clearCache()
    System.gc()
    val got = partials.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 9L), (1L, 10L, 19L), (2L, 20L, 29L)))
  }

  test("a sum-merged builder equals its batch computation") {
    val byType = (b: DataFrame) => b.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    val merged = StreamingQueries.partialsOf(StreamingQueries.eventsStream(spark, sf))(byType)
      .groupBy(col("event_type")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val batch = byType(Tables.events(spark, sf))
    assert(merged.exceptAll(batch).isEmpty && batch.exceptAll(merged).isEmpty)
    assert(merged.count() > 1)
  }
}
