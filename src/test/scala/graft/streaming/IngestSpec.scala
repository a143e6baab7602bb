package graft.streaming

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{Ephemeral, SparkEntry, SparkSpec}
import graft.queries.{Artifacts, StreamingQueries}
import graft.tables.Tables

/** Pins the one ingest per split source: stateless families share one
  * replay per (session, dir, source) under the `Artifacts` lifecycle,
  * stateful twins keep their own, the partials built from the
  * delivered batches keep the `partialsOf` seed contract, and a
  * failing builder names its family.
  */
class IngestSpec extends SparkSpec {

  /** Streaming queries started while `body` runs; onQueryStarted runs
    * synchronously inside start(), so the count is complete when
    * `body` returns. */
  private def started(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = n.incrementAndGet()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    n.get
  }

  private def build(twins: String*): Unit =
    twins.foreach(t => assert(SparkEntry.queries(t)(spark, sf).count() > 0, t))

  test("two stateless twins over the events split share one replay, until Artifacts.clear()") {
    Artifacts.clear()
    assert(started(build("stream_did", "stream_kruskal_wallis")) == 1)
    assert(started(build("stream_did")) == 0)
    Artifacts.clear()
    assert(started(build("stream_did", "stream_kruskal_wallis")) == 1)
    Artifacts.clear()
  }

  test("a stateful twin still starts its own replay") {
    Artifacts.clear()
    assert(started(build("stream_did")) == 1)
    assert(started(build("stream_window_agg")) == 1)
    assert(started(build("stream_window_agg")) == 1)
    Artifacts.clear()
  }

  test("passthrough memoizes no ingest") {
    Artifacts.clear()
    Artifacts.passthrough = true
    try assert(started(build("stream_did", "stream_did")) == 2)
    finally Artifacts.passthrough = false
    assert(started(build("stream_did")) == 1)
    Artifacts.clear()
  }

  test("partials come from every delivered micro-batch, in batch-id order") {
    Artifacts.clear()
    val parts = StreamingQueries.ingest(spark, sf, "events").partialsEach("bid_probe") {
      (b, bid) => b.agg(lit(bid).as("bid"), count(lit(1)).as("n"),
        min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
    }.head
    spark.catalog.clearCache()
    val got = parts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(got.map(_._2).sum == Tables.events(spark, sf).count())
    // range cuts on ts_ms: each batch starts after the previous one ends
    got.sliding(2).foreach { case Array(a, b) => assert(a._4 < b._3) }
    Artifacts.clear()
  }

  test("the ingest path truncates a global builder's seed row") {
    val mx = StreamingQueries.ingest(spark, sf, "events").partials("seed_probe") { b =>
      b.agg(coalesce(max(col("value")), lit(9.99e9)).as("mx"))
    }.agg(max(col("mx"))).head().getDouble(0)
    assert(mx == Tables.events(spark, sf).agg(max(col("value"))).head().getDouble(0))
    Artifacts.clear()
  }

  test("an ingest with no batches yields zero rows with the builder's schema") {
    val schema = Tables.events(spark, sf).schema
    val cells = (b: org.apache.spark.sql.DataFrame) =>
      b.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val parts = new StreamingQueries.Ingest(spark, "empty", schema, Nil).partials("empty")(cells)
    assert(parts.count() == 0)
    assert(parts.schema.map(f => (f.name, f.dataType)) ==
      cells(Tables.events(spark, sf)).schema.map(f => (f.name, f.dataType)))
  }

  test("an ingest leaves nothing under the ephemeral scratch base but the split dirs") {
    def entries(): Set[Path] = {
      val listing = java.nio.file.Files.list(Ephemeral.base)
      try listing.iterator().asScala.toSet finally listing.close()
    }
    StreamingQueries.split(spark, sf, "events")
    Artifacts.clear()
    val before = entries()
    assert(StreamingQueries.ingest(spark, sf, "events").partials("scratch_probe")(
      _.groupBy(col("event_type")).count()).count() > 0)
    assert(entries() -- before == Set.empty[Path])
    Artifacts.clear()
  }

  test("a builder that throws fails naming its family") {
    val in = StreamingQueries.ingest(spark, sf, "events")
    val planned = intercept[IllegalStateException](
      in.partials("no_such_column_family")(_.select(col("no_such_column"))))
    assert(planned.getMessage.contains("no_such_column_family"))
    val ran = intercept[IllegalStateException](
      in.partials("raising_family")(_.select(raise_error(lit("boom")).as("x"))))
    assert(ran.getMessage.contains("raising_family"))
    Artifacts.clear()
  }
}
