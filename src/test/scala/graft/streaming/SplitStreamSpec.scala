package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.{SparkEntry, SparkSpec}
import graft.queries.{Artifacts, RelationalQueries, StreamingQueries}
import graft.tables.Tables

/** The replayed fixtures and the shared hourly state table: a split
  * stream reads back exactly its batch source's columns, and the seven
  * hourly-cell twins replay the events split once between them.
  */
class SplitStreamSpec extends SparkSpec {

  private def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))

  test("each split stream has its batch source's column names, types and order") {
    val events = Tables.events(spark, sf)
    val cdc = RelationalQueries.cdcDeltaRows(Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")))
    Seq(
      "events" -> (StreamingQueries.eventsStream(spark, sf),
        events.select((events.columns.filter(_ != "ts") :+ "ts").toSeq.map(col): _*)),
      "documents" -> (StreamingQueries.splitStream(spark, sf, "documents"),
        Tables.documents(spark, sf)),
      "embeddings" -> (StreamingQueries.splitStream(spark, sf, "embeddings"),
        Tables.embeddings(spark, sf)),
      "embeddings_append" -> (StreamingQueries.splitStream(spark, sf, "embeddings_append"),
        Tables.embeddings(spark, sf)),
      "cdc" -> (StreamingQueries.cdcDeltaStream(spark, sf), cdc)
    ).foreach { case (source, (stream, batch)) =>
      assert(stream.isStreaming, source)
      assert(shape(stream) == shape(batch), source)
      assert(stream.schema.forall(_.nullable), source)
    }
  }

  test("the seven hourly-cell twins start one streaming query between them") {
    val twins = Seq("stream_acf", "stream_ljungbox", "stream_runs_test", "stream_theilsen",
      "stream_stl", "stream_forecast_eval", "stream_changepoint")
    val started = new AtomicInteger()
    // onQueryStarted runs synchronously inside start(), so the count is
    // complete as soon as the last twin is built
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    Artifacts.clear()
    spark.streams.addListener(listener)
    try twins.foreach(t => assert(SparkEntry.queries(t)(spark, sf).count() > 0, t))
    finally spark.streams.removeListener(listener)
    assert(started.get == 1)
  }
}
