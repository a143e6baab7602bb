package graft.streaming

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}

/** Parity twin of the reference's only connector, `InfluxDBSink`
  * (/root/reference/src/main/java/com/ververica/sinks/InfluxDBSink.java:31-77):
  * a `RichSinkFunction` writing points as InfluxDB line protocol —
  * measurement from the ctor, field `value`, tag `key` for keyed
  * points, millisecond timestamps, batched 2000 points / 100 ms.
  *
  * The HTTP transport is the deployment-specific piece (this container
  * has no InfluxDB); `emit` marks the drop-in point and the default
  * implementation appends to a local file so the full line-protocol
  * encoding and lifecycle (open/batch/flush/close per partition) is
  * real and testable. Each partition gets its own writer — the sink
  * scales with the executor count like any ForeachWriter.
  */
class LineProtocolWriter(measurement: String, outDir: String,
                         batchSize: Int = 2000)
    extends ForeachWriter[Row] {

  @transient private var writer: BufferedWriter = _
  @transient private var buffered: Int = 0

  /** key,ts_ms,value row → line protocol with ms precision:
    * `sensors,key=temp value=0.3 1704067200000`
    * (tag omitted for unkeyed points ≙ DataPoint vs KeyedDataPoint,
    * InfluxDBSink.java:62-71).
    */
  def format(row: Row): String = {
    val tag = row.schema.fieldNames.indexOf("key") match {
      case -1 => ""
      case i if row.isNullAt(i) => ""
      case i => s",key=${row.getString(i)}"
    }
    val ts = row.getLong(row.schema.fieldNames.indexOf("ts_ms"))
    val v = row.getDouble(row.schema.fieldNames.indexOf("value"))
    s"$measurement$tag value=$v $ts"
  }

  override def open(partitionId: Long, epochId: Long): Boolean = {
    Files.createDirectories(Paths.get(outDir))
    writer = new BufferedWriter(new FileWriter(
      s"$outDir/$measurement-$partitionId-$epochId.lp", true))
    buffered = 0
    true
  }

  override def process(row: Row): Unit = {
    emit(format(row))
    buffered += 1
    if (buffered >= batchSize) { writer.flush(); buffered = 0 }
  }

  /** The transport drop-in point: a real deployment POSTs the batch to
    * `/write?db=sineWave&precision=ms` here.
    */
  protected def emit(line: String): Unit = {
    writer.write(line)
    writer.newLine()
  }

  override def close(errorOrNull: Throwable): Unit =
    if (writer != null) { writer.flush(); writer.close() }
}

/** The real transport ≙ InfluxDBSink.java:48,73: per-partition batches
  * POSTed to `<endpoint>/write?db=<db>&precision=ms` as newline-joined
  * line protocol (the influxdb-java batch wire format). Batches flush
  * at `batchSize` points (reference: 2000) and on close; a non-2xx
  * response fails the task, so streaming retries give at-least-once
  * delivery — the same guarantee the reference's async batch client
  * provides. Uses only `java.net.HttpURLConnection` (no extra deps);
  * `LineProtocolSinkSpec` exercises it against an in-process JDK
  * HttpServer.
  */
class HttpLineProtocolWriter(measurement: String, endpoint: String,
                             db: String = "sineWave", batchSize: Int = 2000)
    extends LineProtocolWriter(measurement, "", batchSize) {

  @transient private var batch: java.util.ArrayList[String] = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    batch = new java.util.ArrayList[String]()
    true
  }

  override def process(row: Row): Unit = {
    batch.add(format(row))
    if (batch.size >= batchSize) flush()
  }

  private def flush(): Unit = {
    if (batch.isEmpty) return
    val dbEnc = java.net.URLEncoder.encode(db, "UTF-8")
    val url = new java.net.URI(
      s"$endpoint/write?db=$dbEnc&precision=ms").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      // A hung endpoint must fail the task (at-least-once via streaming
      // retry), not block it forever.
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "text/plain; charset=utf-8")
      val body = (String.join("\n", batch) + "\n").getBytes("UTF-8")
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      try { os.write(body) } finally os.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300) {
        // Drain + close the error body so the connection is released
        // before the task fails (keep-alive pooling otherwise leaks it).
        val es = conn.getErrorStream
        if (es != null) {
          try { while (es.read() != -1) () } finally es.close()
        }
        throw new java.io.IOException(s"line-protocol POST failed: HTTP $code")
      }
      conn.getInputStream.close()
      batch.clear()
    } finally conn.disconnect()
  }

  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null && batch != null) flush()
}

object LineProtocolSink {
  /** Attach the sink to a points stream (columns key, ts_ms, value) ≙
    * `.addSink(new InfluxDBSink<>("sensors"))`.
    */
  def write(points: DataFrame, measurement: String, outDir: String,
            checkpointDir: String) =
    points.selectExpr("key", "ts_ms", "value")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreach(new LineProtocolWriter(measurement, outDir))
      .start()
}
