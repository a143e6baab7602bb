package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ≙ the reference's ChangeBackend state read/print path
  * (SURVEY.md §3.2): run a checkpointed windowed aggregation, then
  * read its keyed state offline with the statestore/state-metadata
  * data sources and reconcile with the live results.
  */
class StateInspectSpec extends SparkSpec {

  test("statestore read exposes the windowed aggregation's keyed state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val ckpt = Files.createTempDirectory("inspect-").toString
    val agg = input.toDF().toDF("key", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("key"), window(col("ts"), "1 second"))
      .count()
    val q = agg.writeStream.outputMode("append")
      .queryName("inspect_out").option("checkpointLocation", ckpt)
      .format("memory").start()
    val t0 = 1704067200000L
    input.addData((0 until 30).map(i =>
      ("k" + (i % 2), new java.sql.Timestamp(t0 + i * 100L))))
    q.processAllAvailable()
    q.stop()

    // metadata names the stateful operator
    val meta = StateInspect.stateMetadata(spark, ckpt)
    assert(meta.count() >= 1)
    val opName = meta.select("operatorName").collect()(0).getString(0)
    assert(opName == "stateStoreSave") // streaming-agg state operator

    // keyed state: open windows not yet emitted (the 3.0 s window —
    // watermark stopped at 2.9 s) remain, counts intact
    val state = StateInspect.keyedState(spark, ckpt)
    val remaining = state
      .select(col("key.key").as("k"),
              unix_millis(col("key.window.start")).as("ws"),
              col("value.count").cast("long").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(remaining == Set(("k0", t0 + 2000, 5L), ("k1", t0 + 2000, 5L)))

    // committed source offsets readable ≙ the checkpointed virtual clock
    val offsets = StateInspect.sourceOffsets(spark, ckpt)
    assert(offsets.count() >= 1)
  }

  test("GraftExtensions exposes the native function registrations") {
    val byName = graft.GraftExtensions.functions
      .map { case (ident, _, builder) => ident.funcName -> builder }.toMap
    assert(byName.keySet == Set("vec_cosine", "vec_dot_decimal", "simhash32",
      "minhash_sig", "shingle_hashes", "centroid_ranks", "pq_encode",
      "jaro_winkler", "nfc_normalize"))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val vec = Literal.create(Seq(1f, 0f), ArrayType(FloatType))
    val cos = byName("vec_cosine")(Seq(vec, vec))
    assert(math.abs(cos.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
    val dot = byName("vec_dot_decimal")(Seq(vec, vec))
    assert(dot.eval(null).asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble == 1.0)
    val sh = byName("simhash32")(Seq(Literal.create(Seq(5L), ArrayType(LongType))))
    assert(sh.eval(null).asInstanceOf[Long] == 5L)
  }
}
