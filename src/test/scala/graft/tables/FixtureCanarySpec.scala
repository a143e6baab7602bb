package graft.tables

import org.apache.spark.sql.types._
import graft.SparkSpec

/** Fixture-drift canary (VERDICT r8 item 5). The driver regenerates
  * `/root/testdata` between rounds and has already changed
  * `events.parquet`'s `ts` physical type once (TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS), round 8 — which silently killed 58 queries at
  * analysis time). This suite pins the engine's expectations against
  * the LOADED fixture schemas with failure messages that name the
  * fixture file, so the next regeneration shows up as exactly one red
  * spec with an obvious cause instead of a round of lost correctness
  * signal.
  *
  * If a test here fails: the fixture changed shape. Fix the adaptive
  * loaders ([[Tables.tsMsExpr]] et al.), then update the expectation
  * here.
  */
class FixtureCanarySpec extends SparkSpec {

  private def hint(table: String) =
    s"FIXTURE DRIFT in /root/testdata/*/$table.parquet — the driver regenerated " +
      "the testdata with a different shape; adapt graft.tables.Tables and update this canary"

  test("events.parquet: raw ts type is one the adaptive loader handles") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsType = raw.schema("ts").dataType
    assert(
      tsType == LongType || tsType.isInstanceOf[TimestampType] ||
        tsType.isInstanceOf[TimestampNTZType],
      s"events.ts loaded as $tsType — ${hint("events")}")
    assert(raw.columns.toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"events columns ${raw.columns.mkString(",")} — ${hint("events")}")
  }

  test("events loader normalizes to (ts_ms BIGINT, ts ms-TIMESTAMP) with sane epochs") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_ms").dataType == LongType, hint("events"))
    assert(ev.schema("ts").dataType.isInstanceOf[TimestampType], hint("events"))
    val r = ev.selectExpr("min(ts_ms)", "max(ts_ms)", "count(*)").head()
    val (lo, hi, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 0, s"events is empty — ${hint("events")}")
    // epoch-ms plausibility window (2000-01-01 .. 2100-01-01): catches a
    // loader that mis-scales by 1000× (sec- or µs-as-ms) on regeneration.
    assert(lo > 946684800000L && hi < 4102444800000L,
      s"events ts_ms range [$lo,$hi] outside plausible epoch-ms — wrong time unit? ${hint("events")}")
  }

  test("documents.parquet shape") {
    val d = Tables.documents(spark, sf)
    assert(d.columns.toSet == Set("doc_id", "text", "lang", "source", "n_chars"),
      s"documents columns ${d.columns.mkString(",")} — ${hint("documents")}")
    assert(d.schema("doc_id").dataType == LongType &&
      d.schema("text").dataType == StringType, hint("documents"))
  }

  test("embeddings.parquet shape") {
    val e = Tables.embeddings(spark, sf)
    assert(e.columns.toSet == Set("vec_id", "embedding", "label"),
      s"embeddings columns ${e.columns.mkString(",")} — ${hint("embeddings")}")
    assert(e.schema("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
      e.schema("embedding").dataType == ArrayType(FloatType, containsNull = false),
      s"embedding type ${e.schema("embedding").dataType} — ${hint("embeddings")}")
  }

  test("sql views decouple from a broken table: q_sql_* never loads events") {
    // The r8 blast radius: eager registerViews loaded events for SQL
    // queries that never read it. Pin the fix — registering only the
    // lineitem view must not touch the events fixture at all.
    graft.queries.SqlQueries.registerViews(spark, sf, Some(Set("lineitem")))
    assert(spark.catalog.tableExists("lineitem"))
  }
}
