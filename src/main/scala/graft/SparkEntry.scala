package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (queries, oracleSql) pair:
  *   - identical output column names on both sides (driver sorts
  *     columns by name before hashing);
  *   - timestamps surfaced as epoch-ms BIGINT (`*_ms`) — sidesteps
  *     parquet ns/us/ms representation differences between engines;
  *   - money/double sums routed through DECIMAL(18,4) and cast back to
  *     double — exact, associative, order-insensitive, so Spark's
  *     partial-aggregate plans hash-match DuckDB bit-for-bit;
  *   - integer-valued derived columns cast to BIGINT on both sides
  *     (DuckDB sums of integers widen to HUGEINT otherwise);
  *   - transcendental outputs rounded to 6 dp (libm vs JDK 1-ulp);
  *   - top-k always ordered with a unique-key tiebreak.
  */
object SparkEntry {

  /** Flagship: the dashboard query (SURVEY.md §3.3) — event-time 1 s
    * windowed count for the pressure series; every window holds
    * exactly 10 events (the reference's golden invariant,
    * /root/reference/README.md:41-49).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("sensor_window_count")(spark, "/root/testdata/sf0.001")
      .filter(col("key") === "pressure")
      .orderBy(col("window_end_ms"))

  /** One entry per implemented operator from SURVEY.md §2 (+ §2.9
    * extensions), grouped by domain. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    SensorQueries.queries ++
    RelationalQueries.queries ++
    EventQueries.queries ++
    TextQueries.queries ++
    DedupQueries.queries ++
    SimilarityQueries.queries ++
    StreamingQueries.queries ++
    MultimodalQueries.queries ++
    SqlQueries.queries ++
    StatTestQueries.queries

  /** DuckDB-equivalent SQL for every oracle-checkable query. */
  lazy val oracleSql: Map[String, String] =
    SensorQueries.oracleSql ++
    RelationalQueries.oracleSql ++
    EventQueries.oracleSql ++
    TextQueries.oracleSql ++
    DedupQueries.oracleSql ++
    SimilarityQueries.oracleSql ++
    StreamingQueries.oracleSql ++
    MultimodalQueries.oracleSql ++
    SqlQueries.oracleSql ++
    StatTestQueries.oracleSql
}
