package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_status.json (`{name: error}` for every query that failed) so
  * a missing dump reports its cause. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (builder-side iteration only; the driver always
    // passes exactly two): comma-separated query names to dump. The
    // oracle_sql.json of such a run holds only those queries, so
    // check_oracle.py checks exactly the subset.
    val only = Harness.only(args.lift(2), SparkEntry.queries.keySet)
    val spark = Harness.session(Harness.cpus(4))
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      // progress marker (stderr, driver-ignored): lets local tooling
      // attribute interleaved Spark warnings to the emitting query
      System.err.println(s"[verify] running $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      } finally {
        // drop persist()-ed frames before the next query
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }))
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), json(failed))
    spark.stop()
  }
}
