package graft.tables

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-format SOURCE coverage: the fixture `documents` table
  * re-materialized once per (session, dir, format) as CSV / JSON
  * lines / ORC and read back through the corresponding Spark reader
  * with an EXPLICIT schema (never inferred — inference is a full
  * extra pass at 100 TB and nondeterministic under sampling).
  *
  * The format queries aggregate the read-back frame against the
  * DuckDB oracle computed on the ORIGINAL parquet — so the
  * write→read round trip itself is inside the checked path: a
  * quoting/escaping/encoding bug in either direction breaks the
  * hash match. Temp dirs are JVM-lifetime (same convention as the
  * streaming split-source dirs).
  */
object FormatSources {

  // keyed by (dir, fmt) like the streaming split memo: the
  // materialized data depends only on those, so suites/sessions share
  // one copy and no stopped SparkSession is pinned by the map
  private val cache =
    scala.collection.mutable.HashMap[(String, String), Path]()

  private def materialized(s: SparkSession, dir: String, fmt: String): Path =
    cache.synchronized {
      cache.getOrElseUpdate((dir, fmt), {
        val out = graft.Ephemeral.dataDir(s"graft-docs-$fmt-")
        val w = Tables.documents(s, dir).write.mode("overwrite")
        fmt match {
          // header + explicit quoting: text contains spaces (and the
          // redaction fixtures contain commas downstream) — quote-all
          // keeps the file parseable by any standards-compliant reader
          case "csv" => w.option("header", "true").option("quoteAll", "true")
            .csv(out.toString)
          case "json" => w.json(out.toString)
          case "orc" => w.orc(out.toString)
        }
        out
      })
    }

  /** `documents` read back through the `fmt` reader. */
  def documentsVia(s: SparkSession, dir: String, fmt: String): DataFrame = {
    val p = materialized(s, dir, fmt).toString
    val docSchema = Tables.documents(s, dir).schema
    fmt match {
      case "csv" => s.read.schema(docSchema).option("header", "true").csv(p)
      case "json" => s.read.schema(docSchema).json(p)
      case "orc" => s.read.schema(docSchema).orc(p)
    }
  }
}
