package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The real row-level SQL surface (`MERGE INTO` / `UPDATE` / `DELETE`)
  * against [[graft.sources.MemRowLevelCatalog]]: the oracle pins
  * `q_sql_merge`'s exact values; this pins (1) the row-for-row
  * identity with the composed semi/anti-join twin `cdc_scd2`, (2) that
  * the statement really compiles to the group-based row-level plan
  * (ReplaceData + MergeRows — not some fallback), and (3) that UPDATE
  * and DELETE ride the same connector correctly.
  */
class MergeIntoSpec extends SparkSpec {

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.MemRowLevelCatalog].getName)

  private def freshTable(name: String): String = {
    ensureCatalog()
    graft.sources.MemTableStore.create(s"spec.$name",
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v DOUBLE"))
    val tbl = s"graft_mem.spec.$name"
    spark.range(6).select(col("id").as("k"), (col("id") * lit(2.5)).as("v"))
      .writeTo(tbl).append()
    tbl
  }

  test("q_sql_merge ≡ cdc_scd2 row-for-row") {
    val merged = graft.SparkEntry.queries("q_sql_merge")(spark, sf)
      .collect().map(_.toString).sorted
    val composed = graft.SparkEntry.queries("cdc_scd2")(spark, sf)
      .collect().map(_.toString).sorted
    assert(merged.nonEmpty && (merged sameElements composed))
  }

  test("MERGE compiles to the group-based row-level plan (ReplaceData + MergeRows)") {
    val tbl = freshTable("plan")
    spark.range(3).select(col("id").as("k"), lit(9.0).as("v"))
      .createOrReplaceTempView("merge_spec_src")
    val plan = spark.sql(
      s"""EXPLAIN EXTENDED MERGE INTO $tbl t USING merge_spec_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      .head().getString(0)
    assert(plan.contains("ReplaceData"), plan.take(2000))
    assert(plan.contains("MergeRows"), plan.take(2000))
  }

  test("UPDATE rides the row-level connector") {
    val tbl = freshTable("upd")
    spark.sql(s"UPDATE $tbl SET v = v + 100.0 WHERE k % 2 = 0")
    val got = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(0L -> 100.0, 1L -> 2.5, 2L -> 105.0, 3L -> 7.5,
                      4L -> 110.0, 5L -> 12.5))
  }

  test("DELETE rides the row-level connector") {
    val tbl = freshTable("del")
    spark.sql(s"DELETE FROM $tbl WHERE k >= 4")
    val got = spark.table(tbl).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("column pruning reaches the mem scan") {
    val tbl = freshTable("prune")
    val df = spark.table(tbl).select("k")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("class graft.sources.MemScan"), scan)
    assert(df.queryExecution.executedPlan.toString.contains("[k#") ||
           df.schema.fieldNames.sameElements(Array("k")))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L to 5L))
  }
}
