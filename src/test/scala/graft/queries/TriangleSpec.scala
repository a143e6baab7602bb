package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Independent check of the degree-ordered triangle count: a naive
  * three-way join over the id-ordered edge list (a<b<c) must agree —
  * the compact-forward orientation is an optimization, not a
  * semantics change.
  */
class TriangleSpec extends SparkSpec {

  test("compact-forward count equals the naive a<b<c triple join") {
    val row = DedupQueries.queries("graph_triangles")(spark, sf).collect().head
    val fast = row.getAs[Long]("n_triangles")

    // reconstruct the star edges independently from the public band
    // table (dedup_lsh_pairs would not do: it jaccard-filters)
    val bands = DedupQueries.queries("dedup_minhash_bands")(spark, sf)
    val reps = bands.groupBy(col("band"), col("band_hash"))
      .agg(min(col("doc_id")).as("rep"))
    val edges = bands.join(reps, Seq("band", "band_hash"))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("x"), col("doc_id").as("y")).distinct()
    val naive = edges.select(col("x").as("a"), col("y").as("b"))
      .join(edges.select(col("x").as("b"), col("y").as("c")), Seq("b"))
      .join(edges.select(col("x").as("a"), col("y").as("c")), Seq("a", "c"))
      .count()

    assert(fast > 0)
    assert(fast === naive, s"compact-forward $fast vs naive $naive")
    // consistency of the derived stats
    assert(row.getAs[Long]("n_triangles") * 3 <= row.getAs[Long]("n_wedges") ||
           row.getAs[Long]("clustering_ppm") <= 1000000L)
  }

  test("a graph query built after graph_triangles in the same session reads no cache of it") {
    spark.catalog.clearCache()
    assert(DedupQueries.queries("graph_triangles")(spark, sf).collect().nonEmpty)
    // no clearCache in between: a degree table graph_triangles left in
    // the catalog cache would replace this query's own degree count
    val next = DedupQueries.queries("graph_assortativity")(spark, sf)
    val plan = next.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"), plan)
    assert(next.collect().nonEmpty)
  }
}
