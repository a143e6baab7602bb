package graft

import java.nio.file.{Files, Paths}

/** Amortized-index ANN benchmark (VERDICT r3 item 5): separates the
  * INDEX BUILD cost (LSH bucket column + IVF centroids/assignment +
  * PQ codebook/code column — at 100 TB these are stored columns
  * written once per corpus) from
  * the MARGINAL per-query search cost against the built index. The
  * scaling curve (ScaleBench) charges every query its full standalone
  * cost including bucketing; this main measures the number a platform
  * user actually asks for — "the index exists; what does a query
  * cost?" — at 1× and `SPARK_GRAFT_SCALE`× corpus size.
  *
  * Build = force-materializing the [[graft.queries.Artifacts]] index
  * frames ([[graft.queries.SimilarityQueries.buildAnnIndexes]]);
  * marginal = a full search query run with those artifacts warm (the
  * probe join + scoring + top-k, no bucketing/assignment recompute).
  *
  * Output: one JSON line on stdout,
  * `{"factor":N,"rows":{"x1":{"build":s,"lsh":s,"ivf":s},
  * "x<factor>":{...}},"sf":dir}`; human-readable table on stderr.
  * Recorded in BENCH_NOTES.md.
  */
object IndexBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = Harness.session(Harness.cpus(32))

    // only embedding-derived artifacts are measured — don't pay the
    // factor-way documents/events rewrites
    val scaled = ScaleBench.buildScaledDir(spark, sfDir, factor,
      Ephemeral.dataDir("graft-scale-"), Set("embeddings"))

    // Warm the session (scheduler, codegen, decimal path) AND the two
    // measured query shapes — otherwise the first measured row absorbs
    // their one-time whole-stage-codegen/JIT cost and the 1× marginal
    // reads slower than the 10× one.
    try {
      Harness.noop(SparkEntry.entry(spark))
      Seq("ann_topk_lsh_fast", "ann_topk_ivf_fast", "ann_topk_pq")
        .foreach(Harness.runOnce(spark, _, sfDir))
    } catch { case _: Throwable => () }

    def run(name: String, dir: String): Double = Harness.runOnce(spark, name, dir)

    val rows = Seq("x1" -> sfDir, s"x$factor" -> scaled.toString).map {
      case (tag, dir) =>
        queries.Artifacts.clear()
        spark.catalog.clearCache()
        val tBuild = Harness.seconds(queries.SimilarityQueries.buildAnnIndexes(spark, dir))
        // marginal searches against the warm index artifacts
        val tLsh = run("ann_topk_lsh_fast", dir)
        val tIvf = run("ann_topk_ivf_fast", dir)
        val tPq = run("ann_topk_pq", dir)
        // semantic dedup against the warm TRAINED index: the first run
        // pays the kmeans_train + assignment build, the second only the
        // within-cluster pair pass — the per-ingest-cycle marginal
        val tSemBuild = run("dedup_semantic_fast", dir)
        val tSem = run("dedup_semantic_fast", dir)
        // incremental maintenance split: base-index build (train +
        // assign the 80% base) vs the marginal APPEND (assign the 20%
        // batch against frozen centroids + union) vs a search against
        // the appended index — the daily-ingest numbers a vector-store
        // user asks for. At 100 TB the append is |batch| projections;
        // it must stay far under the build.
        val tAppendBuild = Harness.seconds(
          Harness.noop(queries.SimilarityQueries.appendBaseAssigned(spark, dir)))
        val tAppend = Harness.seconds(
          Harness.noop(queries.SimilarityQueries.appendedAssigned(spark, dir)))
        val tAppendSearch = run("ann_index_append", dir)
        System.err.println(
          f"[index] $tag%-4s build ${tBuild}%6.2f s   lsh_fast ${tLsh}%6.2f s   ivf_fast ${tIvf}%6.2f s   pq ${tPq}%6.2f s   sem_build ${tSemBuild}%6.2f s   sem_marginal ${tSem}%6.2f s   append_build ${tAppendBuild}%6.2f s   append ${tAppend}%6.2f s   append_search ${tAppendSearch}%6.2f s")
        (tag, tBuild, tLsh, tIvf, tPq, tSemBuild, tSem, tAppendBuild, tAppend,
          tAppendSearch)
    }

    val js = rows.map { case (tag, b, l, i, p, sb, sm, ab, ap, as) =>
      f""""$tag":{"build":$b%.3f,"lsh":$l%.3f,"ivf":$i%.3f,"pq":$p%.3f,"sem_build":$sb%.3f,"sem_marginal":$sm%.3f,"append_build":$ab%.3f,"append":$ap%.3f,"append_search":$as%.3f}"""
    }.mkString("{", ",", "}")
    val line = s"""{"factor":$factor,"rows":$js,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("index_bench.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
