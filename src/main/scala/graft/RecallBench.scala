package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CentroidRanks, FloatVectorCosine, VectorOps}
import graft.queries.SimilarityQueries

/** Recall-vs-cost curves for the ANN triad (VERDICT r5 item 6) — the
  * table an index user actually asks for: "how much recall does each
  * probe budget buy, and what does it cost?"
  *
  * Corpus: the AnnRecallSpec clustered generator scaled up (40 tight
  * clusters × 500 members, dim 64 — same-cluster cosine ≈ 0.99, cross
  * ≈ 0), NQ=32 queries, ground truth = exhaustive float-kernel top-10.
  * Swept:
  *   - IVF     — nprobe ∈ {1,2,4,8} over 40 true-cluster centroid lists
  *   - IVFPQ   — the same probed lists scored by ADC over mod-16 PQ
  *               codes (8 bytes/vector) instead of raw floats
  *   - LSH     — multi-probe Hamming radius ∈ {0,1,2} over 256 sign
  *               buckets (1 / 9 / 37 buckets probed)
  * Cost is reported BOTH ways: candidates scored per query (the
  * scale-invariant number — at 100 TB marginal cost ∝ candidates
  * scanned) and wall seconds for the warm search (this harness' scale;
  * scheduling-dominated, shown for shape only).
  *
  * Output: a stderr table + one JSON line (recorded in BENCH_NOTES).
  */
object RecallBench {

  private val Dim = 64
  private val NPlanes = 8
  private val TopK = 10
  private val NClusters = 40
  private val PerCluster = 500
  private val NQ = 32
  private val M = 8   // PQ subspaces
  private val Dsub = 8
  private val K = 16  // PQ codebook entries per subspace

  /** Cluster spread. The AnnRecallSpec generator's 0.05 makes clusters
    * so tight that EVERY true neighbor is a cluster-mate (IVF recall
    * pins at 1.0 from nprobe=1 and intra-cluster variation sits far
    * below PQ cell resolution — ADC has no gradient, and no probe
    * budget changes anything). 1.0 (noise ≈ center magnitude,
    * same-cluster cos ≈ 0.5) keeps the cluster structure the pruned
    * paths exploit while moving some true neighbors across cluster
    * boundaries and giving PQ codes intra-cluster variation — curves
    * with actual shape.
    */
  private val Noise = 1.0

  /** ADC shortlist size for the re-ranked IVFPQ rows. */
  private val Rerank = 50

  /** Deterministic LCG in [-1, 1) — the AnnRecallSpec generator. */
  private def lcg(seed: Long): Iterator[Double] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(s => ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0)

  private def vectors: Seq[(Long, Seq[Float])] =
    (0 until NClusters).flatMap { c =>
      val center = lcg(c * 7919L + 13L).take(Dim).toSeq
      (0 until PerCluster).map { m =>
        val noise = lcg(c * 104729L + m * 31L + 7L).take(Dim).toSeq
        val v = center.zip(noise).map { case (x, n) => (x + Noise * n).toFloat }
        ((c.toLong * PerCluster + m), v)
      }
    }

  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val spark = Harness.session(cpus)
    import spark.implicits._

    val emb = vectors.toDF("vec_id", "embedding").repartition(cpus).cache()
    val n = emb.count()
    val embn = SimilarityQueries.withNorm(emb, "embedding")

    val qdf = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

    // the (q_id, vec_id) pairs of each query's top-TopK by `score`
    def topkPairs(scored: DataFrame, score: String): Array[(Long, Long)] =
      SimilarityQueries.topK(scored, score, "vec_id", TopK, "rank")
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))

    // ground truth: exhaustive float-kernel top-10
    val truth: Map[Long, Set[Long]] = topkPairs(emb.crossJoin(broadcast(qdf))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", FloatVectorCosine.cosineFast(col("q_emb"), col("embedding"))),
        "cos")
      .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).toSet }

    def recallOf(pairs: Array[(Long, Long)]): Double = {
      val got = pairs.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).toSet }
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }

    // ---- IVF index: true-cluster decimal-mean centroids -------------
    val centLong = emb
      .withColumn("list_id", (col("vec_id") / PerCluster).cast("long"))
      .select(col("list_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("list_id"), col("i"))
      .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
            count(lit(1))).as("c"))
    val centArr = SimilarityQueries.centsFrameOf(centLong).cache()
    centArr.count()
    val assigned = SimilarityQueries.assignTo(embn, centArr).cache()
    assigned.count()

    def qprobe(nprobe: Int) = embn.filter(col("vec_id") < NQ)
      .crossJoin(broadcast(centArr))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(slice(CentroidRanks(col("embedding"), col("nrm"), col("cents")),
          1, nprobe)).as("list_id"))

    case class Row2(family: String, probe: Int, cand: Long, sec: Double, recall: Double)

    def measure(family: String, probe: Int)(mk: => DataFrame): Row2 = {
      val joined = mk
      val cand = joined.count()
      topkPairs(joined, "cos") // warm the exact plan (codegen + broadcast)
      val t0 = System.nanoTime()
      val pairs = topkPairs(joined, "cos")
      val sec = (System.nanoTime() - t0) / 1e9
      val r = Row2(family, probe, cand / NQ, sec, recallOf(pairs))
      System.err.println(f"[recall] ${r.family}%-6s probe=${r.probe}%3d  cand/q=${r.cand}%6d (${100.0 * r.cand / n}%5.1f%%)  ${r.sec}%6.2f s  recall@10=${r.recall}%.3f")
      r
    }

    val ivfRows = Seq(1, 2, 4, 8).map { np =>
      measure("ivf", np)(
        assigned.join(broadcast(qprobe(np)), Seq("list_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", FloatVectorCosine.cosineFast(col("q_emb"), col("embedding"))))
    }

    // ---- IVFPQ: same probed lists, ADC over mod-K PQ codes ----------
    // cluster-aligned codebook init (the PqRecallSpec "trained
    // codebook" proxy): a vec_id-mod init would average across ALL
    // clusters and collapse every entry onto the global mean
    val pqArr = SimilarityQueries.pqCentArrOf(
      SimilarityQueries.pqCodebookLongOf(emb, (col("vec_id") / PerCluster).cast("long") % K)).cache()
    pqArr.count()
    val enc = SimilarityQueries.pqEncodedOf(emb, pqArr)
      .join(assigned.select(col("vec_id"), col("list_id")), Seq("vec_id")).cache()
    enc.count()
    val qlut = embn.filter(col("vec_id") < NQ).crossJoin(broadcast(pqArr))
      .select(col("vec_id").as("q_id"),
        flatten(transform(sequence(lit(0), lit(M - 1)), m =>
          transform(element_at(col("cents"), (m + 1).cast("int")), c =>
            VectorOps.dotDecimal(
              slice(col("embedding"), m * Dsub + 1, lit(Dsub)),
              c.getField("centroid")).cast("decimal(18,14)")))).as("lut"))

    val ivfpqRows = Seq(1, 2, 4, 8).map { np =>
      val qpl = qprobe(np).select(col("q_id"), col("list_id")).join(qlut, Seq("q_id"))
      val joined = enc.join(broadcast(qpl), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score",
          aggregate(sequence(lit(0), lit(M - 1)),
            lit(0).cast("decimal(22,14)"),
            (acc, m) => (acc + element_at(col("lut"),
              (m * K + element_at(col("codes"), m + 1) + 1).cast("int")))
              .cast("decimal(22,14)")))
      val cand = joined.count()
      topkPairs(joined, "score")
      val t0 = System.nanoTime()
      val pairs = topkPairs(joined, "score")
      val sec = (System.nanoTime() - t0) / 1e9
      val r = Row2("ivfpq", np, cand / NQ, sec, recallOf(pairs))
      System.err.println(f"[recall] ${r.family}%-6s probe=${r.probe}%3d  cand/q=${r.cand}%6d (${100.0 * r.cand / n}%5.1f%%)  ${r.sec}%6.2f s  recall@10=${r.recall}%.3f")
      r
    }

    // ---- IVFPQ + RERANK: ADC shortlist → exact re-rank --------------
    // the production composition (ann_topk_pq_rerank's shape): the
    // 8-byte codes prune, the raw vectors are touched only for the
    // Rerank-sized shortlist per query
    val ivfpqRrRows = Seq(1, 2, 4, 8).map { np =>
      val qpl = qprobe(np).select(col("q_id"), col("list_id")).join(qlut, Seq("q_id"))
      val adc = enc.join(broadcast(qpl), Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score",
          aggregate(sequence(lit(0), lit(M - 1)),
            lit(0).cast("decimal(22,14)"),
            (acc, m) => (acc + element_at(col("lut"),
              (m * K + element_at(col("codes"), m + 1) + 1).cast("int")))
              .cast("decimal(22,14)")))
      val cand = adc.count()
      def rr = SimilarityQueries.topK(adc, "score", "vec_id", Rerank, "rank")
        .select(col("q_id"), col("vec_id"))
        .join(emb, Seq("vec_id")).join(broadcast(qdf), Seq("q_id"))
        .withColumn("cos", FloatVectorCosine.cosineFast(col("q_emb"), col("embedding")))
      topkPairs(rr, "cos")
      val t0 = System.nanoTime()
      val pairs = topkPairs(rr, "cos")
      val sec = (System.nanoTime() - t0) / 1e9
      val r = Row2("ivfpq_rr", np, cand / NQ, sec, recallOf(pairs))
      System.err.println(f"[recall] ${r.family}%-8s probe=${r.probe}%3d  cand/q=${r.cand}%6d (${100.0 * r.cand / n}%5.1f%%)  ${r.sec}%6.2f s  recall@10=${r.recall}%.3f")
      r
    }

    // ---- LSH: multi-probe Hamming radius over 256 sign buckets ------
    val lshIdx = embn.withColumn("bucket",
      VectorOps.lshBucket(col("embedding"), Dim, NPlanes)).cache()
    lshIdx.count()
    def lshProbes(radius: Int): Seq[org.apache.spark.sql.Column] = {
      val r0 = Seq(col("bucket"))
      val r1 = (0 until NPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
      val r2 = for { a <- 0 until NPlanes; b <- a + 1 until NPlanes }
        yield col("bucket").bitwiseXOR(lit((1L << a) | (1L << b)))
      radius match {
        case 0 => r0
        case 1 => r0 ++ r1
        case _ => r0 ++ r1 ++ r2
      }
    }
    val lshRows = Seq(0, 1, 2).map { radius =>
      val probes = lshProbes(radius)
      measure("lsh", probes.size)(
        lshIdx.join(
          broadcast(lshIdx.filter(col("vec_id") < NQ)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              explode(array(probes: _*)).as("bucket"))),
          Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", FloatVectorCosine.cosineFast(col("q_emb"), col("embedding"))))
    }

    // ---- SQ8: full-scan int8 ADC (no probe knob — the compression
    // point that trades NO candidates for 4× scan reduction; its
    // "curve" is the single full-scan row, placed here so the table
    // shows what pruning buys relative to lossless-ish compression)
    val sqArr = SimilarityQueries.sqArrsOf(emb).cache()
    sqArr.count()
    val sqEnc = SimilarityQueries.sqEncodedOf(emb, sqArr).cache()
    sqEnc.count()
    val sqRows = Seq {
      measure("sq8", 0)(
        sqEnc.crossJoin(broadcast(sqArr)).crossJoin(broadcast(qdf))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("xhat", transform(col("codes"), (c, d) => {
            val i = (d + 1).cast("int")
            val mn = element_at(col("mn_arr"), i)
            val rng = element_at(col("rng_arr"), i)
            when(rng === 0.0, mn)
              .otherwise(mn + (c.cast("double") + lit(0.5)) * rng / lit(255.0))
          }))
          // rank by cosine over the reconstruction (the ground truth's
          // metric; q's own norm is rank-invariant and dropped)
          .withColumn("cos",
            aggregate(sequence(lit(0), lit(Dim - 1)), lit(0.0),
              (acc, d) => {
                val i = (d + 1).cast("int")
                acc + element_at(col("q_emb"), i).cast("double") *
                  element_at(col("xhat"), i)
              }) /
            sqrt(aggregate(col("xhat"), lit(0.0), (acc, x) => acc + x * x))))
    }

    val all = ivfRows ++ ivfpqRows ++ ivfpqRrRows ++ lshRows ++ sqRows
    val js = all.map(r =>
      f"""{"family":"${r.family}","probe":${r.probe},"candPerQuery":${r.cand},"sec":${r.sec}%.3f,"recall":${r.recall}%.4f}""")
      .mkString("[", ",", "]")
    val line = s"""{"n":$n,"nq":$NQ,"topk":$TopK,"rows":$js}"""
    Files.writeString(Paths.get("recall_bench.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
