package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.operators.Graph
import graft.tables.Tables
import StatTestQueries.tieSafe

/** Similarity-search extension operators over `embeddings`
  * (SURVEY.md §2.9): brute-force cosine top-k (the correctness
  * baseline), sign-random-projection LSH bucketing (the 100 TB ANN
  * path: bucket once, then search within buckets), and exact-decimal
  * label centroids with per-vector centroid similarity.
  *
  * Scale design: the query side of the top-k is tiny and broadcast —
  * the corpus streams through one narrow stage, so the plan is
  * BroadcastNestedLoopJoin → partial TopK per partition → final TopK;
  * no corpus shuffle. LSH bucketing is a pure projection.
  *
  * The search chain: every vector search here is built from the same
  * three parts, each defined once.
  *  - The query side, [[querySide]]: `q_id`, `q_emb` and `q_nrm` (the
  *    exact norm from [[withNorm]]); [[probeSide]] adds one `list_id`
  *    row per probed IVF list.
  *  - The score: [[exactCos]], the decimal-exact dot product over the
  *    two norms ([[queryCos]] for a query-side × candidate pair), or
  *    the fused float `cosineFast`.
  *  - The cut, [[topK]]: per `q_id`, `row_number()` ordered by score
  *    desc then id asc, kept where ≤ k, the rank cast to long. It is
  *    the clause every search oracle spells
  *    `CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC,
  *    vec_id) AS BIGINT) AS rank … WHERE rank <= k`, so equal scores
  *    rank by the smaller id on both engines.
  */
object SimilarityQueries {

  private val Dim = 64
  private val TopK = 5
  private val NQueries = 8

  /** Prefix truncations evaluated by `emb_matryoshka_recall` against
    * the 64-dim truth.
    */
  private[graft] val MatryoshkaDims = Seq(8, 16, 32)
  private val NPlanes = 8
  private val NProbe = 2
  private val NearDupCos = 0.2

  /** Semi-hard mining margin for `pipeline_hard_negatives`: a negative
    * qualifies when pmax − margin < cos < pmax (FaceNet's semi-hard
    * band, in cosine terms). 0.2 matches the fixture's near-
    * unstructured cosine spread (top-neighbor ≈ 0.3–0.5); a production
    * run on real embeddings narrows it.
    */
  private[graft] val HardNegMargin = 0.2

  /** Core threshold for `dedup_dbscan`: ≥ this many ε-neighbors makes
    * a point core.
    */
  private[graft] val DbscanMinPts = 2

  /** The DBSCAN taxonomy from an undirected ε-neighbor pair frame
    * (`va < vb`) — shared by the exact (brute pairs) and scaled
    * (LSH-bucketed pairs) variants: degree count → core (≥
    * [[DbscanMinPts]]) → [[graft.operators.ConnectedComponents]] over
    * the core–core subgraph → border = non-core adjacent to a core,
    * attached to its min-labeled core neighbor → the rest is noise.
    */
  private def dbscanFrom(nbrIn: org.apache.spark.sql.DataFrame,
                         verts: org.apache.spark.sql.DataFrame) = {
    val nbr = nbrIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val core = Graph.degrees(
        Graph.mirror(nbr.select(col("va").as("a"), col("vb").as("b"))))
      .filter(col("deg") >= DbscanMinPts).select(col("src").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coreEdges = nbr
      .join(core.select(col("v").as("va")), "va")
      .join(core.select(col("v").as("vb")), "vb")
      .select(col("va").as("a"), col("vb").as("b"))
    val cc = graft.operators.ConnectedComponents.labels(
      core.select(col("v")), coreEdges)
    val coreOut = cc.select(col("v").as("vec_id"), lit("core").as("role"),
      col("lbl").as("cluster_id"))
    val borderCand = nbr
      .join(core.select(col("v").as("va"), lit(1).as("ca")), Seq("va"), "left")
      .join(core.select(col("v").as("vb"), lit(1).as("cb")), Seq("vb"), "left")
    // non-core endpoint adjacent to a core endpoint → border
    val border = borderCand.filter(col("ca").isNull && col("cb").isNotNull)
        .select(col("va").as("vec_id"), col("vb").as("cv"))
      .unionAll(borderCand.filter(col("cb").isNull && col("ca").isNotNull)
        .select(col("vb").as("vec_id"), col("va").as("cv")))
      .join(cc.select(col("v").as("cv"), col("lbl")), "cv")
      .groupBy(col("vec_id"))
      .agg(min(col("lbl")).as("cluster_id"))
      .select(col("vec_id"), lit("border").as("role"), col("cluster_id"))
    val labeled = coreOut.unionByName(border)
    verts
      .join(labeled, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"))
  }

  /** ε for `dedup_dbscan` in cosine terms — deliberately TIGHTER than
    * [[NearDupCos]]: at 0.2 the fixture's neighbor graph is dense
    * enough that every point is core (no taxonomy to test); at 0.35
    * the fixture splits ~29% core / ~33% degree-1 / ~38% isolated, so
    * all three DBSCAN roles are live.
    */
  private[graft] val DbscanCos = 0.35

  /** Certainty margin for the float pre-screen in front of a
    * decimal-exact ≥-threshold cosine decision: the fused
    * [[graft.functions.FloatVectorCosine]] kernel accumulates in
    * DOUBLE over the same float inputs as the exact decimal route, so
    * their divergence is bounded by 64-term double-summation rounding
    * (≲1e-13; FloatGapSpec measures ≲1e-9 over every fixture pair and
    * pins it an order below this). A pair with float cosine outside
    * [τ − margin, τ + margin] is decided by the float value alone;
    * only the sliver inside the band pays the decimal dot — the
    * VERDICT r12 cost fix for the all-pairs `dedup_dbscan` anchor,
    * sound for the same reason SemanticGapSpec justifies
    * `dedup_semantic_fast`.
    */
  private[graft] val FloatCosMargin = 1e-6

  /** The pre-screened exact threshold decision: true iff the
    * decimal-exact cosine ≥ `tau`, with the decimal dot evaluated
    * ONLY inside the float band (Spark's `or`/`and` short-circuit in
    * both codegen and interpreted eval, and the band filter runs
    * first). Decision-identical to the bare decimal comparison by the
    * [[FloatCosMargin]] bound.
    */
  private def exactCosAtLeast(ea: Column, eb: Column,
                              na: Column, nb: Column, tau: Double): Column = {
    val cf = graft.functions.FloatVectorCosine.cosineFast(ea, eb)
    (cf >= lit(tau - FloatCosMargin)) &&
      ((cf >= lit(tau + FloatCosMargin)) || exactCos(ea, eb, na, nb) >= lit(tau))
  }

  // ---- the search chain (see the object doc) ----

  /** `df` with the exact L2 norm of its `emb` array as `nrm`. */
  private[graft] def withNorm(df: DataFrame, emb: String): DataFrame =
    df.withColumn("nrm", sqrt(VectorOps.normSqDecimal(col(emb)).cast("double")))

  /** The query side of a search over `df` (`vec_id`, `emb`, `nrm`):
    * `q_id`, `q_emb`, `q_nrm`, then `extra`.
    */
  private def querySide(df: DataFrame, emb: String, extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as("q_id"), col(emb).as("q_emb"),
      col("nrm").as("q_nrm")) ++ extra: _*)

  /** The IVF query side: [[querySide]] once per probed list `list_id`,
    * the [[NProbe]] nearest centroids of the one-row `centArr`.
    */
  private def probeSide(df: DataFrame, centArr: DataFrame): DataFrame =
    querySide(df.crossJoin(broadcast(centArr)), "embedding",
      explode(slice(rankedListIds(col("embedding"), col("nrm")), 1, NProbe))
        .as("list_id"))

  /** The exact cosine: decimal-exact dot product, double division by
    * the precomputed norms (engine-identical bits; the fused float
    * route is [[graft.functions.FloatVectorCosine.cosineFast]]).
    */
  private[graft] def exactCos(a: Column, b: Column, na: Column, nb: Column): Column =
    VectorOps.dotDecimal(a, b).cast("double") / (na * nb)

  /** [[exactCos]] of a query-side row against its candidate's `emb`. */
  private def queryCos(emb: String): Column =
    exactCos(col("q_emb"), col(emb), col("q_nrm"), col("nrm"))

  /** The top-K cut: per `q_id`, the `k` rows of highest `score`, equal
    * scores to the smaller `id`, numbered 1..k in a long `rank`
    * column. A query with fewer than `k` candidates keeps them all.
    * The `rank ≤ k` filter over `row_number()` plans as a map-side
    * WindowGroupLimit.
    */
  private[graft] def topK(df: DataFrame, score: String, id: String, k: Int,
                          rank: String): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col(score).desc, col(id))))
      .filter(col(rank) <= k)
      .withColumn(rank, col(rank).cast("long"))

  /** Shortlist depth `search_mmr` re-ranks (the pq_rerank operating
    * point: a 20-candidate exact shortlist feeding a TopK selection).
    */
  private val MmrShortlist = 20

  /** χ²_{0.99, dof = Dim = 64} — `emb_ood_mahalanobis`'s alarm
    * threshold (md² under in-distribution Gaussianity is χ²(Dim)).
    * One shared literal so both engines compare identically.
    */
  private[graft] val MahalCrit: Double = 93.216622

  /** Margin for `emb_triplet_eval`'s violation test — the standard
    * contrastive-loss margin; violations compare on the shared
    * 9-dp-quantized cosines so the boundary is bit-identical.
    */
  private[graft] val TripletMargin: Double = 0.1

  /** Per-modality shortlist depth for `search_hybrid_rrf` — the
    * standard RRF operating point (fuse two top-20s to a top-5).
    * private[graft]: HybridRrfSpec asserts the fusion law against it.
    */
  private[graft] val HybridShortlist = 20

  /** Semantic-dup threshold for `dedup_semantic` — same operating point
    * as the LSH-bucketed near-dup pairs (the fixture embeddings are
    * near-unstructured, top-neighbor cosine ≈ 0.3–0.5; a production
    * SemDeDup runs ~0.9+ on real embeddings — the knob, not the shape).
    */
  private[graft] val SemDedupCos = 0.2

  val queries: Map[String, Q] = Map(

    // SEMI-HARD NEGATIVE MINING — the contrastive-training data step
    // every retrieval/embedding trainer runs (FaceNet/DPR): for each
    // anchor query, find candidates of a DIFFERENT label that score
    // below the hardest positive but within a margin of it — close
    // enough to be informative, not so close they are label noise.
    // Shape: one cosine pass over (anchor × corpus) pairs (persisted —
    // the per-anchor positive max and the negative filter both read
    // it), an 8-row positive-stat agg broadcast back, then a
    // per-anchor rank whose `rank ≤ k` filter becomes a
    // WindowGroupLimit. At 100 TB the pair generator swaps for the
    // trained-IVF probe shortlist (`ann_topk_ivf_trained`) — mining
    // only needs candidates already near the anchor; the margin logic
    // is unchanged. Exactness: cosines are decimal-exact reductions;
    // the margin comparisons are single IEEE ops on identical doubles.
    "pipeline_hard_negatives" -> ((s, dir) => {
      val emb = embWithNorm(s, dir)
      val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding",
        col("label").as("q_label"))
      val pairs = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", queryCos("embedding"))
        .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
                col("cos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pmax = pairs
        .groupBy(col("q_id"))
        .agg(max(when(col("label") === col("q_label"), col("cos"))).as("pmax"))
        .filter(col("pmax").isNotNull)
      topK(pairs.join(broadcast(pmax), "q_id")
          .filter(col("label") =!= col("q_label") &&
                  col("cos") < col("pmax") &&
                  col("cos") > col("pmax") - lit(HardNegMargin)),
          "cos", "vec_id", TopK, "neg_rank")
        .select(col("q_id"), col("neg_rank"),
                col("vec_id"), round(col("cos"), 6).as("cos_r"),
                round(col("pmax"), 6).as("pmax_r"))
    }),

    // DBSCAN OVER EMBEDDINGS — density clustering with the standard
    // core/border/noise taxonomy (the semantic-dedup complement: find
    // DENSE regions, not just pairwise dups). ε-neighborhood = cosine
    // ≥ NearDupCos; core = ≥ DbscanMinPts neighbors; clusters =
    // connected components over core–core edges (the exact DBSCAN
    // equivalence); border points attach to their min-labeled core
    // neighbor; the rest is noise (cluster −1). Shape: the pair pass
    // is the `dedup_embedding_pairs` brute baseline at test scale —
    // at 100 TB the candidate generator swaps for the LSH bucket join
    // (same swap the near-dup family already proves) — then degree
    // counting (hash agg), [[graft.operators.ConnectedComponents]]
    // pointer-jumping over the core subgraph (rounds ≈ log diameter),
    // and one broadcast-scale min-agg for borders.
    "dedup_dbscan" -> ((s, dir) => {
      val emb = embWithNorm(s, dir)
      val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
                         col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
                         col("nrm").as("nb"))
      // exactCosAtLeast: the n²/2 pair stream pays only the fused
      // float kernel; the decimal dot runs on the ~edge-count sliver
      // near τ (VERDICT r12 item 3 — the anchor keeps its hash, loses
      // the decimal-dominated cost)
      val nbr = a.join(b, col("va") < col("vb"))
        .filter(exactCosAtLeast(col("ea"), col("eb"),
          col("na"), col("nb"), DbscanCos))
        .select(col("va"), col("vb"))
      dbscanFrom(nbr, Tables.embeddings(s, dir).select(col("vec_id")))
    }),

    // The production variant: the ε-graph comes from the LSH bucket
    // join (shared `emb_lsh_index` artifact — within-bucket pairs
    // only, the near-dup family's O(n) swap for the brute O(n²)
    // pairing above, which stays as the exact anchor). Approximate in
    // the standard LSH sense: cross-bucket neighbor edges are missed,
    // so sparse points lose a neighbor occasionally — the
    // recall/efficiency trade every web-scale density clusterer makes.
    "dedup_dbscan_scaled" -> ((s, dir) => {
      val emb = lshIndexed(s, dir)
      val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"),
                         col("nrm").as("na"), col("bucket"))
      val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"),
                         col("nrm").as("nb"), col("bucket"))
      val nbr = a.join(b, Seq("bucket"))
        .filter(col("va") < col("vb"))
        .filter(exactCosAtLeast(col("ea"), col("eb"),
          col("na"), col("nb"), DbscanCos))
        .select(col("va"), col("vb"))
      dbscanFrom(nbr, Tables.embeddings(s, dir).select(col("vec_id")))
    }),

    // Brute-force cosine top-k: first NQueries vectors against the
    // whole corpus (self excluded), deterministic rank.
    "ann_topk_bruteforce" -> ((s, dir) => {
      // Norms are computed once per side before the cross join — the
      // per-pair work is a single decimal dot product. The tiny query
      // side broadcasts; the corpus streams through one narrow stage
      // (partial top-k per partition, final top-k after the window
      // shuffle on q_id).
      val emb = embWithNorm(s, dir)
      val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding")
      topK(emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", queryCos("embedding")), "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"),
                col("vec_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // MATRYOSHKA TRUNCATION EVAL — recall@k of brute-force search on
    // PREFIX-truncated embeddings (8/16/32 of 64 dims) against the
    // full-dimension truth: the standard readout for
    // matryoshka-trained embeddings ("how many dims can serving
    // afford to drop"), and for THESE near-isotropic synthetic
    // vectors an honest low-recall baseline (prefix dims carry no
    // privileged information — which is exactly what the eval
    // detects; a matryoshka-trained model would hold recall near 1).
    // Each truncation reuses the bruteforce chain on slice()d arrays
    // (the decimal dot kernel is length-generic); the recall join is
    // (n_q · k)-sized. At 100 TB the same eval runs over the IVF
    // shortlist instead of the full cross join — the truncation
    // column is the independent variable either way.
    "emb_matryoshka_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val truth = truncTopk(emb, 64)
      MatryoshkaDims.map(d => truncTopk(emb, d).withColumn("dim", lit(d.toLong)))
        .reduce(_.unionAll(_))
        .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
        .groupBy(col("dim"))
        .agg(countDistinct(col("q_id")).as("n_q"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("dim"), col("n_q"), col("n_hits"),
          round(col("n_hits").cast("double")
            / (col("n_q") * lit(TopK.toLong)).cast("double"), 6)
            .as("recall_r"))
    }),

    // Hot-path variant of the same top-k on the fused codegen'd
    // FloatVectorCosine expression. The float-order cosine itself is
    // not DuckDB-hashable, so the hashed output is the deterministic
    // ranking only (q_id, rank, vec_id) — which the decimal-exact
    // oracle reproduces (the two routes agree to ~1e-9, far inside
    // the rank-tie granularity of the fixture data). This makes the
    // 100 TB hot path a fully hash-checked query.
    "ann_topk_fast" -> ((s, dir) => {
      import graft.functions.FloatVectorCosine.cosineFast
      val emb = embWithNorm(s, dir)
      val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding")
      topK(emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosineFast(col("q_emb"), col("embedding"))),
          "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"), col("vec_id"))
    }),

    // FILTERED ANN — vector search under a metadata predicate (the
    // production case every vector store special-cases: "nearest
    // neighbors WHERE label matches"). PRE-filter semantics: the
    // predicate cuts the candidate set BEFORE any distance is
    // computed (post-filtering a top-k can return < k survivors —
    // the classic filtered-search bug), so the compiled cosine
    // kernel runs on ~1/|labels| of the corpus. Per-query predicate
    // (each query wants its own label) — the harder shape, since the
    // filter is a join condition, not a constant scan filter. Exact
    // by construction; shares the rank-only output convention of
    // ann_topk_fast.
    "ann_topk_filtered" -> ((s, dir) => {
      import graft.functions.FloatVectorCosine.cosineFast
      val emb = embWithNorm(s, dir)
      val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding",
        col("label").as("q_label"))
      topK(emb.join(broadcast(q), col("label") === col("q_label") &&
                                  col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosineFast(col("q_emb"), col("embedding"))),
          "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"), col("vec_id"))
    }),

    // LSH bucketing (sign random projection, 8 deterministic
    // hyperplanes → 256 buckets): the scale path's partitioning key.
    "emb_lsh_buckets" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("bucket", VectorOps.lshBucket(col("embedding"), Dim, NPlanes))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"),
             min(col("vec_id")).as("min_vec_id"))),

    // Bucket-pruned ANN with MULTI-PROBE (the standard recall lever
    // for sign-random-projection LSH): each query probes its own
    // bucket plus the NPlanes buckets at Hamming distance 1 — the
    // most-likely sign flips — searching 9 of 256 buckets (~3.5% of
    // the corpus) for ~3× the single-probe recall (measured on the
    // fixture in AnnRecallSpec). Join key = bucket, so the corpus
    // never broadcasts OR cross-joins; only the tiny probe fan-out
    // (NQueries × (NPlanes+1) rows) broadcasts.
    "ann_topk_lsh" -> ((s, dir) => {
      val emb = lshIndexed(s, dir)
      topK(emb.join(broadcast(lshProbeSide(emb)), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", queryCos("embedding")), "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"),
                col("vec_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // The production composition: LSH multi-probe candidate PRUNING +
    // the codegen'd float cosine kernel SCORING — i.e. ann_topk_lsh's
    // candidate set with ann_topk_fast's hot loop. Bucketing stays on
    // the decimal-exact route (it is a sign decision, so the oracle
    // must agree bit-for-bit); the per-candidate score — the O(n) term
    // at 100 TB — is the fused float expression. Hash-checked on the
    // deterministic rank columns like ann_topk_fast; the float/decimal
    // rank agreement is pinned by RankGapSpec's measured gap floor.
    "ann_topk_lsh_fast" -> ((s, dir) => {
      import graft.functions.FloatVectorCosine.cosineFast
      val emb = lshIndexed(s, dir)
      topK(emb.join(broadcast(lshProbeSide(emb)), Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosineFast(col("q_emb"), col("embedding"))),
          "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"), col("vec_id"))
    }),

    // Embedding-cosine near-dup (the fifth dedup flavor, SURVEY.md
    // §2.9): candidate pairs = vectors sharing an LSH bucket, verified
    // with exact-decimal cosine ≥ threshold. Same two-phase topology
    // as MinHash LSH dedup — O(n) bucketing projection, then a shuffle
    // keyed on bucket that only compares within-bucket pairs (never
    // the n² cross product).
    "dedup_embedding_pairs" -> ((s, dir) => {
      val emb = lshIndexed(s, dir)
      val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
                         col("nrm").as("nrm_a"), col("bucket"))
      val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
                         col("nrm").as("nrm_b"), col("bucket"))
      // float pre-screen (see exactCosAtLeast): the within-bucket pair
      // stream is pruned by the fused kernel; the decimal cosine the
      // OUTPUT needs is computed only for the ~edge-count survivors
      a.join(b, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(graft.functions.FloatVectorCosine.cosineFast(
          col("emb_a"), col("emb_b")) >= lit(NearDupCos - FloatCosMargin))
        .withColumn("cos",
          exactCos(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")))
        .filter(col("cos") >= NearDupCos)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // IVF ANN: nlist=10 coarse centroids (exact-decimal label means),
    // every corpus vector assigned to its nearest centroid as a PURE
    // PROJECTION (all centroids ride along as one broadcast array; the
    // argmax is an array_sort over per-centroid cosines — no shuffle,
    // no window, so assignment scales linearly at 100 TB). Queries
    // probe their nprobe=2 nearest lists; the search join is keyed on
    // list_id with the tiny probe side broadcast.
    "ann_topk_ivf" -> ((s, dir) =>
      ivfSearchOver(s, dir)(ivfCentArr(s, dir), ivfAssigned(s, dir))),

    // RECALL@k AS A QUERY — the acceptance metric for the IVF index,
    // promoted from spec/bench evidence (AnnRecallSpec,
    // recall_bench.json) to a first-class operator a pipeline can run
    // per index build: per query point, |IVF top-k ∩ brute top-k| / k.
    // Composes the two oracle-matched rankings, so the oracle is their
    // SQL composed — integer overlap counts, one exact division. At
    // 100 TB the brute leg runs on the SAME sampled query panel this
    // fixture uses (recall estimation needs tens of queries, not the
    // corpus); the IVF leg is the production path being measured.
    "ann_recall_ivf" -> ((s, dir) => {
      val brute = queries("ann_topk_bruteforce")(s, dir)
        .select(col("q_id"), col("vec_id"))
      val ivf = queries("ann_topk_ivf")(s, dir)
        .select(col("q_id"), col("vec_id"))
      val overlap = brute.join(ivf, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
      brute.select(col("q_id")).distinct()
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          round(coalesce(col("n_overlap"), lit(0L)).cast("double") / TopK, 6)
            .as("recall_at_k"))
    }),

    // Float-scored IVF: ann_topk_ivf's candidate pruning (decimal-exact
    // centroid assignment + probe selection — the oracle contract) with
    // the fused float kernel scoring the probed lists — the 100 TB
    // composition for IVF search, rank-hashed like ann_topk_fast.
    "ann_topk_ivf_fast" -> ((s, dir) => {
      import graft.functions.FloatVectorCosine.cosineFast
      val qprobe = probeSide(embWithNorm(s, dir).filter(col("vec_id") < NQueries),
        ivfCentArr(s, dir))
      topK(ivfAssigned(s, dir).join(broadcast(qprobe), Seq("list_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosineFast(col("q_emb"), col("embedding"))),
          "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"), col("vec_id"))
    }),

    // One Lloyd iteration of k-means (the iterative primitive of
    // embedding clustering / IVF index training at corpus scale):
    // assign every vector to its nearest current centroid (the same
    // broadcast-projection as ann_topk_ivf — no shuffle), then
    // recompute per-(list, dim) means with one partial-aggregable
    // hash agg over the posexploded components. Output = the new
    // centroid table in long form (nlist × dim rows). Exact-decimal
    // sums keep the means engine-identical, so the step is
    // hash-checkable — and at 100 TB each iteration is one projection
    // + one 640-group agg, the minimal possible shape.
    "kmeans_step" -> ((s, dir) =>
      ivfAssigned(s, dir)
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("list_id"), col("i"))
        .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
              count(lit(1))).as("c_new"))
        // round to 6 dp: ~0.1% of raw float components sit exactly on
        // the scale-14 HALF_UP boundary, where Spark (shortest-repr
        // rounding) and DuckDB (exact-binary rounding) disagree in the
        // 15th digit — the same convention as every cos_r output
        .select(col("list_id"), col("i").cast("long").as("i"),
                round(col("c_new"), 6).as("c_new"))),

    // The IVF index BUILD: Lloyd iterated to a bounded fixpoint
    // (TrainRounds budget, early exit at the quantized-centroid
    // fixpoint) from the label-mean init — closes the loop from
    // "index primitive" (kmeans_step) to "index build". Output = the
    // trained centroid table in long form. At 100 TB each round is one
    // compiled assignment projection + one 640-group partial agg; the
    // round count is a constant, so training is O(rounds · n).
    "kmeans_train" -> ((s, dir) =>
      trainedCentLong(s, dir)
        .select(col("list_id"), col("i").cast("long").as("i"),
                col("c").as("c_new"))),

    // K-NN GRAPH — every vector's top-5 neighbors via the IVF probe
    // join (the backbone table for graph-based ANN, LPA/label
    // propagation over embeddings, and graph-clustered dedup):
    // corpus-to-corpus, so unlike the 8-query searches the probe side
    // CANNOT broadcast — both sides hash-join on list_id, and the
    // candidate-pair count is Σ_list |list|·|probes| ≈ NProbe·n·
    // avg-list-size. The production control is the same as
    // dedup_semantic_scaled: nlist ∝ corpus keeps list size constant,
    // so pair work stays linear. Top-5 per vector is a map-side
    // WindowGroupLimit shape on q_id.
    "emb_knn_graph" -> ((s, dir) =>
      knnGraphOver(s, dir)(ivfCentArr(s, dir), ivfAssigned(s, dir))),

    // INTRINSIC DIMENSION (two-NN MLE, Facco et al. 2017) — how many
    // degrees of freedom the embedding manifold actually uses (an
    // ID ≪ 64 says the space is compressible — the diagnostic that
    // justifies PQ/SQ codebook sizes and predicts ANN recall decay).
    // Rides the SAME IVF-probed neighbor chain as emb_knn_graph cut
    // at rank ≤ 2: per vector, μ = d₂/d₁ over the 6-dp-rounded cosine
    // distances (already hash-proven engine-identical in the graph
    // query, so the ratio starts from bit-equal doubles), ID =
    // N/Σ ln μ with the ln terms 12-dp-quantized before the decimal
    // sum. Exact-duplicate neighbors (d₁ = 0) are excluded — counted
    // in n_pts vs n_used. One probe join + one per-vector 2-row agg.
    "emb_intrinsic_dim" -> ((s, dir) =>
      intrinsicDimOf(knnGraphOver(s, dir)(ivfCentArr(s, dir), ivfAssigned(s, dir)))),

    // K-NN CLASSIFICATION ACCURACY — the embedding-quality eval the
    // k-NN graph enables: each vector's label predicted by the
    // MAJORITY label of its 5 graph neighbors (deterministic vote:
    // most neighbors, then smallest label), scored against its own
    // label per class. The standard "are these embeddings any good"
    // probe — and on THIS fixture the honest answer is "they are
    // not": the synthetic embeddings are near-isotropic (the
    // PcaPowerSpec observation), so accuracy sits at the ~1/k random
    // baseline (measured 0.10-0.17 across SFs) — which is exactly
    // what the eval exists to detect; SilNdcgSpec pins both that
    // truthful low readout and near-perfect accuracy on planted
    // separated clusters. Everything past the graph is
    // neighbor-edge-sized.
    "emb_knn_accuracy" -> ((s, dir) =>
      knnAccuracyOf(
        queries("emb_knn_graph")(s, dir).select(col("src"), col("dst")),
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("bigint").as("label")))),

    // The k-NN graph at the PRODUCTION operating point (VERDICT r12
    // item 1): same probe-join chain as emb_knn_graph, but the lists
    // come from the Bernoulli-gated corpus-proportional seeds — the
    // dedup_semantic_scaled swap. With E[nlist] = n/SeedMod the
    // expected list size stays ≈ SeedMod at ANY corpus size, so the
    // Σ_list |list|·|probes| candidate-pair term is linear in n
    // instead of the fixed-nlist anchor's quadratic growth (13.1× at
    // 10×, scale_bench r12). The anchor emb_knn_graph stays as the
    // trained-index oracle chain; this entry is the scale-safe
    // posture, oracle-checked end to end (gate → assign → probe →
    // rank), sharing the scaled_assigned artifact with
    // dedup_semantic_scaled.
    "emb_knn_graph_scaled" -> ((s, dir) =>
      knnGraphOver(s, dir)(scaledCentArr(s, dir), scaledAssigned(s, dir))),

    // Two-NN intrinsic dimension over the SCALED graph chain — the
    // production twin of emb_intrinsic_dim, riding
    // emb_knn_graph_scaled's rank ≤ 2 prefix (its cos_r is already the
    // shared 6-dp-rounded cosine, so the μ = d₂/d₁ ratios start from
    // hash-proven-identical doubles).
    "emb_intrinsic_dim_scaled" -> ((s, dir) =>
      intrinsicDimOf(queries("emb_knn_graph_scaled")(s, dir))),

    // k-NN label-vote accuracy over the SCALED graph — the production
    // twin of emb_knn_accuracy (same majority-vote finish, same
    // fixture-truthful ~random readout on the near-isotropic synthetic
    // embeddings).
    "emb_knn_accuracy_scaled" -> ((s, dir) =>
      knnAccuracyOf(
        queries("emb_knn_graph_scaled")(s, dir).select(col("src"), col("dst")),
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("bigint").as("label")))),

    // The kNN graph with BOTH scale controls composed (the
    // dedup_semantic_hier_scaled pattern): corpus-proportional child
    // lists bound the candidate-pair term, and the second Bernoulli
    // gate draws a coarse level from the child seeds so the per-vector
    // PROBE RANKING is E[ncoarse] + E[nlist/ncoarse] compiled ranks
    // instead of all nlist — the flat emb_knn_graph_scaled's residual
    // super-linearity (its 3.2× at 10× is exactly the O(n·nlist)
    // assignment term; measured in scale_bench). Probes = the top-
    // NProbe CHILD lists within the winning coarse cell; candidates
    // confined to those lists. Oracle-checked end to end through the
    // identical two-level decimal argmin chain.
    "emb_knn_graph_hier_scaled" -> ((s, dir) =>
      knnEdges(hierScaledAssigned(s, dir),
        querySide(hierScaledRanked(s, dir), "embedding",
          explode(slice(col("ranks"), 1, NProbe)).as("list_id")))),

    // Two-NN intrinsic dimension over the HIER-GATED graph chain
    // (VERDICT r13 item 1): the flat emb_intrinsic_dim_scaled still
    // carries the O(n·nlist) probe-ranking residual (3.64× at 10×,
    // scale_bench r13) that the coarse gate kills (graph hier row
    // 1.48×) — this entry makes the 1.48× chain the family's
    // deployment number for the intrinsic-dim finish too. The finish
    // is edge-sized; only the producing chain changes.
    "emb_intrinsic_dim_hier_scaled" -> ((s, dir) =>
      intrinsicDimOf(queries("emb_knn_graph_hier_scaled")(s, dir))),

    // k-NN label-vote accuracy over the HIER-GATED graph — the same
    // chain swap for the accuracy finish (flat twin 3.46× at 10×).
    "emb_knn_accuracy_hier_scaled" -> ((s, dir) =>
      knnAccuracyOf(
        queries("emb_knn_graph_hier_scaled")(s, dir)
          .select(col("src"), col("dst")),
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast("bigint").as("label")))),

    // CLUSTERING QUALITY — simplified silhouette over the trained
    // k-means index: per vector, a = cosine distance to its OWN
    // centroid, b = distance to the nearest OTHER centroid, s =
    // (b − a)/max(a, b); reported as the per-cluster mean. The
    // simplified (centroid-based) form is the one that scales — the
    // classic silhouette's per-point mean pairwise distance is O(n²)
    // by definition, while this is one broadcast-centroid projection
    // (|corpus| × nlist cosines, the assignment pass's own cost).
    // Per-vector s is quantized to DECIMAL(12,9) before the
    // (order-sensitive) per-cluster mean — the χ²-contribution
    // pattern. Closes the train → serve → EVALUATE loop next to
    // kmeans_train and ann_recall_ivf.
    "emb_silhouette" -> ((s, dir) => {
      silhouetteOf(embWithNorm(s, dir), trainedCentsFrame(s, dir))
    }),

    // CLUSTER PURITY — the external-validity complement of
    // emb_silhouette's internal score: how well do the TRAINED
    // k-means clusters recover the ground-truth labels (the eval a
    // label-propagation / semantic-dedup deployment runs before
    // trusting cluster-confined pair work). Per cluster: majority
    // label (count desc, label tiebreak — the LPA vote convention)
    // and purity = n_majority/n; overall purity attaches as one
    // broadcast scalar. Rides the SHARED trainedAssigned artifact
    // (no extra assignment pass); everything past the one count agg
    // is a ≤ nlist·|labels| cell frame, its vote window partitioned
    // by cluster.
    "emb_cluster_purity" -> ((s, dir) =>
      clusterPurityFinish(clusterCells(s, dir))),

    // CLUSTER NMI — the bias-corrected twin of emb_cluster_purity
    // (purity inflates as clusters shrink; normalized mutual
    // information penalizes over-splitting). The (cluster, label)
    // contingency cells feed the SAME entropy/MI finish as
    // events_entropy_mi (12-dp-quantized p·ln terms, decimal-summed —
    // one definition, so the two NMI computations can never drift);
    // only the axis names change. Rides the shared trainedAssigned
    // artifact; everything past one count agg is cell-frame-sized.
    "emb_cluster_nmi" -> ((s, dir) =>
      clusterNmiFinish(clusterCells(s, dir))),

    // ADJUSTED RAND INDEX — the third external-validity reading on
    // the same trained assignment (purity: majority share; NMI:
    // information; ARI: chance-corrected PAIR agreement — robust when
    // cluster and label cardinalities differ). Pure integer
    // pair-counting: every C(x,2) = x(x−1)/2 runs in DECIMAL(38,0)
    // (n of 3B vectors squares past int64), and exactly ONE double
    // division produces the index — no logarithm, no per-term
    // rounding anywhere. Cell-frame-sized after one count agg.
    "emb_cluster_ari" -> ((s, dir) =>
      clusterAriFinish(clusterCells(s, dir))),

    // V-MEASURE — the fourth external-validity reading on the SAME
    // (cluster, label) contingency cells (Rosenberg & Hirschberg 2007):
    // homogeneity h = I/H(labels) (each cluster holds one class),
    // completeness c = I/H(clusters) (each class lands in one
    // cluster), v = their harmonic mean — the entropy identities
    // 1 − H(C|K)/H(C) = I/H(C) let it read clusterNmiFinish's already
    // 6-dp-rounded (mi, h_cluster, h_label) verbatim, so the whole
    // query is pure arithmetic on the NMI finish: one more reading,
    // zero new passes. Degenerate conventions (both engines): a zero
    // reference entropy makes the score vacuously 1.
    "emb_cluster_vmeasure" -> ((s, dir) =>
      clusterVmeasureFinish(clusterCells(s, dir))),

    // CALINSKI-HARABASZ — the first INTERNAL (label-free) validity
    // reading on the trained assignment: between/within variance
    // ratio (B/(k−1))/(W/(n−k)), the index you can still compute at
    // 100 TB when no ground-truth labels exist. W comes from the
    // Σ‖x‖² expansion around the 9-dp empirical means — sufficient
    // statistics only, never a per-point distance pass; everything
    // past the two data-sized aggs is k·64-sized. The (k·64)-row
    // stats frame is localCheckpointed (multi-referenced, tiny — the
    // TinyOrder convention).
    "emb_calinski_harabasz" -> ((s, dir) => {
      val a = trainedAssigned(s, dir)
      val dims = clusterDimStats(a).localCheckpoint()
      calinskiFinish(dims, clusterWss(a, dims))
    }),

    // DAVIES-BOULDIN — the second internal validity reading (lower =
    // better): per-cluster scatter s_k = √(W_k/n_k) vs pairwise
    // centroid separation, each cluster scored by its WORST
    // (s_i+s_j)/d_ij neighbor. The k² pair frame is nlist²·64 rows —
    // a constant; same sufficient-statistics W as CH (one shared
    // helper, two finishes).
    "emb_davies_bouldin" -> ((s, dir) => {
      val a = trainedAssigned(s, dir)
      val dims = clusterDimStats(a).localCheckpoint()
      daviesBouldinFinish(dims, clusterWss(a, dims))
    }),

    // HOPKINS CLUSTERABILITY — is there structure worth clustering at
    // all: md5-deterministic uniform vs held-out probes, exact-decimal
    // NN distances, H = Σu/(Σu+Σw) (≈0.5 noise, →1 clustered). The
    // go/no-go check BEFORE paying for the kmeans_train build.
    "emb_hopkins" -> ((s, dir) => hopkinsStat(s, dir)),

    // IVF search against the TRAINED index — ann_topk_ivf's plan shape
    // (broadcast probe join keyed on list_id) over kmeans_train's
    // centroids and the corpus assignment they induce. The unrolled-N
    // DuckDB twin replays the identical quantized Lloyd rounds, so the
    // whole build+search composition is hash-checked end to end.
    "ann_topk_ivf_trained" -> ((s, dir) =>
      ivfSearchOver(s, dir)(centsFrameOf(trainedCentLong(s, dir)),
                            trainedAssigned(s, dir))),

    // INCREMENTAL index maintenance — the daily-ingest path of a
    // production vector store: the IVF index was trained BEFORE
    // today's batch existed (centroids fit on vec_id % 10 < 8, a
    // frozen artifact), and the new batch is folded in by pure
    // assignment against those frozen centroids — no retrain, no
    // touching the existing lists (they are a stored artifact reused
    // verbatim). Search runs over base-lists ∪ batch-assignments.
    // Because assignment is a pure per-row projection of the frozen
    // centroids, append ≡ rebuild row-for-row — IvfAppendSpec pins
    // that identity (and that the batch opens no new lists), and the
    // DuckDB twin exploits it: one full-corpus assignment pass over
    // the base-trained chain. At 100 TB the marginal ingest cost is
    // |batch| assignment projections + an append — never a corpus
    // rescan (IndexBench measures the build/append/search split).
    "ann_index_append" -> ((s, dir) =>
      ivfSearchOver(s, dir)(appendCentArr(s, dir), appendedAssigned(s, dir))),

    // SEMANTIC dedup (the SemDeDup recipe, public: Abbas et al. 2023):
    // cluster the corpus embeddings with the TRAINED k-means index,
    // then within each cluster mark every vector whose cosine to a
    // smaller-id cluster-mate exceeds the threshold as a semantic
    // duplicate of the smallest such mate — keep one exemplar per
    // similar group. The cluster assignment is what makes this scale:
    // the pair comparison is confined WITHIN clusters (nlist bounds the
    // quadratic term to Σ|cluster|², never n²), assignment itself is
    // the compiled broadcast projection, and both the trained centroids
    // and the assignment are shared artifacts (built once by
    // kmeans_train / ann_topk_ivf_trained, reused here). Decimal-exact
    // cosine keeps the ≥-threshold decision engine-identical. Scale
    // contract (measured, BENCH_NOTES r5): at FIXED nlist a 10× corpus
    // grows cluster pair work ~100× (5.2× wall here); production keeps
    // |cluster| constant by scaling nlist with the corpus — the fixture
    // pins nlist to its 10 labels only because the trained-index oracle
    // chain initializes from label means.
    "dedup_semantic" -> ((s, dir) =>
      semanticDedup(s, dir)(exactCos)),

    // The production hot path of semantic dedup: identical candidate
    // confinement and keep rule, but the per-pair score — the Σ|c|²
    // term — runs on the fused float kernel instead of the exact
    // decimal route. Hash-checked against the SAME decimal oracle:
    // sound because the fixture's minimum |cos − τ| margin over all
    // within-cluster pairs dominates the float/decimal divergence
    // (measured and pinned in SemanticGapSpec, the RankGapSpec
    // companion for threshold decisions).
    "dedup_semantic_fast" -> ((s, dir) =>
      semanticDedup(s, dir)((ea, eb, _, _) =>
        graft.functions.FloatVectorCosine.cosineFast(ea, eb))),

    // Semantic dedup at the PRODUCTION operating point: nlist ∝ corpus.
    // A vector seeds a cluster iff h31("seed_" ‖ vec_id) mod SeedMod
    // = 0 — a per-row Bernoulli gate (p = 1/SeedMod), so the seed count
    // grows with the corpus (E[nlist] = n/SeedMod) and the expected
    // cluster size stays ~SeedMod at ANY scale, holding the Σ|cluster|²
    // pair term linear in n — WITHOUT a count() barrier: seed selection
    // is a stateless per-row predicate, the one shape that composes
    // with streaming ingest at 100 TB. Assignment is the same compiled
    // broadcast projection and the keep rule is identical to
    // dedup_semantic, with the decimal-exact cosine, so the whole
    // seeds → assign → pair → keep chain is hash-checked. (The fixed-
    // nlist dedup_semantic stays as the trained-index decimal anchor;
    // this entry is the scale-safe posture, oracle-checked.)
    "dedup_semantic_scaled" -> ((s, dir) =>
      semanticDedupOver(scaledAssigned(s, dir))(exactCos)),

    // The two scale controls COMPOSED, oracle-checked: Bernoulli-gate
    // child seeds (nlist ∝ n, E[|cell|] ≈ SeedMod — bounds the pair
    // term like dedup_semantic_scaled) AND a second stateless gate
    // drawing the coarse level from those seeds (E[ncoarse] =
    // nlist/CoarseGateMod, E[children per coarse] ≈ CoarseGateMod —
    // bounds the ASSIGNMENT term like dedup_semantic_hier). Both
    // gates are per-row hash predicates, so the whole two-level
    // index scales with the corpus with no count() barrier, and
    // every stage — gated seeds, coarse argmin, child argmin within
    // the winning cell, pair scoring, keep rule — is the decimal-
    // exact chain, hash-checked end to end. This is the production
    // posture whose cost ScaleBench's fixed-seed hier harness can
    // only approximate (VERDICT r8 item 6).
    "dedup_semantic_hier_scaled" -> ((s, dir) =>
      semanticDedupOver(hierScaledAssigned(s, dir))(exactCos)),

    // PRODUCT QUANTIZATION codebook (public recipe: Jégou et al. 2011)
    // — the third leg of the ANN triad next to LSH (hash pruning) and
    // IVF (cluster pruning): memory compression. The 64-dim space
    // splits into PqM=8 subspaces of 8 dims; each subspace gets a
    // PqK=16-entry codebook (6-dp-quantized exact-decimal means over
    // the deterministic vec_id-mod-K partition — the same quantized-
    // boundary convention as the Lloyd rounds, so every downstream
    // decimal is engine-identical). Long form (m, j, d, c) — the
    // 8×16×8 table an index server ships as its dictionary.
    "pq_codebook" -> ((s, dir) =>
      pqCodebookLong(s, dir)
        .select(col("m"), col("j").cast("long").as("j"), col("d"), col("c"))),

    // The ENCODED corpus: every vector compressed to PqM 4-bit codes —
    // at 100 TB this is THE stored column (8 bytes/vector vs 256 for
    // raw floats; the scan that feeds ADC search reads 32× less).
    // Encoding is a pure broadcast projection (no shuffle): per
    // subspace, argmin_j ‖sub − c_j‖² via the monotone surrogate
    // ‖c_j‖² − 2·sub·c_j — both terms exact decimals (the codegen
    // kernel) cast to double, so the argmin and its j-tiebreak are
    // bit-identical on both engines.
    "pq_codes" -> ((s, dir) =>
      pqEncoded(s, dir)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))),

    // ADC (asymmetric distance computation) top-k: the query stays
    // exact, the corpus is its codes — score(q, v) = Σ_m lut[m][code_m]
    // where lut = the query's per-subspace inner products with every
    // codebook entry (PqM·PqK = 128 decimal dots per QUERY, not per
    // corpus row). The corpus-side scan does 8 array lookups + 8 exact
    // decimal adds per row — no float multiplies at all — then one
    // partial top-k per partition + the final window on q_id. The lut
    // rides in the tiny broadcast query frame.
    "ann_topk_pq" -> ((s, dir) =>
      adcRanked(s, dir)
        .filter(col("rank") <= TopK)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
                col("vec_id"), round(col("score").cast("double"), 6).as("score_r"))),

    // IVF + PQ — the composed production index (the FAISS IVFPQ
    // architecture, public: Jégou et al. 2011 §IV): the IVF coarse
    // quantizer prunes the corpus to nprobe lists (decimal-exact
    // assignment — the oracle contract), then the CANDIDATES are
    // scored from their 8-byte PQ codes via the query's lut — never
    // touching raw candidate vectors at all. At 100 TB this is the
    // shape that makes billion-vector search RAM-resident: list id +
    // code word = 9 bytes/vector of index state; the scan reads only
    // the probed lists' codes. All three inputs are shared artifacts
    // (IVF assignment, PQ codebook, code column).
    "ann_topk_ivfpq" -> ((s, dir) => {
      val qprobe = probeSide(embWithNorm(s, dir).filter(col("vec_id") < NQueries),
          ivfCentArr(s, dir))
        .crossJoin(broadcast(pqCentArr(s, dir)))
        .select(col("q_id"), col("list_id"),
          flatten(transform(sequence(lit(0), lit(PqM - 1)), m =>
            transform(element_at(col("cents"), (m + 1).cast("int")), c =>
              VectorOps.dotDecimal(
                slice(col("q_emb"), m * PqDsub + 1, lit(PqDsub)),
                c.getField("centroid")).cast("decimal(18,14)")))).as("lut"))
      val cand = ivfAssigned(s, dir).select(col("vec_id"), col("list_id"))
        .join(pqEncoded(s, dir), "vec_id")
      topK(cand.join(broadcast(qprobe), Seq("list_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score",
            aggregate(sequence(lit(0), lit(PqM - 1)),
              lit(0).cast("decimal(22,14)"),
              (acc, m) => (acc + element_at(col("lut"),
                (m * PqK + element_at(col("codes"), m + 1) + 1).cast("int")))
                .cast("decimal(22,14)"))),
          "score", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"),
                col("vec_id"), round(col("score").cast("double"), 6).as("score_r"))
    }),

    // The production PQ composition: ADC shortlists PqRerank=20
    // candidates from the compressed corpus, then ONLY those rows read
    // their raw embeddings for an exact-decimal cosine re-rank to
    // top-k — the standard two-stage shape (compressed scan over
    // everything, exact math over a constant-size shortlist). The
    // whole chain — codebook, codes, lut, shortlist, re-rank — is
    // hash-checked end to end.
    "ann_topk_pq_rerank" -> ((s, dir) => {
      val cand = adcRanked(s, dir).filter(col("rank") <= PqRerank)
        .select(col("q_id"), col("vec_id"))
      val emb = embWithNorm(s, dir)
      val qe = querySide(emb.filter(col("vec_id") < NQueries), "embedding")
      topK(cand.join(emb, "vec_id").join(broadcast(qe), "q_id")
          .withColumn("cos", queryCos("embedding")), "cos", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"),
                col("vec_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // SCALAR QUANTIZATION (SQ8) — the third compression point in the
    // index family, between raw floats and PQ: one uniform int8 grid
    // PER DIMENSION (min/max over the corpus), no codebook training
    // at all. 64 bytes/vector (4× less scan than float32; PQ's 8
    // bytes is 32× but needs k-means and loses more recall) — the
    // pragmatic default of production vector stores (FAISS
    // ScalarQuantizer, public). The "codebook" is the 64-row min/max
    // table — broadcast state measured in KILOBYTES at any corpus
    // size, and rebuilding it is one narrow min/max aggregation
    // (partial-aggregable, no shuffle pressure) vs PQ's Lloyd
    // iterations.
    "sq_minmax" -> ((s, dir) =>
      sqDims(s, dir)
        .select((col("i0") + 1).cast("long").as("d"), col("mn"), col("mx"))),

    // The encoded corpus: every vector as 64 int8 codes. Encoding is
    // a pure broadcast projection (no shuffle); the grid arithmetic
    // is plain IEEE double (sub/mul/div/floor — identical ops in
    // identical order on both engines), so the codes hash-match
    // without any decimal routing.
    "sq_codes" -> ((s, dir) =>
      sqEncoded(s, dir)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("d0", "code")))
        .select(col("vec_id"), (col("d0") + 1).cast("long").as("d"), col("code"))),

    // SQ-ADC top-k: the query stays exact, the corpus is its int8
    // codes — each candidate dim is reconstructed to its cell
    // midpoint (mn + (code+½)·rng/255, IEEE-exact) and the per-dim
    // products are rounded to decimal(28,14) and summed exactly, so
    // the ranking is engine-identical. Same scan shape as the other
    // ADC paths: tiny broadcast query side, one narrow corpus pass,
    // partial top-k per partition, final window on q_id.
    "ann_topk_sq" -> ((s, dir) => {
      val q = querySide(embWithNorm(s, dir).filter(col("vec_id") < NQueries),
        "embedding")
      topK(sqEncoded(s, dir)
          .crossJoin(broadcast(sqArrs(s, dir)))
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score",
            aggregate(sequence(lit(0), lit(Dim - 1)),
              lit(0).cast("decimal(23,14)"),
              (acc, d) => {
                val i = (d + 1).cast("int")
                val mn = element_at(col("mn_arr"), i)
                val rng = element_at(col("rng_arr"), i)
                val xhat = when(rng === 0.0, mn)
                  .otherwise(mn +
                    (element_at(col("codes"), i).cast("double") + lit(0.5)) *
                      rng / lit(255.0))
                (acc + (element_at(col("q_emb"), i).cast("double") * xhat)
                  .cast("decimal(28,14)")).cast("decimal(23,14)")
              })),
          "score", "vec_id", TopK, "rank")
        .select(col("q_id"), col("rank"),
                col("vec_id"), round(col("score").cast("double"), 6).as("score_r"))
    }),

    // RETRIEVAL EVAL (MRR / P@k / R@k) — the labeled-relevance eval
    // next to search_ndcg's graded one: score the BM25 per-query
    // shortlist (the hybrid stack's lexical leg, chain shared
    // verbatim) against the LSH near-dup neighbors as binary ground
    // truth ("can lexical retrieval find a doc's near-duplicates" —
    // the standard contamination/dedup-retrieval probe, and an
    // honest readout of where token-overlap search runs out). All
    // metrics per query: reciprocal rank of the first relevant hit,
    // precision at 5 and at the shortlist, recall against the full
    // neighbor set. Everything past the two legs is shortlist-sized;
    // the legs are the proven posting-pruned BM25 and banded-LSH
    // plans.
    "search_retrieval_eval" -> ((s, dir) => {
      val rel = Graph.mirror(DedupQueries.lshPairs(s, dir))
        .filter(col("src") < NQueries).distinct()
      val nr = Graph.degrees(rel)
        .select(col("src").as("q_id"), col("deg").as("n_rel"))
      val m = lexShortlist(s, dir)
        .join(rel.select(col("src").as("q_id"), col("dst").as("doc_id"),
          lit(1L).as("is_rel")), Seq("q_id", "doc_id"), "left")
        .withColumn("is_rel", coalesce(col("is_rel"), lit(0L)))
        .groupBy(col("q_id"))
        .agg(min(when(col("is_rel") === 1, col("rank_lex"))).as("first_rel"),
          sum(when(col("rank_lex") <= 5, col("is_rel")).otherwise(0L)).as("h5"),
          sum(col("is_rel")).as("h20"))
      nr.join(m, Seq("q_id"), "left")
        .withColumn("h5", coalesce(col("h5"), lit(0L)))
        .withColumn("h20", coalesce(col("h20"), lit(0L)))
        .select(col("q_id"), col("n_rel"),
          col("first_rel").as("first_rel_rank"),
          when(col("first_rel").isNotNull,
            round(lit(1.0) / col("first_rel").cast("double"), 6))
            .otherwise(lit(0.0)).as("rr_r"),
          round(col("h5").cast("double") / 5.0, 6).as("p_at5_r"),
          round(col("h5").cast("double") / col("n_rel").cast("double"), 6)
            .as("r_at5_r"),
          round(col("h20").cast("double") / lit(HybridShortlist.toDouble), 6)
            .as("p_at20_r"),
          round(col("h20").cast("double") / col("n_rel").cast("double"), 6)
            .as("r_at20_r"))
    }),

    // HYBRID RETRIEVAL with RECIPROCAL RANK FUSION — the modern
    // search stack's signature composition: a lexical ranking (BM25,
    // the text_bm25 formula with the query doc's distinct tokens as
    // the term set) and a semantic ranking (exact-decimal cosine, the
    // bruteforce anchor route) each produce a top-20 shortlist per
    // query, and RRF fuses them as Σ 1/(60 + rank) over the shortlist
    // union — rank-based fusion needs no score calibration between
    // modalities, which is exactly why production systems use it
    // (public: Cormack/Clarke/Buettcher SIGIR'09). Both legs keep
    // their proven plan shapes (posting-pruned tf for the lexical
    // side, broadcast query × narrow corpus scan for the semantic
    // side); the fusion is a full-outer join of two
    // shortlist-sized frames — at 100 TB the only data-sized work is
    // the two legs, which an index serves (text_inverted_index /
    // ann_topk_*). Ranks are ints, the RRF sum is two
    // correctly-rounded IEEE divisions and one add — engine-exact.
    "search_hybrid_rrf" -> ((s, dir) =>
      rrfFuse(lexShortlist(s, dir), {
        // semantic leg: exact-decimal cosine top-20 over the FULL
        // corpus — the recall anchor (every candidate scored). The
        // production posture is search_hybrid_rrf_indexed below.
        val emb = embWithNorm(s, dir)
        val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding")
        topK(emb.crossJoin(broadcast(q))
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("cos", queryCos("embedding")),
            "cos", "vec_id", HybridShortlist, "rank_sem")
          .select(col("q_id"), col("vec_id").as("doc_id"), col("rank_sem"))
      })),

    // INDEX-BACKED hybrid retrieval — the 100 TB posture of
    // search_hybrid_rrf (VERDICT r7 item 1): the semantic shortlist
    // comes from the TRAINED IVF index (the ann_topk_ivf_trained
    // probe path — broadcast probe join keyed on list_id over the
    // shared kmeans_trained / ivf_assigned_trained artifacts) instead
    // of a brute-force corpus scan. The cosine kernel runs only on
    // the NProbe probed lists (~NProbe/nlist of the corpus), so the
    // semantic leg inherits the IVF family's sub-linear scaling; the
    // brute-force variant above stays as the recall anchor, the way
    // dedup_semantic anchors dedup_semantic_scaled. Decimal-exact
    // scoring + the unrolled Lloyd oracle chain keep the whole
    // build → probe → fuse composition hash-checked end to end.
    "search_hybrid_rrf_indexed" -> ((s, dir) =>
      rrfFuse(lexShortlist(s, dir),
        topK(ivfScored(s, dir)(centsFrameOf(trainedCentLong(s, dir)),
              trainedAssigned(s, dir)),
            "cos", "vec_id", HybridShortlist, "rank_sem")
          .select(col("q_id"), col("vec_id").as("doc_id"), col("rank_sem")))),

    // MMR re-rank (maximal marginal relevance, Carbonell & Goldstein
    // 1998) — the diversity-aware selection step a production RAG /
    // retrieval stack runs over its ANN shortlist: greedily pick
    // argmax of λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s), so
    // near-duplicate candidates can't crowd the result set. The
    // expensive part (the corpus scan) is the shortlist, which the
    // IVF/PQ family already bounds; MMR itself touches only
    // shortlist² pairwise sims per query (20² here) — broadcast-size
    // at any corpus scale. TopK unrolled greedy rounds with the
    // kmeans convention: scores 9-dp-quantized at each pick boundary,
    // (score DESC, vec_id) tiebreak, so every pick is engine-exact
    // and the DuckDB twin unrolls the identical rounds.
    "search_mmr" -> ((s, dir) => {
      val emb = embWithNorm(s, dir)
      val q = querySide(emb.filter(col("vec_id") < NQueries), "embedding")
      val cands = topK(emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("rel", queryCos("embedding")),
          "rel", "vec_id", MmrShortlist, "rank_rel")
        .select(col("q_id"), col("vec_id"), col("embedding"), col("nrm"), col("rel"))
        .localCheckpoint()
      val sa = cands.select(col("q_id"), col("vec_id").as("a"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val sb = cands.select(col("q_id"), col("vec_id").as("b"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val sims = sa.join(sb, Seq("q_id")).filter(col("a") =!= col("b"))
        .withColumn("sim", exactCos(col("ea"), col("eb"), col("na"), col("nb")))
        .select(col("q_id"), col("a"), col("b"), col("sim"))
        .localCheckpoint()
      val slim = cands.select(col("q_id"), col("vec_id"), col("rel"))
      var selected = slim
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("rk") === 1)
        .select(col("q_id"), col("vec_id"), lit(1L).as("mmr_rank"),
                col("rel").as("score"))
      for (r <- 2 to TopK) {
        val sel = selected.select(col("q_id"), col("vec_id"))
        val scored = slim
          .join(sel, Seq("q_id", "vec_id"), "left_anti")
          .join(sims.select(col("q_id"), col("a").as("vec_id"), col("b"), col("sim")),
                Seq("q_id", "vec_id"))
          .join(sel.select(col("q_id"), col("vec_id").as("b")), Seq("q_id", "b"))
          .groupBy(col("q_id"), col("vec_id"), col("rel"))
          .agg(max(col("sim")).as("maxsim"))
          .withColumn("score",
            round(lit(0.7) * col("rel") - lit(0.3) * col("maxsim"), 9))
        val wPick = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id"))
        selected = selected.unionByName(
          scored.withColumn("rk", row_number().over(wPick))
            .filter(col("rk") === 1)
            .select(col("q_id"), col("vec_id"), lit(r.toLong).as("mmr_rank"),
                    col("score"))).localCheckpoint()
      }
      selected.select(col("q_id"), col("mmr_rank"), col("vec_id"),
        round(col("score"), 6).as("score_r"))
    }),

    // Exact-decimal label centroids + each vector's cosine to its own
    // label centroid (embedding-cluster quality / near-dup scoring).
    // OUT-OF-DISTRIBUTION SCORING — the embedding-space data-quality
    // gate curation pipelines run before training: score each vector's
    // cosine to ITS OWN label centroid, standardize within the label
    // (z = (cos − μ_label)/σ_label), and flag z < −2 as OOD (mislabeled
    // or outlier content). Shape: the emb_centroid_sim centroid pass,
    // one per-label moment agg over the 9-dp-QUANTIZED cosines (exact
    // decimal sums — a per-label double sum would be order-sensitive),
    // one broadcast join back; the z finish is fixed-order IEEE per
    // row. The OOD decision compares the 6-dp ROUNDED z on both
    // engines, so the boundary is engine-exact.
    "emb_ood_zscore" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val byDim = emb.select(
          col("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
              count(lit(1))).as("c"))
      val centroids = byDim
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
        .select(col("label").as("c_label"),
                transform(col("pairs"), p => p.getField("c")).as("centroid"))
      val scored = emb.join(broadcast(centroids), col("label") === col("c_label"))
        .select(col("vec_id"), col("label"),
          round(VectorOps.cosine(col("embedding"), col("centroid")), 9)
            .cast("decimal(18,9)").as("cos_q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("cos_q")).as("cs"),
             sum(col("cos_q") * col("cos_q")).as("cs2"))
        .filter(col("n") >= 2)
        .withColumn("mu", asDouble(col("cs")) / col("n").cast("double"))
        .withColumn("sd", sqrt(
          (asDouble(col("cs2")) - asDouble(col("cs")) * asDouble(col("cs"))
            / col("n").cast("double")) / (col("n") - lit(1)).cast("double")))
        .select(col("label"), col("mu"), col("sd"))
      scored.join(broadcast(stats), "label")
        .withColumn("z_r",
          when(col("sd") > 0.0,
            round((asDouble(col("cos_q")) - col("mu")) / col("sd"), 6)))
        .select(col("vec_id"), col("label"),
          round(asDouble(col("cos_q")), 6).as("cos_r"), col("z_r"),
          (col("z_r").isNotNull && col("z_r") < -2.0).as("is_ood"))
    }),

    // PQ DISTORTION AUDIT — the quantization-error health metric for
    // the 8-byte PQ index: per subspace m, the mean ‖sub − c_code‖²
    // the encoder's argmin actually achieves, via the exact identity
    // ‖sub‖² + (‖c‖² − 2·sub·c)|_argmin — both terms the SAME exact
    // decimal dots the encoder itself uses, so the audit certifies the
    // deployed assignment, not a re-derivation. A rising per-subspace
    // distortion is the first sign a codebook has drifted off the
    // corpus (retrain trigger), and Σ_m distortion bounds the ADC
    // ranking error. Shape: ONE broadcast-codebook projection per row
    // (the encode pass's own cost), per-(vec, m) values 9-dp-quantized
    // into an exact decimal mean per subspace — an M-row output, no
    // windows, no corpus rescan.
    "emb_pq_distortion" -> ((s, dir) => {
      val per = Tables.embeddings(s, dir)
        .crossJoin(broadcast(pqCentArr(s, dir)))
        .select(col("vec_id"), posexplode(
          transform(sequence(lit(0), lit(PqM - 1)), m => {
            val sub = slice(col("embedding"), m * PqDsub + 1, lit(PqDsub))
            VectorOps.normSqDecimal(sub).cast("double") +
              array_min(transform(
                element_at(col("cents"), (m + 1).cast("int")), c =>
                  struct(
                    (c.getField("ccsq") - lit(2.0) *
                      VectorOps.dotDecimal(sub, c.getField("centroid"))
                        .cast("double")).as("dist"),
                    c.getField("j").as("j")))).getField("dist")
          })).as(Seq("m", "d2")))
        .select(col("m").cast("long").as("m"),
          round(col("d2"), 9).cast("decimal(28,9)").as("d2q"))
      per.groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("d2q")).as("sd"))
        .select(col("m"), col("n"),
          round(asDouble(col("sd")) / col("n").cast("double"), 6)
            .as("mean_dist_r"))
    }),

    // TRIPLET-MARGIN EVAL — the contrastive-quality readout over label
    // centroids: for every vector, cos to its OWN label centroid
    // (positive) vs the BEST other-label centroid (hardest negative;
    // deterministic argmax = struct max on (cosine, −label)), violated
    // when cos_neg + margin > cos_pos — the metric-learning health
    // check (violation rate ↓ as embeddings separate classes) that
    // pipeline_hard_negatives' mined pairs feed. Centroid-based like
    // emb_silhouette because that is the form that scales: ONE
    // broadcast-centroid projection (|corpus| × #labels cosines), no
    // pairwise pass; everything downstream is corpus-row-sized with
    // two hash-agg/join steps and zero windows. Cosines quantized to
    // 9 dp before the argmax and the margin compare.
    "emb_triplet_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val byDim = emb.select(
          col("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
              count(lit(1))).as("c"))
      val centroids = byDim
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
        .select(col("label").as("c_label"),
                transform(col("pairs"), p => p.getField("c")).as("centroid"))
      val scored = emb.crossJoin(broadcast(centroids))
        .select(col("vec_id"), col("label"), col("c_label"),
          round(VectorOps.cosine(col("embedding"), col("centroid")), 9)
            .as("cos_q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pos = scored.filter(col("label") === col("c_label"))
        .select(col("vec_id"), col("label"), col("cos_q").as("cos_pos_q"))
      val neg = scored.filter(col("label") =!= col("c_label"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos_q").as("cq"),
          (-col("c_label")).as("nl"))).as("best"))
        .select(col("vec_id"), col("best.cq").as("cos_neg_q"),
          (-col("best.nl")).cast("int").as("neg_label"))
      pos.join(neg, "vec_id")
        .select(col("vec_id"), col("label"), col("neg_label"),
          round(col("cos_pos_q"), 6).as("cos_pos_r"),
          round(col("cos_neg_q"), 6).as("cos_neg_r"),
          (col("cos_neg_q") + lit(TripletMargin) > col("cos_pos_q"))
            .as("violated"))
    }),

    // DIAGONAL-MAHALANOBIS OOD SCORING — the multi-axis sibling of
    // emb_ood_zscore: instead of collapsing a vector to one
    // centroid-cosine, score EVERY dimension against its per-label
    // (μ_d, σ²_d) and sum the standardized squares — md² =
    // Σ_d (x_d − μ_d)²/σ²_d, the diagonal-covariance Mahalanobis
    // distance that catches a vector wrong in a few dimensions even
    // when its overall direction looks typical (the failure mode a
    // cosine screen misses). Under in-distribution Gaussianity md² ~
    // χ²(dim); the flag compares the 6-dp-ROUNDED distance against
    // χ²_{0.99, 64} so the boundary decision is bit-identical.
    // Engine-agreement: inputs quantized to 9-dp DECIMAL(18,9) before
    // the (label, dim) moment aggs (exact, mergeable — (18,9)² stays
    // inside DECIMAL(38)), per-cell μ/σ² is a fixed-order IEEE finish,
    // and each dimension's contribution is re-quantized to 9 dp before
    // the per-vector sum (64-term double addition is order-sensitive;
    // decimal addition is not). Scale: one posexplode (the data-sized
    // pass), one labels×dims-cell hash agg, one broadcast join back —
    // no windows, no driver math; the cell frame is 640 rows at any
    // corpus size.
    "emb_ood_mahalanobis" -> ((s, dir) => {
      val xd = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .withColumn("xq",
          round(col("x").cast("double"), 9).cast("decimal(18,9)"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = xd.groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"),
             sum(col("xq") * col("xq")).as("sx2"))
        .filter(col("n") >= 2)
        .withColumn("mu", asDouble(col("sx")) / col("n").cast("double"))
        .withColumn("var_d",
          (asDouble(col("sx2")) - asDouble(col("sx")) * asDouble(col("sx"))
            / col("n").cast("double")) / (col("n") - lit(1)).cast("double"))
        .select(col("label"), col("i"), col("mu"), col("var_d"))
      xd.join(broadcast(cells), Seq("label", "i"))
        .withColumn("c", when(col("var_d") > 0.0,
          round((asDouble(col("xq")) - col("mu"))
            * (asDouble(col("xq")) - col("mu")) / col("var_d"), 9))
          .otherwise(lit(0.0)).cast("decimal(28,9)"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("c")).as("md2"))
        .select(col("vec_id"), col("label"),
          round(asDouble(col("md2")), 6).as("md2_r"),
          (round(asDouble(col("md2")), 6) > lit(MahalCrit)).as("ood_flag"))
    }),

    "emb_centroid_sim" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val byDim = emb.select(
          col("label"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
              count(lit(1))).as("c"))
      val centroids = byDim
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
        .select(col("label").as("c_label"),
                transform(col("pairs"), p => p.getField("c")).as("centroid"))
      emb.join(broadcast(centroids), col("label") === col("c_label"))
        .select(col("vec_id"), col("label"),
                round(VectorOps.cosine(col("embedding"), col("centroid")), 6).as("cos_centroid"))
    }),

    // PCA TOP COMPONENT via power iteration — "iterative linear
    // algebra as mergeable aggregation": the |corpus|-bound work is
    // ONE pass building the second-moment upper triangle (d(d+1)/2 =
    // 2080 cells for d=64) plus the per-dim sums — all exact decimal
    // partial-aggregable sums, so at 100 TB the covariance is a
    // map-side-combined hash agg whose shuffle is 2080 rows per
    // partition regardless of corpus size (the per-row d²/2 products
    // ARE the FLOPs any covariance pass pays; here they stay inside
    // one codegen stage feeding the partial agg). Everything after —
    // C = S/n − μμᵀ and [[PcaRounds]] unrolled power steps v ←
    // C·v/‖C·v‖ — runs on the dashboard-sized 2080-row table (tiny
    // joins, never a corpus rescan). Exactness: x quantized 9 dp,
    // covariance quantized 12 dp off fixed-order doubles, each
    // iterate's matvec an exact decimal sum re-quantized at 12 dp,
    // norms via correctly-rounded sqrt — every double both engines
    // compute is identical, so the unrolled DuckDB twin hash-matches
    // the full 8-step trajectory. Output: the principal axis
    // (per-dim loadings) + the dominant-eigenvalue estimate ‖C·v₇‖ —
    // the "how much variance does one direction explain" number that
    // decides whether an embedding column can be compressed before
    // indexing (the PQ/SQ decision input). The operator contract is
    // the DETERMINISTIC k-step trajectory (what the oracle checks);
    // how close k steps get to the true eigenpair depends on the
    // spectral gap — the fixture is isotropic by construction
    // (λ₂/λ₁ ≈ 0.99, measured), so recovery is spec'd on
    // planted-spike synthetic data instead (PcaPowerSpec, the
    // KMeansTrainSpec pattern).
    "emb_pca_power" -> ((s, dir) => pcaPowerOf(Tables.embeddings(s, dir)))
  )

  /** The MERGEABLE half of the PCA chain: one (i, j, s) partial table
    * holding the second-moment upper triangle (j ≥ i ≥ 0), the
    * per-dim sums (j = −1), and the row count (i = j = −1) — all
    * exact decimal(38,18) sums, so per-micro-batch partials sum-merge
    * to the one-pass result (`stream_pca`'s hash proof).
    */
  private[graft] def pcaMoments(embRaw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r17 optimization (guide §2.4 "remove shuffles outright" + §4
    // "keep the hot path in codegen primitives"): the n·d²/2 pair pass
    // used to be a posexplode + SELF-JOIN on vec_id (a 2·n·d-row
    // shuffle feeding 4.16M decimal(18,9)×decimal(18,9) BigDecimal
    // multiplies and a decimal(38,18) hash agg). The 9-dp-quantized
    // values are carried as LONG MANTISSAS (xq·1e9) instead: pairs
    // come from a second posexplode of the per-vector mantissa array
    // (no join, no exchange before the partial agg), the per-pair
    // product la·lb is one 64-bit multiply, and the group sum runs as
    // TWO long sums over the product's hi/lo 32-bit halves
    // (hi = p >> 32 arithmetic = floorDiv, lo = p & 0xffffffff ≥ 0, so
    // p ≡ hi·2³² + lo exactly, negatives included). The merged sums
    // reconstruct Σp·10⁻¹⁸ = Σ(xq·xj) in exact decimal arithmetic
    // (2³²/10¹⁸ and 10⁻¹⁸ are exact scale-18 literals; all result
    // scales stay 18, no rounding step anywhere) — bit-identical
    // decimal(38,18) moments, proven by PcaPowerSpec and the oracle
    // hash. Overflow margins: |x| ≤ 3.03 is asserted per element
    // (raise_error — fixture max is 0.58, the planted-spike spec
    // reaches ≈2.6), so |p| ≤ 9.18e18 < Long.Max; the decimal(19,0)
    // casts on the summed halves cover the ENTIRE long range (ADVICE
    // r17 — no silent cast null possible), so the only bound is the
    // long hi/lo sums themselves: ≥ 2e9 vectors per group before the
    // moment table itself would be sharded.
    val mScale = java.math.BigDecimal.valueOf(1000000000L)
    // (A repartition-before-expansion variant was measured and
    // rejected: at bench scale the extra exchange + task overhead
    // costs more than the 1-task generate saves — emb_pca_power 5.8 →
    // 6.6, stream_pca 6.3 → 8.5 with it; at production scale the scan
    // has native parallelism and the exchange is pure overhead too.)
    val base = embRaw
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          (round(x.cast("double"), 9).cast("decimal(18,9)") * lit(mScale))
            .cast("long")).as("lms"))
      .select(posexplode(col("lms")).as(Seq("i0", "lm0")), col("lms"))
      .select(col("i0").cast("long").as("i"),
        when(abs(col("lm0")) <= lit(3030000000L), col("lm0"))
          .otherwise(raise_error(
            lit("pcaMoments: |x| exceeds the 3.03 bound the long-product path needs"))
            .cast("long")).as("lm"),
        col("lms"))
    val hiUnit = new java.math.BigDecimal("0.000000004294967296")   // 2^32 / 1e18
    val loUnit = new java.math.BigDecimal("0.000000000000000001")   // 1e-18
    val s2 = base
      .select(col("i"), col("lm"), posexplode(col("lms")).as(Seq("j0", "lmj")))
      .filter(col("j0") >= col("i"))
      .select(col("i"), col("j0").cast("long").as("j"),
        (col("lm") * col("lmj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(shiftright(col("p"), 32)).as("sh"),
           sum(col("p").bitwiseAND(lit(4294967295L))).as("sl"))
      .select(col("i"), col("j"),
        // ADVICE r17: decimal(19,0) covers the ENTIRE long range, so
        // this cast can never overflow (the old (15,0)/(16,0) pair
        // silently nulled past ~4.7e5 vectors per group on a non-ANSI
        // session) — the only remaining limit is the long sums
        // themselves. (19,0) is also the widest exact multiplicand
        // against the scale-18 unit literals (19+18+1 = 38 — at the
        // precision cap, no loss); the per-term downcast to (30,18)
        // (values ≤ 4e10, exact) keeps the ADDITION under the cap too
        // ((38,18)+(38,18) would rescale to (38,17) and round).
        (((col("sh").cast("decimal(19,0)") * lit(hiUnit))
            .cast("decimal(30,18)") +
          (col("sl").cast("decimal(19,0)") * lit(loUnit))
            .cast("decimal(30,18)")))
          .cast("decimal(38,18)").as("s"))
    val sx = base.groupBy(col("i"))
      .agg((sum(col("lm")).cast("decimal(20,0)") *
            lit(new java.math.BigDecimal("0.000000001")))
        .cast("decimal(38,18)").as("s"))
      .select(col("i"), lit(-1L).as("j"), col("s"))
    val cnt = embRaw.agg(count(lit(1)).cast("decimal(38,18)").as("s"))
      .select(lit(-1L).as("i"), lit(-1L).as("j"), col("s"))
    s2.select(col("i"), col("j"), col("s"))
      .unionByName(sx).unionByName(cnt)
  }

  /** The dashboard-sized half: covariance + unrolled power steps over
    * a merged (i, j, s) moment table. Exact-value-preserving wrt the
    * pre-refactor inline chain (scale-18 re-casts of scale-9/18 sums
    * carry identical values, hence identical doubles).
    */
  private[graft] def pcaFinish(moments: org.apache.spark.sql.DataFrame,
                               rounds: Int = PcaRounds): org.apache.spark.sql.DataFrame = {
      // nrm is only assigned inside the power loop; rounds <= 0 would
      // NPE at the final crossJoin instead of failing with a message.
      require(rounds >= 1, s"pcaFinish needs rounds >= 1, got $rounds")
      val mm = moments.groupBy(col("i"), col("j"))
        .agg(sum(col("s")).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = mm.filter(col("i") === -1L && col("j") === -1L)
        .select(col("s").cast("long").as("n"))
      val mu = mm.filter(col("i") >= 0L && col("j") === -1L)
        .crossJoin(broadcast(n))
        .select(col("i"), (col("s").cast("double") / col("n")).as("mu"))
      val s2 = mm.filter(col("j") >= 0L)
        .select(col("i"), col("j"), col("s").as("sxx"))
      val cu = s2.crossJoin(broadcast(n))
        .join(broadcast(mu.select(col("i"), col("mu").as("mu_i"))), "i")
        .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mu_j"))), "j")
        .select(col("i"), col("j"),
          round(col("sxx").cast("double") / col("n") - col("mu_i") * col("mu_j"), 12)
            .cast("decimal(18,12)").as("cq"))
      // r17: checkpoint the UPPER TRIANGLE once and derive the mirror
      // as a projection over the checkpoint — the old
      // `cu union swap(cu) → persist` materialized the cu chain (three
      // broadcast joins) twice, once per union leg, before the cache
      // could serve anyone (guide §2.4; same rows, union order is
      // irrelevant under the downstream agg)
      val cuC = cu.localCheckpoint()
      val cf = cuC.unionByName(
          cuC.filter(col("i") =!= col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("cq")))
      // v₀ = 1/8 per dim (unit norm for d = 64); 12-dp decimal carrier
      var v = mu.select(col("i"), lit(0.125).cast("decimal(18,12)").as("vq"))
        .localCheckpoint()
      var nrm: org.apache.spark.sql.DataFrame = null
      (1 to rounds).foreach { _ =>
        // one EAGER cut per round, placed on u (the matvec output):
        // nrm and v are cheap projections OVER the checkpoint, so the
        // join+agg runs exactly once per round and the lineage stays
        // one level deep (3 checkpoints/round is pure job overhead;
        // checkpointing v instead re-evaluates u twice — both legs of
        // v's plan reference it)
        val u = cf.join(v.select(col("i").as("j"), col("vq").as("vj")), "j")
          .groupBy(col("i")).agg(sum(col("cq") * col("vj")).as("u"))
          .select(col("i"),
            round(col("u").cast("double"), 12).cast("decimal(18,12)").as("uq"))
          .localCheckpoint()
        nrm = u.agg(sqrt(sum(col("uq") * col("uq")).cast("double")).as("nrm"))
        v = u.crossJoin(broadcast(nrm))
          .select(col("i"),
            round(col("uq").cast("double") / col("nrm"), 12)
              .cast("decimal(18,12)").as("vq"))
      }
      v.crossJoin(broadcast(nrm))
        .select(col("i").cast("long").as("dim_idx"),
          round(col("vq").cast("double"), 6).as("loading_r"),
          round(col("nrm"), 6).as("eigval_r"))
  }

  /** The PCA power-iteration chain over a (vec_id, embedding) frame —
    * exposed so PcaPowerSpec can run it on planted-spike synthetic
    * data where the spectral gap makes k steps actually converge.
    */
  private[graft] def pcaPowerOf(embRaw: org.apache.spark.sql.DataFrame,
                                rounds: Int = PcaRounds): org.apache.spark.sql.DataFrame =
    pcaFinish(pcaMoments(embRaw), rounds)

  // ---- hybrid-retrieval building blocks ----

  /** Lexical shortlist shared by both hybrid variants: per-query-doc
    * BM25 (the text_bm25 formula, posting-pruned tf with the query
    * docs' distinct tokens as the term set) → top-[[HybridShortlist]]
    * per query with 9-dp-quantized decimal contribs.
    */
  private def lexShortlist(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.text.TextOps
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = toks.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), col("token")).distinct()
    val tf = toks
      .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val lex = tf.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id").join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_q", TextQueries.bm25Weight)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib_q")).as("score_lex"))
    topK(lex, "score_lex", "doc_id", HybridShortlist, "rank_lex")
      .select(col("q_id"), col("doc_id"), col("rank_lex"))
  }

  /** RRF fusion over the shortlist union (Σ 1/(60 + rank), IEEE-exact)
    * → final top-[[TopK]] per query. Shortlist-sized frames only — at
    * 100 TB all data-sized work lives in the two legs.
    */
  private def rrfFuse(lexTop: org.apache.spark.sql.DataFrame,
                      semTop: org.apache.spark.sql.DataFrame) = {
    topK(lexTop.join(semTop, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rank_lex").cast("double")),
                   lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rank_sem").cast("double")),
                   lit(0.0))),
        "rrf", "doc_id", TopK, "rank")
      .select(col("q_id"), col("rank"),
              col("doc_id"), col("rank_lex"), col("rank_sem"),
              round(col("rrf"), 9).as("rrf_r"))
  }

  // ---- SQ8 building blocks ----

  /** Per-dimension corpus min/max (0-based dim `i0`) — the whole SQ
    * "codebook": 64 rows, kilobytes at any corpus size.
    */
  private def sqDims(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("i0", "x")))
      .groupBy(col("i0"))
      .agg(min(col("x").cast("double")).as("mn"),
           max(col("x").cast("double")).as("mx"))

  /** The min/range grid as two broadcastable 64-element arrays
    * (frame-parameterized for RecallBench's synthetic corpus).
    */
  private[graft] def sqArrsOf(emb: org.apache.spark.sql.DataFrame) =
    emb.select(posexplode(col("embedding")).as(Seq("i0", "x")))
      .groupBy(col("i0"))
      .agg(min(col("x").cast("double")).as("mn"),
           max(col("x").cast("double")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("i0"), col("mn"), col("mx"))))
        .as("ps"))
      .select(transform(col("ps"), p => p.getField("mn")).as("mn_arr"),
              transform(col("ps"), p => p.getField("mx") - p.getField("mn"))
                .as("rng_arr"))

  private def sqArrs(s: org.apache.spark.sql.SparkSession, dir: String) =
    sqArrsOf(Tables.embeddings(s, dir))

  /** SQ8 encode of an embedding frame against a min/range grid frame.
    * code = clamp(⌊(x − mn)·255 / rng⌋, 0, 255), pure IEEE double
    * (both engines run the identical correctly-rounded ops, so no
    * decimal routing is needed for the grid itself).
    */
  private[graft] def sqEncodedOf(emb: org.apache.spark.sql.DataFrame,
                                 arrs: org.apache.spark.sql.DataFrame) =
    emb.crossJoin(broadcast(arrs))
      .select(col("vec_id"),
        transform(col("embedding"), (x, d) => {
          val i = (d + 1).cast("int")
          val mn = element_at(col("mn_arr"), i)
          val rng = element_at(col("rng_arr"), i)
          when(rng === 0.0, lit(0L))
            .otherwise(least(lit(255L), greatest(lit(0L),
              floor((x.cast("double") - mn) * lit(255.0) / rng))))
            .cast("int")
        }).as("codes"))

  /** The SQ8-encoded corpus (vec_id, codes: array<int>) — shared by
    * `sq_codes` and `ann_topk_sq` via the artifact memo.
    */
  private def sqEncoded(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "sq_encoded") {
      sqEncodedOf(Tables.embeddings(s, dir), sqArrs(s, dir))
    }

  // ---- IVF building blocks (shared by ann_topk_ivf / kmeans_step) ----

  private def embWithNorm(s: org.apache.spark.sql.SparkSession, dir: String) =
    withNorm(Tables.embeddings(s, dir), "embedding")

  /** The LSH "index": every vector with its bucket id and norm —
    * materialized once per (session, dir) via [[Artifacts]] and shared
    * by `ann_topk_lsh`, `ann_topk_lsh_fast`, and
    * `dedup_embedding_pairs`. At 100 TB the bucket id is a stored
    * column written once per corpus; per-query cost is the probe join
    * against it ([[graft.IndexBench]] measures that split).
    */
  private def lshIndexed(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "emb_lsh_index") {
      withNorm(Tables.embeddings(s, dir)
        .withColumn("bucket", VectorOps.lshBucket(col("embedding"), Dim, NPlanes)),
        "embedding")
    }

  /** The LSH multi-probe query side: [[querySide]] of the first
    * [[NQueries]] indexed vectors once per probed bucket — their own
    * and the [[NPlanes]] buckets at Hamming distance 1.
    */
  private def lshProbeSide(indexed: DataFrame): DataFrame =
    querySide(indexed.filter(col("vec_id") < NQueries), "embedding",
      explode(array(col("bucket") +: (0 until NPlanes).map(j =>
        col("bucket").bitwiseXOR(lit(1L << j))): _*)).as("bucket"))

  /** One-row frame holding every centroid (exact-decimal label means)
    * as a sorted struct array, with per-centroid norms precomputed —
    * they are per-centroid constants, and recomputing them inside the
    * per-row assignment lambda would re-derive all nlist norms for
    * every corpus vector (O(nlist·dim·n) wasted at scale).
    */
  private def ivfCentArr(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_cents") {
      centsFrameOf(
        embWithNorm(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("label"), col("i"))
          .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
                count(lit(1))).as("c"))
          .select(col("label").cast("long").as("list_id"), col("i"), col("c")))
    }

  /** Long-form centroids (list_id, i, c) → the one-row broadcast
    * `cents` array frame (sorted struct array with per-centroid norms
    * precomputed — see [[ivfCentArr]]'s rationale).
    */
  private[graft] def centsFrameOf(centLong: org.apache.spark.sql.DataFrame) =
    centLong
      .groupBy(col("list_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
      .select(col("list_id"),
              transform(col("pairs"), p => p.getField("c")).as("centroid"))
      .select(struct(col("list_id"), col("centroid"),
          sqrt(VectorOps.normSqDecimal(col("centroid")).cast("double")).as("cnorm"))
        .as("cent"))
      .agg(array_sort(collect_list(col("cent"))).as("cents"))

  /** Majority-vote scoring of a (src, dst) neighbor table against a
    * (vec_id, label) table — exposed so the spec can plant edge sets
    * with known vote outcomes.
    */
  /** Brute-force cosine top-k on a prefix truncation of the embedding
    * — the ann_topk_bruteforce chain with both sides slice()d to `d`
    * dims (d = 64 is the identity/truth pass; the decimal dot kernel
    * is length-generic). Deterministic (cos desc, vec_id) ranking
    * from exact-decimal reductions, so the truth and every truncation
    * rank identically on any engine.
    */
  private def truncTopk(emb: org.apache.spark.sql.DataFrame,
                        d: Int): org.apache.spark.sql.DataFrame = {
    val e = withNorm(emb.withColumn("te",
      if (d == 64) col("embedding") else slice(col("embedding"), 1, d)), "te")
    val q = querySide(e.filter(col("vec_id") < NQueries), "te")
    topK(e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", queryCos("te")), "cos", "vec_id", TopK, "rank")
      .select(col("q_id"), col("vec_id"))
  }

  private[graft] def knnAccuracyOf(edges: org.apache.spark.sql.DataFrame,
                                   labels: org.apache.spark.sql.DataFrame) = {
    val votes = edges
      .join(labels.select(col("vec_id").as("dst"),
        col("label").as("n_label")), "dst")
      .groupBy(col("src"), col("n_label"))
      .agg(count(lit(1)).as("nv"))
    val pred = votes
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("nv").desc, col("n_label"))))
      .filter(col("rk") === 1)
      .select(col("src").as("vec_id"), col("n_label").as("pred"))
    pred.join(labels, "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_r",
        round(col("n_correct").cast("double") / col("n"), 6))
  }

  /** Simplified-silhouette core over (vec_id, embedding, nrm) ×
    * (list_id, centroid, cnorm) — exposed so the spec can plant
    * separated/overlapping clusters and assert the score orders them.
    */
  private[graft] def silhouetteOf(emb: org.apache.spark.sql.DataFrame,
                                  cents: org.apache.spark.sql.DataFrame) =
    silFinishOf(silPartials(emb, cents))

  /** The trained-k-means centroid frame (list_id, centroid, cnorm) —
    * the frozen yardstick `emb_silhouette` scores against and
    * `stream_silhouette` broadcasts into each micro-batch.
    */
  private[graft] def trainedCentsFrame(s: org.apache.spark.sql.SparkSession,
                                       dir: String) =
    trainedCentLong(s, dir)
      .groupBy(col("list_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
      .select(col("list_id"),
        transform(col("pairs"), p => p.getField("c")).as("centroid"))
      .withColumn("cnorm",
        sqrt(VectorOps.normSqDecimal(col("centroid")).cast("double")))

  /** Mergeable half of the silhouette: per-cluster (n, Σ quantized
    * per-vector score) against FROZEN centroids — both columns
    * additive, so per-micro-batch partials sum-merge
    * (`stream_silhouette`'s law).
    */
  private[graft] def silPartials(emb: org.apache.spark.sql.DataFrame,
                                 cents: org.apache.spark.sql.DataFrame) = {
    val ranked = emb.crossJoin(broadcast(cents))
      .withColumn("ccos",
        exactCos(col("embedding"), col("centroid"), col("nrm"), col("cnorm")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("list_id"))))
      .filter(col("rk") <= 2)
    ranked.groupBy(col("vec_id"))
      .agg(max(when(col("rk") === 1, col("list_id"))).as("list_id"),
        (lit(1.0) - max(when(col("rk") === 1, col("ccos")))).as("a"),
        (lit(1.0) - max(when(col("rk") === 2, col("ccos")))).as("b"))
      .withColumn("sq",
        round(when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)), 9).cast("decimal(12,9)"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("ssq"))
  }

  private[graft] def silFinishOf(merged: org.apache.spark.sql.DataFrame) =
    merged.select(col("list_id"), col("n"),
      round(col("ssq").cast("double") / col("n"), 6).as("sil_r"))

  /** Force-build the ANN index artifacts — the LSH bucket column and
    * the IVF centroid/assignment tables — without running a search.
    * [[graft.IndexBench]] times this build separately from the
    * marginal per-query search cost against the built index (the
    * split a platform user actually asks for: at 100 TB the index is
    * written once per corpus, queries pay only the probe).
    */
  private[graft] def buildAnnIndexes(s: org.apache.spark.sql.SparkSession,
                                     dir: String): Unit = {
    lshIndexed(s, dir)
    ivfAssigned(s, dir)
    pqEncoded(s, dir) // codebook + the 8-byte-per-vector code column
    ()
  }

  /** Lloyd iterations run to a bounded fixpoint (VERDICT r3 item 3):
    * fixed round budget, early exit when the quantized centroids reach
    * a fixpoint.
    */
  private val TrainRounds = 3

  /** Power-iteration steps for `emb_pca_power`; the DuckDB twin
    * unrolls the same count. The operator contract is the
    * deterministic k-step trajectory — convergence depends on the
    * data's spectral gap (the fixture is isotropic by construction;
    * PcaPowerSpec proves recovery on a planted spike in ≤8 steps).
    */
  private val PcaRounds = 8

  /** [[TrainRounds]] Lloyd iterations from the label-mean init — the
    * IVF index BUILD (vs `kmeans_step`'s single index primitive).
    * Each round is the assign-projection + one 640-group partial agg
    * (the `kmeans_step` body), with the new centroids QUANTIZED to
    * 6 dp at the round boundary: intermediate means are the one place
    * float formatting could diverge across engines mid-iteration, and
    * the quantized contract makes every round bit-reproducible (the
    * same convention as every `cos_r`/`c_new` output). The tiny
    * (nlist × dim) centroid frame is localCheckpoint'ed per round —
    * the [[graft.operators.ConnectedComponents]] iteration pattern;
    * without it the plan embeds all previous rounds. Early exit when
    * the quantized centroids stop changing (a fixpoint is
    * self-sustaining: identical centroids → identical assignment →
    * identical next round, so exiting early is output-equivalent to
    * exhausting the budget — which keeps the unrolled-N oracle exact).
    */
  private def trainedCentLong(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "kmeans_trained") {
      lloydTrainLong(embWithNorm(s, dir), ivfCentArr(s, dir), TrainRounds)
    }

  /** The reusable training loop (spec'd on clustered synthetic data in
    * KMeansTrainSpec): run quantized Lloyd rounds from `initCents`
    * over `emb` (vec_id, embedding, nrm), returning the final
    * long-form centroids.
    */
  private[graft] def lloydTrainLong(emb: org.apache.spark.sql.DataFrame,
                                    initCents: org.apache.spark.sql.DataFrame,
                                    rounds: Int): org.apache.spark.sql.DataFrame = {
    // r18 (VERDICT r17 item 6 — the index-build driver overhead): a
    // round's new centroids are ≤ nlist·dim rows BY CONTRACT — the
    // same rows centsFrameOf funnels into ONE broadcast array for the
    // next round anyway. Collect them per round (one job) instead of
    // the r17 localCheckpoint + full-outer convergence-join (two jobs
    // plus checkpoint machinery): the fixpoint check becomes a
    // driver-side map compare on the collected (list, i, c) triples —
    // same null-free exact-double equality the <=> join tested — and
    // the next round's input is a LocalRelation of the identical
    // values. The measured build-time effect is in OPTIMIZATION_r18.md;
    // the output is identical (KMeansTrainSpec + the unrolled-N oracle
    // pin the trajectory).
    val s = emb.sparkSession
    var centArr = initCents
    var prev: Map[(Any, Any), Any] = null
    var result: org.apache.spark.sql.DataFrame = null
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val step = assignTo(emb, centArr)
        .select(col("list_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("list_id"), col("i"))
        .agg(round(
          sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
            count(lit(1)), 6).as("c"))
      val rows = step.collect()
      val cur = centroidMap(rows)
      converged = prev != null && cur == prev
      prev = cur
      result = s.createDataFrame(
        java.util.Arrays.asList(rows: _*), step.schema)
      centArr = centsFrameOf(result)
      r += 1
    }
    result
  }

  /** A Lloyd round's collected (list_id, i, c) rows as the map the
    * fixpoint check compares. `+ 0.0` turns −0.0 into 0.0, so a
    * coordinate that only flips the sign of zero between rounds is
    * unchanged under boxed `equals` as well as under `==`.
    */
  private[graft] def centroidMap(rows: Array[org.apache.spark.sql.Row]): Map[(Any, Any), Any] =
    rows.map(x => ((x.get(0), x.get(1)), x.get(2) match {
      case c: Double => c + 0.0
      case c => c
    })).toMap

  /** Corpus assignment under the TRAINED centroids (the built index's
    * stored list column). private[graft] so SemanticGapSpec can measure
    * the threshold-margin soundness condition on the real clusters.
    */
  private[graft] def trainedAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_assigned_trained") {
      assignTo(embWithNorm(s, dir), centsFrameOf(trainedCentLong(s, dir)))
    }

  /** The trained centroids as the one-row broadcast cents array — the
    * frozen yardstick `stream_cluster_nmi` assigns arriving vectors
    * against (built and materialized before the stream starts, the
    * `stream_silhouette` posture).
    */
  private[graft] def trainedCentArr(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_cents_trained") {
      centsFrameOf(trainedCentLong(s, dir))
    }

  /** The NMI finish over (list_id, label, nij) contingency cells —
    * `events_entropy_mi`'s entropy/MI chain with the axes renamed;
    * shared by `emb_cluster_nmi` and its streaming twin (the cells are
    * additive, so the twin sum-merges per-batch counts).
    */
  private[graft] def clusterNmiFinish(cells: org.apache.spark.sql.DataFrame) =
    EventQueries.entropyFinish(
        cells.select(col("list_id").as("event_type"),
          col("label").as("hour"), col("nij")))
      .select(col("n_cells"), col("h_type").as("h_cluster"),
        col("h_hour").as("h_label"), col("mi"), col("nmi"))

  /** The majority-vote purity finish over the SAME (list_id, label,
    * nij) contingency cells — shared by `emb_cluster_purity` and its
    * streaming twin (VERDICT r13 item 4: the cells are additive, so
    * one streamed state table serves all three cluster-validity
    * finishes).
    */
  private[graft] def clusterPurityFinish(cells: org.apache.spark.sql.DataFrame) = {
    val tot = cells.groupBy(col("list_id")).agg(sum(col("nij")).as("n"))
    val mj = cells.withColumn("rk", row_number().over(
        Window.partitionBy(col("list_id"))
          .orderBy(col("nij").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("list_id"), col("label").as("majority_label"),
        col("nij").as("n_majority"))
    val p = tot.join(mj, "list_id")
      .select(col("list_id"), col("n"), col("majority_label"),
        col("n_majority"),
        round(col("n_majority").cast("double") / col("n").cast("double"), 6)
          .as("purity_r"))
    val overall = p.agg(
      round(sum(col("n_majority")).cast("double")
        / sum(col("n")).cast("double"), 6).as("overall_purity_r"))
    p.crossJoin(broadcast(overall))
  }

  /** The chance-corrected pair-agreement (ARI) finish over the same
    * cell frame — exact DECIMAL(38,0) pair counts, exactly one double
    * division. The cells are referenced three times (s_cells, row
    * marginals, column marginals), so they are eagerly materialized
    * (localCheckpoint — tiny by construction, ≤ nlist·|labels| rows,
    * and no cache entry leaks; the TinyOrder convention).
    */
  private[graft] def clusterAriFinish(cells0: org.apache.spark.sql.DataFrame) = {
    def c2(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(38,0)") * (c - lit(1))) / lit(2)
    val cells = cells0.localCheckpoint()
    val sij = cells.agg(sum(c2(col("nij"))).as("s_cells"),
      sum(col("nij")).as("n"))
    val sa = cells.groupBy(col("list_id")).agg(sum(col("nij")).as("ai"))
      .agg(sum(c2(col("ai"))).as("s_rows"))
    val sb = cells.groupBy(col("label")).agg(sum(col("nij")).as("bj"))
      .agg(sum(c2(col("bj"))).as("s_cols"))
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("n"),
        col("s_cells").cast("double").as("s_cells_d"),
        col("s_rows").cast("double").as("s_rows_d"),
        col("s_cols").cast("double").as("s_cols_d"),
        asDouble(c2(col("n"))).as("c2n"))
      .select(col("n"),
        round((col("s_cells_d")
            - col("s_rows_d") * col("s_cols_d") / col("c2n"))
          / ((col("s_rows_d") + col("s_cols_d")) / lit(2.0)
            - col("s_rows_d") * col("s_cols_d") / col("c2n")), 6)
          .as("ari_r"))
  }

  /** V-measure finish — pure arithmetic on [[clusterNmiFinish]]'s
    * rounded outputs (see the query scaladoc); shared by
    * `emb_cluster_vmeasure` and its streaming twin.
    */
  private[graft] def clusterVmeasureFinish(cells: org.apache.spark.sql.DataFrame) = {
    val h = when(col("h_label") > 0.0, col("mi") / col("h_label"))
      .otherwise(lit(1.0))
    val c = when(col("h_cluster") > 0.0, col("mi") / col("h_cluster"))
      .otherwise(lit(1.0))
    clusterNmiFinish(cells).select(col("n_cells"),
      round(h, 6).as("homogeneity_r"),
      round(c, 6).as("completeness_r"),
      round(when(h + c > 0.0, lit(2.0) * h * c / (h + c))
        .otherwise(lit(0.0)), 6).as("v_r"))
  }

  /** The shared (list_id, label, nij) contingency cells over the
    * trained assignment — the one count agg all three cluster-validity
    * finishes read.
    */
  private[graft] def clusterCells(s: org.apache.spark.sql.SparkSession,
                                  dir: String) =
    trainedAssigned(s, dir).select(col("vec_id"), col("list_id"))
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        "vec_id")
      .groupBy(col("list_id"), col("label"))
      .agg(count(lit(1)).as("nij"))

  /** Per-(cluster, dim) exact-decimal sums with 9-dp empirical means —
    * the sufficient statistics both INTERNAL (geometric) validity
    * indices read. Unlike purity/NMI/ARI these need no labels: they
    * score the clustering by its own geometry (within-cluster
    * tightness vs between-cluster separation). One data-sized
    * posexplode+agg pass (64·n rows, partial-aggregable); everything
    * downstream is k·64-sized.
    */
  private[graft] def clusterDimStats(assigned: org.apache.spark.sql.DataFrame) =
    assigned
      .select(col("list_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("list_id"), col("i"))
      .agg(sum(col("x").cast("double").cast("decimal(28,14)")).as("sx"),
        count(lit(1)).as("nk"))
      .withColumn("m", round(col("sx").cast("double") / col("nk"), 9))

  /** Per-cluster exact-decimal Σ‖x‖² + size — with [[clusterDimStats]]
    * this yields the within-cluster sum of squares WITHOUT a second
    * pass over distances: W_k = Σ‖x‖² − 2·Σ_d m_d·S_d + n_k·Σ_d m_d²
    * (the expansion around the 9-dp-quantized empirical mean; per-dim
    * products are single IEEE doubles quantized to DECIMAL before the
    * 64-term order-insensitive sums).
    */
  private[graft] def clusterWss(assigned: org.apache.spark.sql.DataFrame,
                                dims: org.apache.spark.sql.DataFrame) =
    clusterWssFrom(
      assigned.groupBy(col("list_id"))
        .agg(sum(VectorOps.normSqDecimal(col("embedding"))
          .cast("decimal(38,14)")).as("ssq"),
          count(lit(1)).as("n_k")),
      dims)

  /** The W_k expansion over an already-aggregated per-cluster
    * (list_id, ssq, n_k) frame — split out so the streaming twins can
    * feed SUM-MERGED Σ‖x‖² partials into the identical finish.
    */
  private[graft] def clusterWssFrom(per: org.apache.spark.sql.DataFrame,
                                    dims: org.apache.spark.sql.DataFrame) = {
    val mterms = dims
      .withColumn("t", round(col("m") * col("sx").cast("double"), 9)
        .cast("decimal(30,9)"))
      .withColumn("t2", round(col("m") * col("m"), 12).cast("decimal(24,12)"))
      .groupBy(col("list_id"))
      .agg(sum(col("t")).as("msx"), sum(col("t2")).as("mm"))
    per.join(mterms, "list_id")
      // greatest(…, 0): the quantized expansion can land marginally
      // negative when a cluster's true WSS is ~0 (singleton /
      // duplicate-vector cluster) — unclamped, sqrt(w_k) is NaN on
      // Spark but an ERROR in the DuckDB oracle (ADVICE r14). Clamped
      // identically in the oracle's wk CTE, degenerate clusters give
      // s_k = 0 on both engines.
      .withColumn("w_k",
        greatest(col("ssq").cast("double") - lit(2.0) * col("msx").cast("double")
          + col("n_k") * col("mm").cast("double"), lit(0.0)))
      .select(col("list_id"), col("n_k"), col("w_k"))
  }

  /** Calinski-Harabasz (variance-ratio) finish: CH =
    * (B/(k−1)) / (W/(n−k)) with B from the k·64 centroid frame
    * against the 9-dp global per-dim mean. k-row serving work.
    */
  private[graft] def calinskiFinish(dims: org.apache.spark.sql.DataFrame,
                                    wss: org.apache.spark.sql.DataFrame) = {
    val g = dims.groupBy(col("i"))
      .agg(sum(col("sx")).as("gx"), sum(col("nk")).as("n"))
      .select(col("i"), round(col("gx").cast("double") / col("n"), 9).as("g"))
    val bsum = dims.join(g, "i")
      .withColumn("bd", round((col("m") - col("g")) * (col("m") - col("g")), 12)
        .cast("decimal(24,12)"))
      .groupBy(col("list_id")).agg(sum(col("bd")).as("bsum"))
    val a = wss.join(bsum, "list_id")
      .agg(
        sum(round(col("n_k") * col("bsum").cast("double"), 9)
          .cast("decimal(30,9)")).as("bb"),
        sum(round(col("w_k"), 9).cast("decimal(30,9)")).as("ww"),
        sum(col("n_k")).as("n"), count(lit(1)).as("k"))
    a.select(col("n").cast("long").as("n"),
        col("k").cast("long").as("k_clusters"),
        tieSafe(col("bb").cast("double"), 6).as("b_r"),
        tieSafe(col("ww").cast("double"), 6).as("w_r"),
        // ww > 0: an all-identical-vectors corpus gives W = 0 —
        // unguarded, Spark nulls the Infinity→decimal cast while
        // DuckDB errors casting inf (ADVICE r14; welchFinish style)
        when(col("k") > 1 && col("n") > col("k")
            && col("ww").cast("double") > 0,
          tieSafe((col("bb").cast("double") / (col("k") - 1).cast("double"))
            / (col("ww").cast("double") / (col("n") - col("k")).cast("double")),
            6)).as("ch_r"))
  }

  /** Davies-Bouldin finish: s_k = √(W_k/n_k), pairwise centroid
    * distances on the k²·64 frame (k = nlist — constant-sized), each
    * cluster's worst (s_i+s_j)/d_ij, DB = their mean. Per-cluster rows
    * plus the broadcast overall index (the purity output convention).
    */
  private[graft] def daviesBouldinFinish(dims: org.apache.spark.sql.DataFrame,
                                         wss: org.apache.spark.sql.DataFrame) = {
    val sk = wss.withColumn("s_k", sqrt(col("w_k") / col("n_k")))
    val mx = dims.select(col("list_id").as("li"), col("i"), col("m"))
    val my = dims.select(col("list_id").as("lj"), col("i"), col("m").as("mj"))
    val d = mx.join(my, Seq("i")).filter(col("li") =!= col("lj"))
      .withColumn("dd", round((col("m") - col("mj")) * (col("m") - col("mj")), 12)
        .cast("decimal(24,12)"))
      .groupBy(col("li"), col("lj"))
      .agg(sqrt(sum(col("dd")).cast("double")).as("dist"))
    val worst = d.filter(col("dist") > 0)
      .join(sk.select(col("list_id").as("li"), col("s_k").as("si")), "li")
      .join(sk.select(col("list_id").as("lj"), col("s_k").as("sj")), "lj")
      .groupBy(col("li"))
      .agg(max((col("si") + col("sj")) / col("dist")).as("worst"))
    val overall = worst.agg(
        (sum(round(col("worst"), 9).cast("decimal(30,9)")).cast("double")
          / count(lit(1)).cast("double")).as("db"))
      .select(tieSafe(col("db"), 6).as("db_r"))
    sk.join(worst, sk("list_id") === worst("li"))
      .crossJoin(broadcast(overall))
      .select(col("list_id"), col("n_k"),
        tieSafe(col("s_k"), 6).as("s_r"),
        tieSafe(col("worst"), 6).as("worst_ratio_r"),
        col("db_r"))
  }

  /** Hopkins probes per side. */
  private[graft] val HopkinsM = 32

  /** Hopkins clusterability statistic — BEFORE spending a k-means/IVF
    * build, is there any cluster structure to find? H =
    * Σu/(Σu + Σw) over nearest-neighbor distances of m synthetic
    * uniform probes (u) vs m real held-out points (w): H ≈ 0.5 means
    * the corpus is indistinguishable from uniform noise; H → 1 means
    * clustered. Determinism: probes are md5-derived (synthetic coords
    * = 32-bit md5 fractions scaled into the per-dim bounding box —
    * exact in double; real probes = md5-ranked vec_ids), distances
    * are EXACT DECIMAL(38,14) sums of per-element squared diffs (the
    * DecimalDotProduct contract), so the per-probe min is
    * engine-exact and only the 2m square roots and the final ratio
    * are doubles. Scale shape: 2m broadcast probes × one corpus scan
    * — linear, the brute anchor; the production path shortlists via
    * the trained IVF the same way ann_topk_ivf_trained probes.
    */
  private[graft] def hopkinsStat(s: org.apache.spark.sql.SparkSession,
                                 dir: String) = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val box = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
    val synth = s.range(1, HopkinsM + 1L).select(col("id").as("p_id"))
      .crossJoin(box)
      .withColumn("frac",
        conv(substring(md5(concat(col("p_id").cast("string"), lit("#hops"),
          col("i").cast("string"))), 1, 8), 16, 10).cast("double")
          / lit(4294967296.0))
      .withColumn("c", col("lo") + col("frac") * (col("hi") - col("lo")))
      .groupBy(col("p_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("pairs"))
      .select(col("p_id"), transform(col("pairs"),
        p => p.getField("c")).as("p_emb"))
    val real = emb
      .withColumn("rk", conv(substring(md5(concat(
        col("vec_id").cast("string"), lit("#hopr"))), 1, 14), 16, 10)
        .cast("long"))
      .orderBy(col("rk"), col("vec_id")).limit(HopkinsM)
      .select(col("vec_id").as("p_id"),
        col("embedding").cast("array<double>").as("p_emb"))
    def nnD2(probes: org.apache.spark.sql.DataFrame, excludeSelf: Boolean) = {
      val j = emb.crossJoin(broadcast(probes))
      (if (excludeSelf) j.filter(col("vec_id") =!= col("p_id")) else j)
        .withColumn("diff", zip_with(col("embedding"), col("p_emb"),
          (a, b) => a - b))
        .withColumn("d2", VectorOps.dotDecimal(col("diff"), col("diff")))
        .groupBy(col("p_id")).agg(min(col("d2")).as("d2"))
    }
    val su = nnD2(synth, excludeSelf = false)
      .agg(sum(round(sqrt(col("d2").cast("double")), 9)
        .cast("decimal(27,9)")).as("su"))
    val sw = nnD2(real, excludeSelf = true)
      .agg(sum(round(sqrt(col("d2").cast("double")), 9)
        .cast("decimal(27,9)")).as("sw"))
    su.crossJoin(broadcast(sw))
      .select(lit(HopkinsM.toLong).as("m"),
        round(col("su"), 6).cast("double").as("sum_u_r"),
        round(col("sw"), 6).cast("double").as("sum_w_r"),
        when(col("su") + col("sw") > 0,
          tieSafe(col("su").cast("double")
            / (col("su") + col("sw")).cast("double"), 6)).as("hopkins_r"))
  }

  /** IVF probe search (broadcast probe join keyed on list_id, top-
    * [[TopK]] by exact cosine) against an arbitrary (centroids,
    * assigned lists) index pair — `ann_topk_ivf` over the label-mean
    * index, `ann_topk_ivf_trained`, the append path `ann_index_append`
    * and its stream twin, and IvfAppendSpec's append-≡-rebuild
    * identity proof.
    */
  private[graft] def ivfSearchOver(s: org.apache.spark.sql.SparkSession, dir: String)(
      centArr: org.apache.spark.sql.DataFrame,
      assigned: org.apache.spark.sql.DataFrame) =
    topK(ivfScored(s, dir)(centArr, assigned), "cos", "vec_id", TopK, "rank")
      .select(col("q_id"), col("rank"),
              col("vec_id"), round(col("cos"), 6).as("cos_r"))

  /** Every probed (query, candidate) pair of an IVF index with its
    * exact `cos`, self excluded — the candidates [[ivfSearchOver]] and
    * `search_hybrid_rrf_indexed` cut at their own depth.
    */
  private def ivfScored(s: org.apache.spark.sql.SparkSession, dir: String)(
      centArr: DataFrame, assigned: DataFrame): DataFrame =
    assigned.join(broadcast(
        probeSide(embWithNorm(s, dir).filter(col("vec_id") < NQueries), centArr)),
        Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", queryCos("embedding"))

  /** Ingest split for the index-append path: `vec_id % AppendMod ∈
    * {8, 9}` is "today's batch" (~20% of the corpus); the rest is the
    * base the index was trained on. A modulus split (not a prefix
    * split) so the batch hits every label/cluster.
    */
  private val AppendMod = 10L

  private def appendBase(s: org.apache.spark.sql.SparkSession, dir: String) =
    embWithNorm(s, dir).filter(col("vec_id") % AppendMod < 8)

  private[graft] def appendBatch(s: org.apache.spark.sql.SparkSession, dir: String) =
    embWithNorm(s, dir).filter(col("vec_id") % AppendMod >= 8)

  /** Centroids trained on the BASE corpus only — the index as it
    * existed before today's batch arrived. Same quantized Lloyd chain
    * as [[trainedCentLong]], initialized from the base's label means.
    */
  private[graft] def appendTrainedCentLong(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "kmeans_trained_base") {
      val init = centsFrameOf(
        appendBase(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("label"), col("i"))
          .agg((sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
                count(lit(1))).as("c"))
          .select(col("label").cast("long").as("list_id"), col("i"), col("c")))
      lloydTrainLong(appendBase(s, dir), init, TrainRounds)
    }

  private[graft] def appendCentArr(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_cents_base") {
      centsFrameOf(appendTrainedCentLong(s, dir))
    }

  /** The stored lists of the base index — built once, reused verbatim
    * by every append (never reassigned).
    */
  private[graft] def appendBaseAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_assigned_base") {
      assignTo(appendBase(s, dir), appendCentArr(s, dir))
    }

  /** The appended index: base lists ∪ the new batch assigned to the
    * FROZEN centroids — the whole marginal ingest cost is |batch|
    * assignment projections.
    */
  private[graft] def appendedAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_assigned_appended") {
      appendBaseAssigned(s, dir).unionByName(
        assignTo(appendBatch(s, dir), appendCentArr(s, dir)))
    }

  /** Shared body of `dedup_semantic` / `dedup_semantic_fast`: within
    * each trained cluster, link every vector to smaller-id cluster
    * mates with cosine ≥ [[SemDedupCos]] (scored by `cosOf(ea, eb, na,
    * nb)`), keep the min-id exemplar per similar group.
    */
  private def semanticDedup(s: org.apache.spark.sql.SparkSession, dir: String)(
      cosOf: (Column, Column, Column, Column) => Column) =
    semanticDedupOver(trainedAssigned(s, dir))(cosOf)

  private def semanticDedupOver(assigned: org.apache.spark.sql.DataFrame)(
      cosOf: (Column, Column, Column, Column) => Column) = {
    val a = assigned.select(col("list_id"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val minNbr = a.join(b, Seq("list_id"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", cosOf(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= SemDedupCos)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("min_nbr"))
    assigned.select(col("vec_id"), col("list_id"))
      .join(minNbr, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(col("min_nbr"), col("vec_id")).as("rep_id"),
        col("min_nbr").isNotNull.as("is_dup"))
  }

  /** Corpus-proportional seed gate for `dedup_semantic_scaled`:
    * p = 1/SeedMod per vector, so E[|cluster|] ≈ SeedMod at any corpus
    * size (11 seeds on the 500-vector fixture, 43 at 2000 — measured).
    */
  private[graft] val SeedMod = 50

  /** Seed centroids in long form: the md5-gated vectors themselves
    * (raw components as double — no Lloyd pass; the gate IS the
    * k-means++-free production init, chosen uniformly by hash).
    */
  private def scaledSeedsLong(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(
        VectorOps.hash31(concat(lit("seed_"), col("vec_id").cast("string")))
          % SeedMod === 0)
      .select(col("vec_id").as("list_id"),
              posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("list_id"), col("i"), col("x").cast("double").as("c"))

  /** Corpus assignment under the Bernoulli-gate seeds — materialized
    * once per (session, dir); the scale-safe twin of
    * [[trainedAssigned]].
    */
  private def scaledAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "scaled_assigned") {
      val emb = embWithNorm(s, dir)
      assignTo(emb, centsFrameOf(scaledSeedsLong(emb)))
    }

  /** The Bernoulli-gate seed centroids as the one-row broadcast cents
    * array — the scale-safe twin of [[ivfCentArr]], shared by the
    * scaled kNN-graph family's probe ranking.
    */
  private def scaledCentArr(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "scaled_cents") {
      centsFrameOf(scaledSeedsLong(embWithNorm(s, dir)))
    }

  /** The kNN graph over an IVF index: every vector's top-[[TopK]]
    * neighbours among the lists its [[NProbe]] nearest centroids of
    * `centArr` hold (`emb_knn_graph`, and `emb_knn_graph_scaled` with
    * the Bernoulli-gated lists). Exposed so the accuracy /
    * intrinsic-dimension finishes ride ONE chain.
    */
  private[graft] def knnGraphOver(s: org.apache.spark.sql.SparkSession, dir: String)(
      centArr: DataFrame, assigned: DataFrame): DataFrame =
    knnEdges(assigned, probeSide(embWithNorm(s, dir), centArr))

  /** kNN edges (src, rank, dst, cos_r) from a corpus-sized probe side
    * joined to the `assigned` lists on `list_id` — both sides are
    * corpus-sized, so neither broadcasts.
    */
  private def knnEdges(assigned: DataFrame, probes: DataFrame): DataFrame =
    topK(assigned.join(probes, Seq("list_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", queryCos("embedding")), "cos", "vec_id", TopK, "rank")
      .select(col("q_id").as("src"), col("rank"),
        col("vec_id").as("dst"), round(col("cos"), 6).as("cos_r"))

  /** Two-NN MLE intrinsic dimension (Facco et al. 2017) as a FINISH
    * over a (src, rank, cos_r) kNN-graph frame — `emb_intrinsic_dim`'s
    * exact formula tree (6-dp cosine distances, 12-dp-quantized ln μ
    * terms, decimal sum, guarded division) starting from the graph's
    * rank ≤ 2 prefix.
    */
  private def intrinsicDimOf(graph: org.apache.spark.sql.DataFrame) = {
    val rr = graph.filter(col("rank") <= 2)
      .groupBy(col("src").as("q_id"))
      .agg(max(when(col("rank") === 1, col("cos_r"))).as("c1"),
           max(when(col("rank") === 2, col("cos_r"))).as("c2"))
      .filter(col("c2").isNotNull)
      .select(col("q_id"), (lit(1.0) - col("c1")).as("d1"),
        (lit(1.0) - col("c2")).as("d2"))
    val ag = rr.filter(col("d1") > 0.0)
      .select(round(log(col("d2") / col("d1")), 12)
        .cast("decimal(28,12)").as("t"))
      .agg(count(lit(1)).as("n_used"), sum(col("t")).as("lsum"))
    ag.crossJoin(broadcast(rr.agg(count(lit(1)).as("n_pts"))))
      .select(col("n_pts"), col("n_used"),
        round(when(asDouble(col("lsum")) > 0.0,
          col("n_used").cast("double") / asDouble(col("lsum"))), 6)
          .as("id_r"))
  }

  /** The PRODUCTION scale control for semantic dedup, demonstrated:
    * same float-scored pipeline but with `nlist` seed centroids (the
    * first `nlist` corpus vectors — no Lloyd pass; this is a cost
    * harness, not an oracle query), so a caller scaling nlist ∝ corpus
    * holds |cluster| (and per-cluster pair work) constant.
    * [[graft.ScaleBench]] measures it at 1×/N× with nlist 10/10·N —
    * the linear-total evidence the fixed-nlist `dedup_semantic_fast`
    * row cannot show by construction.
    */
  private[graft] def semanticDedupScaledNlist(
      s: org.apache.spark.sql.SparkSession, dir: String, nlist: Int) = {
    val emb = embWithNorm(s, dir)
    val seeds = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("list_id"),
              posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("list_id"), col("i"), col("x").cast("double").as("c"))
    semanticDedupOver(assignTo(emb, centsFrameOf(seeds)))((ea, eb, _, _) =>
      graft.functions.FloatVectorCosine.cosineFast(ea, eb))
  }

  /** Scaled-nlist semantic dedup with HIERARCHICAL (two-level)
    * assignment — the missing piece the flat scaled-nlist harness
    * exposes: with nlist ∝ n, brute-force assignment is O(n·nlist) =
    * quadratic again (measured 221× at 100×, WORSE than fixed nlist's
    * 141×). Production IVF builds assign through a coarse level:
    * rank `ncoarse` super-centroids per vector (one compiled
    * projection), then rank only the winning cell's children (a
    * broadcast join keyed on the coarse id + one more compiled
    * projection over ~nlist/ncoarse centroids) — O(n·(ncoarse +
    * nlist/ncoarse)·dim), minimized at ncoarse ≈ √nlist. Seed
    * centroids are the first `nlist` vectors, coarse seeds the first
    * `ncoarse` (each coarse seed is its own child, so no cell is
    * empty and every coarse id joins). Cost harness, not an oracle
    * query: two-level argmin need not equal the global argmin — the
    * clusters are consistent, which is all SemDeDup needs.
    */
  private[graft] def semanticDedupHierarchicalNlist(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int, ncoarse: Int) =
    semanticDedupOver(hierarchicalAssignment(s, dir, nlist, ncoarse))(
      (ea, eb, _, _) => graft.functions.FloatVectorCosine.cosineFast(ea, eb))

  /** The two-level assignment itself: seed centroids = first `nlist`
    * vectors, coarse seeds = first `ncoarse` (⊂ the seeds, so no cell
    * is empty); every vector ranks the coarse cells (one compiled
    * projection), then only its winning cell's children (broadcast
    * join on the coarse id + one more compiled projection). Both
    * levels use the decimal-exact [[graft.functions.CentroidRanks]]
    * with the (cos DESC, id ASC) tiebreak, so the assignment is
    * deterministic and oracle-checkable.
    */
  private def hierarchicalAssignment(
      s: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int, ncoarse: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.CentroidRanks
    val emb = embWithNorm(s, dir)
    val coarse = centsFrameOf(
      emb.filter(col("vec_id") < ncoarse)
        .select(col("vec_id").as("list_id"),
                posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("list_id"), col("i"), col("x").cast("double").as("c")))
    // the nlist child centroids, each assigned to its nearest coarse
    // cell, packed into one cents array PER coarse id (ncoarse rows)
    val childCents = assignTo(emb.filter(col("vec_id") < nlist), coarse)
      .select(col("list_id").as("coarse_id"),
        struct(col("vec_id").as("list_id"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"),
          col("nrm").as("cnorm")).as("cent"))
      .groupBy(col("coarse_id"))
      .agg(array_sort(collect_list(col("cent"))).as("cents"))
    assignTo(emb, coarse)
      .withColumnRenamed("list_id", "coarse_id")
      .join(broadcast(childCents), Seq("coarse_id"))
      .withColumn("list_id",
        element_at(CentroidRanks(col("embedding"), col("nrm"), col("cents")), 1))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
  }

  /** Fixture operating point for the oracle-checked hierarchical
    * queries: 40 seed lists under 6 coarse cells (≈12 vectors per
    * list on the 500-vector fixture).
    */
  private[graft] val HierNlist = 40
  private[graft] val HierNcoarse = 6

  private def hierAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "hier_assigned") {
      hierarchicalAssignment(s, dir, HierNlist, HierNcoarse)
    }

  /** The r11-RETIRED `dedup_semantic_hier` chain — spec-only EXACT
    * ANCHOR (VERDICT r10 item 3): its FIXED 40/6 operating point
    * makes the within-cluster pair term quadratic in the corpus
    * (measured 11.0× at 10× in r10's scale_bench), so it left
    * `SparkEntry.queries`; the oracle-checked production postures
    * are `dedup_semantic_scaled` / `dedup_semantic_hier_scaled`
    * (stateless Bernoulli-gated seeds, nlist ∝ n).
    * SemanticHierAnchorSpec re-derives the whole two-level argmin
    * chain through the interpreted higher-order-function route and
    * pins equality with this compiled CentroidRanks chain, plus the
    * keep-rule invariants the old DuckDB twin hashed.
    */
  private[graft] def semanticHierAnchor(s: org.apache.spark.sql.SparkSession,
                                        dir: String) =
    semanticDedupOver(hierAssigned(s, dir))(exactCos)

  /** The anchor's two-level assignment, exposed for the spec. */
  private[graft] def hierAssignedAnchor(s: org.apache.spark.sql.SparkSession,
                                        dir: String) =
    hierAssigned(s, dir)

  /** Coarse-level gate for `dedup_semantic_hier_scaled`: a child seed
    * is ALSO a coarse cell iff h31("coarse_" ‖ vec_id) mod this = 0 —
    * so ncoarse ∝ nlist ∝ n and the expected children-per-coarse
    * stays ≈ CoarseGateMod at any corpus size. Coarse ⊆ child seeds
    * keeps every coarse cell non-empty (its own seed is a child).
    */
  private[graft] val CoarseGateMod = 5

  /** Two-level assignment with BOTH levels Bernoulli-gated (the
    * corpus-proportional twin of [[hierarchicalAssignment]]'s fixed
    * seeds): per-vector cost is E[ncoarse] + E[nlist/ncoarse]
    * compiled ranks instead of nlist, and cell sizes stay ≈ SeedMod.
    * Deterministic per fixture (the gates hash vec_id only):
    * 11 children / 1 coarse at the 500-vector sfs, 43 / 15 at sf0.1.
    */
  /** The Bernoulli-gated COARSE cents array (seeds passing both
    * gates) — level 1 of the two-level scaled index, shared by the
    * assignment and the hier kNN probes.
    */
  private def hierScaledCoarse(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "hier_scaled_coarse") {
      val emb = embWithNorm(s, dir)
      val childGate =
        VectorOps.hash31(concat(lit("seed_"), col("vec_id").cast("string"))) % SeedMod === 0
      val coarseGate =
        VectorOps.hash31(concat(lit("coarse_"), col("vec_id").cast("string"))) % CoarseGateMod === 0
      centsFrameOf(
        emb.filter(childGate && coarseGate)
          .select(col("vec_id").as("list_id"),
                  posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("list_id"), col("i"), col("x").cast("double").as("c")))
    }

  /** Child seeds packed into one cents array PER coarse id — level 2
    * of the two-level scaled index (each row broadcastable, looked up
    * by the winning coarse id).
    */
  private def hierScaledChildCents(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "hier_scaled_childcents") {
      val emb = embWithNorm(s, dir)
      val childGate =
        VectorOps.hash31(concat(lit("seed_"), col("vec_id").cast("string"))) % SeedMod === 0
      assignTo(emb.filter(childGate), hierScaledCoarse(s, dir))
        .select(col("list_id").as("coarse_id"),
          struct(col("vec_id").as("list_id"),
            transform(col("embedding"), x => x.cast("double")).as("centroid"),
            col("nrm").as("cnorm")).as("cent"))
        .groupBy(col("coarse_id"))
        .agg(array_sort(collect_list(col("cent"))).as("cents"))
    }

  /** Every corpus vector with its CHILD-list ranks within the winning
    * coarse cell — the shared two-level projection behind
    * [[hierScaledAssigned]] (rank 1) and the hier kNN probes
    * (ranks ≤ NProbe).
    */
  private def hierScaledRanked(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.functions.CentroidRanks
    assignTo(embWithNorm(s, dir), hierScaledCoarse(s, dir))
      .withColumnRenamed("list_id", "coarse_id")
      .join(broadcast(hierScaledChildCents(s, dir)), Seq("coarse_id"))
      .withColumn("ranks",
        CentroidRanks(col("embedding"), col("nrm"), col("cents")))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("ranks"))
  }

  private def hierScaledAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "hier_scaled_assigned") {
      hierScaledRanked(s, dir)
        .withColumn("list_id", element_at(col("ranks"), 1))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
    }

  // ---- Product-quantization building blocks ------------------------

  /** PQ geometry: PqM subspaces × PqDsub dims (= Dim), PqK codebook
    * entries per subspace; ADC shortlists PqRerank before the exact
    * re-rank. 16 codes/subspace = 4 bits — a byte-pair-packable code
    * word; the fixture keeps K small so every code has ~31 members.
    */
  private val PqM = 8
  private val PqDsub = 8
  private val PqK = 16
  private val PqRerank = 20

  /** Long-form PQ codebook (m, j, d, c): subspace-m centroid j =
    * 6-dp-quantized exact-decimal mean over vectors with
    * vec_id ≡ j (mod PqK). One posexplode + one (PqM·PqK·PqDsub)-group
    * partial agg — the codebook build is a single linear pass.
    * Materialized once per (session, dir): it is the index dictionary
    * every PQ query reads.
    */
  private def pqCodebookLong(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "pq_codebook") {
      pqCodebookLongOf(Tables.embeddings(s, dir), col("vec_id") % PqK)
    }

  /** The codebook build over an arbitrary (vec_id, embedding) frame
    * with a caller-chosen init-partition column (the fixture queries
    * use vec_id mod K; PqRecallSpec uses the true cluster id —
    * modeling a trained codebook). private[graft] for the spec.
    */
  private[graft] def pqCodebookLongOf(emb: org.apache.spark.sql.DataFrame,
                                      initGroup: Column) =
    emb
      .select(initGroup.cast("long").as("j"),
              posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("j"), (col("i") / PqDsub).cast("long").as("m"),
              (col("i") % PqDsub).cast("long").as("d"), col("x"))
      .groupBy(col("m"), col("j"), col("d"))
      .agg(round(
        sum(col("x").cast("double").cast("decimal(28,14)")).cast("double") /
          count(lit(1)), 6).as("c"))

  /** One-row broadcast frame: cents[m+1] = subspace m's codebook as a
    * j-sorted struct array (j, centroid, ccsq = exact-decimal ‖c‖² as
    * double — a per-entry constant precomputed once, not re-derived
    * per corpus row).
    */
  private[graft] def pqCentArrOf(cbLong: org.apache.spark.sql.DataFrame) =
    cbLong
      .groupBy(col("m"), col("j"))
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("pairs"))
      .select(col("m"),
        struct(col("j"),
          transform(col("pairs"), p => p.getField("c")).as("centroid")).as("jc"))
      .select(col("m"),
        struct(col("jc.j").as("j"), col("jc.centroid").as("centroid"),
          VectorOps.normSqDecimal(col("jc.centroid")).cast("double").as("ccsq"))
          .as("jc"))
      .groupBy(col("m"))
      .agg(array_sort(collect_list(col("jc"))).as("jcents"))
      .agg(array_sort(collect_list(struct(col("m"), col("jcents")))).as("mj"))
      .select(transform(col("mj"), x => x.getField("jcents")).as("cents"))

  private def pqCentArr(s: org.apache.spark.sql.SparkSession, dir: String) =
    pqCentArrOf(pqCodebookLong(s, dir))

  /** The encoded corpus (vec_id, codes: array of PqM codes) —
    * materialized once per (session, dir); a pure broadcast projection
    * (argmin over PqK entries per subspace via the lexicographic
    * struct min on (dist-surrogate, j)).
    */
  private def pqEncoded(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "pq_encoded") {
      pqEncodedOf(Tables.embeddings(s, dir), pqCentArr(s, dir))
    }

  /** The production encode: one compiled [[graft.functions.PqCodes]]
    * pass per row (the fused M × K × Dsub loop inside
    * WholeStageCodegen). Bit-identical to [[pqEncodedHofOf]], the
    * interpreted reference formulation `PqCodesSpec` cross-checks.
    */
  private[graft] def pqEncodedOf(emb: org.apache.spark.sql.DataFrame,
                                 centArr: org.apache.spark.sql.DataFrame) =
    emb.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        graft.functions.PqCodes(col("embedding"), col("cents")).as("codes"))

  /** The higher-order-function reference formulation of the encoder
    * (per subspace: array_min over (surrogate-dist, j) structs) —
    * kept as the independent route the codegen expression is
    * spec-checked against, the DecimalDotProductSpec pattern.
    */
  private[graft] def pqEncodedHofOf(emb: org.apache.spark.sql.DataFrame,
                                    centArr: org.apache.spark.sql.DataFrame) =
    emb.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(PqM - 1)), m =>
          array_min(transform(element_at(col("cents"), (m + 1).cast("int")), c =>
            struct(
              (c.getField("ccsq") - lit(2.0) *
                VectorOps.dotDecimal(
                  slice(col("embedding"), m * PqDsub + 1, lit(PqDsub)),
                  c.getField("centroid")).cast("double")).as("dist"),
              c.getField("j").as("j"))))
            .getField("j")).as("codes"))

  /** Shared ADC scoring for `ann_topk_pq` / `ann_topk_pq_rerank`:
    * every (query, corpus vector) pair scored as Σ_m lut[m·K+code_m]
    * with the per-query lut built once on the broadcast side. Decimal
    * types are sized so Spark's decimal-addition typing stays exact:
    * entries (18,14) (|ip| ≤ ~3 for the fixture's |x| ≤ 0.6), the
    * fold accumulator (22,14) — (22,14)+(18,14) → (23,14), no
    * precision-loss rescale (the dotDecimalHof pitfall).
    */
  private def adcRanked(s: org.apache.spark.sql.SparkSession, dir: String) =
    adcRankedOf(Tables.embeddings(s, dir), pqCentArr(s, dir),
      pqEncoded(s, dir), NQueries)

  /** `k` = codebook entries per subspace (the lut stride) — PqK for
    * the fixture queries; the recall spec's cluster-aligned codebook
    * has one entry per true cluster.
    *
    * POSITIONAL-LUT CONTRACT: `lut[m·k + code + 1]` assumes every
    * subspace's j-sorted entries are exactly j = 0..k−1 with no gaps —
    * true for every caller (mod-K and division init groups over a
    * corpus that populates every class; PqCodesSpec asserts the
    * contiguity on the fixture codebook). An init scheme that can
    * leave empty classes must densify j first or the lut reads the
    * wrong entry silently.
    */
  private[graft] def adcRankedOf(emb: org.apache.spark.sql.DataFrame,
                                 centArr: org.apache.spark.sql.DataFrame,
                                 enc: org.apache.spark.sql.DataFrame,
                                 nq: Int, k: Int = PqK) = {
    val q = emb.filter(col("vec_id") < nq)
      .crossJoin(broadcast(centArr))
      .select(col("vec_id").as("q_id"),
        flatten(transform(sequence(lit(0), lit(PqM - 1)), m =>
          transform(element_at(col("cents"), (m + 1).cast("int")), c =>
            VectorOps.dotDecimal(
              slice(col("embedding"), m * PqDsub + 1, lit(PqDsub)),
              c.getField("centroid")).cast("decimal(18,14)")))).as("lut"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        aggregate(sequence(lit(0), lit(PqM - 1)),
          lit(0).cast("decimal(22,14)"),
          (acc, m) => (acc + element_at(col("lut"),
            (m * k + element_at(col("codes"), m + 1) + 1).cast("int")))
            .cast("decimal(22,14)")))
      .withColumn("rank", row_number().over(w))
  }

  /** Per-row centroid ranking (cos desc, list_id asc) over the
    * broadcast `cents` array — a pure projection, no shuffle/window.
    * The codegen'd [[graft.functions.CentroidRanks]] expression
    * replaces the `transform` + comparator-`array_sort` HOF route,
    * whose nlist × dim interpreted lambda evals per corpus row were
    * the dominant IVF/kmeans cost (bit-identical assignment — same
    * exact-decimal fold, same tiebreak).
    */
  private def rankedListIds(v: Column, nrm: Column): Column =
    graft.functions.CentroidRanks(v, nrm, col("cents"))

  /** Every corpus vector with its nearest-centroid list assignment —
    * materialized once per (session, dir): the IVF list id is a stored
    * index column shared by `ann_topk_ivf`, `ann_topk_ivf_fast`, and
    * `kmeans_step`.
    */
  private def ivfAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    Artifacts.materialized(s, dir, "ivf_assigned") {
      assignTo(embWithNorm(s, dir), ivfCentArr(s, dir))
    }

  /** Assign every vector of `emb` to its nearest centroid of
    * `centArr` (a one-row broadcast array frame) — a pure projection.
    */
  private[graft] def assignTo(emb: org.apache.spark.sql.DataFrame,
                              centArr: org.apache.spark.sql.DataFrame) =
    emb.crossJoin(broadcast(centArr))
      .withColumn("list_id", element_at(rankedListIds(col("embedding"), col("nrm")), 1))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))

  /** Unrolled Lloyd-round CTE chain: `cent0` = label means (the
    * kmeans_step init), then per round r: score → rank (cos desc,
    * list_id tiebreak) → assign → 6-dp-quantized means → `cent{r}`.
    * The quantized round boundary is what keeps N chained rounds
    * engine-identical (see the kmeans_train query comment).
    */
  private def lloydCtes(rounds: Int, trainWhere: String = ""): String = {
    val w0 = if (trainWhere.isEmpty) "" else s"\n  $trainWhere"
    val init =
      s"""dims0 AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)$w0
         |  GROUP BY label, i
         |), cent0 AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims0 GROUP BY label
         |)""".stripMargin
    init + (1 to rounds).map { r =>
      s""", scored$r AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent${r - 1} c$w0
         |), ranked$r AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored$r
         |), assigned$r AS (
         |  SELECT vec_id, embedding, list_id FROM ranked$r WHERE rk = 1
         |), dims$r AS (
         |  SELECT a.list_id, i,
         |    round(CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS c
         |  FROM assigned$r a, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2
         |), cent$r AS (
         |  SELECT list_id, list(c ORDER BY i) AS centroid FROM dims$r GROUP BY list_id
         |)""".stripMargin
    }.mkString
  }

  /** Decimal-exact DuckDB twin shared by `dedup_semantic` and
    * `dedup_semantic_fast` (same unrolled Lloyd chain as
    * `ann_topk_ivf_trained`).
    */
  private lazy val semanticDedupSql: String =
    s"""WITH ${lloydCtes(TrainRounds)}, scoredq AS (
       |  SELECT e.vec_id, e.embedding, c.list_id,
       |    ${duckCos("e.embedding", "c.centroid")} AS ccos
       |  FROM embeddings e, cent$TrainRounds c
       |), rankedq AS (
       |  SELECT vec_id, embedding, list_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
       |  FROM scoredq
       |), assignedq AS (
       |  SELECT vec_id, embedding, list_id FROM rankedq WHERE rk = 1
       |), close_pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM assignedq a JOIN assignedq b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  WHERE ${duckCos("a.embedding", "b.embedding")} >= $SemDedupCos
       |), min_nbr AS (
       |  SELECT vb AS vec_id, min(va) AS min_nbr FROM close_pairs GROUP BY 1
       |)
       |SELECT q.vec_id, q.list_id,
       |  coalesce(n.min_nbr, q.vec_id) AS rep_id,
       |  (n.min_nbr IS NOT NULL) AS is_dup
       |FROM assignedq q LEFT JOIN min_nbr n USING (vec_id)""".stripMargin

  /** Shared PQ CTE chain: codebook (6-dp-quantized decimal means over
    * the vec_id-mod-K partition) → per-(vec, subspace) assignment via
    * the double surrogate ‖c‖² − 2·sub·c (both exact decimal sums cast
    * to double — the engine's formula) → the encoded corpus.
    */
  private def pqCtes: String =
    s"""pdims AS (
       |  SELECT vec_id % $PqK AS j, (i - 1) // $PqDsub AS m, (i - 1) % $PqDsub AS d,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, generate_series(1, 64) t(i)
       |), cbdims AS (
       |  SELECT m, j, d,
       |    round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS c
       |  FROM pdims GROUP BY 1, 2, 3
       |), cb AS (
       |  SELECT m, j, list(c ORDER BY d) AS centroid FROM cbdims GROUP BY m, j
       |), enc_scored AS (
       |  SELECT e.vec_id, cb.m, cb.j,
       |    CAST(list_sum(list_transform(generate_series(1, $PqDsub), d ->
       |      CAST(cb.centroid[d] * cb.centroid[d] AS DECIMAL(28,14)))) AS DOUBLE)
       |    - 2 * CAST(list_sum(list_transform(generate_series(1, $PqDsub), d ->
       |      CAST(CAST(e.embedding[cb.m * $PqDsub + d] AS DOUBLE) * cb.centroid[d] AS DECIMAL(28,14)))) AS DOUBLE) AS dist
       |  FROM embeddings e, cb
       |), enc AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rk
       |    FROM enc_scored) WHERE rk = 1
       |)""".stripMargin

  /** ADC continuation of [[pqCtes]]: per-query lookup tables + the
    * decimal-exact Σ_m lut[code_m] ranking.
    */
  private def pqAdcCtes: String =
    s"""$pqCtes, lut AS (
       |  SELECT q.vec_id AS q_id, cb.m, cb.j,
       |    CAST(list_sum(list_transform(generate_series(1, $PqDsub), d ->
       |      CAST(CAST(q.embedding[cb.m * $PqDsub + d] AS DOUBLE) * cb.centroid[d] AS DECIMAL(28,14)))) AS DECIMAL(28,14)) AS ip
       |  FROM embeddings q, cb WHERE q.vec_id < $NQueries
       |), adc AS (
       |  SELECT l.q_id, c.vec_id, sum(l.ip) AS score
       |  FROM enc c JOIN lut l ON l.m = c.m AND l.j = c.code
       |  WHERE c.vec_id <> l.q_id
       |  GROUP BY 1, 2
       |), adcranked AS (
       |  SELECT q_id, vec_id, score,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |  FROM adc
       |)""".stripMargin

  /** SQ8 oracle building blocks: the per-dim min/max grid, the
    * min/range arrays, and the int8 codes — the identical IEEE double
    * formula tree as the Spark side (sub, mul, div, floor in the same
    * order; doubles are correctly rounded per IEEE 754 in both
    * engines, so the codes agree bit-for-bit with no decimal route).
    */
  private def sqCtes: String =
    s"""sqdims AS (
       |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
       |    max(CAST(embedding[i] AS DOUBLE)) AS mx
       |  FROM embeddings, generate_series(1, $Dim) t(i)
       |  GROUP BY 1
       |), sqm AS (
       |  SELECT list(mn ORDER BY i) AS mn_arr,
       |    list(mx - mn ORDER BY i) AS rng_arr
       |  FROM sqdims
       |), sqcodes AS (
       |  SELECT e.vec_id, i,
       |    CASE WHEN m.rng_arr[i] = CAST(0 AS DOUBLE) THEN 0
       |      ELSE CAST(least(255, greatest(0,
       |        CAST(floor((CAST(e.embedding[i] AS DOUBLE) - m.mn_arr[i])
       |          * CAST(255 AS DOUBLE) / m.rng_arr[i]) AS BIGINT))) AS INTEGER)
       |    END AS code
       |  FROM embeddings e, generate_series(1, $Dim) t(i), sqm m
       |)""".stripMargin

  // DuckDB twin of VectorOps.cosine: per-element double products
  // rounded to DECIMAL(28,14), exact decimal sum, double finish.
  /** The DBSCAN oracle chain downstream of a `nbr(va, vb)` CTE —
    * shared verbatim by the exact and LSH-bucketed variants (only the
    * pair generator differs, exactly like the Scala side's
    * `dbscanFrom`).
    */
  private lazy val dbscanTailSql: String =
    s""", deg AS (
       |  SELECT v, count(*) AS deg FROM (
       |    SELECT va AS v FROM nbr UNION ALL SELECT vb AS v FROM nbr
       |  ) GROUP BY 1
       |), core AS (
       |  SELECT v FROM deg WHERE deg >= $DbscanMinPts
       |), ce AS (
       |  SELECT n.va AS src, n.vb AS dst FROM nbr n
       |  JOIN core x ON x.v = n.va JOIN core y ON y.v = n.vb
       |  UNION ALL
       |  SELECT n.vb AS src, n.va AS dst FROM nbr n
       |  JOIN core x ON x.v = n.va JOIN core y ON y.v = n.vb
       |), lp(v, lbl) AS (
       |  SELECT v, v FROM core
       |  UNION
       |  SELECT e.dst, lp.lbl FROM lp JOIN ce e ON e.src = lp.v
       |  WHERE lp.lbl < e.dst
       |), cc AS (
       |  SELECT v, min(lbl) AS lbl FROM lp GROUP BY v
       |), border AS (
       |  SELECT t.vec_id, min(cc.lbl) AS cluster_id FROM (
       |    SELECT n.va AS vec_id, n.vb AS cv FROM nbr n
       |    WHERE n.va NOT IN (SELECT v FROM core)
       |      AND n.vb IN (SELECT v FROM core)
       |    UNION ALL
       |    SELECT n.vb AS vec_id, n.va AS cv FROM nbr n
       |    WHERE n.vb NOT IN (SELECT v FROM core)
       |      AND n.va IN (SELECT v FROM core)
       |  ) t JOIN cc ON cc.v = t.cv
       |  GROUP BY 1
       |)
       |SELECT e.vec_id,
       |  CASE WHEN cc.v IS NOT NULL THEN 'core'
       |       WHEN border.vec_id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  CAST(coalesce(cc.lbl, border.cluster_id, -1) AS BIGINT)
       |    AS cluster_id
       |FROM embeddings e
       |LEFT JOIN cc ON cc.v = e.vec_id
       |LEFT JOIN border ON border.vec_id = e.vec_id""".stripMargin

  /** The scaled kNN-graph chain up to `rankedp` (q_id, vec_id, cos,
    * rank): Bernoulli-gate seeds (the `dedup_semantic_scaled` seeds
    * CTE verbatim — same md5 gate, same [[SeedMod]]) ranked per vector
    * for assignment (rk = 1) and probes (rk ≤ [[NProbe]]), then the
    * probe join + neighbor ranking (the `emb_knn_graph` tail
    * verbatim). Shared by the three scaled-graph oracles.
    */
  private lazy val scaledKnnChainCtes: String =
    s"""seeds AS (
       |  SELECT vec_id AS list_id, embedding
       |  FROM embeddings
       |  WHERE (CAST(concat('0x', substr(md5(concat('seed_', CAST(vec_id AS VARCHAR))), 1, 14)) AS BIGINT)
       |         % 2147483647) % $SeedMod = 0
       |), scored AS (
       |  SELECT e.vec_id, e.embedding, s.list_id,
       |    ${duckCos("e.embedding", "s.embedding")} AS ccos
       |  FROM embeddings e, seeds s
       |), ranked AS (
       |  SELECT vec_id, embedding, list_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
       |  FROM scored
       |), assigned AS (
       |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
       |), qprobe AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
       |  FROM ranked WHERE rk <= $NProbe
       |), pairs AS (
       |  SELECT q.q_id, a.vec_id,
       |    ${duckCos("q.q_emb", "a.embedding")} AS cos
       |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
       |  WHERE a.vec_id <> q.q_id
       |), rankedp AS (
       |  SELECT q_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM pairs
       |)""".stripMargin

  /** The trained-assignment → (cluster, label) contingency →
    * entropy/MI CTE chain (ends at `mi`/`ht`/`hh`) — shared verbatim
    * by the NMI and v-measure oracles so the two finishes provably
    * read one chain.
    */
  /** Shared trained-assignment + geometric-sufficient-statistics CTE
    * chain for the two internal validity oracles: per-(cluster, dim)
    * exact decimal sums, 9-dp empirical means, and the W_k expansion
    * — term-for-term the [[clusterDimStats]]/[[clusterWss]] math.
    */
  private lazy val clusterGeomCtes: String =
    s"""${lloydCtes(TrainRounds)}, scored AS (
       |  SELECT e.vec_id, c.list_id,
       |    ${duckCos("e.embedding", "c.centroid")} AS ccos
       |  FROM embeddings e, cent$TrainRounds c
       |), ranked AS (
       |  SELECT vec_id, list_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, list_id) AS rk
       |  FROM scored
       |), asg AS (
       |  SELECT vec_id, list_id FROM ranked WHERE rk = 1
       |), av AS (
       |  SELECT a.list_id, e.embedding
       |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
       |), gdims AS (
       |  SELECT list_id, i,
       |    sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS sx,
       |    CAST(count(*) AS BIGINT) AS nk
       |  FROM av, generate_series(1, 64) t(i)
       |  GROUP BY 1, 2
       |), dm AS (
       |  SELECT list_id, i, sx, nk,
       |    round(CAST(sx AS DOUBLE) / nk, 9) AS m
       |  FROM gdims
       |), per AS (
       |  SELECT list_id,
       |    sum(CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
       |        AS DECIMAL(28,14)))) AS DECIMAL(38,14))) AS ssq,
       |    CAST(count(*) AS BIGINT) AS n_k
       |  FROM av GROUP BY 1
       |), mterms AS (
       |  SELECT list_id,
       |    sum(CAST(round(m * CAST(sx AS DOUBLE), 9) AS DECIMAL(30,9))) AS msx,
       |    sum(CAST(round(m * m, 12) AS DECIMAL(24,12))) AS mm
       |  FROM dm GROUP BY 1
       |), wk AS (
       |  SELECT p.list_id, p.n_k,
       |    greatest(CAST(p.ssq AS DOUBLE) - 2.0 * CAST(t.msx AS DOUBLE)
       |      + p.n_k * CAST(t.mm AS DOUBLE), 0.0) AS w_k
       |  FROM per p JOIN mterms t USING (list_id)
       |)""".stripMargin

  private lazy val clusterEntropyCtes: String =
    s"""${lloydCtes(TrainRounds)}, scored AS (
       |  SELECT e.vec_id, c.list_id,
       |    ${duckCos("e.embedding", "c.centroid")} AS ccos
       |  FROM embeddings e, cent$TrainRounds c
       |), ranked AS (
       |  SELECT vec_id, list_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, list_id) AS rk
       |  FROM scored
       |), asg AS (
       |  SELECT vec_id, list_id FROM ranked WHERE rk = 1
       |), cells AS (
       |  SELECT a.list_id AS event_type, e.label AS hour,
       |    CAST(count(*) AS BIGINT) AS nij
       |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
       |  GROUP BY 1, 2
       |), nt AS (
       |  SELECT event_type, CAST(sum(nij) AS BIGINT) AS nt
       |  FROM cells GROUP BY 1
       |), nh AS (
       |  SELECT hour, CAST(sum(nij) AS BIGINT) AS nh
       |  FROM cells GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(nij) AS BIGINT) AS nn FROM cells
       |), mi AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
       |    sum(CAST(round((nij / nn) *
       |      ln((CAST(nn AS DOUBLE) * nij) / (CAST(nt AS DOUBLE) * nh)), 12)
       |      AS DECIMAL(28,12))) AS mi_sum
       |  FROM cells JOIN nt USING (event_type) JOIN nh USING (hour)
       |  CROSS JOIN tot
       |), ht AS (
       |  SELECT sum(CAST(round(-(nt / nn) * ln(nt / nn), 12)
       |    AS DECIMAL(28,12))) AS h_type
       |  FROM nt CROSS JOIN tot
       |), hh AS (
       |  SELECT sum(CAST(round(-(nh / nn) * ln(nh / nn), 12)
       |    AS DECIMAL(28,12))) AS h_hour
       |  FROM nh CROSS JOIN tot
       |)""".stripMargin

  /** The TWO-LEVEL (hier-gated) kNN-graph chain up to `rankedp` —
    * the `dedup_semantic_hier_scaled` two-level decimal argmin (both
    * Bernoulli gates) with the fscore ranks reused as probes (rk ≤
    * [[NProbe]]) next to the assignment (rk = 1). Shared by the three
    * hier-scaled graph oracles (graph / intrinsic-dim / accuracy) so
    * the finishes provably read the identical chain.
    */
  private lazy val hierScaledKnnChainCtes: String =
    s"""child AS (
       |  SELECT vec_id AS child_id, embedding
       |  FROM embeddings
       |  WHERE (CAST(concat('0x', substr(md5(concat('seed_', CAST(vec_id AS VARCHAR))), 1, 14)) AS BIGINT)
       |         % 2147483647) % $SeedMod = 0
       |), coarse AS (
       |  SELECT child_id AS coarse_id, embedding
       |  FROM child
       |  WHERE (CAST(concat('0x', substr(md5(concat('coarse_', CAST(child_id AS VARCHAR))), 1, 14)) AS BIGINT)
       |         % 2147483647) % $CoarseGateMod = 0
       |), cscore AS (
       |  SELECT c.child_id, k.coarse_id,
       |    row_number() OVER (PARTITION BY c.child_id
       |      ORDER BY ${duckCos("c.embedding", "k.embedding")} DESC, k.coarse_id) AS rk
       |  FROM child c, coarse k
       |), cassign AS (
       |  SELECT child_id, coarse_id FROM cscore WHERE rk = 1
       |), vscore AS (
       |  SELECT e.vec_id, k.coarse_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckCos("e.embedding", "k.embedding")} DESC, k.coarse_id) AS rk
       |  FROM embeddings e, coarse k
       |), vassign AS (
       |  SELECT vec_id, coarse_id FROM vscore WHERE rk = 1
       |), fscore AS (
       |  SELECT e.vec_id, ch.child_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${duckCos("e.embedding", "che.embedding")} DESC, ch.child_id) AS rk
       |  FROM embeddings e
       |  JOIN vassign va ON va.vec_id = e.vec_id
       |  JOIN cassign ch ON ch.coarse_id = va.coarse_id
       |  JOIN embeddings che ON che.vec_id = ch.child_id
       |), assigned AS (
       |  SELECT vec_id, child_id AS list_id FROM fscore WHERE rk = 1
       |), qprobe AS (
       |  SELECT vec_id AS q_id, child_id AS list_id FROM fscore
       |  WHERE rk <= $NProbe
       |), pairs AS (
       |  SELECT q.q_id, a.vec_id,
       |    ${duckCos("qe.embedding", "ae.embedding")} AS cos
       |  FROM qprobe q
       |  JOIN assigned a ON a.list_id = q.list_id
       |  JOIN embeddings qe ON qe.vec_id = q.q_id
       |  JOIN embeddings ae ON ae.vec_id = a.vec_id
       |  WHERE a.vec_id <> q.q_id
       |), rankedp AS (
       |  SELECT q_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM pairs
       |)""".stripMargin

  /** duckCos generalized to a prefix truncation — the Matryoshka
    * oracle's per-dim kernel (d = 64 reproduces duckCos exactly).
    */
  private def duckCosDim(a: String, b: String, d: Int): String =
    s"""(CAST(list_sum(list_transform(generate_series(1, $d), i ->
       |    CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
       |  / (sqrt(CAST(list_sum(list_transform(generate_series(1, $d), i ->
       |      CAST(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))
       |   * sqrt(CAST(list_sum(list_transform(generate_series(1, $d), i ->
       |      CAST(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))))""".stripMargin

  /** The brute-force rank ≤ TopK CTE body at truncation `d` — shared
    * by the truth (d = 64) and every candidate arm of the Matryoshka
    * oracle.
    */
  private def matryoshkaArm(d: Int): String =
    s"""SELECT q_id, vec_id FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${duckCosDim("q.embedding", "e.embedding", d)} DESC,
       |        e.vec_id) AS rk
       |  FROM embeddings e
       |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
       |              WHERE vec_id < $NQueries) q
       |  WHERE e.vec_id <> q.vec_id
       |) WHERE rk <= $TopK""".stripMargin

  private def duckCos(a: String, b: String): String =
    s"""(CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |    CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE)
       |  / (sqrt(CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CAST(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))
       |   * sqrt(CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |      CAST(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) AS DECIMAL(28,14)))) AS DOUBLE))))""".stripMargin

  /** BM25 shortlist CTEs shared by both hybrid-RRF oracles (the
    * text_bm25 formula tree, 9-dp-rounded contribs, decimal sums).
    */
  private def hybridLexCtes: String =
    s"""tok AS (
       |  SELECT doc_id, token
       |  FROM documents, unnest(string_split(text, ' ')) AS u(token)
       |), dl AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
       |), qt AS (
       |  SELECT DISTINCT doc_id AS q_id, token FROM tok
       |  WHERE doc_id < $NQueries
       |), tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
       |  WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1, 2
       |), df AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), lexs AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    sum(CAST(round(
       |      ln(CAST(1.0 AS DOUBLE) +
       |         (CAST(st.n_docs - df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |         (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |      *
       |      (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
       |       (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
       |        (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
       |         CAST(0.75 AS DOUBLE) *
       |          (CAST(dl.dl AS DOUBLE) /
       |           (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))))
       |    , 9) AS DECIMAL(28,9))) AS score_lex
       |  FROM tf
       |  JOIN qt ON qt.token = tf.token AND tf.doc_id <> qt.q_id
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN df ON df.token = tf.token
       |  CROSS JOIN st
       |  GROUP BY 1, 2
       |), lextop AS (
       |  SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_lex DESC, doc_id) AS BIGINT) AS rank_lex
       |  FROM lexs QUALIFY rank_lex <= $HybridShortlist
       |)""".stripMargin

  /** RRF fusion tail shared by both hybrid-RRF oracles: FULL JOIN of
    * `lextop`/`semtop`, IEEE 1/(60+rank) sums, final top-[[TopK]].
    */
  private def hybridFuseTail: String =
    s""", fused AS (
       |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
       |    coalesce(l.doc_id, s.doc_id) AS doc_id,
       |    l.rank_lex, s.rank_sem,
       |    coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + l.rank_lex),
       |             CAST(0 AS DOUBLE)) +
       |    coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + s.rank_sem),
       |             CAST(0 AS DOUBLE)) AS rrf
       |  FROM lextop l
       |  FULL JOIN semtop s ON s.q_id = l.q_id AND s.doc_id = l.doc_id
       |)
       |SELECT q_id,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, rank_lex, rank_sem, round(rrf, 9) AS rrf_r
       |FROM fused QUALIFY rank <= $TopK""".stripMargin

  val oracleSql: Map[String, String] = oracleBase +
    // composes the two already-oracle-matched rankings: WITH b/i wrap
    // their full SQL as subqueries, the recall is integer overlap
    // counting — added post-Map so the composition can read oracleBase
    ("ann_recall_ivf" -> {
      val b = "ann_topk_bruteforce"; val i = "ann_topk_ivf"
      s"""WITH b AS (${oracleBase(b)}), i AS (${oracleBase(i)}), o AS (
         |  SELECT b.q_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM b JOIN i USING (q_id, vec_id) GROUP BY 1
         |)
         |SELECT q.q_id, coalesce(o.n_overlap, 0) AS n_overlap,
         |  round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / $TopK, 6)
         |    AS recall_at_k
         |FROM (SELECT DISTINCT q_id FROM b) q LEFT JOIN o USING (q_id)"""
        .stripMargin
    })

  private lazy val oracleBase: Map[String, String] = Map(

    "pipeline_hard_negatives" ->
      s"""WITH pairs AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_label,
         |    c.vec_id AS vec_id, c.label AS label,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |), pm AS (
         |  SELECT q_id, max(CASE WHEN label = q_label THEN cos END) AS pmax
         |  FROM pairs GROUP BY 1
         |), neg AS (
         |  SELECT p.q_id, p.vec_id, p.cos, pm.pmax,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY p.cos DESC, p.vec_id) AS neg_rank
         |  FROM pairs p JOIN pm ON p.q_id = pm.q_id
         |  WHERE pm.pmax IS NOT NULL AND p.label <> p.q_label
         |    AND p.cos < pm.pmax AND p.cos > pm.pmax - $HardNegMargin
         |)
         |SELECT q_id, CAST(neg_rank AS BIGINT) AS neg_rank, vec_id,
         |  round(cos, 6) AS cos_r, round(pmax, 6) AS pmax_r
         |FROM neg WHERE neg_rank <= $TopK""".stripMargin,

    "dedup_dbscan_scaled" ->
      s"""WITH RECURSIVE planes AS (
         |  SELECT j, list_transform(generate_series(1, 64), i ->
         |    (CAST(concat('0x', substr(md5(concat(j, '_', i)), 1, 14)) AS BIGINT) % 2147483647)
         |      / 1073741823.5 - 1.0) AS plane
         |  FROM generate_series(0, ${NPlanes - 1}) t(j)
         |), sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(CAST(e.embedding[i] AS DOUBLE) * p.plane[i] AS DECIMAL(28,14)))) > 0
         |      THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, e.embedding
         |), nbr AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM sig a JOIN sig b ON a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id
         |    AND ${duckCos("a.embedding", "b.embedding")} >= $DbscanCos
         |)${dbscanTailSql}""".stripMargin,

    "dedup_dbscan" ->
      s"""WITH RECURSIVE nbr AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id < b.vec_id
         |    AND ${duckCos("a.embedding", "b.embedding")} >= $DbscanCos
         |)${dbscanTailSql}""".stripMargin,
    "sq_minmax" ->
      s"""WITH $sqCtes
         |SELECT CAST(i AS BIGINT) AS d, mn, mx FROM sqdims""".stripMargin,

    "sq_codes" ->
      s"""WITH $sqCtes
         |SELECT vec_id, CAST(i AS BIGINT) AS d, code FROM sqcodes""".stripMargin,

    // midpoint reconstruction in the same IEEE formula tree, per-dim
    // products rounded to DECIMAL(28,14), exact decimal sum (order-
    // free), rank by (score DESC, vec_id)
    "ann_topk_sq" ->
      s"""WITH $sqCtes, sqxhat AS (
         |  SELECT c.vec_id, c.i,
         |    CASE WHEN m.rng_arr[c.i] = CAST(0 AS DOUBLE) THEN m.mn_arr[c.i]
         |      ELSE m.mn_arr[c.i] + (CAST(c.code AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |        * m.rng_arr[c.i] / CAST(255 AS DOUBLE)
         |    END AS v
         |  FROM sqcodes c, sqm m
         |), sqscores AS (
         |  SELECT q.vec_id AS q_id, x.vec_id,
         |    CAST(sum(CAST(CAST(q.embedding[x.i] AS DOUBLE) * x.v
         |      AS DECIMAL(28,14))) AS DECIMAL(23,14)) AS score
         |  FROM sqxhat x, embeddings q
         |  WHERE q.vec_id < $NQueries AND x.vec_id <> q.vec_id
         |  GROUP BY 1, 2
         |), sqranked AS (
         |  SELECT q_id, vec_id, score,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, vec_id) AS BIGINT) AS rank
         |  FROM sqscores
         |)
         |SELECT q_id, rank, vec_id, round(CAST(score AS DOUBLE), 6) AS score_r
         |FROM sqranked WHERE rank <= $TopK""".stripMargin,

    // the shared lexical-shortlist CTEs joined against the shared LSH
    // edge CTEs as binary relevance — metric arithmetic is counts and
    // two divisions per query
    "search_retrieval_eval" ->
      s"""WITH ${DedupQueries.lshEdgeCtes}, $hybridLexCtes, rel AS (
         |  SELECT DISTINCT q_id, doc_id FROM (
         |    SELECT doc_a AS q_id, doc_b AS doc_id FROM edges
         |    UNION ALL
         |    SELECT doc_b AS q_id, doc_a AS doc_id FROM edges
         |  ) WHERE q_id < $NQueries
         |), nr AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1
         |), jj AS (
         |  SELECT lt.q_id, lt.rank_lex,
         |    CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
         |  FROM lextop lt
         |  LEFT JOIN rel r ON r.q_id = lt.q_id AND r.doc_id = lt.doc_id
         |), m AS (
         |  SELECT q_id,
         |    min(CASE WHEN is_rel = 1 THEN rank_lex END) AS first_rel,
         |    CAST(sum(CASE WHEN rank_lex <= 5 THEN is_rel ELSE 0 END)
         |      AS BIGINT) AS h5,
         |    CAST(sum(is_rel) AS BIGINT) AS h20
         |  FROM jj GROUP BY 1
         |)
         |SELECT nr.q_id, nr.n_rel,
         |  m.first_rel AS first_rel_rank,
         |  CASE WHEN m.first_rel IS NOT NULL
         |    THEN round(1.0 / CAST(m.first_rel AS DOUBLE), 6)
         |    ELSE CAST(0.0 AS DOUBLE) END AS rr_r,
         |  round(CAST(coalesce(m.h5, 0) AS DOUBLE) / 5.0, 6) AS p_at5_r,
         |  round(CAST(coalesce(m.h5, 0) AS DOUBLE)
         |    / CAST(nr.n_rel AS DOUBLE), 6) AS r_at5_r,
         |  round(CAST(coalesce(m.h20, 0) AS DOUBLE)
         |    / CAST($HybridShortlist AS DOUBLE), 6) AS p_at20_r,
         |  round(CAST(coalesce(m.h20, 0) AS DOUBLE)
         |    / CAST(nr.n_rel AS DOUBLE), 6) AS r_at20_r
         |FROM nr LEFT JOIN m ON m.q_id = nr.q_id""".stripMargin,

    // same BM25 formula tree as text_bm25 (9-dp-rounded contribs,
    // decimal sums), same duckCos semantic leg, FULL JOIN fusion with
    // the identical IEEE 1/(60+rank) arithmetic
    "search_hybrid_rrf" ->
      s"""WITH $hybridLexCtes, sems AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |), semtop AS (
         |  SELECT q_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_sem
         |  FROM sems QUALIFY rank_sem <= $HybridShortlist
         |)$hybridFuseTail""".stripMargin,

    // Indexed variant: the same lexical CTEs and fusion tail, with the
    // semantic shortlist produced by the unrolled trained-Lloyd probe
    // chain (ann_topk_ivf_trained's CTEs at shortlist depth 20).
    "search_hybrid_rrf_indexed" ->
      s"""WITH ${lloydCtes(TrainRounds)}, $hybridLexCtes, scoredq AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), rankedq AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scoredq
         |), assignedq AS (
         |  SELECT vec_id, embedding, list_id FROM rankedq WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM rankedq WHERE vec_id < $NQueries AND rk <= $NProbe
         |), sems AS (
         |  SELECT q.q_id, a.vec_id AS doc_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assignedq a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), semtop AS (
         |  SELECT q_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_sem
         |  FROM sems QUALIFY rank_sem <= $HybridShortlist
         |)$hybridFuseTail""".stripMargin,

    // Unrolled TopK-round greedy: each round anti-joins the selected
    // picks, max-aggregates sim to them, quantizes the MMR score to
    // 9 dp, and takes the (score DESC, vec_id) argmax — mirror of the
    // engine's loop, round for round.
    "search_mmr" -> {
      def pickRound(r: Int): String = {
        val selUnion = (1 until r)
          .map(i => s"SELECT q_id, vec_id FROM p$i").mkString(" UNION ALL ")
        s"""sel$r AS ($selUnion), sc$r AS (
           |  SELECT c.q_id, c.vec_id,
           |    round(0.7 * c.rel - 0.3 * max(s.sim), 9) AS score
           |  FROM cands c
           |  LEFT JOIN sel$r dup ON dup.q_id = c.q_id AND dup.vec_id = c.vec_id
           |  JOIN sims s ON s.q_id = c.q_id AND s.a = c.vec_id
           |  JOIN sel$r sel ON sel.q_id = s.q_id AND sel.vec_id = s.b
           |  WHERE dup.vec_id IS NULL
           |  GROUP BY c.q_id, c.vec_id, c.rel
           |), p$r AS (
           |  SELECT q_id, vec_id, CAST($r AS BIGINT) AS mmr_rank, score
           |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
           |          ORDER BY score DESC, vec_id) AS rk FROM sc$r)
           |  WHERE rk = 1
           |)""".stripMargin
      }
      val rounds = (2 to TopK).map(pickRound).mkString(", ")
      val finalUnion = (1 to TopK)
        .map(i => s"SELECT q_id, mmr_rank, vec_id, score FROM p$i")
        .mkString(" UNION ALL ")
      s"""WITH cands AS (
         |  SELECT * FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |      ${duckCos("q.embedding", "c.embedding")} AS rel,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckCos("q.embedding", "c.embedding")} DESC, c.vec_id)
         |        AS rank_rel
         |    FROM embeddings q, embeddings c
         |    WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |  ) WHERE rank_rel <= $MmrShortlist
         |), sims AS (
         |  SELECT x.q_id, x.vec_id AS a, y.vec_id AS b,
         |    ${duckCos("ex.embedding", "ey.embedding")} AS sim
         |  FROM cands x
         |  JOIN cands y ON x.q_id = y.q_id AND x.vec_id <> y.vec_id
         |  JOIN embeddings ex ON ex.vec_id = x.vec_id
         |  JOIN embeddings ey ON ey.vec_id = y.vec_id
         |), p1 AS (
         |  SELECT q_id, vec_id, CAST(1 AS BIGINT) AS mmr_rank, rel AS score
         |  FROM cands WHERE rank_rel = 1
         |), $rounds
         |SELECT q_id, mmr_rank, vec_id, round(score, 6) AS score_r
         |FROM ($finalUnion)""".stripMargin
    },

    "ann_topk_bruteforce" ->
      s"""WITH pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM ranked WHERE rank <= $TopK""".stripMargin,

    // the same brute-force rank arm at each prefix truncation, hits
    // counted against the d = 64 truth arm
    "emb_matryoshka_recall" -> {
      val arms = MatryoshkaDims
        .map(d => s"SELECT $d AS dim, q_id, vec_id FROM (${matryoshkaArm(d)})")
        .mkString("\nUNION ALL\n")
      s"""WITH t64 AS (
         |  ${matryoshkaArm(64)}
         |), cand AS (
         |  $arms
         |)
         |SELECT CAST(c.dim AS BIGINT) AS dim,
         |  CAST(count(DISTINCT c.q_id) AS BIGINT) AS n_q,
         |  CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS DOUBLE)
         |    / CAST(count(DISTINCT c.q_id) * $TopK AS DOUBLE), 6) AS recall_r
         |FROM cand c
         |LEFT JOIN t64 t ON t.q_id = c.q_id AND t.vec_id = c.vec_id
         |GROUP BY c.dim""".stripMargin
    },

    // Rank-only twin of ann_topk_bruteforce: the float hot path's
    // (q_id, rank, vec_id) must equal the decimal-exact ranking.
    "ann_topk_fast" ->
      s"""WITH pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id
         |FROM ranked WHERE rank <= $TopK""".stripMargin,

    // pre-filter semantics: the label predicate joins BEFORE ranking
    "ann_topk_filtered" ->
      s"""WITH pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id
         |    AND c.label = q.label
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id
         |FROM ranked WHERE rank <= $TopK""".stripMargin,

    "ann_topk_lsh" ->
      s"""WITH planes AS (
         |  SELECT j, list_transform(generate_series(1, 64), i ->
         |    (CAST(concat('0x', substr(md5(concat(j, '_', i)), 1, 14)) AS BIGINT) % 2147483647)
         |      / 1073741823.5 - 1.0) AS plane
         |  FROM generate_series(0, ${NPlanes - 1}) t(j)
         |), sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(CAST(e.embedding[i] AS DOUBLE) * p.plane[i] AS DECIMAL(28,14)))) > 0
         |      THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, e.embedding
         |), qp AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN j = $NPlanes THEN bucket
         |         ELSE xor(bucket, CAST(power(2, j) AS BIGINT)) END AS bucket
         |  FROM sig, generate_series(0, $NPlanes) t(j)
         |  WHERE vec_id < $NQueries
         |), pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM qp q JOIN sig c ON q.bucket = c.bucket
         |  WHERE c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM ranked WHERE rank <= $TopK""".stripMargin,

    // Rank-only twin of ann_topk_lsh: the float-scored pruned path must
    // reproduce the decimal-exact ranking on the LSH candidate set.
    "ann_topk_lsh_fast" ->
      s"""WITH planes AS (
         |  SELECT j, list_transform(generate_series(1, 64), i ->
         |    (CAST(concat('0x', substr(md5(concat(j, '_', i)), 1, 14)) AS BIGINT) % 2147483647)
         |      / 1073741823.5 - 1.0) AS plane
         |  FROM generate_series(0, ${NPlanes - 1}) t(j)
         |), sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(CAST(e.embedding[i] AS DOUBLE) * p.plane[i] AS DECIMAL(28,14)))) > 0
         |      THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, e.embedding
         |), qp AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN j = $NPlanes THEN bucket
         |         ELSE xor(bucket, CAST(power(2, j) AS BIGINT)) END AS bucket
         |  FROM sig, generate_series(0, $NPlanes) t(j)
         |  WHERE vec_id < $NQueries
         |), pairs AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${duckCos("q.embedding", "c.embedding")} AS cos
         |  FROM qp q JOIN sig c ON q.bucket = c.bucket
         |  WHERE c.vec_id <> q.vec_id
         |), ranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id
         |FROM ranked WHERE rank <= $TopK""".stripMargin,

    "dedup_embedding_pairs" ->
      s"""WITH planes AS (
         |  SELECT j, list_transform(generate_series(1, 64), i ->
         |    (CAST(concat('0x', substr(md5(concat(j, '_', i)), 1, 14)) AS BIGINT) % 2147483647)
         |      / 1073741823.5 - 1.0) AS plane
         |  FROM generate_series(0, ${NPlanes - 1}) t(j)
         |), sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(CAST(e.embedding[i] AS DOUBLE) * p.plane[i] AS DECIMAL(28,14)))) > 0
         |      THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, e.embedding
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${duckCos("a.embedding", "b.embedding")} AS cos
         |  FROM sig a JOIN sig b ON a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos_r
         |FROM pairs WHERE cos >= $NearDupCos""".stripMargin,

    "ann_topk_ivf" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM ranked WHERE vec_id < $NQueries AND rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    // Rank-only twin of ann_topk_ivf for the float-scored variant.
    "ann_topk_ivf_fast" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM ranked WHERE vec_id < $NQueries AND rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    "kmeans_step" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |)
         |SELECT a.list_id, CAST(i - 1 AS BIGINT) AS i,
         |  round(CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) AS c_new
         |FROM assigned a, generate_series(1, 64) t(i)
         |GROUP BY 1, 2""".stripMargin,

    "kmeans_train" ->
      s"""WITH ${lloydCtes(TrainRounds)}
         |SELECT list_id, CAST(i - 1 AS BIGINT) AS i, c AS c_new
         |FROM dims$TrainRounds""".stripMargin,

    "emb_knn_graph" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM ranked WHERE rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id AS src, rank, vec_id AS dst, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    // the identical IVF-probed neighbor chain cut at rank ≤ 2, same
    // 6-dp cosine distances, same 12-dp-quantized ln μ terms, same
    // guarded division — term-for-term
    "emb_intrinsic_dim" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM ranked WHERE rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |), rr AS (
         |  SELECT q_id,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 1 THEN round(cos, 6) END) AS d1,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 2 THEN round(cos, 6) END) AS d2
         |  FROM rankedp WHERE rank <= 2 GROUP BY 1
         |  HAVING max(CASE WHEN rank = 2 THEN round(cos, 6) END) IS NOT NULL
         |), ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_used,
         |    sum(CAST(round(ln(d2 / d1), 12) AS DECIMAL(28,12))) AS lsum
         |  FROM rr WHERE d1 > 0.0
         |), tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pts FROM rr
         |)
         |SELECT n_pts, n_used,
         |  round(CASE WHEN CAST(lsum AS DOUBLE) > 0.0
         |    THEN CAST(n_used AS DOUBLE) / CAST(lsum AS DOUBLE) END, 6)
         |    AS id_r
         |FROM ag CROSS JOIN tt""".stripMargin,

    "emb_knn_accuracy" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM ranked WHERE rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assigned a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |), knn AS (
         |  SELECT q_id AS src, vec_id AS dst FROM rankedp WHERE rank <= $TopK
         |), votes AS (
         |  SELECT knn.src, CAST(e.label AS BIGINT) AS n_label,
         |    CAST(count(*) AS BIGINT) AS nv
         |  FROM knn JOIN embeddings e ON e.vec_id = knn.dst
         |  GROUP BY 1, 2
         |), pred AS (
         |  SELECT src AS vec_id, n_label AS pred
         |  FROM (SELECT src, n_label,
         |          row_number() OVER (PARTITION BY src
         |            ORDER BY nv DESC, n_label) AS rk
         |        FROM votes)
         |  WHERE rk = 1
         |)
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round(CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS acc_r
         |FROM pred p JOIN embeddings e USING (vec_id)
         |GROUP BY 1""".stripMargin,

    // the Bernoulli-gated probe chain (dedup_semantic_scaled's seeds
    // CTE + emb_knn_graph's probe/rank tail), shared verbatim by the
    // three scaled-graph oracles via scaledKnnChainCtes
    "emb_knn_graph_scaled" ->
      s"""WITH $scaledKnnChainCtes
         |SELECT q_id AS src, rank, vec_id AS dst, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    "emb_intrinsic_dim_scaled" ->
      s"""WITH $scaledKnnChainCtes, graph AS (
         |  SELECT q_id, vec_id, round(cos, 6) AS cos_r, rank
         |  FROM rankedp WHERE rank <= $TopK
         |), rr AS (
         |  SELECT q_id,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 1 THEN cos_r END) AS d1,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 2 THEN cos_r END) AS d2
         |  FROM graph WHERE rank <= 2 GROUP BY 1
         |  HAVING max(CASE WHEN rank = 2 THEN cos_r END) IS NOT NULL
         |), ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_used,
         |    sum(CAST(round(ln(d2 / d1), 12) AS DECIMAL(28,12))) AS lsum
         |  FROM rr WHERE d1 > 0.0
         |), tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pts FROM rr
         |)
         |SELECT n_pts, n_used,
         |  round(CASE WHEN CAST(lsum AS DOUBLE) > 0.0
         |    THEN CAST(n_used AS DOUBLE) / CAST(lsum AS DOUBLE) END, 6)
         |    AS id_r
         |FROM ag CROSS JOIN tt""".stripMargin,

    "emb_knn_accuracy_scaled" ->
      s"""WITH $scaledKnnChainCtes, knn AS (
         |  SELECT q_id AS src, vec_id AS dst FROM rankedp WHERE rank <= $TopK
         |), votes AS (
         |  SELECT knn.src, CAST(e.label AS BIGINT) AS n_label,
         |    CAST(count(*) AS BIGINT) AS nv
         |  FROM knn JOIN embeddings e ON e.vec_id = knn.dst
         |  GROUP BY 1, 2
         |), pred AS (
         |  SELECT src AS vec_id, n_label AS pred
         |  FROM (SELECT src, n_label,
         |          row_number() OVER (PARTITION BY src
         |            ORDER BY nv DESC, n_label) AS rk
         |        FROM votes)
         |  WHERE rk = 1
         |)
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round(CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS acc_r
         |FROM pred p JOIN embeddings e USING (vec_id)
         |GROUP BY 1""".stripMargin,

    // the dedup_semantic_hier_scaled two-level chain (both gates, the
    // identical decimal argmin at each level) with the fscore ranks
    // reused as probes (rk ≤ NProbe) next to the assignment (rk = 1);
    // chain shared verbatim by the three hier-scaled oracles via
    // hierScaledKnnChainCtes
    "emb_knn_graph_hier_scaled" ->
      s"""WITH $hierScaledKnnChainCtes
         |SELECT q_id AS src, rank, vec_id AS dst, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    "emb_intrinsic_dim_hier_scaled" ->
      s"""WITH $hierScaledKnnChainCtes, graph AS (
         |  SELECT q_id, vec_id, round(cos, 6) AS cos_r, rank
         |  FROM rankedp WHERE rank <= $TopK
         |), rr AS (
         |  SELECT q_id,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 1 THEN cos_r END) AS d1,
         |    CAST(1.0 AS DOUBLE)
         |      - max(CASE WHEN rank = 2 THEN cos_r END) AS d2
         |  FROM graph WHERE rank <= 2 GROUP BY 1
         |  HAVING max(CASE WHEN rank = 2 THEN cos_r END) IS NOT NULL
         |), ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_used,
         |    sum(CAST(round(ln(d2 / d1), 12) AS DECIMAL(28,12))) AS lsum
         |  FROM rr WHERE d1 > 0.0
         |), tt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pts FROM rr
         |)
         |SELECT n_pts, n_used,
         |  round(CASE WHEN CAST(lsum AS DOUBLE) > 0.0
         |    THEN CAST(n_used AS DOUBLE) / CAST(lsum AS DOUBLE) END, 6)
         |    AS id_r
         |FROM ag CROSS JOIN tt""".stripMargin,

    "emb_knn_accuracy_hier_scaled" ->
      s"""WITH $hierScaledKnnChainCtes, knn AS (
         |  SELECT q_id AS src, vec_id AS dst FROM rankedp WHERE rank <= $TopK
         |), votes AS (
         |  SELECT knn.src, CAST(e.label AS BIGINT) AS n_label,
         |    CAST(count(*) AS BIGINT) AS nv
         |  FROM knn JOIN embeddings e ON e.vec_id = knn.dst
         |  GROUP BY 1, 2
         |), pred AS (
         |  SELECT src AS vec_id, n_label AS pred
         |  FROM (SELECT src, n_label,
         |          row_number() OVER (PARTITION BY src
         |            ORDER BY nv DESC, n_label) AS rk
         |        FROM votes)
         |  WHERE rk = 1
         |)
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round(CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS acc_r
         |FROM pred p JOIN embeddings e USING (vec_id)
         |GROUP BY 1""".stripMargin,

    "emb_silhouette" ->
      s"""WITH ${lloydCtes(TrainRounds)}, scored AS (
         |  SELECT e.vec_id, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), ranked AS (
         |  SELECT vec_id, list_id, ccos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), sil AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rk = 1 THEN list_id END) AS list_id,
         |    1.0 - max(CASE WHEN rk = 1 THEN ccos END) AS a,
         |    1.0 - max(CASE WHEN rk = 2 THEN ccos END) AS b
         |  FROM ranked WHERE rk <= 2 GROUP BY vec_id
         |), q AS (
         |  SELECT vec_id, list_id,
         |    CAST(round(CASE WHEN greatest(a, b) > 0
         |      THEN (b - a) / greatest(a, b) ELSE 0.0 END, 9)
         |      AS DECIMAL(12,9)) AS sq
         |  FROM sil
         |)
         |SELECT list_id, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(sq) AS DOUBLE) / count(*), 6) AS sil_r
         |FROM q GROUP BY 1""".stripMargin,

    // the identical trained-assignment chain (the silhouette prefix),
    // then the LPA vote convention per cluster and the same rounded
    // ratios — term-for-term
    "emb_cluster_purity" ->
      s"""WITH ${lloydCtes(TrainRounds)}, scored AS (
         |  SELECT e.vec_id, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), ranked AS (
         |  SELECT vec_id, list_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), asg AS (
         |  SELECT vec_id, list_id FROM ranked WHERE rk = 1
         |), cl AS (
         |  SELECT a.list_id, e.label, count(*) AS cnt
         |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT list_id, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM cl GROUP BY 1
         |), mj AS (
         |  SELECT list_id, label AS majority_label,
         |    CAST(cnt AS BIGINT) AS n_majority,
         |    row_number() OVER (PARTITION BY list_id
         |      ORDER BY cnt DESC, label) AS rk
         |  FROM cl
         |), p AS (
         |  SELECT t.list_id, t.n, m.majority_label, m.n_majority,
         |    round(CAST(m.n_majority AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
         |      AS purity_r
         |  FROM tot t JOIN mj m ON m.list_id = t.list_id AND m.rk = 1
         |), o AS (
         |  SELECT round(CAST(sum(n_majority) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS overall_purity_r
         |  FROM p
         |)
         |SELECT list_id, n, majority_label, n_majority, purity_r,
         |  overall_purity_r
         |FROM p CROSS JOIN o""".stripMargin,

    // the identical trained-assignment chain, then events_entropy_mi's
    // finish verbatim over the (cluster, label) contingency cells;
    // chain shared with the v-measure oracle via clusterEntropyCtes
    "emb_cluster_nmi" ->
      s"""WITH $clusterEntropyCtes
         |SELECT n_cells,
         |  round(CAST(h_type AS DOUBLE), 6) AS h_cluster,
         |  round(CAST(h_hour AS DOUBLE), 6) AS h_label,
         |  round(CAST(mi_sum AS DOUBLE), 6) AS mi,
         |  round(CAST(mi_sum AS DOUBLE) /
         |        sqrt(CAST(h_type AS DOUBLE) * CAST(h_hour AS DOUBLE)), 6)
         |    AS nmi
         |FROM mi CROSS JOIN ht CROSS JOIN hh""".stripMargin,

    // the same entropy chain, finished as homogeneity/completeness/v
    // from the IDENTICAL 6-dp-rounded (mi, h_cluster, h_label) the NMI
    // select emits — pure arithmetic past the shared CTEs
    "emb_cluster_vmeasure" ->
      s"""WITH $clusterEntropyCtes, nmif AS (
         |  SELECT n_cells,
         |    round(CAST(h_type AS DOUBLE), 6) AS h_cluster,
         |    round(CAST(h_hour AS DOUBLE), 6) AS h_label,
         |    round(CAST(mi_sum AS DOUBLE), 6) AS mi
         |  FROM mi CROSS JOIN ht CROSS JOIN hh
         |), hc AS (
         |  SELECT n_cells,
         |    CASE WHEN h_label > 0.0 THEN mi / h_label ELSE 1.0 END AS h,
         |    CASE WHEN h_cluster > 0.0 THEN mi / h_cluster ELSE 1.0 END AS c
         |  FROM nmif
         |)
         |SELECT n_cells,
         |  round(h, 6) AS homogeneity_r,
         |  round(c, 6) AS completeness_r,
         |  round(CASE WHEN h + c > 0.0 THEN 2.0 * h * c / (h + c)
         |    ELSE 0.0 END, 6) AS v_r
         |FROM hc""".stripMargin,

    // md5-deterministic probes, exact DECIMAL(38,14) squared-diff
    // sums (the DecimalDotProduct contract), engine-exact mins
    "emb_hopkins" ->
      """WITH box AS (
        |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS lo,
        |    max(CAST(embedding[i] AS DOUBLE)) AS hi
        |  FROM embeddings, generate_series(1, 64) t(i) GROUP BY 1
        |), synth AS (
        |  SELECT p.p_id,
        |    list(b.lo + (CAST(concat('0x', substr(md5(concat(
        |        CAST(p.p_id AS VARCHAR), '#hops', CAST(b.i - 1 AS VARCHAR))),
        |        1, 8)) AS BIGINT) / 4294967296.0) * (b.hi - b.lo)
        |      ORDER BY b.i) AS p_emb
        |  FROM generate_series(1, 32) p(p_id) CROSS JOIN box b
        |  GROUP BY 1
        |), realp AS (
        |  SELECT vec_id AS p_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS p_emb
        |  FROM embeddings
        |  ORDER BY CAST(concat('0x', substr(md5(concat(
        |    CAST(vec_id AS VARCHAR), '#hopr')), 1, 14)) AS BIGINT), vec_id
        |  LIMIT 32
        |), du AS (
        |  SELECT s.p_id,
        |    min(CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST((CAST(e.embedding[i] AS DOUBLE) - s.p_emb[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - s.p_emb[i])
        |        AS DECIMAL(28,14)))) AS DECIMAL(38,14))) AS d2
        |  FROM embeddings e CROSS JOIN synth s GROUP BY 1
        |), dw AS (
        |  SELECT r.p_id,
        |    min(CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST((CAST(e.embedding[i] AS DOUBLE) - r.p_emb[i])
        |        * (CAST(e.embedding[i] AS DOUBLE) - r.p_emb[i])
        |        AS DECIMAL(28,14)))) AS DECIMAL(38,14))) AS d2
        |  FROM embeddings e CROSS JOIN realp r
        |  WHERE e.vec_id <> r.p_id GROUP BY 1
        |), su AS (
        |  SELECT sum(CAST(round(sqrt(CAST(d2 AS DOUBLE)), 9)
        |    AS DECIMAL(27,9))) AS su FROM du
        |), sw AS (
        |  SELECT sum(CAST(round(sqrt(CAST(d2 AS DOUBLE)), 9)
        |    AS DECIMAL(27,9))) AS sw FROM dw
        |)
        |SELECT CAST(32 AS BIGINT) AS m,
        |  CAST(round(su, 6) AS DOUBLE) AS sum_u_r,
        |  CAST(round(sw, 6) AS DOUBLE) AS sum_w_r,
        |  CASE WHEN su + sw > 0 THEN
        |    CAST(round(CAST(round(CAST(su AS DOUBLE)
        |      / CAST(su + sw AS DOUBLE), 12)
        |      AS DECIMAL(24,12)), 6) AS DOUBLE) END AS hopkins_r
        |FROM su CROSS JOIN sw""".stripMargin,

    // the shared geometric-statistics chain (clusterGeomCtes), global
    // 9-dp per-dim mean, same quantized B/W sums and guarded ratio
    "emb_calinski_harabasz" ->
      s"""WITH $clusterGeomCtes, gm AS (
         |  SELECT i, round(CAST(sum(sx) AS DOUBLE) / sum(nk), 9) AS g
         |  FROM gdims GROUP BY 1
         |), bsum AS (
         |  SELECT d.list_id,
         |    sum(CAST(round((d.m - g.g) * (d.m - g.g), 12)
         |      AS DECIMAL(24,12))) AS bsum
         |  FROM dm d JOIN gm g USING (i) GROUP BY 1
         |), a AS (
         |  SELECT
         |    sum(CAST(round(w.n_k * CAST(b.bsum AS DOUBLE), 9)
         |      AS DECIMAL(30,9))) AS bb,
         |    sum(CAST(round(w.w_k, 9) AS DECIMAL(30,9))) AS ww,
         |    sum(w.n_k) AS n, count(*) AS k
         |  FROM wk w JOIN bsum b USING (list_id)
         |)
         |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_clusters,
         |  CAST(round(CAST(round(CAST(bb AS DOUBLE), 12)
         |    AS DECIMAL(24,12)), 6) AS DOUBLE) AS b_r,
         |  CAST(round(CAST(round(CAST(ww AS DOUBLE), 12)
         |    AS DECIMAL(24,12)), 6) AS DOUBLE) AS w_r,
         |  CASE WHEN k > 1 AND n > k AND CAST(ww AS DOUBLE) > 0 THEN
         |    CAST(round(CAST(round(
         |      (CAST(bb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
         |        / (CAST(ww AS DOUBLE) / CAST(n - k AS DOUBLE)), 12)
         |      AS DECIMAL(24,12)), 6) AS DOUBLE) END AS ch_r
         |FROM a""".stripMargin,

    // the same geometric chain, per-cluster scatter vs the k²·64
    // centroid pair distances, worst-neighbor max, quantized mean
    "emb_davies_bouldin" ->
      s"""WITH $clusterGeomCtes, sk AS (
         |  SELECT list_id, n_k, sqrt(w_k / n_k) AS s_k FROM wk
         |), cd AS (
         |  SELECT a.list_id AS li, b.list_id AS lj,
         |    sqrt(CAST(sum(CAST(round((a.m - b.m) * (a.m - b.m), 12)
         |      AS DECIMAL(24,12))) AS DOUBLE)) AS dist
         |  FROM dm a JOIN dm b ON b.i = a.i AND b.list_id <> a.list_id
         |  GROUP BY 1, 2
         |), worst AS (
         |  SELECT c.li, max((si.s_k + sj.s_k) / c.dist) AS worst
         |  FROM cd c
         |  JOIN sk si ON si.list_id = c.li
         |  JOIN sk sj ON sj.list_id = c.lj
         |  WHERE c.dist > 0 GROUP BY 1
         |), ov AS (
         |  SELECT CAST(round(CAST(round(
         |    CAST(sum(CAST(round(worst, 9) AS DECIMAL(30,9))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE), 12)
         |    AS DECIMAL(24,12)), 6) AS DOUBLE) AS db_r
         |  FROM worst
         |)
         |SELECT s.list_id, s.n_k,
         |  CAST(round(CAST(round(s.s_k, 12) AS DECIMAL(24,12)), 6) AS DOUBLE)
         |    AS s_r,
         |  CAST(round(CAST(round(w.worst, 12) AS DECIMAL(24,12)), 6) AS DOUBLE)
         |    AS worst_ratio_r,
         |  ov.db_r
         |FROM sk s JOIN worst w ON w.li = s.list_id CROSS JOIN ov""".stripMargin,

    // the identical trained-assignment chain, then the same exact
    // DECIMAL(38,0) pair-counting binomials and the single double
    // division — term-for-term
    "emb_cluster_ari" ->
      s"""WITH ${lloydCtes(TrainRounds)}, scored AS (
         |  SELECT e.vec_id, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), ranked AS (
         |  SELECT vec_id, list_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), asg AS (
         |  SELECT vec_id, list_id FROM ranked WHERE rk = 1
         |), cells AS (
         |  SELECT a.list_id, e.label, CAST(count(*) AS BIGINT) AS nij
         |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
         |  GROUP BY 1, 2
         |), s1 AS (
         |  SELECT sum(CAST(nij AS DECIMAL(38,0)) * (nij - 1) / 2) AS s_cells,
         |    CAST(sum(nij) AS BIGINT) AS n
         |  FROM cells
         |), sa AS (
         |  SELECT sum(CAST(ai AS DECIMAL(38,0)) * (ai - 1) / 2) AS s_rows
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS ai
         |        FROM cells GROUP BY list_id)
         |), sb AS (
         |  SELECT sum(CAST(bj AS DECIMAL(38,0)) * (bj - 1) / 2) AS s_cols
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS bj
         |        FROM cells GROUP BY label)
         |)
         |SELECT n,
         |  round((CAST(s_cells AS DOUBLE)
         |      - CAST(s_rows AS DOUBLE) * CAST(s_cols AS DOUBLE)
         |        / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) / 2 AS DOUBLE))
         |    / ((CAST(s_rows AS DOUBLE) + CAST(s_cols AS DOUBLE))
         |        / CAST(2.0 AS DOUBLE)
         |      - CAST(s_rows AS DOUBLE) * CAST(s_cols AS DOUBLE)
         |        / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) / 2 AS DOUBLE)),
         |    6) AS ari_r
         |FROM s1 CROSS JOIN sa CROSS JOIN sb""".stripMargin,

    "ann_topk_ivf_trained" ->
      s"""WITH ${lloydCtes(TrainRounds)}, scoredq AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), rankedq AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scoredq
         |), assignedq AS (
         |  SELECT vec_id, embedding, list_id FROM rankedq WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM rankedq WHERE vec_id < $NQueries AND rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assignedq a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    // The append path: training CTEs restricted to the base corpus
    // (vec_id % 10 < 8 — the index predates the batch), then ONE
    // full-corpus assignment pass = base lists ∪ batch assignment
    // (sound because assignment is a pure per-row projection of the
    // frozen centroids; IvfAppendSpec pins the identity engine-side).
    "ann_index_append" ->
      s"""WITH ${lloydCtes(TrainRounds, s"WHERE vec_id % $AppendMod < 8")}, scoredq AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent$TrainRounds c
         |), rankedq AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scoredq
         |), assignedq AS (
         |  SELECT vec_id, embedding, list_id FROM rankedq WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, list_id
         |  FROM rankedq WHERE vec_id < $NQueries AND rk <= $NProbe
         |), pairs AS (
         |  SELECT q.q_id, a.vec_id,
         |    ${duckCos("q.q_emb", "a.embedding")} AS cos
         |  FROM qprobe q JOIN assignedq a ON a.list_id = q.list_id
         |  WHERE a.vec_id <> q.q_id
         |), rankedp AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM pairs
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM rankedp WHERE rank <= $TopK""".stripMargin,

    // Trained-cluster-confined near-dup marking over the same unrolled
    // Lloyd chain as ann_topk_ivf_trained.
    "dedup_semantic" -> semanticDedupSql,

    // The Bernoulli-gate seed chain: seeds = md5-gated vectors, one
    // decimal-exact assignment pass, same keep rule as dedup_semantic.
    "dedup_semantic_scaled" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS list_id, embedding
         |  FROM embeddings
         |  WHERE (CAST(concat('0x', substr(md5(concat('seed_', CAST(vec_id AS VARCHAR))), 1, 14)) AS BIGINT)
         |         % 2147483647) % $SeedMod = 0
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, s.list_id,
         |    ${duckCos("e.embedding", "s.embedding")} AS ccos
         |  FROM embeddings e, seeds s
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assignedq AS (
         |  SELECT vec_id, embedding, list_id FROM ranked WHERE rk = 1
         |), close_pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM assignedq a JOIN assignedq b
         |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a.embedding", "b.embedding")} >= $SemDedupCos
         |), min_nbr AS (
         |  SELECT vb AS vec_id, min(va) AS min_nbr FROM close_pairs GROUP BY 1
         |)
         |SELECT q.vec_id, q.list_id,
         |  coalesce(n.min_nbr, q.vec_id) AS rep_id,
         |  (n.min_nbr IS NOT NULL) AS is_dup
         |FROM assignedq q LEFT JOIN min_nbr n USING (vec_id)""".stripMargin,

    // Both levels Bernoulli-gated: child seeds by the seed_ gate,
    // coarse cells = the subset passing the coarse_ gate; then the
    // identical two-level argmin chain and keep rule.
    "dedup_semantic_hier_scaled" ->
      s"""WITH child AS (
         |  SELECT vec_id AS child_id, embedding
         |  FROM embeddings
         |  WHERE (CAST(concat('0x', substr(md5(concat('seed_', CAST(vec_id AS VARCHAR))), 1, 14)) AS BIGINT)
         |         % 2147483647) % $SeedMod = 0
         |), coarse AS (
         |  SELECT child_id AS coarse_id, embedding
         |  FROM child
         |  WHERE (CAST(concat('0x', substr(md5(concat('coarse_', CAST(child_id AS VARCHAR))), 1, 14)) AS BIGINT)
         |         % 2147483647) % $CoarseGateMod = 0
         |), cscore AS (
         |  SELECT c.child_id, k.coarse_id,
         |    row_number() OVER (PARTITION BY c.child_id
         |      ORDER BY ${duckCos("c.embedding", "k.embedding")} DESC, k.coarse_id) AS rk
         |  FROM child c, coarse k
         |), cassign AS (
         |  SELECT child_id, coarse_id FROM cscore WHERE rk = 1
         |), vscore AS (
         |  SELECT e.vec_id, k.coarse_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCos("e.embedding", "k.embedding")} DESC, k.coarse_id) AS rk
         |  FROM embeddings e, coarse k
         |), vassign AS (
         |  SELECT vec_id, coarse_id FROM vscore WHERE rk = 1
         |), fscore AS (
         |  SELECT e.vec_id, ch.child_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCos("e.embedding", "che.embedding")} DESC, ch.child_id) AS rk
         |  FROM embeddings e
         |  JOIN vassign va ON va.vec_id = e.vec_id
         |  JOIN cassign ch ON ch.coarse_id = va.coarse_id
         |  JOIN embeddings che ON che.vec_id = ch.child_id
         |), assigned AS (
         |  SELECT vec_id, child_id AS list_id FROM fscore WHERE rk = 1
         |), close_pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM assigned a
         |  JOIN assigned b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE ${duckCos("ea.embedding", "eb.embedding")} >= $SemDedupCos
         |), min_nbr AS (
         |  SELECT vb AS vec_id, min(va) AS min_nbr FROM close_pairs GROUP BY 1
         |)
         |SELECT a.vec_id, a.list_id,
         |  coalesce(n.min_nbr, a.vec_id) AS rep_id,
         |  (n.min_nbr IS NOT NULL) AS is_dup
         |FROM assigned a LEFT JOIN min_nbr n USING (vec_id)""".stripMargin,

    // The float-scored variant must reproduce the decimal-exact keep
    // decisions bit-for-bit (threshold-margin soundness pinned by
    // SemanticGapSpec), so it shares the decimal oracle.
    "dedup_semantic_fast" -> semanticDedupSql,

    "pq_codebook" ->
      s"""WITH $pqCtes
         |SELECT CAST(m AS BIGINT) AS m, CAST(j AS BIGINT) AS j,
         |  CAST(d AS BIGINT) AS d, c
         |FROM cbdims""".stripMargin,

    "pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code
         |FROM enc""".stripMargin,

    "ann_topk_pq" ->
      s"""WITH $pqAdcCtes
         |SELECT q_id, rank, vec_id, round(CAST(score AS DOUBLE), 6) AS score_r
         |FROM adcranked WHERE rank <= $TopK""".stripMargin,

    // IVF probe selection (label-mean coarse quantizer, nprobe=2) ×
    // PQ-code ADC scoring of the probed lists' members.
    "ann_topk_ivfpq" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT CAST(label AS BIGINT) AS list_id, list(c ORDER BY i) AS centroid
         |  FROM dims GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.embedding, c.list_id,
         |    ${duckCos("e.embedding", "c.centroid")} AS ccos
         |  FROM embeddings e, cent c
         |), ranked AS (
         |  SELECT vec_id, embedding, list_id,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) AS rk
         |  FROM scored
         |), assigned AS (
         |  SELECT vec_id, list_id FROM ranked WHERE rk = 1
         |), qprobe AS (
         |  SELECT vec_id AS q_id, list_id
         |  FROM ranked WHERE vec_id < $NQueries AND rk <= $NProbe
         |), $pqCtes, lut AS (
         |  SELECT q.vec_id AS q_id, cb.m, cb.j,
         |    CAST(list_sum(list_transform(generate_series(1, $PqDsub), d ->
         |      CAST(CAST(q.embedding[cb.m * $PqDsub + d] AS DOUBLE) * cb.centroid[d] AS DECIMAL(28,14)))) AS DECIMAL(28,14)) AS ip
         |  FROM embeddings q, cb WHERE q.vec_id < $NQueries
         |), candpairs AS (
         |  SELECT qp.q_id, a.vec_id
         |  FROM qprobe qp JOIN assigned a ON a.list_id = qp.list_id
         |  WHERE a.vec_id <> qp.q_id
         |), adc AS (
         |  SELECT cp.q_id, cp.vec_id, sum(l.ip) AS score
         |  FROM candpairs cp
         |  JOIN enc c ON c.vec_id = cp.vec_id
         |  JOIN lut l ON l.q_id = cp.q_id AND l.m = c.m AND l.j = c.code
         |  GROUP BY 1, 2
         |), adcranked AS (
         |  SELECT q_id, vec_id, score,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rank
         |  FROM adc
         |)
         |SELECT q_id, rank, vec_id, round(CAST(score AS DOUBLE), 6) AS score_r
         |FROM adcranked WHERE rank <= $TopK""".stripMargin,

    "ann_topk_pq_rerank" ->
      s"""WITH $pqAdcCtes, cand AS (
         |  SELECT q_id, vec_id FROM adcranked WHERE rank <= $PqRerank
         |), rr AS (
         |  SELECT c.q_id, c.vec_id,
         |    ${duckCos("q.embedding", "e.embedding")} AS cos
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.q_id
         |), rrranked AS (
         |  SELECT q_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM rr
         |)
         |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_r
         |FROM rrranked WHERE rank <= $TopK""".stripMargin,

    "emb_lsh_buckets" ->
      s"""WITH planes AS (
         |  SELECT j, list_transform(generate_series(1, 64), i ->
         |    (CAST(concat('0x', substr(md5(concat(j, '_', i)), 1, 14)) AS BIGINT) % 2147483647)
         |      / 1073741823.5 - 1.0) AS plane
         |  FROM generate_series(0, ${NPlanes - 1}) t(j)
         |), sig AS (
         |  SELECT e.vec_id,
         |    CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64), i ->
         |      CAST(CAST(e.embedding[i] AS DOUBLE) * p.plane[i] AS DECIMAL(28,14)))) > 0
         |      THEN CAST(power(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id
         |)
         |SELECT s.bucket, count(*) AS n_vectors, min(s.vec_id) AS min_vec_id
         |FROM sig s
         |GROUP BY s.bucket""".stripMargin,

    // same pqCtes encode chain (enc_scored's surrogate IS the deployed
    // assignment's distance term), same decimal ‖sub‖², same 9-dp
    // per-(vec, m) quantization into the exact decimal mean
    "emb_pq_distortion" ->
      s"""WITH $pqCtes, ssq AS (
         |  SELECT vec_id, (i - 1) // $PqDsub AS m,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE)
         |      * CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14)))
         |      AS DOUBLE) AS s2
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2
         |), best AS (
         |  SELECT vec_id, m, min(dist) AS sur FROM enc_scored GROUP BY 1, 2
         |), per AS (
         |  SELECT b.vec_id, b.m,
         |    CAST(round(s.s2 + b.sur, 9) AS DECIMAL(28,9)) AS d2q
         |  FROM best b JOIN ssq s ON s.vec_id = b.vec_id AND s.m = b.m
         |)
         |SELECT CAST(m AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(d2q) AS DOUBLE) / count(*), 6) AS mean_dist_r
         |FROM per GROUP BY 1""".stripMargin,

    // same centroid chain, same 9-dp cosine quantization, same
    // struct-max argmax on (cosine, −label), same margin compare
    "emb_triplet_eval" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT label, list(c ORDER BY i) AS centroid
         |  FROM dims
         |  GROUP BY label
         |), sc AS (
         |  SELECT e.vec_id, e.label, c.label AS c_label,
         |    round(${duckCos("e.embedding", "c.centroid")}, 9) AS cos_q
         |  FROM embeddings e CROSS JOIN cent c
         |), pos AS (
         |  SELECT vec_id, label, cos_q AS cos_pos_q
         |  FROM sc WHERE label = c_label
         |), neg AS (
         |  SELECT vec_id, max(struct_pack(cq := cos_q, nl := -c_label))
         |    AS best
         |  FROM sc WHERE label <> c_label GROUP BY 1
         |)
         |SELECT p.vec_id, p.label,
         |  CAST(-struct_extract(n.best, 'nl') AS INTEGER) AS neg_label,
         |  round(p.cos_pos_q, 6) AS cos_pos_r,
         |  round(struct_extract(n.best, 'cq'), 6) AS cos_neg_r,
         |  struct_extract(n.best, 'cq') + CAST($TripletMargin AS DOUBLE)
         |    > p.cos_pos_q AS violated
         |FROM pos p JOIN neg n ON n.vec_id = p.vec_id""".stripMargin,

    // same 9-dp input quantization, same exact-decimal cell moments,
    // same 9-dp-requantized per-dim contributions, same rounded-value
    // threshold compare (1-based list index vs posexplode's 0-based is
    // invisible — the (label, i) join aligns within each engine)
    "emb_ood_mahalanobis" ->
      s"""WITH xs AS (
         |  SELECT vec_id, label, i,
         |    CAST(round(CAST(embedding[i] AS DOUBLE), 9)
         |      AS DECIMAL(18,9)) AS xq
         |  FROM embeddings, generate_series(1, 64) t(i)
         |), cells AS (
         |  SELECT label, i, CAST(count(*) AS BIGINT) AS n,
         |    sum(xq) AS sx, sum(xq * xq) AS sx2
         |  FROM xs GROUP BY 1, 2
         |), mv AS (
         |  SELECT label, i,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    (CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_d
         |  FROM cells WHERE n >= 2
         |), contrib AS (
         |  SELECT xs.vec_id, xs.label,
         |    CAST(CASE WHEN mv.var_d > 0.0 THEN
         |      round((CAST(xs.xq AS DOUBLE) - mv.mu)
         |        * (CAST(xs.xq AS DOUBLE) - mv.mu) / mv.var_d, 9)
         |      ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(28,9)) AS c
         |  FROM xs JOIN mv ON mv.label = xs.label AND mv.i = xs.i
         |), md AS (
         |  SELECT vec_id, label, sum(c) AS md2 FROM contrib GROUP BY 1, 2
         |)
         |SELECT vec_id, label,
         |  round(CAST(md2 AS DOUBLE), 6) AS md2_r,
         |  round(CAST(md2 AS DOUBLE), 6) > $MahalCrit AS ood_flag
         |FROM md""".stripMargin,

    // same centroid chain as emb_centroid_sim, same 9-dp cosine
    // quantization before the exact-decimal label moments
    "emb_ood_zscore" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT label, list(c ORDER BY i) AS centroid
         |  FROM dims
         |  GROUP BY label
         |), scored AS (
         |  SELECT e.vec_id, e.label,
         |    CAST(round(${duckCos("e.embedding", "c.centroid")}, 9)
         |      AS DECIMAL(18,9)) AS cos_q
         |  FROM embeddings e JOIN cent c ON e.label = c.label
         |), stats AS (
         |  SELECT label,
         |    CAST(sum(cos_q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
         |    sqrt((CAST(sum(cos_q * cos_q) AS DOUBLE)
         |      - CAST(sum(cos_q) AS DOUBLE) * CAST(sum(cos_q) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE))
         |      / CAST(count(*) - 1 AS DOUBLE)) AS sd
         |  FROM scored GROUP BY 1 HAVING count(*) >= 2
         |)
         |SELECT s.vec_id, s.label,
         |  round(CAST(s.cos_q AS DOUBLE), 6) AS cos_r,
         |  CASE WHEN st.sd > 0.0 THEN
         |    round((CAST(s.cos_q AS DOUBLE) - st.mu) / st.sd, 6) END AS z_r,
         |  (CASE WHEN st.sd > 0.0 THEN
         |    round((CAST(s.cos_q AS DOUBLE) - st.mu) / st.sd, 6) END IS NOT NULL
         |   AND CASE WHEN st.sd > 0.0 THEN
         |    round((CAST(s.cos_q AS DOUBLE) - st.mu) / st.sd, 6) END < -2.0)
         |    AS is_ood
         |FROM scored s JOIN stats st ON st.label = s.label""".stripMargin,

    "emb_centroid_sim" ->
      s"""WITH dims AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS c
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY label, i
         |), cent AS (
         |  SELECT label, list(c ORDER BY i) AS centroid
         |  FROM dims
         |  GROUP BY label
         |)
         |SELECT e.vec_id, e.label,
         |  round(${duckCos("e.embedding", "c.centroid")}, 6) AS cos_centroid
         |FROM embeddings e JOIN cent c ON e.label = c.label""".stripMargin,

    // same 9-dp x quantization, same 12-dp covariance off fixed-order
    // doubles, same unrolled 12-dp-requantized power steps
    "emb_pca_power" -> {
      val steps = (1 to PcaRounds).map { k =>
        val pv = if (k == 1) "v0" else s"v${k - 1}"
        s"""u$k AS (
           |  SELECT cf.i, sum(cf.cq * $pv.vq) AS u
           |  FROM cf JOIN $pv ON $pv.i = cf.j GROUP BY 1
           |), uq$k AS MATERIALIZED (
           |  SELECT i, CAST(round(CAST(u AS DOUBLE), 12) AS DECIMAL(18,12)) AS uq
           |  FROM u$k
           |), n$k AS (
           |  SELECT sqrt(CAST(sum(uq * uq) AS DOUBLE)) AS nrm FROM uq$k
           |), v$k AS MATERIALIZED (
           |  SELECT i, CAST(round(CAST(uq AS DOUBLE) / n$k.nrm, 12)
           |    AS DECIMAL(18,12)) AS vq
           |  FROM uq$k, n$k
           |)""".stripMargin
      }.mkString(", ")
      // MATERIALIZED hints: DuckDB inlines CTEs by default, and the
      // 8-level chain references cf/uqₖ/vₖ multiply — inlined, the
      // chain re-evaluates the covariance exponentially (measured:
      // >5 min; materialized: <1 s)
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
         |    CAST(round(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(18,9)) AS xq
         |  FROM embeddings, generate_series(1, 64) t(i)
         |), nn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
         |), mu AS (
         |  SELECT i, CAST(sum(xq) AS DOUBLE) / nn.n AS mu
         |  FROM e, nn GROUP BY i, nn.n
         |), s2 AS (
         |  SELECT a.i AS i, b.i AS j, sum(a.xq * b.xq) AS sxx
         |  FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.i >= a.i
         |  GROUP BY 1, 2
         |), cu AS (
         |  SELECT s2.i, s2.j,
         |    CAST(round(CAST(s2.sxx AS DOUBLE) / nn.n - ma.mu * mb.mu, 12)
         |      AS DECIMAL(18,12)) AS cq
         |  FROM s2
         |  CROSS JOIN nn
         |  JOIN mu ma ON ma.i = s2.i
         |  JOIN mu mb ON mb.i = s2.j
         |), cf AS MATERIALIZED (
         |  SELECT i, j, cq FROM cu
         |  UNION ALL
         |  SELECT j AS i, i AS j, cq FROM cu WHERE i <> j
         |), v0 AS (
         |  SELECT DISTINCT i, CAST(0.125 AS DECIMAL(18,12)) AS vq FROM cf
         |), $steps
         |SELECT v$PcaRounds.i AS dim_idx,
         |  round(CAST(v$PcaRounds.vq AS DOUBLE), 6) AS loading_r,
         |  round(n$PcaRounds.nrm, 6) AS eigval_r
         |FROM v$PcaRounds, n$PcaRounds""".stripMargin
    }
  )
}
