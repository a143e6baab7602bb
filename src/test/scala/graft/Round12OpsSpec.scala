package graft

import graft.queries.{EventQueries, SimilarityQueries, TextQueries}
import org.apache.spark.sql.functions._

/** Property pins for the round-12 operators, each checked against an
  * INDEPENDENT recomputation (brute-force neighbor counts, the KN
  * normalization identity, a hand-computed Gini) rather than the
  * operator's own code path.
  */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("hard negatives: semi-hard band, label mismatch, contiguous ranks") {
    val out = q("pipeline_hard_negatives").cache()
    val emb = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
    // every negative's label differs from its anchor's
    val joined = out
      .join(emb.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(emb.select(col("vec_id"), col("label").as("n_label")), "vec_id")
    assert(joined.filter(col("n_label") === col("q_label")).count() == 0L)
    // the semi-hard band: pmax - margin < cos < pmax (on the rounded
    // reported values, with rounding slack)
    assert(out.filter(col("cos_r") >= col("pmax_r") + 1e-6).count() == 0L)
    assert(out.filter(col("cos_r") <= col("pmax_r") - 0.2 - 1e-6).count() == 0L)
    // ranks are 1..k contiguous per anchor
    val badRanks = out.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n"), max(col("neg_rank")).as("mx"),
           min(col("neg_rank")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1L)
    assert(badRanks.count() == 0L)
    out.unpersist()
  }

  test("dbscan: roles match brute-force degree/adjacency recomputation") {
    val out = q("dedup_dbscan").cache()
    import graft.functions.VectorOps
    val emb = graft.tables.Tables.embeddings(spark, sf)
      .withColumn("nrm", sqrt(VectorOps.normSqDecimal(col("embedding")).cast("double")))
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
    val nbr = a.join(b, col("va") =!= col("vb"))
      .withColumn("cos",
        VectorOps.dotDecimal(col("ea"), col("eb")).cast("double") /
          (col("na") * col("nb")))
      .filter(col("cos") >= SimilarityQueries.DbscanCos)
      .select(col("va"), col("vb")).cache()
    val deg = nbr.groupBy(col("va").as("vec_id")).agg(count(lit(1)).as("deg"))
    val withDeg = out.join(deg, Seq("vec_id"), "left")
      .withColumn("deg", coalesce(col("deg"), lit(0L))).cache()
    // cores have >= 2 neighbors; noise/border have < 2
    assert(withDeg.filter(col("role") === "core" && col("deg") < 2).count() == 0L)
    assert(withDeg.filter(col("role") =!= "core" && col("deg") >= 2).count() == 0L)
    // border points are adjacent to >= 1 core; noise to none
    val coreSet = out.filter(col("role") === "core")
      .select(col("vec_id").as("vb"), lit(1).as("is_core"))
    val coreAdj = nbr.join(coreSet, Seq("vb"))
      .select(col("va").as("vec_id")).distinct()
      .withColumn("has_core_nbr", lit(true))
    val roles = out.join(coreAdj, Seq("vec_id"), "left")
    assert(roles.filter(col("role") === "border" &&
      col("has_core_nbr").isNull).count() == 0L)
    assert(roles.filter(col("role") === "noise" &&
      col("has_core_nbr").isNotNull).count() == 0L)
    // adjacent cores share a cluster; noise is cluster -1
    val lbl = out.select(col("vec_id"), col("role"), col("cluster_id"))
    val edgesBothCore = nbr
      .join(lbl.select(col("vec_id").as("va"), col("role").as("ra"),
        col("cluster_id").as("ca")), "va")
      .join(lbl.select(col("vec_id").as("vb"), col("role").as("rb"),
        col("cluster_id").as("cb")), "vb")
      .filter(col("ra") === "core" && col("rb") === "core")
    assert(edgesBothCore.filter(col("ca") =!= col("cb")).count() == 0L)
    assert(out.filter(col("role") === "noise" &&
      col("cluster_id") =!= -1L).count() == 0L)
    // the fixture actually exercises all three roles
    assert(out.select(col("role")).distinct().count() == 3L)
    nbr.unpersist(); withDeg.unpersist(); out.unpersist()
  }

  test("kneser-ney: discounted mass + continuation mass is exactly normalized") {
    // Σ_{w2 observed after w1} max(c12−D,0)/c1 = (c1 − D·N1f)/c1 when
    // every c12 ≥ 1 (D < 1 so max never clips), and Σ_w2 Pcont(w2) = 1
    // ⇒ Σ_w2∈V P_KN(w2|w1) = 1: the identity that makes KN a proper
    // distribution. Checked from raw bigram counts, independent of the
    // query's own join chain.
    val toks = graft.tables.Tables.documents(spark, sf)
      .select(graft.text.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = toks.select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
        "i -> struct(element_at(t, i + 1) AS w1, element_at(t, i + 2) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2")).cache()
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val disc = c12
      .groupBy(col("w1"))
      .agg(sum(greatest(col("c12").cast("double") - 0.75, lit(0.0))).as("dmass"),
           sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      .withColumn("lhs", col("dmass") / col("c1").cast("double"))
      .withColumn("rhs",
        (col("c1").cast("double") - lit(0.75) * col("n1f").cast("double"))
          / col("c1").cast("double"))
    assert(disc.filter(abs(col("lhs") - col("rhs")) > 1e-9).count() == 0L)
    // continuation distribution sums to 1 over the vocabulary
    val nAll = c12.count().toDouble
    val contSum = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      .agg(sum(col("n1b"))).head().getLong(0).toDouble / nAll
    assert(math.abs(contSum - 1.0) < 1e-12)
    // and the shipped query agrees with a directly recomputed P_KN on
    // its own top row
    val top = q("text_kneser_ney").filter(col("rank") === 1).collect().head
    val pkn = {
      val c = top.getAs[Long]("c12").toDouble
      val c1 = top.getAs[Long]("c1").toDouble
      val n1f = top.getAs[Long]("n1f").toDouble
      val n1b = top.getAs[Long]("n1b").toDouble
      math.max(c - 0.75, 0.0) / c1 + (0.75 * n1f / c1) * (n1b / nAll)
    }
    assert(math.abs(top.getAs[Double]("pkn_r") - pkn) < 1e-8)
    bi.unpersist()
  }

  test("skew probe: hand-computed Gini, shares and salt on planted counts") {
    // counts 1,2,3,4 (users a..d): total 10, gini = 0.25 exactly,
    // top1 4/10, top10 = all, median-from-top (rank ⌈4/2⌉=2) = 3,
    // p99 rank ⌈4/100⌉=1 → 4, salt = ceil(4·32/10) = 13
    val counts = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L))
      .toDF("user_id", "cnt")
    val r = EventQueries.skewFinish(counts).collect().head
    assert(r.getAs[Long]("n_keys") == 4L && r.getAs[Long]("total") == 10L)
    assert(r.getAs[Long]("top1_cnt") == 4L && r.getAs[Long]("top10_cnt") == 10L)
    assert(r.getAs[Long]("p50_cnt") == 3L && r.getAs[Long]("p99_cnt") == 4L)
    assert(r.getAs[Double]("top1_share_r") == 0.4)
    assert(r.getAs[Double]("top10_share_r") == 1.0)
    assert(r.getAs[Double]("gini_r") == 0.25)
    assert(r.getAs[Long]("salt_32") == 13L)
    // degenerate: a single key is maximal skew → salt caps at 32
    val one = Seq(("a", 100L)).toDF("user_id", "cnt")
    val r1 = EventQueries.skewFinish(one).collect().head
    assert(r1.getAs[Double]("gini_r") == 0.0) // (n−1)/n with n=1
    assert(r1.getAs[Long]("salt_32") == 32L)
  }

  test("power analysis: hand-computed sample size on planted moments") {
    // planted type "t": values 10, 12, 14 → n=3, mean=12, var=4,
    // mde=0.6, n_req = ceil(2·4·z²/0.36) = ceil(22.222·z²)
    val m = EventQueries.powerMoments(
      Seq(("t", 10.0), ("t", 12.0), ("t", 14.0), ("u", 5.0))
        .toDF("event_type", "value"))
    val r = EventQueries.powerFinish(m).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    assert(!r.contains("u"), "n=1 type must be filtered (no variance)")
    val t = r("t")
    assert(t.getAs[Double]("mean_r") == 12.0 && t.getAs[Double]("var_r") == 4.0)
    assert(t.getAs[Double]("mde_r") == 0.6)
    val expect = math.ceil(2.0 * 4.0 * EventQueries.PowerZ2 / 0.36).toLong
    assert(t.getAs[Long]("n_required") == expect, s"got ${t.getAs[Long]("n_required")} want $expect")
  }

  test("attribution position: weights sum to 1 per touched conversion") {
    val out = q("events_attribution_position")
    // total weighted revenue across channels == total conversion value
    // (each conversion distributes exactly weight 1, organic included)
    val totalAttr = out.agg(sum(col("wrev_r"))).head().getDouble(0)
    val totalConv = graft.tables.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double"))
      .head().getDouble(0)
    // per-pair weights are 9-dp-rounded and contributions 6-dp-rounded,
    // so allow rounding slack proportional to touch count
    assert(math.abs(totalAttr - totalConv) < 0.01,
      s"attributed $totalAttr vs conversions $totalConv")
  }

  test("dbscan scaled: LSH-bucketed variant only loses cross-bucket edges") {
    val exact = q("dedup_dbscan")
      .select(col("vec_id"), col("role").as("role_e"))
    val scaled = q("dedup_dbscan_scaled")
      .select(col("vec_id"), col("role").as("role_s"))
    val j = exact.join(scaled, "vec_id").cache()
    // bucketing can only REMOVE neighbor edges, so scaled roles are
    // monotonically weaker: scaled-core ⇒ exact-core (its ≥MinPts
    // bucketed neighbors are a subset of its exact neighbors), and
    // exact-noise stays noise (no edges can appear)
    assert(j.filter(col("role_s") === "core" && col("role_e") =!= "core")
      .count() == 0L)
    assert(j.filter(col("role_e") === "noise" && col("role_s") =!= "noise")
      .count() == 0L)
    // sanity floor on structure kept (8 planes fragment the
    // near-unstructured fixture graph hard; production tunes planes
    // per recall target — dedup_lsh_eval measures that curve)
    val agree = j.filter(col("role_e") === col("role_s")).count().toDouble
    val total = j.count().toDouble
    assert(agree / total > 0.3, s"role agreement ${agree / total}")
    j.unpersist()
  }

  test("DiD: planted cell means produce the exact textbook estimate") {
    // variant hash is md5-based — find two users landing in different
    // variants, then plant: v0 pre=10 post=11 (+1), v1 pre=20 post=23
    // (+3) → DiD = +2. Two samples per cell (variance 0 → SE 0, z null)
    def variantOf(u: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${u}#ab".getBytes).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5.substring(0, 14), 16) % 2
    }
    val u0 = (1L to 100L).find(variantOf(_) == 0).get
    val u1 = (1L to 100L).find(variantOf(_) == 1).get
    val pre = 0L; val post = 4102444800000L // far past the split
    val rows = Seq(
      (u0, pre, 10.0), (u0, pre, 10.0), (u0, post, 11.0), (u0, post, 11.0),
      (u1, pre, 20.0), (u1, pre, 20.0), (u1, post, 23.0), (u1, post, 23.0))
      .toDF("user_id", "ts_ms", "value")
    val r = EventQueries.didFinish(EventQueries.didCells(rows)).collect().head
    assert(r.getAs[Double]("did_r") == 2.0, r.toString)
    assert(r.getAs[Double]("se_r") == 0.0 && r.isNullAt(r.fieldIndex("z_r")))
    // and the fixture's A/A hash split stays near the null
    val aa = q("events_did").collect().head
    assert(math.abs(aa.getAs[Double]("z_r")) < 4.0,
      s"A/A split rejected the null: z=${aa.getAs[Double]("z_r")}")
  }

  test("retention triangle: week 0 is always 1.0 and rates are bounded") {
    val out = q("events_retention_triangle").cache()
    val w0 = out.filter(col("age_week") === 0)
    assert(w0.filter(col("retention_r") =!= 1.0).count() == 0L,
      "every user is active in their own first week by construction")
    assert(out.filter(col("retention_r") > 1.0 ||
      col("retention_r") <= 0.0).count() == 0L)
    assert(out.filter(col("active_users") > col("cohort_users")).count() == 0L)
    out.unpersist()
  }

  test("ood z-scores: standardization moments and flag consistency") {
    val out = q("emb_ood_zscore").cache()
    // flags agree with the reported rounded z
    assert(out.filter(col("is_ood") =!=
      (col("z_r").isNotNull && col("z_r") < -2.0)).count() == 0L)
    // per-label standardized scores have ~zero mean (9-dp quantization
    // and 6-dp z rounding leave only tiny residue)
    val worst = out.filter(col("z_r").isNotNull)
      .groupBy(col("label")).agg(avg(col("z_r")).as("mz"))
      .agg(max(abs(col("mz")))).head().getDouble(0)
    assert(worst < 1e-3, s"label mean z drifted: $worst")
    out.unpersist()
  }

  test("curriculum: permutation, per-lang monotone difficulty, proportional interleave") {
    val out = q("pipeline_curriculum").cache()
    val n = out.count()
    // global ranks are a permutation of 1..n
    assert(out.select(col("curriculum_rank")).distinct().count() == n)
    assert(out.agg(min(col("curriculum_rank")), max(col("curriculum_rank")))
      .collect().head match { case r => r.getLong(0) == 1L && r.getLong(1) == n })
    // within each lang, quality never increases along the curriculum
    val qual = TextQueries.qualityOf(graft.tables.Tables.documents(spark, sf))
      .select(col("doc_id"), col("quality"))
    val seq0 = out.join(qual, "doc_id")
      .select(col("lang"), col("curriculum_rank"), col("quality"))
      .collect().groupBy(_.getString(0))
    seq0.foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(ordered.zip(ordered.drop(1)).forall { case (a, b) => a >= b },
        s"quality increases along curriculum for lang=$lang")
    }
    // proportional interleave: at every quarter prefix, each lang's
    // share tracks its corpus share within ±2 docs
    val byLang = out.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(n / 4, n / 2, 3 * n / 4).foreach { p =>
      val pref = out.filter(col("curriculum_rank") <= p)
        .groupBy(col("lang")).agg(count(lit(1)).as("k"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      byLang.foreach { case (lang, cnt) =>
        val expect = p.toDouble * cnt / n
        val got = pref.getOrElse(lang, 0L).toDouble
        assert(math.abs(got - expect) <= 2.0,
          s"prefix $p lang $lang: got $got expect $expect")
      }
    }
    out.unpersist()
  }
}
