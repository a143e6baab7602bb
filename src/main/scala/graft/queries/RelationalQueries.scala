package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Relational breadth over the TPC-H-ish tables: scan → filter → agg,
  * multi-way joins (broadcast dims), semi/anti joins, ranking window
  * functions, rollup, deterministic top-k, scalar/date functions, set
  * ops. The reference has no relational surface (SURVEY.md §2.3-2.8)
  * — this is the engine's general query layer, shaped for scale:
  * dimension joins carry `broadcast()` hints, fact-side filters sit
  * before joins so Catalyst pushes them into the parquet scan, and
  * every aggregate is partial-aggregable (no `collect`/driver loops).
  */
object RelationalQueries {

  val queries: Map[String, Q] = Map(

    // Multi-format SOURCE coverage (SURVEY §2.3 notes the reference
    // has no file scans at all): the documents table re-materialized
    // as CSV / JSON lines / ORC and read back through each reader with
    // an explicit schema, then aggregated — the write→read round trip
    // sits INSIDE the hash-checked path, so a quoting/escaping/type
    // mapping bug in either direction breaks the oracle match
    // (sum_text_len is the sensitive column: the text field carries
    // spaces and must survive CSV quoting byte-exactly).
    "q_scan_csv" -> ((s, dir) => scanVia(s, dir, "csv")),
    "q_scan_json" -> ((s, dir) => scanVia(s, dir, "json")),
    "q_scan_orc" -> ((s, dir) => scanVia(s, dir, "orc")),

    // Distribution-rank window functions (the analytic trio the
    // ranking queries don't cover): quartile bucket via ntile(4),
    // percent_rank, and cume_dist over customer balances per nation —
    // one window shuffle keyed on nationality, all three functions in
    // the same pass. Ties broken by custkey so the orderings are
    // engine-identical. Rounded to 7 dp, NOT the usual 6: the outputs
    // are exact rationals k/n, and a 640-customer nation at sf0.1 puts
    // 41/640 = 0.0640625 exactly on the 6-dp half-grid where Spark
    // (HALF_UP) and DuckDB (half-to-even) disagree; at 7 dp none of
    // the fixture partition sizes (with < 2^8 in their factorization)
    // can produce a half-grid value at all — verified at all three
    // sfs.
    "q_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("c_nationkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 7).as("pct_rank"),
          round(cume_dist().over(w), 7).as("cume"))
    }),

    // RANGE-frame window (value-based, vs the ROWS frames elsewhere):
    // per customer, each order's trailing-30-day order count and spend
    // — the moving-aggregate shape where the frame is defined by the
    // ORDER BY VALUE distance (ties and gaps handled by the engine,
    // deterministic regardless of row order within equal timestamps).
    "q_window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("ts_ms"))
        .rangeBetween(-2592000000L, 0L) // 30 days in ms
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms"),
          dec(col("o_totalprice")).as("price_dec"))
        .select(col("o_orderkey"), col("o_custkey"), col("ts_ms"),
          count(lit(1)).over(w).as("n_30d"),
          asDouble(sum(col("price_dec")).over(w)).as("spend_30d"))
    }),

    // TPC-H Q1-style scan→filter→agg (pruned columns, pushed filter).
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") < 50.0)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          asDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          asDouble(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3-style: 3-way join, revenue per order, deterministic
    // top-10 (ordered on the exact decimal revenue, tiebreak on key).
    "q3_top_orders" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("rev")).as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), asDouble(col("rev_dec")).as("revenue"))
    }),

    // TPC-H Q5-style: 5-way join through region→nation→customer→
    // orders→lineitem→supplier with the same-nation constraint;
    // dims broadcast, facts shuffle on join keys.
    "q5_regional_revenue" -> ((s, dir) => {
      val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, dir)
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          (dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
                              col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(asDouble(sum(col("rev"))).as("revenue"),
             count(lit(1)).as("n_items"))
    }),

    // Left-semi join (EXISTS): customers having ≥1 1996 order.
    "q_semi_join" -> ((s, dir) => {
      val ord96 = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_custkey")
      Tables.customer(s, dir)
        .join(ord96, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // Left-anti join (NOT EXISTS): customers with no order in Q1-1995.
    "q_anti_join" -> ((s, dir) => {
      val ordQ1 = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
        .select("o_custkey")
      Tables.customer(s, dir)
        .join(ordQ1, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // Ranking window function: top-3 parts by retail price per brand
    // (deterministic tiebreak on p_partkey).
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
                col("rn").cast("long").as("rn"))
    }),

    // Analytic window function: running revenue share per supplier
    // over ship-date order (frame = unbounded preceding .. current).
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") <= 3)
        .withColumn("running_qty",
          sum(dec(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
                // parquet ms timestamps surface as TIMESTAMP_NTZ; with a
                // UTC session the cast to TIMESTAMP is wall-clock identity
                unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"),
                asDouble(col("running_qty")).as("running_qty"))
    }),

    // ROLLUP grouping-set aggregation (NULL markers coalesced so the
    // grouping level is explicit and engine-independent).
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
             asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
                col("cnt"), col("sum_qty"))),

    // CUBE grouping sets — all 2^k combinations (rollup covers the
    // hierarchy prefixes only); NULL markers coalesced as in q_rollup.
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
             asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
                col("cnt"), col("sum_qty"))),

    // Deterministic top-k scan (global sort+limit on raw columns).
    "q_topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))),

    // Scalar string/date functions (projection-only; column-pruned scan).
    "q_scalar_funcs" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("prio_upper"),
          length(col("o_orderstatus")).cast("long").as("status_len"),
          substring(col("o_orderpriority"), 1, 3).as("prio3"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).cast("long").as("order_year"),
          month(col("o_orderdate")).cast("long").as("order_month"),
          unix_millis(date_trunc("month", col("o_orderdate"))).as("month_start_ms"))),

    // Set operations (distinct semantics: INTERSECT / EXCEPT).
    "q_set_ops" -> ((s, dir) => {
      val custNations = Tables.customer(s, dir)
        .select(col("c_nationkey").as("nationkey")).distinct()
      val supNations = Tables.supplier(s, dir)
        .select(col("s_nationkey").as("nationkey")).distinct()
      custNations.intersect(supNations)
        .withColumn("setop", lit("both"))
        .unionByName(
          custNations.except(supNations).withColumn("setop", lit("cust_only")))
    }),

    // Exact percentiles (sort-based; linear interpolation matches
    // quantile_cont).
    "q_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.25)).as("p25_raw"),
             percentile(col("l_quantity"), lit(0.5)).as("p50_raw"),
             percentile(col("l_quantity"), lit(0.75)).as("p75_raw"))
        .select(col("l_returnflag"),
                round(col("p25_raw"), 6).as("p25"),
                round(col("p50_raw"), 6).as("p50"),
                round(col("p75_raw"), 6).as("p75"))),

    // Typed Aggregator (UDAF surface): exact-decimal weighted mean.
    "q_typed_wavg" -> ((s, dir) => {
      import graft.functions.TypedAggregators
      implicit val enc = org.apache.spark.sql.Encoders.product[(String, Double, Double)]
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .as[(String, Double, Double)]
        .groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
        .agg(TypedAggregators.weightedMean.toColumn.name("wavg_raw"))
        .toDF("l_returnflag", "wavg_raw")
        .select(col("l_returnflag"), round(col("wavg_raw"), 6).as("wavg_price"))
    }),

    // Bag semantics set ops (EXCEPT ALL: multiset difference).
    "q_set_ops_all" -> ((s, dir) => {
      val liOrders = Tables.lineitem(s, dir).select(col("l_orderkey").as("okey"))
      val ordOrders = Tables.orders(s, dir).select(col("o_orderkey").as("okey"))
      liOrders.exceptAll(ordOrders)
        .groupBy(col("okey"))
        .agg(count(lit(1)).as("n_extra"))
    }),

    // Distinct aggregation.
    "q_distinct_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             count(lit(1)).as("n_rows"))),

    // Skew-salted fact-dim join (operators.Salting): the fact side is
    // salted on its unique row id, the dim side replicated across the
    // 8 salts, so a pathologically hot l_suppkey splits over 8 tasks
    // instead of one. Row-for-row equal to the plain join — the oracle
    // IS the plain join, so the correctness row proves the rewrite.
    "q_salted_join" -> ((s, dir) =>
      graft.operators.Salting.saltedJoin(
          Tables.lineitem(s, dir), Tables.supplier(s, dir),
          "l_suppkey", "s_suppkey",
          struct(col("l_orderkey"), col("l_linenumber")), buckets = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
             asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))),

    // SCD2 / CDC MERGE — the warehouse upsert-with-history operator
    // (MERGE INTO ... WHEN MATCHED / NOT MATCHED, Kimball type-2):
    // a deterministic change batch (balance updates for custkey%7=3,
    // inserts for custkey%11=5) merges into the customer dimension,
    // closing out superseded versions (valid_to set, is_current
    // dropped) and opening new ones. Shape: the matched/unmatched
    // split is a semi + anti join SHARING one shuffle key (the merge
    // join every CDC engine runs), plus unions — linear in
    // base + batch, no row ever rewritten in place (the
    // copy-on-write posture Delta/Iceberg MERGE compiles to).
    "cdc_scd2" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), dec(col("c_acctbal")).as("bal"))
      val changes = base.filter(col("k") % 7 === 3)
        .select(col("k"), (col("bal") + lit(100.50).cast("decimal(18,4)")).as("bal"))
      // Insert keys start past the OBSERVED key domain (memoized one-row
      // agg), not a fixed constant — a constant offset collides with
      // genuine keys on scaled/replicated corpora (ADVICE r7: ScaleBench
      // replicates custkey with ~15k·factor offsets, crossing 1e6 at
      // large factors and folding "not matched" rows into the base
      // population).
      val inserts = base.filter(col("k") % 11 === 5)
        .select((col("k") + lit(insertKeyOffset(s, dir))).as("k"), col("bal"))
      def row(src: org.apache.spark.sql.DataFrame, version: Long,
              from: Long, closed: Boolean) =
        src.select(col("k").as("c_custkey"), asDouble(col("bal")).as("acctbal"),
          lit(version).as("version"), lit(from).as("valid_from"),
          (if (closed) lit(from + 1) else lit(null).cast("long")).as("valid_to"),
          lit(!closed).as("is_current"))
      row(base.join(changes.select(col("k")), Seq("k"), "left_semi"), 1L, 0L, closed = true)
        .unionByName(row(base.join(changes.select(col("k")), Seq("k"), "left_anti"), 1L, 0L, closed = false))
        .unionByName(row(changes, 2L, 1L, closed = false))
        .unionByName(row(inserts, 1L, 1L, closed = false))
    }),

    // REAL `MERGE INTO` — the SQL statement users actually run for
    // CDC upserts, exercised end-to-end against graft's own DSv2
    // row-level catalog ([[graft.sources.MemRowLevelCatalog]]):
    // Spark's analyzer rewrites the statement into the group-based
    // ReplaceData plan (MergeRows over a full-group scan +
    // copy-on-write replacement commit) — the exact compilation path
    // a lakehouse MERGE takes; only the storage behind the connector
    // is an in-JVM row store. One statement produces the same SCD2
    // table cdc_scd2 composes from semi/anti joins, and shares its
    // oracle verbatim (the q_sql_* identical-result pattern). The
    // staging source uses the classic null-merge-key trick: each
    // change row appears twice — once keyed (matches and closes the
    // current version), once with a NULL key (never matches, inserts
    // the successor version); MergeIntoSpec pins the ReplaceData/
    // MergeRows plan shape and the row-for-row identity with
    // cdc_scd2.
    "q_sql_merge" -> ((s, dir) => {
      val tbl = mergedScd2Table(s, dir)
      s.table(tbl).select(col("c_custkey"), col("acctbal"), col("version"),
        col("valid_from"), col("valid_to"), col("is_current"))
    }),

    // REAL `UPDATE` — the second row-level DML statement, compiled by
    // Spark's RewriteUpdateTable rule into the same group-based
    // copy-on-write ReplaceData plan as MERGE (the connector is
    // command-generic). One statement against the DSv2 row-level
    // catalog; the oracle recomputes the post-update state with a
    // CASE projection, so the hash match proves the rewrite applies
    // the predicate + assignment exactly once per row.
    "q_sql_update" -> ((s, dir) => {
      val tbl = dmlTable(s, dir, "upd") { t =>
        s.sql(s"UPDATE $t SET acctbal = acctbal + 100.5 WHERE c_custkey % 7 = 3")
        ()
      }
      s.table(tbl).select(col("c_custkey"), col("acctbal"))
    }),

    // REAL `DELETE` — the third statement of the DML trio, rewritten
    // by RewriteDeleteFromTable into the copy-on-write plan; the
    // oracle is the complement filter over the base table.
    "q_sql_delete" -> ((s, dir) => {
      val tbl = dmlTable(s, dir, "del") { t =>
        s.sql(s"DELETE FROM $t WHERE c_custkey % 11 = 5")
        ()
      }
      s.table(tbl).select(col("c_custkey"), col("acctbal"))
    }),

    // TIME TRAVEL over the SCD2 dimension — the query the history
    // columns exist FOR: reconstruct the table state AS OF each
    // version boundary (t = 0: pre-merge; t = 1: post-merge) by the
    // interval predicate valid_from ≤ t < coalesce(valid_to, ∞). A
    // pure filter over the merge output — snapshot reads cost one
    // scan regardless of how many versions history holds, which is
    // the SCD2 design point (vs snapshot-per-day copies).
    "cdc_snapshot" -> ((s, dir) => {
      val scd2 = queries("cdc_scd2")(s, dir)
      val ts = s.range(2).select(col("id").as("t"))
      scd2.crossJoin(broadcast(ts))
        .filter(col("valid_from") <= col("t") &&
                (col("valid_to").isNull || col("valid_to") > col("t")))
        .select(col("t"), col("c_custkey"), col("acctbal"), col("version"))
    }),

    // INCREMENTAL VIEW MAINTENANCE — the lakehouse question behind
    // every materialized aggregate: when a CDC batch lands, does the
    // engine re-aggregate 100 TB or fold the DELTA? This operator IS
    // the delta fold, and the oracle recomputes the aggregate from
    // the patched table from scratch — the hash match proves
    // maintained ≡ recomputed (the algebraic identity delta-view
    // maintenance rests on). The synthetic CDC batch is deterministic:
    // orderkey % 97 = 0 rows get quantity += 5 (an UPDATE = −old
    // +new, which for SUM collapses to +5 per row and +0 rows);
    // orderkey % 101 = 0 (and not updated) rows are DELETED (−qty,
    // −1 row). Maintenance cost is |delta| + a ~5-row full-outer
    // merge of the group aggregates — never a base-table rescan; all
    // sums ride the exact-decimal money convention so the fold is
    // order-free. Groups whose maintained count reaches 0 drop out
    // (the full-outer + filter handles groups appearing/disappearing).
    "cdc_agg_maintain" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      maintainedView(aggState(li), cdcDeltaRows(li).drop("l_orderkey"))
        .select(col("l_returnflag"), col("n_rows"),
          round(col("sq").cast("double"), 6).as("sum_qty"))
    }),

    // BUCKETED CO-LOCATED JOIN — the third join-topology rewrite next
    // to salting (skew) and broadcasting (small dims): both sides are
    // WRITTEN bucketed+sorted on the join key, so the SortMergeJoin
    // consumes the buckets' layout directly and plans with ZERO
    // exchanges on the join (BucketJoinSpec counts them; the only
    // shuffle left is the final 5-group agg). This is the at-rest
    // answer to a join repeated every run: at 100 TB the
    // orders⋈lineitem shuffle is re-paid by every pipeline execution
    // unless the tables are bucket-aligned once at write time —
    // exactly what a warehouse does with its fact tables. The bucket
    // tables are session-scoped catalog tables in a temp-dir database
    // (built once per (session, dir); the catalog memo IS the
    // "written once" posture).
    "q_bucketed_join" -> ((s, dir) => {
      val (o, l) = bucketedTables(s, dir)
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             asDouble(sum(dec(col("l_extendedprice")))).as("sum_price"))
    }),

    // BINNED range join (operators.RangeJoin): parts classified into
    // price bands via lo <= p_retailprice < hi. A naive range join is
    // a nested-loop scan of every (row, band) pair; the binned rewrite
    // quantizes the range key so the planner runs a plain equi-join on
    // the bin plus a residual filter — the standard interval-join
    // topology at scale. Oracle = the naive range join, so the
    // correctness row proves the rewrite.
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      // p_retailprice spans [900, 1000) in the fixture; bands cover it
      // with widths near the 25-unit bin so intervals span 1-2 bins
      val bands = Seq(
        ("B0", 0.0, 920.0), ("B1", 920.0, 940.0), ("B2", 940.0, 960.0),
        ("B3", 960.0, 980.0), ("B4", 980.0, 1000.0))
        .toDF("band", "lo", "hi")
      graft.operators.RangeJoin.binned(
          Tables.part(s, dir), bands, col("p_retailprice"),
          col("lo"), col("hi"), binWidth = 25.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
             asDouble(sum(dec(col("p_retailprice")))).as("sum_price"))
    }),

    // DATA-QUALITY EXPECTATIONS — the dbt-test/Great-Expectations
    // audit a warehouse runs before anything downstream trusts a
    // load: referential integrity (orphan FKs via anti-join — the
    // join the planner turns into a broadcast-or-shuffle semi
    // difference), primary-key uniqueness, null-rate, and value/date
    // range checks, one summary row per expectation. Every check is
    // a partial-aggregable count or an anti-join count — nothing
    // row-sized leaves the executors, so the audit scans each table
    // once at any corpus size. Integer counts only; `pass` compares
    // a count to zero.
    "q_expectations" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      def row(name: String, checked: org.apache.spark.sql.DataFrame,
              violations: org.apache.spark.sql.Column) =
        checked.agg(count(lit(1)).as("n_checked"),
            coalesce(sum(when(violations, 1L).otherwise(0L)), lit(0L))
              .as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"),
                  col("n_violations"), (col("n_violations") === 0L).as("pass"))
      val orphanLi = row("lineitem_fk_orders",
        li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey").as("l_orderkey"),
                         lit(1L).as("fk_hit")).distinct(),
                Seq("l_orderkey"), "left"),
        col("fk_hit").isNull)
      val orphanO = row("orders_fk_customer",
        o.select(col("o_custkey"))
          .join(c.select(col("c_custkey").as("o_custkey"),
                         lit(1L).as("fk_hit")).distinct(),
                Seq("o_custkey"), "left"),
        col("fk_hit").isNull)
      val dupPk = row("orders_pk_unique",
        o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")),
        col("n") > 1L)
      val nullCust = row("orders_custkey_not_null", o, col("o_custkey").isNull)
      val qtyRange = row("lineitem_quantity_range", li,
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0)
      val dateRange = row("orders_date_range", o,
        unix_millis(col("o_orderdate").cast("timestamp")) < 788918400000L ||
          unix_millis(col("o_orderdate").cast("timestamp")) >= 1009843200000L)
      Seq(orphanLi, orphanO, dupPk, nullCust, qtyRange, dateRange)
        .reduce(_ unionByName _)
    })
  )

  /** SCD2 insert-key offset: one past the observed key domain,
    * memoized per (session, dir) — scaled corpora (ScaleBench's
    * replicated customer) keep their "not matched" rows disjoint from
    * the base population at any factor.
    */
  /** The deterministic synthetic CDC batch shared by
    * `cdc_agg_maintain` and its streaming twin: orderkey % 97 rows
    * updated (+5 qty ⇒ dq = +5, dn = 0), orderkey % 101 (and not
    * updated) rows deleted (dq = −qty, dn = −1). Keeps `l_orderkey`
    * so the replay can range-cut the delta into time-ordered files.
    */
  private[graft] def cdcDeltaRows(li: org.apache.spark.sql.DataFrame) = {
    val upd = li.filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_returnflag"),
        lit(5).cast("decimal(18,4)").as("dq"), lit(0L).as("dn"))
    val del = li.filter(col("l_orderkey") % 101 === 0 &&
                        col("l_orderkey") % 97 =!= 0)
      .select(col("l_orderkey"), col("l_returnflag"),
        (-dec(col("l_quantity"))).as("dq"), lit(-1L).as("dn"))
    upd.unionByName(del)
  }

  /** The materialized-aggregate STATE of `cdc_agg_maintain`: per-group
    * (count, exact decimal sum) — the view the delta fold maintains.
    */
  private[graft] def aggState(li: org.apache.spark.sql.DataFrame) =
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(dec(col("l_quantity"))).as("sq"))

  /** One delta-fold step: merge a (l_returnflag, dq, dn) CDC delta
    * into the view state. Full-outer + coalesce handles groups
    * appearing/disappearing; a maintained count of 0 drops the group.
    * Folding two deltas sequentially ≡ folding their union ≡
    * re-aggregating the twice-patched base (MaintenanceSpec).
    */
  private[graft] def maintainedView(state: org.apache.spark.sql.DataFrame,
                                    deltaRows: org.apache.spark.sql.DataFrame) = {
    val delta = deltaRows.groupBy(col("l_returnflag"))
      .agg(sum(col("dq")).as("dq"), sum(col("dn")).as("dn"))
    state.join(delta, Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("sq"), lit(0).cast("decimal(18,4)")) +
         coalesce(col("dq"), lit(0).cast("decimal(18,4)")))
          .cast("decimal(18,4)").as("sq"))
      .filter(col("n_rows") > 0L)
  }

  private def insertKeyOffset(s: org.apache.spark.sql.SparkSession,
                              dir: String): Long =
    Artifacts.scalar(s, dir, "cdc_insert_key_offset") {
      Tables.customer(s, dir).agg(max(col("c_custkey"))).head().getLong(0) + 1L
    }

  /** Run the SCD2 merge ONCE per (session, dir) through the real
    * `MERGE INTO` SQL surface against a [[graft.sources.MemRowLevelCatalog]]
    * table, returning the catalog table name holding the merged
    * dimension. Base load goes through the DSv2 batch-write path
    * (`writeTo(...).append()` — per-task buffered writers, commit
    * messages, driver-side commit), the merge through the group-based
    * row-level-operation path.
    */
  private val mergeTables =
    scala.collection.mutable.HashMap[(org.apache.spark.sql.SparkSession, String), String]()

  private def mergedScd2Table(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    mergeTables.synchronized {
      mergeTables.getOrElseUpdate((s, dir), {
        s.conf.set("spark.sql.catalog.graft_mem",
          classOf[graft.sources.MemRowLevelCatalog].getName)
        val id = mergeTables.size
        val tbl = s"graft_mem.cdc.scd2_$id"
        graft.sources.MemTableStore.create(s"cdc.scd2_$id",
          org.apache.spark.sql.types.StructType.fromDDL(
            "c_custkey BIGINT, acctbal DOUBLE, version BIGINT, " +
            "valid_from BIGINT, valid_to BIGINT, is_current BOOLEAN"))
        val base = Tables.customer(s, dir)
          .select(col("c_custkey").as("k"), dec(col("c_acctbal")).as("bal"))
        base.select(col("k").as("c_custkey"), asDouble(col("bal")).as("acctbal"),
            lit(1L).as("version"), lit(0L).as("valid_from"),
            lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
          .writeTo(tbl).append()
        val changes = base.filter(col("k") % 7 === 3)
          .select(col("k"),
                  (col("bal") + lit(100.50).cast("decimal(18,4)")).as("bal"))
        val inserts = base.filter(col("k") % 11 === 5)
          .select((col("k") + lit(insertKeyOffset(s, dir))).as("k"), col("bal"))
        val staging = changes
          .select(col("k").as("merge_key"), col("k"),
                  asDouble(col("bal")).as("bal"), lit(2L).as("version"))
          .unionByName(changes.select(
            lit(null).cast("long").as("merge_key"), col("k"),
            asDouble(col("bal")).as("bal"), lit(2L).as("version")))
          .unionByName(inserts.select(col("k").as("merge_key"), col("k"),
            asDouble(col("bal")).as("bal"), lit(1L).as("version")))
        val view = s"graft_merge_staging_$id"
        staging.createOrReplaceTempView(view)
        s.sql(
          s"""MERGE INTO $tbl t USING $view s
             |ON t.c_custkey = s.merge_key AND t.is_current
             |WHEN MATCHED THEN UPDATE SET valid_to = 1, is_current = false
             |WHEN NOT MATCHED THEN INSERT
             |  (c_custkey, acctbal, version, valid_from, valid_to, is_current)
             |  VALUES (s.k, s.bal, s.version, 1, NULL, true)""".stripMargin)
        tbl
      })
    }

  private val dmlTables =
    scala.collection.mutable.HashMap[(org.apache.spark.sql.SparkSession, String, String), String]()

  /** A customer-balance table in the DSv2 row-level catalog with one
    * DML statement applied — built once per (session, dir, op); the
    * memo IS the "statement ran once" semantics the oracle assumes.
    */
  private def dmlTable(s: org.apache.spark.sql.SparkSession, dir: String,
                       op: String)(dml: String => Unit): String =
    dmlTables.synchronized {
      dmlTables.getOrElseUpdate((s, dir, op), {
        s.conf.set("spark.sql.catalog.graft_mem",
          classOf[graft.sources.MemRowLevelCatalog].getName)
        val id = dmlTables.size
        val tbl = s"graft_mem.dml.${op}_$id"
        graft.sources.MemTableStore.create(s"dml.${op}_$id",
          org.apache.spark.sql.types.StructType.fromDDL(
            "c_custkey BIGINT, acctbal DOUBLE"))
        Tables.customer(s, dir)
          .select(col("c_custkey"), asDouble(dec(col("c_acctbal"))).as("acctbal"))
          .writeTo(tbl).append()
        dml(tbl)
        tbl
      })
    }

  /** Monotonic db-name registry for [[bucketedTables]] — keyed on the
    * FULL (session, dir) pair, not dir.hashCode (ADVICE r7: a 32-bit
    * hash collision between two data dirs in one session would
    * silently serve the first dir's buckets to the second).
    */
  private val bktDbNames =
    scala.collection.mutable.HashMap[(org.apache.spark.sql.SparkSession, String), String]()

  /** Bucketed orders/lineitem catalog tables (8 buckets, sorted on
    * the join key), written once per (session, dir) into a temp-dir
    * database — the "bucket-align the fact tables at write time"
    * warehouse posture. private[graft]: BucketJoinSpec reuses them to
    * count exchanges against the unbucketed plan.
    */
  private[graft] def bucketedTables(s: org.apache.spark.sql.SparkSession,
                                    dir: String) = {
    val db = bktDbNames.synchronized {
      bktDbNames.getOrElseUpdate((s, dir), s"graft_bkt_${bktDbNames.size}")
    }
    if (!s.catalog.databaseExists(db)) {
      val loc = graft.Ephemeral.dir("graft-bkt-")
      loc.toFile.deleteOnExit()
      s.sql(s"CREATE DATABASE $db LOCATION '${loc.toString}'")
      Tables.orders(s, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(s"$db.orders_b")
      Tables.lineitem(s, dir).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.lineitem_b")
    }
    (s.table(s"$db.orders_b"), s.table(s"$db.lineitem_b"))
  }

  /** Shared body of the format-source queries: read `documents`
    * through the given format's round trip and aggregate per lang.
    */
  private def scanVia(s: org.apache.spark.sql.SparkSession, dir: String,
                      fmt: String) =
    graft.tables.FormatSources.documentsVia(s, dir, fmt)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           sum(length(col("text")).cast("long")).as("sum_text_len"),
           min(col("doc_id")).as("min_doc_id"),
           max(col("doc_id")).as("max_doc_id"))

  /** One oracle text shared by all three formats — the round trip must
    * reproduce the original parquet exactly.
    */
  private val scanOracle =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |GROUP BY lang""".stripMargin

  /** One oracle text shared by `cdc_scd2` (the composed semi/anti-join
    * twin) and `q_sql_merge` (the real `MERGE INTO` statement) — both
    * must produce this table row-for-row.
    */
  private val scd2Oracle =
    """WITH base AS (
      |  SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,4)) AS bal
      |  FROM customer
      |), changes AS (
      |  SELECT k, bal + CAST(100.50 AS DECIMAL(18,4)) AS bal
      |  FROM base WHERE k % 7 = 3
      |), inserts AS (
      |  SELECT k + (SELECT max(k) + 1 FROM base) AS k, bal
      |  FROM base WHERE k % 11 = 5
      |)
      |SELECT k AS c_custkey, CAST(bal AS DOUBLE) AS acctbal,
      |  CAST(1 AS BIGINT) AS version, CAST(0 AS BIGINT) AS valid_from,
      |  CAST(1 AS BIGINT) AS valid_to, false AS is_current
      |FROM base WHERE k % 7 = 3
      |UNION ALL
      |SELECT k, CAST(bal AS DOUBLE), 1, 0, NULL, true
      |FROM base WHERE k % 7 <> 3
      |UNION ALL
      |SELECT k, CAST(bal AS DOUBLE), 2, 1, NULL, true FROM changes
      |UNION ALL
      |SELECT k, CAST(bal AS DOUBLE), 1, 1, NULL, true FROM inserts""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same matched/unmatched split spelled as WHERE branches
    "cdc_scd2" -> scd2Oracle,

    // the oracle RECOMPUTES from the patched table — deliberately a
    // different plan from the engine's delta fold; the hash match is
    // the maintained ≡ recomputed identity
    "cdc_agg_maintain" ->
      """WITH patched AS (
        |  SELECT l_returnflag,
        |    CASE WHEN l_orderkey % 97 = 0
        |         THEN CAST(l_quantity AS DECIMAL(18,4)) + 5
        |         ELSE CAST(l_quantity AS DECIMAL(18,4)) END AS q
        |  FROM lineitem
        |  WHERE NOT (l_orderkey % 101 = 0 AND l_orderkey % 97 <> 0)
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(q) AS DOUBLE), 6) AS sum_qty
        |FROM patched GROUP BY 1""".stripMargin,

    // the real MERGE statement must land on the identical table
    "q_sql_merge" -> scd2Oracle,

    // post-update state recomputed with a CASE projection
    "q_sql_update" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 3
        |       THEN CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) + 100.5
        |       ELSE CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) END
        |    AS acctbal
        |FROM customer""".stripMargin,

    // post-delete state = the complement filter
    "q_sql_delete" ->
      """SELECT c_custkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE) AS acctbal
        |FROM customer WHERE c_custkey % 11 <> 5""".stripMargin,

    // the scd2 CTE chain + the same interval predicate over both
    // version boundaries
    "cdc_snapshot" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,4)) AS bal
        |  FROM customer
        |), changes AS (
        |  SELECT k, bal + CAST(100.50 AS DECIMAL(18,4)) AS bal
        |  FROM base WHERE k % 7 = 3
        |), inserts AS (
        |  SELECT k + (SELECT max(k) + 1 FROM base) AS k, bal
        |  FROM base WHERE k % 11 = 5
        |), scd2 AS (
        |  SELECT k AS c_custkey, CAST(bal AS DOUBLE) AS acctbal,
        |    CAST(1 AS BIGINT) AS version, CAST(0 AS BIGINT) AS valid_from,
        |    CAST(1 AS BIGINT) AS valid_to
        |  FROM base WHERE k % 7 = 3
        |  UNION ALL
        |  SELECT k, CAST(bal AS DOUBLE), 1, 0, NULL FROM base WHERE k % 7 <> 3
        |  UNION ALL
        |  SELECT k, CAST(bal AS DOUBLE), 2, 1, NULL FROM changes
        |  UNION ALL
        |  SELECT k, CAST(bal AS DOUBLE), 1, 1, NULL FROM inserts
        |)
        |SELECT t.t, s.c_custkey, s.acctbal, s.version
        |FROM scd2 s, (SELECT CAST(g AS BIGINT) AS t
        |              FROM generate_series(0, 1) gs(g)) t
        |WHERE s.valid_from <= t.t
        |  AND (s.valid_to IS NULL OR s.valid_to > t.t)""".stripMargin,

    // bucketing is a layout property, not a semantics change — the
    // oracle is the plain join
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    "q_window_dist" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 7) AS pct_rank,
        |  round(cume_dist() OVER w, 7) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,

    "q_window_range_frame" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    epoch_ms(o_orderdate) AS ts_ms,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS price_dec
        |  FROM orders
        |)
        |SELECT o_orderkey, o_custkey, ts_ms,
        |  count(*) OVER w AS n_30d,
        |  CAST(sum(price_dec) OVER w AS DOUBLE) AS spend_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY ts_ms
        |  RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_scan_csv" -> scanOracle,
    "q_scan_json" -> scanOracle,
    "q_scan_orc" -> scanOracle,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_quantity < 50.0
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, CAST(rev_dec AS DOUBLE) AS revenue FROM (
        |  SELECT o_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY o_orderkey
        |  ORDER BY rev_dec DESC, o_orderkey
        |  LIMIT 10
        |)""".stripMargin,

    "q5_regional_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-04-01')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_window_rank" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn
        |  FROM part
        |) WHERE rn <= 3""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  epoch_ms(l_shipdate) AS ship_ms,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 3""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS prio_upper,
        |  CAST(length(o_orderstatus) AS BIGINT) AS status_len,
        |  substring(o_orderpriority, 1, 3) AS prio3,
        |  concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms
        |FROM orders""".stripMargin,

    "q_set_ops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS setop FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS setop FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    "q_typed_wavg" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6) AS wavg_price
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    // The salted join must be row-for-row the plain join.
    "q_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    // The binned range join must equal the naive range join.
    "q_range_join" ->
      """SELECT band, count(*) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM part
        |JOIN (VALUES ('B0', 0.0, 920.0), ('B1', 920.0, 940.0),
        |             ('B2', 940.0, 960.0), ('B3', 960.0, 980.0),
        |             ('B4', 980.0, 1000.0)) AS bands(band, lo, hi)
        |  ON lo <= p_retailprice AND p_retailprice < hi
        |GROUP BY band""".stripMargin,

    "q_set_ops_all" ->
      """SELECT okey, count(*) AS n_extra FROM (
        |  SELECT l_orderkey AS okey FROM lineitem
        |  EXCEPT ALL
        |  SELECT o_orderkey AS okey FROM orders
        |) GROUP BY okey""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    // integer counts only; same check definitions, one row each
    "q_expectations" ->
      """SELECT 'lineitem_fk_orders' AS check_name,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(coalesce(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_violations,
        |  coalesce(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) = 0
        |    AS pass
        |FROM lineitem l
        |LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON o.o_orderkey = l.l_orderkey
        |UNION ALL
        |SELECT 'orders_fk_customer',
        |  CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0)
        |    AS BIGINT),
        |  coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0
        |FROM orders ord
        |LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON c.c_custkey = ord.o_custkey
        |UNION ALL
        |SELECT 'orders_pk_unique',
        |  CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  coalesce(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) = 0
        |FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'orders_custkey_not_null',
        |  CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
        |    AS BIGINT),
        |  coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_quantity_range',
        |  CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |    THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  coalesce(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |    THEN 1 ELSE 0 END), 0) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_date_range',
        |  CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN
        |      epoch_ms(CAST(o_orderdate AS TIMESTAMP)) < 788918400000
        |      OR epoch_ms(CAST(o_orderdate AS TIMESTAMP)) >= 1009843200000
        |    THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  coalesce(sum(CASE WHEN
        |      epoch_ms(CAST(o_orderdate AS TIMESTAMP)) < 788918400000
        |      OR epoch_ms(CAST(o_orderdate AS TIMESTAMP)) >= 1009843200000
        |    THEN 1 ELSE 0 END), 0) = 0
        |FROM orders""".stripMargin
  )
}
