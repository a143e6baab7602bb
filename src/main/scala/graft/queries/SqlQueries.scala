package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tables.Tables

/** SQL-string surface: the engine's tables registered as temp views +
  * `spark.sql(...)` — the analogue of the reference stack's dashboard
  * query path (InfluxQL over measurements, SURVEY.md §3.3), plus
  * correlated-subquery and outer-join coverage that the DataFrame
  * suite doesn't exercise.
  */
object SqlQueries {

  private val AllTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings", "events")

  private def loadTable(s: SparkSession, dir: String, t: String): DataFrame = t match {
    case "documents"  => Tables.documents(s, dir)
    case "embeddings" => Tables.embeddings(s, dir)
    case "events"     => Tables.events(s, dir)
    case other        => Tables.load(s, dir, other)
  }

  /** Register sf tables as temp views (idempotent per session). With
    * `only` set, just those tables are loaded — the per-query path
    * passes the tables its SQL text references so one bad fixture
    * (e.g. a regenerated events.parquet, VERDICT r8) can never take
    * down SQL queries that don't read it.
    */
  def registerViews(s: SparkSession, dir: String,
                    only: Option[Set[String]] = None): Unit =
    AllTables.filter(t => only.forall(_.contains(t)))
      .foreach(t => loadTable(s, dir, t).createOrReplaceTempView(t))

  /** Table names referenced (as whole words) in a SQL text — a
    * superset of the truly referenced set is fine; registering an
    * extra view is harmless, missing one is an analysis error.
    */
  private def referencedTables(q: String): Set[String] =
    AllTables.filter(t => s"\\b$t\\b".r.findFirstIn(q).isDefined).toSet

  private def sql(q: String): Q = (s, dir) => {
    registerViews(s, dir, Some(referencedTables(q)))
    s.sql(q)
  }

  /** Same builders `spark.sql.extensions=graft.GraftExtensions` injects
    * at session build time, installed on an existing session — so the
    * SQL surface of the native expressions is exercised through the
    * driver's plain session too.
    */
  private def registerNativeFunctions(s: SparkSession): Unit =
    graft.GraftExtensions.functions.foreach { case (id, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  private def sqlNative(q: String): Q = (s, dir) => {
    registerViews(s, dir, Some(referencedTables(q)))
    registerNativeFunctions(s)
    s.sql(q)
  }

  val queries: Map[String, Q] = Map(

    // TPC-H Q4-style: EXISTS correlated subquery through pure SQL.
    "q_sql_order_priority" -> sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),

    // TPC-H Q17-style: correlated scalar-aggregate subquery (decimal
    // route so the 0.5·avg threshold is engine-exact).
    "q_sql_small_quantity_revenue" -> sql(
      """SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l1
        |WHERE l_quantity < (
        |  SELECT 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
        |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey""".stripMargin),

    // The native-expression SQL surface: every GraftExtensions-injected
    // function a SQL user would call (simhash32 / shingle_hashes /
    // minhash_sig / vec_dot_decimal), composed in one statement over
    // documents × embeddings — proves the registration path, argument
    // binding, and codegen of the custom expressions under spark.sql,
    // not just the Column API.
    "q_sql_native_funcs" -> sqlNative(
      """SELECT d.doc_id,
        |  simhash32(transform(split(d.text, ' '), t ->
        |    CAST(conv(substring(md5(t), 1, 14), 16, 10) AS BIGINT) % 2147483647L)) AS simhash,
        |  CAST(size(shingle_hashes(split(d.text, ' '), 3)) AS BIGINT) AS n_shingles,
        |  element_at(minhash_sig(split(d.text, ' ')), 1) AS mh0,
        |  round(CAST(vec_dot_decimal(e.embedding, e.embedding) AS DOUBLE), 6) AS self_dot_r
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin),

    // RECURSIVE CTE (new SQL surface in Spark 4): calendar gap-fill —
    // generate the first 60 days from the first order date and count
    // orders per day INCLUDING empty days (the time-series densify
    // every dashboard needs; a lateral generate_series does the same
    // at engines that have it — the recursion is the portable form,
    // and the same construct DuckDB uses in our connected-components
    // oracle). Depth 60 stays under Spark's default
    // cteRecursionLevelLimit of 100.
    "q_sql_recursive" -> sql(
      """WITH RECURSIVE ms AS (
        |  -- o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
        |  -- cast is an identity reinterpretation to epoch millis
        |  SELECT unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS t FROM orders
        |), days(day_ms, k) AS (
        |  SELECT (SELECT min(t - t % 86400000) FROM ms) AS day_ms, 0 AS k
        |  UNION ALL
        |  SELECT day_ms + 86400000, k + 1 FROM days WHERE k < 59
        |), per_day AS (
        |  SELECT t - t % 86400000 AS day_ms, count(*) AS n
        |  FROM ms GROUP BY 1
        |)
        |SELECT d.day_ms, CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
        |FROM days d LEFT JOIN per_day p ON p.day_ms = d.day_ms""".stripMargin),

    // UNPIVOT (wide → long melt, the inverse of events_pivot): the
    // per-line charge columns melted to (charge_type, amount) rows and
    // re-aggregated — Spark's UNPIVOT clause generates the rows before
    // the partial agg, so the plan is one generator + one hash agg.
    // The oracle uses the portable UNION ALL form (same semantics).
    "q_sql_unpivot" -> sql(
      """SELECT l_returnflag, charge_type,
        |  CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM (
        |  SELECT l_returnflag, charge_type, amount
        |  FROM lineitem
        |  UNPIVOT (amount FOR charge_type IN (
        |    l_extendedprice AS price, l_discount AS discount, l_tax AS tax))
        |)
        |GROUP BY 1, 2""".stripMargin),

    // SQL PIVOT clause (the DataFrame pivot exists as events_pivot;
    // this is the SQL-surface form warehouse users port): daily
    // event-type count matrix through `PIVOT ... FOR ... IN`. The
    // oracle is the portable FILTER-aggregation form.
    "q_sql_pivot" -> sql(
      """SELECT day_ms,
        |  CAST(coalesce(click, 0) AS BIGINT) AS click,
        |  CAST(coalesce(purchase, 0) AS BIGINT) AS purchase,
        |  CAST(coalesce(error, 0) AS BIGINT) AS error,
        |  CAST(coalesce(signup, 0) AS BIGINT) AS signup,
        |  CAST(coalesce(view, 0) AS BIGINT) AS view
        |FROM (
        |  SELECT event_type, ts_ms - ts_ms % 86400000 AS day_ms FROM events
        |)
        |PIVOT (count(*) FOR event_type IN
        |  ('click' AS click, 'purchase' AS purchase, 'error' AS error,
        |   'signup' AS signup, 'view' AS view))""".stripMargin),

    // GROUPING SETS — the general form of rollup/cube (both already
    // covered as DataFrame ops): an explicit, asymmetric set list
    // {(flag,status), (flag), ()} with GROUPING() disambiguating real
    // NULLs from superaggregate rows. Identical SQL on both engines.
    "q_sql_groupingsets" -> sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // LATERAL correlated subquery (Spark 3.2+/DuckDB share the
    // construct): per-nation top-2 customers by account balance — the
    // per-group top-N idiom expressed as a join whose right side
    // re-executes per left row. The planner rewrites it to a
    // DomainJoin + window internally; the surface matters for SQL
    // users porting warehouse queries.
    "q_sql_lateral" -> sql(
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey
        |  LIMIT 2
        |) t""".stripMargin),

    // Correlated subqueries, all three planner paths in one query:
    // a correlated SCALAR subquery (Catalyst decorrelates into an
    // aggregated left outer join), correlated EXISTS (rewritten to a
    // left-semi join by RewritePredicateSubquery), and NOT IN with a
    // null-guarded subquery (null-aware left-anti). Identical ANSI
    // SQL on both engines; at scale every one of these becomes a
    // plain shuffled/broadcast join — no per-row subquery execution.
    "q_sql_correlated" -> sql(
      """SELECT c.c_custkey, c.c_acctbal,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderstatus = 'P'
        |                            AND o_custkey IS NOT NULL)""".stripMargin),

    // Full outer join: per-nation customer vs supplier counts.
    "q_sql_outer_join" -> sql(
      """SELECT coalesce(c.k, s.k) AS nationkey,
        |  coalesce(c.n_cust, 0) AS n_cust,
        |  coalesce(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.k = s.k""".stripMargin),

    // Aggregate FILTER clause (SQL:2003; the conditional-aggregation
    // surface warehouse queries use instead of CASE-inside-SUM):
    // per-priority order stats with three differently-filtered
    // aggregates in ONE pass — the planner folds every FILTER into
    // the same partial hash agg, so adding a filtered metric costs a
    // column, not a scan. Identical SQL on both engines.
    "q_sql_filter_agg" -> sql(
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS sum_finished,
        |  CAST(coalesce(max(o_totalprice)
        |    FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS max_open
        |FROM orders
        |GROUP BY 1""".stripMargin),

    // IGNORE NULLS window navigation (the LOCF idiom in its SQL
    // surface form): per customer in order-date order, the most
    // recent PRECEDING big-ticket order key — lag over a
    // NULLified column with IGNORE NULLS skips arbitrarily far back,
    // which a plain lag(n) cannot express. One window sort; same
    // clause on both engines.
    "q_sql_ignore_nulls" -> sql(
      """SELECT o_orderkey, o_custkey,
        |  lag(CASE WHEN o_totalprice > 200000 THEN o_orderkey END)
        |    IGNORE NULLS OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY unix_millis(CAST(o_orderdate AS TIMESTAMP)), o_orderkey)
        |    AS prev_big_order
        |FROM orders""".stripMargin),

    // SQL PIPE SYNTAX (Spark 4): the scan→filter→aggregate→having
    // chain in its linear |> form — parser surface only, the plan is
    // identical to the nested SELECT, which is what the oracle (in
    // classic form) proves.
    "q_sql_pipe" -> sql(
      """FROM lineitem
        ||> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        ||> AGGREGATE count(*) AS cnt,
        |     CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |   GROUP BY l_returnflag, l_linestatus
        ||> WHERE cnt > 10
        ||> SELECT l_returnflag, l_linestatus, cnt, sum_qty""".stripMargin)
  )

  val oracleSql: Map[String, String] = Map(
    "q_sql_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin,

    "q_sql_small_quantity_revenue" ->
      """SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l1
        |WHERE l_quantity < (
        |  SELECT 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
        |  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey""".stripMargin,

    "q_sql_native_funcs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), th AS (
        |  SELECT doc_id, list_transform(toks, t ->
        |    CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT) % 2147483647) AS th
        |  FROM toks
        |), sh AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
        |      CASE WHEN list_sum(list_transform(th, h ->
        |          ((h // CAST(power(2, b) AS BIGINT)) % 2) * 2 - 1)) > 0
        |        THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM th
        |), ng AS (
        |  SELECT doc_id, CAST(len(list_distinct(list_transform(
        |    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])),
        |    g -> CAST(concat('0x', substr(md5(g), 1, 14)) AS BIGINT) % 2147483647)))
        |    AS BIGINT) AS n_shingles
        |  FROM toks
        |), mh AS (
        |  SELECT doc_id, list_min(list_transform(list_distinct(toks), s ->
        |    ((CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) % 2147483647) + 7)
        |      % 2147483647)) AS mh0
        |  FROM toks
        |)
        |SELECT t.doc_id, s.simhash, n.n_shingles, m.mh0,
        |  round(CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |    CAST(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
        |      AS DECIMAL(28,14)))) AS DOUBLE), 6) AS self_dot_r
        |FROM toks t
        |JOIN sh s USING (doc_id) JOIN ng n USING (doc_id) JOIN mh m USING (doc_id)
        |JOIN embeddings e ON e.vec_id = t.doc_id""".stripMargin,

    "q_sql_recursive" ->
      """WITH RECURSIVE days(day_ms, k) AS (
        |  SELECT (SELECT min(epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % 86400000)
        |          FROM orders), 0
        |  UNION ALL
        |  SELECT day_ms + 86400000, k + 1 FROM days WHERE k < 59
        |), per_day AS (
        |  SELECT epoch_ms(o_orderdate) - epoch_ms(o_orderdate) % 86400000 AS day_ms,
        |         count(*) AS n
        |  FROM orders GROUP BY 1
        |)
        |SELECT d.day_ms, CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders
        |FROM days d LEFT JOIN per_day p ON p.day_ms = d.day_ms""".stripMargin,

    "q_sql_unpivot" ->
      """SELECT l_returnflag, charge_type,
        |  CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM (
        |  SELECT l_returnflag, 'price' AS charge_type, l_extendedprice AS amount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'tax', l_tax FROM lineitem
        |)
        |GROUP BY 1, 2""".stripMargin,

    "q_sql_pivot" ->
      """SELECT (epoch_ns(ts) // 1000000) - ((epoch_ns(ts) // 1000000) % 86400000) AS day_ms,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events
        |GROUP BY 1""".stripMargin,

    "q_sql_groupingsets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    "q_sql_lateral" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey
        |  LIMIT 2
        |) t""".stripMargin,

    "q_sql_correlated" ->
      """SELECT c.c_custkey, c.c_acctbal,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderstatus = 'P'
        |                            AND o_custkey IS NOT NULL)""".stripMargin,

    "q_sql_filter_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS sum_finished,
        |  CAST(coalesce(max(o_totalprice)
        |    FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS max_open
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // DuckDB spells the modifier inside the argument list
    // (`lag(x IGNORE NULLS)`); Spark after the call — same semantics
    "q_sql_ignore_nulls" ->
      """SELECT o_orderkey, o_custkey,
        |  lag(CASE WHEN o_totalprice > 200000 THEN o_orderkey END IGNORE NULLS)
        |    OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY epoch_ms(CAST(o_orderdate AS TIMESTAMP)), o_orderkey)
        |    AS prev_big_order
        |FROM orders""".stripMargin,

    "q_sql_outer_join" ->
      """SELECT coalesce(c.k, s.k) AS nationkey,
        |  coalesce(c.n_cust, 0) AS n_cust,
        |  coalesce(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.k = s.k""".stripMargin,

    // classic nested form of the pipe chain
    "q_sql_pipe" ->
      """SELECT l_returnflag, l_linestatus, cnt, sum_qty FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2
        |) WHERE cnt > 10""".stripMargin
  )
}
