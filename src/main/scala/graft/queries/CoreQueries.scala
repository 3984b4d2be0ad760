package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.plans.TokenExprs

/** Core relational operator queries (SURVEY.md §2.A/B/D/F), each paired
  * with an ANSI-SQL oracle in [[CoreQueries.oracles]] for the DuckDB
  * hash-compare. Every query ends in a total deterministic ORDER BY.
  *
  * Scale notes: all scans are columnar parquet with projection +
  * predicate pushdown; aggregations are partial (map-side combine) hash
  * aggregates; the equi-join broadcasts the small dimension side.
  * Aggregated doubles are rounded at 2 decimals in BOTH engines so the
  * partition-order-dependent FP summation noise (~1e-10 relative) cannot
  * flip the hash compare.
  */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val queries: Map[String, Q] = Map(
    // S-8 / F-14: projection + pushed predicate (reference scripts/entity_matching.py:323-331)
    "s8_scan_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .filter(col("l_quantity") > 25)
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // A-2-style one-pass pricing summary (flagship aggregate; partial agg + 2-col group)
    "a2_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A-2: conditional counts in one pass (reference scripts/entity_matching.py:256-266)
    "a2_conditional_counts" -> ((s, d) =>
      t(s, d, "part").agg(
        count(lit(1)).as("total"),
        count(when(length(trim(col("p_name"))) < 12, 1)).as("short_names"),
        count(when(col("p_size") >= 25, 1)).as("large_parts"),
        count(when(col("p_retailprice") > 1500.0, 1)).as("expensive"))),

    // A-3: NULL counts per critical column (reference scripts/run_quality_checks.py:54-62)
    "a3_null_counts" -> ((s, d) =>
      t(s, d, "events").agg(
        count(lit(1)).as("total"),
        count(when(col("props").isNull, 1)).as("null_props"),
        count(when(col("value").isNull, 1)).as("null_value"),
        count(when(nullif(trim(col("event_type")), lit("")).isNull, 1)).as("blank_type"))),

    // A-4: grouped distribution + order (reference scripts/run_quality_checks.py:67-76)
    "a4_distribution" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy(floor(col("c_acctbal") / 1000).cast("int").as("bal_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bal_bucket"))),

    // A-5: duplicate-key detection (reference scripts/run_quality_checks.py:83-96)
    "a5_duplicate_keys" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy(col("l_orderkey"))),

    // A-6: argmax per group with pinned tie-break (reference scripts/entity_matching.py:402-443)
    // A-6 as a partial-aggregating argmax: max(struct(price, -key, ...))
    // with map-side combine — same rows as the row_number()==1 window
    // the oracle runs, but no shuffle-and-sort of the whole table into
    // |l_returnflag| tasks (3 here — catastrophic skew at scale).
    "a6_argmax" -> ((s, d) => {
      val packed = struct(col("l_extendedprice"), (-col("l_orderkey")).as("nk"),
        (-col("l_linenumber")).as("nl"), col("l_orderkey"))
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(max(packed).as("m"))
        .select(col("l_returnflag"), col("m.l_orderkey").as("l_orderkey"),
          col("m.l_extendedprice").as("l_extendedprice"))
        .orderBy(col("l_returnflag"))
    }),

    // A-1: row counts per table (reference scripts/run_quality_checks.py:45-52)
    "a1_row_counts" -> ((s, d) => {
      def c(n: String) = t(s, d, n).agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n"))
      c("customer").unionByName(c("orders")).unionByName(c("lineitem")).orderBy(col("tbl"))
    }),

    // F-2: substring (not suffix) filter (reference scripts/extract_commoncrawl.py:65-67)
    "f2_substring_filter" -> ((s, d) =>
      t(s, d, "documents")
        .filter(col("source").contains("1"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // F-9: point lookup (reference fastapi_service/main.py:19)
    "f9_point_lookup" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") === 42).orderBy(col("c_custkey"))),

    // F-10: case-insensitive substring search (reference fastapi_service/main.py:44-45)
    "f10_search_ilike" -> ((s, d) =>
      t(s, d, "part")
        .filter(TokenExprs.lower(col("p_name")).contains("bolt") ||
          TokenExprs.lower(col("p_type")).contains("promo"))
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy(col("p_partkey"))),

    // F-11: equality filter (reference fastapi_service/main.py:55)
    "f11_eq_filter" -> ((s, d) =>
      t(s, d, "nation").filter(col("n_regionkey") === 2)
        .select(col("n_nationkey"), col("n_name")).orderBy(col("n_nationkey"))),

    // J-6: equi-join, dimension side broadcast (reference README.md:43)
    "j6_equi_join" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderstatus") === "F")
      val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // J-4: left-anti join (idempotency ledger shape; reference scripts/extract_commoncrawl.py:87-93)
    "j4_left_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    }),

    // S-2 / J-5: keep-first dedup on key (reference ON CONFLICT (abn) DO NOTHING, scripts/extract_abr.py:57-66)
    "s2_dedup_first_wins" -> ((s, d) => {
      val w = Window.partitionBy(col("key")).orderBy(col("c_custkey").asc)
      t(s, d, "customer")
        .withColumn("key", col("c_custkey") % 100)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("key"), col("c_custkey"), col("c_name"))
        .orderBy(col("key"))
    }),

    // S-3: incremental-processing ledger anti-join (reference scripts/extract_abr.py:176-180)
    "s3_ledger_antijoin" -> ((s, d) => {
      val all = t(s, d, "documents").select(col("source")).distinct()
      val done = all.filter(substring(col("source"), 4, 10).cast("int") % 2 === 0)
      all.join(done, Seq("source"), "left_anti").orderBy(col("source"))
    }),

    // O-2: deterministic ordered limit (reference scripts/entity_matching.py:273,293,377)
    "o2_ordered_limit" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(100)),

    // beyond-reference breadth: hierarchical totals via ROLLUP
    "g1_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(grouping(col("l_returnflag")), grouping(col("l_linestatus")),
          coalesce(col("l_returnflag"), lit("")), coalesce(col("l_linestatus"), lit("")))),

    // §2.G breadth: full CUBE — all four grouping-set combos (rollup
    // g1 emits three); partial-aggregated expand, same FP rounding
    // discipline as g1
    "g5_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(grouping(col("l_returnflag")), grouping(col("l_linestatus")),
          coalesce(col("l_returnflag"), lit("")), coalesce(col("l_linestatus"), lit("")))),

    // §2.G breadth: explicit GROUPING SETS — an ASYMMETRIC set list
    // ((flag, status), (status)) that neither rollup (g1) nor cube (g5)
    // can express; same partial-aggregated expand + FP rounding
    "g6_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(grouping(col("l_returnflag")), grouping(col("l_linestatus")),
          coalesce(col("l_returnflag"), lit("")), coalesce(col("l_linestatus"), lit("")))),

    // beyond-reference breadth: 3-way join + grouped top-k (TPC-H Q3
    // shape). Revenue in integer 1e-4 units — exact in any aggregation
    // order, so the top-10 cut cannot flake on FP partition noise.
    "g3_multijoin_topk" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val revE4 = (round(col("l_extendedprice") * 100, 0).cast("long") *
        (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(revE4).as("revenue_e4"), count(lit(1)).as("n_lines"))
        .orderBy(col("revenue_e4").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // beyond-reference breadth: relational INTERSECT / EXCEPT
    "g2_setops" -> ((s, d) => {
      val withOrders = t(s, d, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val both = rich.intersect(withOrders).withColumn("class", lit("rich_with_orders"))
      val only = rich.except(withOrders).withColumn("class", lit("rich_no_orders"))
      both.unionByName(only).orderBy(col("class"), col("c_custkey"))
    }),

    // beyond-reference breadth: pivot (wide-format report) — explicit
    // value list so no distinct-scan job runs and the output schema is
    // static; cells are integer cents so the sums hash cross-engine
    "g4_pivot" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("cents")))
        .orderBy(col("o_orderpriority")))
  )

  val oracles: Map[String, String] = Map(
    "s8_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "a2_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a2_conditional_counts" ->
      """SELECT count(*) AS total,
        |  count(CASE WHEN length(trim(p_name)) < 12 THEN 1 END) AS short_names,
        |  count(CASE WHEN p_size >= 25 THEN 1 END) AS large_parts,
        |  count(CASE WHEN p_retailprice > 1500.0 THEN 1 END) AS expensive
        |FROM part""".stripMargin,
    "a3_null_counts" ->
      """SELECT count(*) AS total,
        |  count(CASE WHEN props IS NULL THEN 1 END) AS null_props,
        |  count(CASE WHEN value IS NULL THEN 1 END) AS null_value,
        |  count(CASE WHEN nullif(trim(event_type), '') IS NULL THEN 1 END) AS blank_type
        |FROM events""".stripMargin,
    "a4_distribution" ->
      """SELECT CAST(floor(c_acctbal / 1000) AS INT) AS bal_bucket, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY bal_bucket""".stripMargin,
    "a5_duplicate_keys" ->
      """SELECT l_orderkey, count(*) AS n FROM lineitem
        |GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey""".stripMargin,
    "a6_argmax" ->
      """SELECT l_returnflag, l_orderkey, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "a1_row_counts" ->
      """SELECT 'customer' AS tbl, count(*) AS n FROM customer
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |ORDER BY tbl""".stripMargin,
    "f2_substring_filter" ->
      """SELECT doc_id, source FROM documents
        |WHERE source LIKE '%1%' ORDER BY doc_id""".stripMargin,
    "f9_point_lookup" ->
      "SELECT * FROM customer WHERE c_custkey = 42 ORDER BY c_custkey",
    "f10_search_ilike" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE lower(p_name) LIKE '%bolt%' OR lower(p_type) LIKE '%promo%'
        |ORDER BY p_partkey""".stripMargin,
    "f11_eq_filter" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin,
    "j6_equi_join" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
    "j4_left_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "s2_dedup_first_wins" ->
      """SELECT key, c_custkey, c_name FROM (
        |  SELECT c_custkey % 100 AS key, c_custkey, c_name,
        |    row_number() OVER (PARTITION BY c_custkey % 100 ORDER BY c_custkey ASC) AS rn
        |  FROM customer) WHERE rn = 1 ORDER BY key""".stripMargin,
    "s3_ledger_antijoin" ->
      """SELECT source FROM (SELECT DISTINCT source FROM documents)
        |WHERE CAST(substr(source, 4, 10) AS INT) % 2 <> 0
        |ORDER BY source""".stripMargin,
    "o2_ordered_limit" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 100""".stripMargin,
    "g1_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY GROUPING(l_returnflag), GROUPING(l_linestatus),
        |  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin,
    "g5_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY GROUPING(l_returnflag), GROUPING(l_linestatus),
        |  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin,
    "g6_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        |ORDER BY GROUPING(l_returnflag), GROUPING(l_linestatus),
        |  coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin,
    "g3_multijoin_topk" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_lines
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
        |GROUP BY 1 ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "g2_setops" ->
      """SELECT c_custkey, 'rich_with_orders' AS class FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  INTERSECT SELECT DISTINCT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'rich_no_orders' FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  EXCEPT SELECT DISTINCT o_custkey FROM orders)
        |ORDER BY class, c_custkey""".stripMargin,
    "g4_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(cents) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
        |  CAST(sum(cents) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
        |  CAST(sum(cents) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
        |FROM (SELECT o_orderpriority, o_orderstatus,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  )
}
