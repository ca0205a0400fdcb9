package graft.engine.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.engine.{Artifacts, GraftQuery, Par, Tables}
import Exact._

/** Relational core (SURVEY.md §2.5 X6): scans, filters, projections,
  * aggregations, joins, windows, set ops, scalar functions — each a named
  * query with a DuckDB oracle.
  *
  * Scale posture, applied throughout:
  *  - filters/projections precede aggregation so Catalyst pushes them into
  *    the parquet scan (PushedFilters / pruned ReadSchema);
  *  - joins against dimension tables are explicitly `broadcast()` (at 100 TB
  *    the fact side never shuffles for a dim join); fact-fact joins are left
  *    to sort-merge + AQE;
  *  - aggregates are hash-aggregates with map-side partials; the trailing
  *    total ORDER BY sorts an already-reduced result;
  *  - window queries partition on high-cardinality keys (custkey/user_id) so
  *    the shuffle is even; no single-partition global windows.
  */
object RelationalQueries {
  private def ep(c: Column): Column = unix_timestamp(c)

  /** q01 — TPC-H Q1-shaped pricing summary: filter → hash-agg → sort. */
  val q01 = GraftQuery(
    "q01_pricing_summary",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          lcount().as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${sqlDsum("l_quantity")} AS sum_qty,
      ${sqlDsum("l_extendedprice")} AS sum_base_price,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${sqlDavg("l_quantity")} AS avg_qty,
      ${sqlDavg("l_extendedprice")} AS avg_price,
      ${sqlDavg("l_discount")} AS avg_disc,
      COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    doc = "TPC-H Q1 shape: filtered scan + 8-group hash aggregate")

  /** q02 — TPC-H Q6 shape: tight selective filter, single-row global agg.
    * All three predicates push to parquet; the agg is a 1-row reduce. */
  val q02 = GraftQuery(
    "q02_forecast_revenue",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          lcount().as("n_rows"))
    },
    Some(s"""SELECT ${sqlDsum("l_extendedprice * l_discount")} AS revenue,
      COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    doc = "TPC-H Q6 shape: selective pushdown filter + global agg")

  /** q03 — pure filter + projection, fully pushed to the parquet scan. */
  val q03 = GraftQuery(
    "q03_filter_project",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_quantity"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 45
      ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity"""),
    doc = "filter+project with parquet pushdown, 2-col ReadSchema")

  /** q04 — dimension join chain, both sides broadcast: no fact shuffle. */
  val q04 = GraftQuery(
    "q04_broadcast_join",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val n = Tables.nation(spark, sfDir)
      val r = Tables.region(spark, sfDir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(lcount().as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
        .orderBy(col("r_name"))
    },
    Some(s"""SELECT r_name, COUNT(*) AS n_customers,
      ${sqlDsum("c_acctbal")} AS total_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""),
    doc = "customer⋈nation⋈region with broadcast dims")

  /** q05 — fact-fact equi-join (orders⋈lineitem), shuffle on orderkey,
    * AQE picks sort-merge; agg after join is 5 groups. */
  val q05 = GraftQuery(
    "q05_join_agg",
    (spark, sfDir) => {
      val o = Tables.orders(spark, sfDir)
      val l = Tables.lineitem(spark, sfDir)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          lcount().as("n_lines"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      COUNT(*) AS n_lines
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    doc = "orders⋈lineitem sort-merge join + small agg")

  /** q06 — TPC-H Q5-shaped multi-join: two broadcast dims + two fact joins,
    * date filter pushed below the join. */
  val q06 = GraftQuery(
    "q06_multi_join_revenue",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(spark, sfDir)
      val n = Tables.nation(spark, sfDir)
      val r = Tables.region(spark, sfDir).filter(col("r_name") =!= "ASIA")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          lcount().as("n_lines"))
        .orderBy(col("n_name"))
    },
    Some(s"""SELECT n_name,
      ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      COUNT(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND r_name <> 'ASIA'
      GROUP BY n_name ORDER BY n_name"""),
    doc = "5-table join: fact joins shuffle, dims broadcast")

  /** q07 — left outer join preserving customers with zero matching orders. */
  val q07 = GraftQuery(
    "q07_left_join",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).cast(LongType).as("n_big_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_total"))
        .orderBy(col("c_custkey"))
        .limit(500)
    },
    Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
      COALESCE(${sqlDsum("o_totalprice")}, 0.0) AS big_total
      FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey LIMIT 500"""),
    doc = "left outer join, null-preserving agg with COALESCE")

  /** q08 — left-semi join (EXISTS): customers with a finished order. */
  val q08 = GraftQuery(
    "q08_semi_join",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val o = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(lcount().as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    doc = "left-semi join = EXISTS")

  /** q09 — left-anti join (NOT EXISTS): customers with no 400k+ order. */
  val q09 = GraftQuery(
    "q09_anti_join",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000.0)
      val n = Tables.nation(spark, sfDir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(lcount().as("n_customers"))
        .orderBy(col("n_name"))
    },
    Some("""SELECT n_name, COUNT(*) AS n_customers
      FROM customer c JOIN nation ON c_nationkey = n_nationkey
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      GROUP BY n_name ORDER BY n_name"""),
    doc = "left-anti join = NOT EXISTS")

  /** q10 — ROLLUP hierarchy totals; sentinel '@ALL' instead of NULL so sort
    * order is engine-independent (Spark sorts NULLS FIRST, DuckDB LAST). */
  val q10 = GraftQuery(
    "q10_rollup",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), lcount().as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("@ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("@ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf"), col("ls"))
    },
    Some(s"""SELECT COALESCE(l_returnflag, '@ALL') AS rf,
      COALESCE(l_linestatus, '@ALL') AS ls,
      ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rf, ls"""),
    doc = "ROLLUP with NULL-sentinel normalization")

  /** q11 — CUBE over two order dimensions. */
  val q11 = GraftQuery(
    "q11_cube",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(lcount().as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("@ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("@ALL")).as("priority"),
          col("n_orders"), col("total"))
        .orderBy(col("status"), col("priority"))
    },
    Some(s"""SELECT COALESCE(o_orderstatus, '@ALL') AS status,
      COALESCE(o_orderpriority, '@ALL') AS priority,
      COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),
    doc = "CUBE with NULL-sentinel normalization")

  /** q12 — GROUPING SETS via the SQL entry point (spark.sql over a view). */
  val q12 = GraftQuery(
    "q12_grouping_sets",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
      spark.sql(s"""SELECT COALESCE(l_returnflag, '@ALL') AS rf,
        COALESCE(l_linestatus, '@ALL') AS ls,
        ${sqlDsum("l_extendedprice")} AS sum_price, COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls""")
    },
    Some(s"""SELECT COALESCE(l_returnflag, '@ALL') AS rf,
      COALESCE(l_linestatus, '@ALL') AS ls,
      ${sqlDsum("l_extendedprice")} AS sum_price, COUNT(*) AS n_rows
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls"""),
    doc = "GROUPING SETS through spark.sql — same text runs in DuckDB")

  /** q13 — multi-distinct aggregation (expand-based in Spark). */
  val q13 = GraftQuery(
    "q13_distinct_agg",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).cast(LongType).as("n_parts"),
          countDistinct(col("l_suppkey")).cast(LongType).as("n_supps"),
          lcount().as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    doc = "two COUNT(DISTINCT) in one agg")

  /** q14 — ranking window: top-5 customers by balance per nation.
    * Partition key c_nationkey (25 partitions of ~equal size) — the window
    * shuffle is even; rank ties are kept (rank semantics) so the filter is
    * deterministic without a unique tiebreaker. */
  val q14 = GraftQuery(
    "q14_window_rank",
    (spark, sfDir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(spark, sfDir)
        .withColumn("rnk", rank().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select(col("c_nationkey").cast(LongType).as("nationkey"),
          col("rnk"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("nationkey"), col("rnk"), col("c_custkey"))
    },
    Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      CAST(rnk AS BIGINT) AS rnk, c_custkey, c_acctbal FROM (
        SELECT *, RANK() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        FROM customer) t
      WHERE rnk <= 5 ORDER BY nationkey, rnk, c_custkey"""),
    doc = "rank() window, top-5 per nation")

  /** q15 — lag window: order-to-order price delta per customer. */
  val q15 = GraftQuery(
    "q15_window_lag",
    (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(spark, sfDir)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          ep(col("o_orderdate")).as("order_epoch"),
          col("o_totalprice"), col("prev_price"),
          (col("o_totalprice") - col("prev_price")).as("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
        .limit(1000)
    },
    Some("""SELECT o_custkey, o_orderkey,
      CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
      o_totalprice,
      LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey) AS prev_price,
      o_totalprice - LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey) AS delta
      FROM orders ORDER BY o_custkey, o_orderkey LIMIT 1000"""),
    doc = "lag() window with per-row delta")

  /** q16 — running sum with explicit ROWS frame. Sequential in-order fold on
    * both engines → bit-identical doubles, no decimal needed. */
  val q16 = GraftQuery(
    "q16_running_sum",
    (spark, sfDir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(spark, sfDir)
        .withColumn("running_total", sum(col("o_totalprice")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
        .limit(1000)
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      SUM(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total
      FROM orders ORDER BY o_custkey, o_orderkey LIMIT 1000"""),
    doc = "running sum, explicit ROWS frame")

  /** q17 — global top-k: TakeOrderedAndProject, no full sort materialized. */
  val q17 = GraftQuery(
    "q17_topk",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          ep(col("o_orderdate")).as("order_epoch"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),
    doc = "ORDER BY DESC LIMIT 20 → TakeOrderedAndProject")

  /** q18 — set operations: UNION (distinct), INTERSECT, EXCEPT. */
  val q18 = GraftQuery(
    "q18_setops",
    (spark, sfDir) => {
      val c = Tables.customer(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = o.filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("c_custkey"))
      val k = c.filter(col("c_nationkey") < 12).select(col("c_custkey"))
      val d = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") < 5000.0)
        .select(col("o_custkey").as("c_custkey"))
      a.union(b).distinct().intersect(k).except(d)
        .orderBy(col("c_custkey"))
    },
    Some("""(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450000.0)
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_nationkey < 12
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice < 5000.0
      ORDER BY c_custkey"""),
    doc = "UNION/INTERSECT/EXCEPT composition")

  /** q19 — string scalar functions over part. */
  val q19 = GraftQuery(
    "q19_string_fns",
    (spark, sfDir) => {
      Tables.part(spark, sfDir)
        .filter(col("p_partkey") < 1000)
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          lower(col("p_brand")).as("brand_lower"),
          substring(col("p_type"), 1, 4).as("type_prefix"),
          length(col("p_name")).cast(LongType).as("name_len"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "a", "@").as("name_subst"),
          lpad(col("p_size").cast("string"), 5, "0").as("size_padded"),
          col("p_name").like("%bolt%").cast(LongType).as("is_bolt"),
          split(col("p_name"), " ").getItem(0).as("first_word"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, UPPER(p_name) AS name_upper,
      LOWER(p_brand) AS brand_lower,
      SUBSTRING(p_type, 1, 4) AS type_prefix,
      CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      p_brand || '#' || p_type AS brand_type,
      REPLACE(p_name, 'a', '@') AS name_subst,
      LPAD(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
      CAST(p_name LIKE '%bolt%' AS BIGINT) AS is_bolt,
      STRING_SPLIT(p_name, ' ')[1] AS first_word
      FROM part WHERE p_partkey < 1000 ORDER BY p_partkey"""),
    doc = "string functions: case, substr, concat, replace, pad, like, split")

  /** q20 — date/time scalar functions over orders. */
  val q20 = GraftQuery(
    "q20_date_fns",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).as("o_year"),
          month(col("o_orderdate")).cast(LongType).as("o_month"),
          quarter(col("o_orderdate")).cast(LongType).as("o_quarter"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("o_day"),
          ep(date_trunc("month", col("o_orderdate"))).as("month_start_epoch"),
          datediff(lit("2000-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast(LongType).as("days_to_y2k"),
          ep(col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("epoch_plus30d"))
        .orderBy(col("o_orderkey"))
        .limit(1000)
    },
    Some("""SELECT o_orderkey,
      CAST(year(o_orderdate) AS BIGINT) AS o_year,
      CAST(month(o_orderdate) AS BIGINT) AS o_month,
      CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
      CAST(day(o_orderdate) AS BIGINT) AS o_day,
      CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
      CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k,
      CAST(epoch(o_orderdate + INTERVAL 30 DAY) AS BIGINT) AS epoch_plus30d
      FROM orders ORDER BY o_orderkey LIMIT 1000"""),
    doc = "date functions: extract, trunc, diff, interval arithmetic")

  /** q21 — math scalar functions. Transcendentals rounded to 6dp to absorb
    * last-ulp libm differences between JVM and C. */
  val q21 = GraftQuery(
    "q21_math_fns",
    (spark, sfDir) => {
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          ceil(col("l_extendedprice")).cast(LongType).as("price_ceil"),
          floor(col("l_extendedprice")).cast(LongType).as("price_floor"),
          round(col("l_tax"), 2).as("tax_round"),
          round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          round(exp(col("l_discount")), 6).as("disc_exp"),
          round(pow(col("l_quantity"), 2), 6).as("qty_sq"),
          (col("l_linenumber") % 3).cast(LongType).as("line_mod3"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // extend the sort until tied rows are identical in every output col.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("price_ln"),
          col("qty_sqrt"), col("disc_exp"), col("tax_round"))
        .limit(1000)
    },
    Some("""SELECT l_orderkey, l_linenumber,
      ABS(l_discount - 0.05) AS abs_disc,
      CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
      CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
      ROUND(l_tax, 2) AS tax_round,
      ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
      ROUND(LN(l_extendedprice), 6) AS price_ln,
      ROUND(EXP(l_discount), 6) AS disc_exp,
      ROUND(POW(l_quantity, 2), 6) AS qty_sq,
      CAST(l_linenumber % 3 AS BIGINT) AS line_mod3
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, price_ln, qty_sqrt, disc_exp, tax_round
      LIMIT 1000"""),
    doc = "math functions: abs/ceil/floor/round/sqrt/ln/exp/pow/mod")

  /** q22 — CASE expression bucketing + agg. */
  val q22 = GraftQuery(
    "q22_case_buckets",
    (spark, sfDir) => {
      Tables.orders(spark, sfDir)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000.0, "S")
            .when(col("o_totalprice") < 200000.0, "M")
            .when(col("o_totalprice") < 400000.0, "L")
            .otherwise("XL"))
        .groupBy(col("bucket"))
        .agg(lcount().as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket"))
    },
    Some(s"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'S'
        WHEN o_totalprice < 200000.0 THEN 'M'
        WHEN o_totalprice < 400000.0 THEN 'L' ELSE 'XL' END AS bucket,
      COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total
      FROM orders GROUP BY 1 ORDER BY bucket"""),
    doc = "CASE WHEN bucketing + agg")

  /** q23 — JSON extraction from the events.props string column. */
  val q23 = GraftQuery(
    "q23_json_extract",
    (spark, sfDir) => {
      Tables.events(spark, sfDir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(lcount().as("n_events"), sum(col("k")).cast(LongType).as("sum_k"),
          davg(col("k").cast("double")).as("avg_k"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      ${sqlDavg("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    doc = "get_json_object over JSON string props")

  /** q57 — MapType column functions: `from_json` to a real `map<string,
    * bigint>` column, then map_keys / element_at / size / map_filter /
    * map_concat + map_values over it. All codegen'd built-ins; the DuckDB
    * twin works the same JSON through json_keys/json_extract_string. */
  val q57 = GraftQuery(
    "q57_map_fns",
    (spark, sfDir) => {
      import org.apache.spark.sql.types.{MapType, StringType}
      Tables.events(spark, sfDir)
        .select(col("event_id"),
          from_json(col("props"), MapType(StringType, LongType)).as("m"))
        .select(col("event_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
          element_at(col("m"), "k").as("k_val"),
          size(col("m")).cast(LongType).as("n_entries"),
          size(map_filter(col("m"), (_, v) => v > 50)).cast(LongType).as("n_big"),
          aggregate(map_values(map_concat(col("m"), map(lit("bias"), lit(7L)))),
            lit(0L), (acc, v) => acc + v).as("sum_vals"))
        .orderBy(col("event_id"))
        .limit(2000)
    },
    Some("""SELECT event_id,
      array_to_string(list_sort(json_keys(props)), ',') AS keys,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      CAST(len(json_keys(props)) AS BIGINT) AS n_entries,
      CAST(len(list_filter(json_keys(props),
        kk -> CAST(json_extract_string(props, '$."' || kk || '"') AS BIGINT) > 50))
        AS BIGINT) AS n_big,
      CAST(list_sum(list_transform(json_keys(props),
        kk -> CAST(json_extract_string(props, '$."' || kk || '"') AS BIGINT))) + 7
        AS BIGINT) AS sum_vals
      FROM events ORDER BY event_id LIMIT 2000"""),
    doc = "MapType functions: from_json map, keys/element_at/filter/concat/values")

  /** q24 — array functions over the 64-dim embedding column. In-order
    * left-fold sum on both engines → deterministic doubles. */
  val q24 = GraftQuery(
    "q24_array_fns",
    (spark, sfDir) => {
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          size(col("embedding")).cast(LongType).as("dim"),
          round(aggregate(transform(col("embedding"), x => x.cast("double")),
            lit(0.0), (acc, x) => acc + x), 4).as("vec_sum"),
          array_min(col("embedding")).cast("double").as("vec_min"),
          array_max(col("embedding")).cast("double").as("vec_max"),
          element_at(col("embedding"), 1).cast("double").as("first_elem"))
        .orderBy(col("vec_id"))
        .limit(500)
    },
    Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      ROUND(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) AS vec_sum,
      CAST(list_min(embedding) AS DOUBLE) AS vec_min,
      CAST(list_max(embedding) AS DOUBLE) AS vec_max,
      CAST(embedding[1] AS DOUBLE) AS first_elem
      FROM embeddings ORDER BY vec_id LIMIT 500"""),
    doc = "array size/fold/min/max/index over embeddings")

  /** q25 — tumbling 1-hour event windows (batch twin of the streaming agg).
    * Spark `window()`; DuckDB twin via epoch bucket arithmetic. */
  val q25 = GraftQuery(
    "q25_events_tumbling",
    (spark, sfDir) => {
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .select(ep(col("window.start")).as("win_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
      event_type, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""),
    doc = "tumbling window group-by (batch twin of streaming)")

  /** q26 — sliding windows (1h width, 30m slide): each event lands in two
    * windows. DuckDB twin: union of the two aligned bucketings. */
  val q26 = GraftQuery(
    "q26_events_sliding",
    (spark, sfDir) => {
      Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .select(ep(col("window.start")).as("win_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("win_start"))
    },
    Some(s"""SELECT win_start, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
      FROM (
        SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start, value FROM events
        UNION ALL
        SELECT CAST(FLOOR((epoch(ts) - 1800) / 3600) * 3600 + 1800 AS BIGINT) AS win_start, value FROM events
      ) t GROUP BY win_start ORDER BY win_start"""),
    doc = "sliding window (1h/30m): event fans out to 2 windows")

  /** q27 — session windows (30-minute gap) per user, batch mode.
    * Spark `session_window`; DuckDB twin via lag + cumulative session ids.
    * Scale: state is per-user and the shuffle key is user_id — even at
    * 100 TB the window never concentrates on one partition. */
  val q27 = GraftQuery(
    "q27_events_session",
    (spark, sfDir) => {
      Tables.events(spark, sfDir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          ep(col("session_window.start")).as("sess_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start"))
    },
    Some(s"""WITH marked AS (
        SELECT user_id, ts, value,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL 30 MINUTE
               OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sessions AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS sess_start,
        COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, sess_start"""),
    doc = "session_window(30m) per user; oracle via lag+cumsum sessionization")

  /** q59 — partitioned sink + partition-pruned source, end to end: write
    * lineitem partitioned by l_returnflag (the 100 TB layout move: partition
    * on the dominant filter key so reads touch only matching directories),
    * read it back with a partition filter, and aggregate the pruned scan.
    * The pruning itself is asserted in SourcesSpec/PlanShapeSpec
    * (PartitionFilters on the scan node); the oracle checks that the
    * round-trip through the partitioned layout loses nothing. */
  val q59 = GraftQuery(
    "q59_partition_prune",
    (spark, sfDir) => {
      // pid-suffixed dir + overwrite mode: repeated runs in one process
      // replace the copy instead of accumulating orphaned temp trees, and
      // two concurrent suite/bench processes on the same host cannot wipe
      // each other's scratch tree mid-read
      val dir = Artifacts.scratch("q59_part")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      spark.read.parquet(dir)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_returnflag"))
        .agg(lcount().as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n_rows,
      ${sqlDsum("l_quantity")} AS sum_qty,
      ${sqlDsum("l_extendedprice")} AS sum_price
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY 1 ORDER BY 1"""),
    doc = "partitioned parquet sink → partition-pruned scan → aggregate")

  /** q66 — skew-safe two-phase aggregation: event_type has only a handful
    * of distinct values (every key is hot at 100 TB), so the count runs
    * through Salting.saltedCount — partial agg on (key, salt-of-event_id)
    * spreads each hot key over 16 reducers, final agg folds the partials.
    * The oracle is a plain GROUP BY: salting must be result-invariant. */
  val q66 = GraftQuery(
    "q66_salted_agg",
    (spark, sfDir) =>
      Salting.saltedCount(Tables.events(spark, sfDir), "event_type",
          col("event_id"), buckets = 16)
        .orderBy(col("event_type")),
    Some("""SELECT event_type, COUNT(*) AS n FROM events
      GROUP BY 1 ORDER BY 1"""),
    doc = "salted two-phase count over hot keys == plain GROUP BY (skew posture)")

  /** q67 — skew-safe equi-join: events joined to a small per-user dim
    * through Salting.saltedJoin (large side salted by event_id, small side
    * replicated 8×) then rolled up. The oracle is the plain join + GROUP
    * BY: salting must preserve row multiplicity exactly. */
  val q67 = GraftQuery(
    "q67_salted_join",
    (spark, sfDir) => {
      val e = Tables.events(spark, sfDir)
        .select(col("user_id").as("c_custkey"), col("value"))
      val c = Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey"))
      Salting.saltedJoin(e, c, "c_custkey", col("value"), buckets = 8)
        .groupBy(col("c_nationkey"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("c_nationkey"))
    },
    Some(s"""SELECT c.c_nationkey, COUNT(*) AS n_events,
      ${sqlDsum("e.value")} AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1 ORDER BY 1"""),
    doc = "salted equi-join (8x dim replication) == plain join (multiplicity preserved)")

  /** q74 — snapshot publish/read round-trip with time travel: nation is
    * published twice (v1 filtered, v2 full) through the atomic-pointer
    * SnapshotStore; the current read must see all of v2, the pinned read
    * all of v1, values intact. Oracle recomputes both from the raw table. */
  val q74 = GraftQuery(
    "q74_snapshot_roundtrip",
    (spark, sfDir) => {
      // pid-suffixed root, wiped up front: repeated runs in one process
      // would otherwise accumulate version dirs forever (publish never
      // overwrites), and concurrent processes cannot race on one store
      val root = Artifacts.scratch("q74_snap") + "/tbl"
      val nat = Tables.nation(spark, sfDir)
      graft.engine.sources.SnapshotStore.publish(
        nat.filter(col("n_regionkey") === 0), root)
      graft.engine.sources.SnapshotStore.publish(nat, root)
      val cur = graft.engine.sources.SnapshotStore.read(spark, root)
      val v1 = graft.engine.sources.SnapshotStore.read(spark, root, version = 1L)
      cur.agg(lcount().as("n_current"),
          sum(col("n_nationkey")).cast(LongType).as("sum_key"))
        // both sides are 1-row global aggregates; hint the join so the plan
        // is a broadcast nested loop, never a CartesianProduct (PlanAudit)
        .crossJoin(broadcast(v1.agg(lcount().as("n_v1"))))
        .select(col("n_current"), col("n_v1"), col("sum_key"))
    },
    Some("""SELECT
        CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_current,
        CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0) AS BIGINT) AS n_v1,
        CAST((SELECT SUM(n_nationkey) FROM nation) AS BIGINT) AS sum_key"""),
    doc = "atomic-pointer snapshot store: publish x2, read current + pinned v1")

  /** q89 — snapshot version DIFF, the incremental-audit primitive over
    * q74's store: publish v1 (one region's nations) then v2 (another's,
    * plus one shared row so the intersection is non-trivial), and emit
    * `SnapshotStore.diff(v1 → v2)` — rows only in v2 tagged `added`, rows
    * only in v1 tagged `removed`, EXCEPT-ALL multiset semantics. DuckDB
    * recomputes both version sets from the predicates and replays the
    * same set algebra. */
  val q89 = GraftQuery(
    "q89_snapshot_diff",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q89_snap") + "/tbl"
      val nat = Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      graft.engine.sources.SnapshotStore.publish(
        nat.filter(col("n_regionkey") === 0 || col("n_nationkey") === 20), root)
      graft.engine.sources.SnapshotStore.publish(
        nat.filter(col("n_regionkey") === 1 || col("n_nationkey") === 20), root)
      graft.engine.sources.SnapshotStore.diff(spark, root, 1L, 2L)
        .orderBy(col("change"), col("n_nationkey"))
    },
    Some("""WITH v1 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey = 0 OR n_nationkey = 20),
      v2 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey = 1 OR n_nationkey = 20)
      SELECT n_nationkey, n_name, n_regionkey, 'added' AS change
      FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey, 'removed' AS change
      FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
      ORDER BY change, n_nationkey"""),
    doc = "snapshot store version diff: added/removed rows v1 -> v2, EXCEPT ALL twin")

  /** q95 — snapshot MERGE (upsert-by-key), the write side of the
    * incremental-refresh story: bootstrap a 16-bucket store from the
    * documents table, merge a batch of 6 updates + 6 inserts, and emit
    * the v1→v2 diff (q89's EXCEPT-ALL multiset twin) plus two contract
    * booleans computed honestly against the filesystem: `reuse_ok` —
    * every untouched bucket directory in v2 holds the SAME inodes as v1
    * (hardlink reuse, no data rewrite), and `has_untouched` — the
    * fixture really left buckets untouched (≤12 of 16 can be touched by
    * 12 keys). DuckDB recomputes the diff from the batch predicates and
    * pins both booleans TRUE. */
  val q95 = GraftQuery(
    "q95_snapshot_merge",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q95_snap") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") < 300), root, "doc_id", nBuckets = 16)
      val batch = docs.filter(col("doc_id") < 6)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000000L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") < 6)
          .select((col("doc_id") + 1000L).as("doc_id"), col("source"),
            col("n_chars")))
      SnapshotStore.merge(batch, root)
      val touched = batch
        .withColumn("_b", SnapshotStore.bucketExpr("doc_id", 16))
        .select("_b").distinct().collect().map(_.getInt(0)).toSet
      // untouched buckets must be carried over by link, not rewrite:
      // identical file names AND identical inodes across versions
      def listing(v: Long, k: Int): Map[String, Any] = {
        val d = java.nio.file.Paths.get(root, s"v$v", s"_bucket=$k")
        if (!java.nio.file.Files.exists(d)) Map.empty
        else {
          val s = java.nio.file.Files.list(d)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(f => f.getFileName.toString ->
              java.nio.file.Files.getAttribute(f, "unix:ino")).toMap
          } finally s.close()
        }
      }
      val untouchedWithData = (0 until 16).filterNot(touched)
        .filter(k => listing(1L, k).nonEmpty)
      val reuseOk = untouchedWithData.forall(k => listing(1L, k) == listing(2L, k))
      SnapshotStore.diff(spark, root, 1L, 2L).drop("_bucket")
        .withColumn("reuse_ok", lit(reuseOk))
        .withColumn("has_untouched", lit(untouchedWithData.nonEmpty))
        .orderBy(col("change"), col("doc_id"))
    },
    Some("""WITH v1 AS (SELECT doc_id, source, n_chars FROM documents
          WHERE doc_id < 300),
      b AS (SELECT doc_id, source, n_chars + 1000000 AS n_chars
          FROM documents WHERE doc_id < 6
        UNION ALL
        SELECT doc_id + 1000 AS doc_id, source, n_chars
          FROM documents WHERE doc_id < 6),
      v2 AS (SELECT * FROM b
        UNION ALL
        SELECT * FROM v1 WHERE doc_id NOT IN (SELECT doc_id FROM b))
      SELECT doc_id, source, n_chars, 'added' AS change,
        TRUE AS reuse_ok, TRUE AS has_untouched
      FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
      UNION ALL
      SELECT doc_id, source, n_chars, 'removed' AS change,
        TRUE AS reuse_ok, TRUE AS has_untouched
      FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
      ORDER BY change, doc_id"""),
    doc = "snapshot MERGE: upsert batch, untouched buckets hardlink-reused, EXCEPT ALL twin")

  /** q98 — sort-merge-bucket join ([[graft.engine.relational.Bucketed]]):
    * lineitem and orders published co-bucketed by order key, then joined
    * with ZERO exchange on either side — the pay-the-shuffle-once layout a
    * recurring 100 TB fact–fact join wants. `smb_shuffle_free` is computed
    * honestly from the executed join plan (count of ShuffleExchange nodes
    * == 0, AQE-expanded) and pinned TRUE by the oracle; the aggregate's
    * values must simultaneously match the plain-join DuckDB twin, so the
    * co-located plan is proven both shuffle-free AND correct. */
  val q98 = GraftQuery(
    "q98_smb_join",
    (spark, sfDir) => {
      val pid = ProcessHandle.current().pid()
      val lt = s"graft_q98_lineitem_$pid"
      val ot = s"graft_q98_orders_$pid"
      // the two sides are INDEPENDENT tables — publish them concurrently:
      // the one-off co-bucketing write costs max, not sum
      Par.overlap(spark) { s =>
        s.fork(Bucketed.publishTable(
          Tables.lineitem(spark, sfDir).select(col("l_orderkey").as("okey"),
            col("l_extendedprice"), col("l_discount")),
          lt, nBuckets = 16, keyCols = Seq("okey")))
        Bucketed.publishTable(
          Tables.orders(spark, sfDir).select(col("o_orderkey").as("okey"),
            col("o_orderpriority")),
          ot, nBuckets = 16, keyCols = Seq("okey"))
      }
      val joined = Bucketed.smbJoin(spark, lt, ot, Seq("okey"))
      val shuffleFree = Bucketed.shuffleCount(joined) == 0
      joined.groupBy(col("o_orderpriority"))
        .agg(lcount().as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .withColumn("smb_shuffle_free", lit(shuffleFree))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n_items,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        TRUE AS smb_shuffle_free
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    doc = "co-bucketed SMB join: zero-shuffle fact-fact join, plan-contract boolean")

  /** q99 — incremental aggregate maintenance
    * ([[graft.engine.sources.IncrementalAgg]]): per-source (count, exact
    * sum of n_chars) maintained across three disjoint refresh batches —
    * each refresh aggregates its batch alone, reads only the touched
    * store buckets, and merges; untouched buckets hardlink-carry. The
    * head version must equal a full-corpus GROUP BY (the DuckDB twin),
    * and `n_versions` pins that three versions (bootstrap + 2 merges)
    * really were minted — a silent full-rewrite path would still pass
    * the values, but IncrementalAggSpec's plan audit pins the pruning. */
  val q99 = GraftQuery(
    "q99_incremental_agg",
    (spark, sfDir) => {
      import graft.engine.sources.{IncrementalAgg, SnapshotStore}
      val root = Artifacts.scratch("q99_agg") + "/tbl"
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (r <- 0 until 3)
        IncrementalAgg.refresh(
          docs.filter(col("doc_id") % 3 === r).select("source", "n_chars"),
          root, keyCol = "source", valueCol = "n_chars", nBuckets = 8)
      IncrementalAgg.read(spark, root)
        .select(col("source"), col("n").as("n_docs"),
          col("s").cast("double").as("sum_chars"))
        .withColumn("n_versions", lit(SnapshotStore.currentVersion(root)))
        .orderBy(col("source"))
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE) AS sum_chars,
        CAST(3 AS BIGINT) AS n_versions
      FROM documents GROUP BY source ORDER BY source"""),
    doc = "incremental aggregate maintenance: delta-cost refresh == full recompute")

  /** q104 — bucketed-store LIFECYCLE: append-driven fragmentation →
    * [[graft.engine.sources.SnapshotStore.compact]] → small merge →
    * [[graft.engine.sources.SnapshotStore.vacuum]]. Every per-tick
    * APPEND lands one fresh file per touched bucket next to the
    * hardlinked carryover (x62/x70's steady state), so file counts grow
    * without bound — the classic small-files decay. (r18: MERGE no
    * longer fragments at all — every store write repartitions on
    * _bucket to one file per touched bucket, so the rewrite path is
    * self-compacting and appends are the one remaining decay source.)
    * The query bootstraps a store, appends two disjoint corpus thirds
    * (three files per bucket by construction),
    * compacts to ≤1 data file per bucket, applies one more small upsert
    * (whose untouched buckets HARDLINK into the compacted version), then
    * vacuums every non-current version — including the compact base the
    * links point into. Contract booleans, all honest filesystem
    * observables: `fragmented_before` (some bucket >1 file pre-compact),
    * `compacted_ok` (every bucket ≤1 file post-compact),
    * `old_versions_gone` (vacuum really deleted v1..v4). The final read
    * happens AFTER the vacuum, so the oracle hash-match simultaneously
    * proves hardlinked carryovers survive deletion of their source dirs
    * (inode refcount — the POSIX analogue of immutable-file manifest
    * reuse). */
  val q104 = GraftQuery(
    "q104_compact_vacuum",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q104_store") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") % 3 === 0), root, "doc_id", nBuckets = 8)
      // disjoint thirds: insert-only appends (each lands a fresh file
      // per bucket beside the carryover links -> genuine fragmentation)
      SnapshotStore.append(docs.filter(col("doc_id") % 3 === 1), root)
      SnapshotStore.append(docs.filter(col("doc_id") % 3 === 2), root)
      def bucketFiles(v: Long): Seq[Int] = (0 until 8).map { k =>
        val d = java.nio.file.Paths.get(root, s"v$v", s"_bucket=$k")
        if (!java.nio.file.Files.exists(d)) 0
        else {
          val s = java.nio.file.Files.list(d)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.count { f =>
              val n = f.getFileName.toString
              n.endsWith(".parquet") && !n.startsWith(".")
            }
          } finally s.close()
        }
      }
      val fragmentedBefore = bucketFiles(3L).exists(_ > 1)
      val vCompact = SnapshotStore.compact(spark, root) // v4
      val compactedOk = bucketFiles(vCompact).forall(_ <= 1)
      SnapshotStore.merge(docs.filter(col("doc_id") < 6)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000000L).as("n_chars")), root) // v5
      val dropped = SnapshotStore.vacuum(root, keep = 0)
      val oldGone = dropped.nonEmpty && (1L to 4L).forall(v =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(root, s"v$v")))
      SnapshotStore.read(spark, root).groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("fragmented_before", lit(fragmentedBefore))
        .withColumn("compacted_ok", lit(compactedOk))
        .withColumn("old_versions_gone", lit(oldGone))
        .orderBy(col("source"))
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN doc_id < 6 THEN n_chars + 1000000
                      ELSE n_chars END) AS BIGINT) AS sum_chars,
        TRUE AS fragmented_before, TRUE AS compacted_ok,
        TRUE AS old_versions_gone
      FROM documents GROUP BY source ORDER BY source"""),
    doc = "store lifecycle: append fragmentation -> compact -> vacuum, " +
      "hardlinks survive")

  /** q103 — Z-order clustered layout + file-level min/max skipping
    * ([[graft.engine.sources.ClusteredStore]]): events is published as a
    * store version clustered on the Morton interleave of (epoch-micros,
    * value-band), with one envelope line per file in its sidecar; a
    * middle-decile box query on BOTH columns then reads only the files
    * whose min/max envelopes touch the box. The box bounds derive from
    * each column's global min/max (read off the sidecar by `tableStats`)
    * with exact integer arithmetic (`mn + (mx-mn)*45//100`), so the
    * DuckDB twin computes the identical box straight off the raw table.
    * `pruned` is the honest skipping observable — selected files ≤ half
    * the version's files (measured 3/32 at sf0.01 and at sf0.1; the
    * conservative bound keeps the oracle stable under range-partitioner
    * sampling jitter) — and correctness never depends on the sidecar:
    * the box filter re-applies to the surviving files. */
  val q103 = GraftQuery(
    "q103_zorder_skipping",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q103_zorder") + "/tbl"
      import graft.engine.sources.ClusteredStore
      val ev = Tables.events(spark, sfDir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us"),
          expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("v_k"))
      val cols = Seq("ts_us", "v_k")
      ClusteredStore.publishClustered(ev, root, cols, nFiles = 32)
      // each column's global min/max, from the sidecar alone (no job)
      val (_, mm, _, _) = ClusteredStore.tableStats(spark, root)
      val box = cols.map { c =>
        val (mn, mx) = mm(c)
        (c, mn + (mx - mn) * 45L / 100L, mn + (mx - mn) * 55L / 100L)
      }
      val (boxDf, filesRead, filesTotal) =
        ClusteredStore.readBox(spark, root, box)
      boxDf.groupBy(col("event_type"))
        .agg(lcount().as("n_box"), dsum(col("value")).as("sum_value"))
        .withColumn("pruned", lit(filesRead * 2 <= filesTotal))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (
        SELECT event_type, value, epoch_us(ts) AS ts_us,
          CAST(FLOOR(value * 1000) AS BIGINT) AS v_k
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      b AS (
        SELECT MIN(ts_us) AS tmn, MAX(ts_us) AS tmx,
          MIN(v_k) AS vmn, MAX(v_k) AS vmx FROM e)
      SELECT event_type, COUNT(*) AS n_box,
        ${sqlDsum("value")} AS sum_value, TRUE AS pruned
      FROM e, b
      WHERE ts_us BETWEEN tmn + (tmx - tmn) * 45 // 100
                      AND tmn + (tmx - tmn) * 55 // 100
        AND v_k BETWEEN vmn + (vmx - vmn) * 45 // 100
                    AND vmn + (vmx - vmn) * 55 // 100
      GROUP BY event_type ORDER BY event_type"""),
    doc = "z-order clustered store + sidecar min/max skipping: 2-D box reads few files")

  /** q108 — N-dimensional z-order (q103's 3-D successor): events is
    * clustered on the 3-way Morton interleave of (epoch-micros,
    * value-band, user_id) as a [[graft.engine.sources.ClusteredStore]]
    * version and a 35–45%-decile box on ALL THREE columns is read through
    * its sidecar envelopes. The box sits INSIDE the curve's first
    * octant (0.45·span < 2^(spanBits−1), so the top scaled bit is 0 on
    * every axis — a box straddling the midpoint on all axes is Morton's
    * worst case and prunes little at this file granularity; real
    * dashboards pick their boxes by time/tenant, not by the curve's
    * midpoint, so the interior case is the representative one). Bounds
    * derive from each column's global min/max with exact integer
    * arithmetic, so the DuckDB twin computes the identical box straight
    * off the raw table; `pruned` pins that a ~10%-per-axis 3-D box
    * (~0.1% of the volume) touches at most half the files (measured 3/32
    * at sf0.01, 4/32 at sf0.1). Correctness never depends on the
    * sidecar: readBox re-applies the box filter and reads files without
    * an envelope unpruned. */
  val q108 = GraftQuery(
    "q108_zorder_3d",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q108_zorder3") + "/tbl"
      import graft.engine.sources.ClusteredStore
      val ev = Tables.events(spark, sfDir)
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("user_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          expr("CAST(FLOOR(value * 1000) AS BIGINT)").as("v_k"))
      val cols = Seq("ts_us", "v_k", "user_id")
      ClusteredStore.publishClustered(ev, root, cols, nFiles = 32)
      // each column's global min/max, from the sidecar alone (no job)
      val (_, mm, _, _) = ClusteredStore.tableStats(spark, root)
      val box = cols.map { c =>
        val (mn, mx) = mm(c)
        (c, mn + (mx - mn) * 35L / 100L, mn + (mx - mn) * 45L / 100L)
      }
      val (boxDf, filesRead, filesTotal) =
        ClusteredStore.readBox(spark, root, box)
      boxDf.groupBy(col("event_type"))
        .agg(lcount().as("n_box"), dsum(col("value")).as("sum_value"))
        .withColumn("pruned", lit(filesRead * 2 <= filesTotal))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (
        SELECT event_type, value, user_id, epoch_us(ts) AS ts_us,
          CAST(FLOOR(value * 1000) AS BIGINT) AS v_k
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
      b AS (
        SELECT MIN(ts_us) AS tmn, MAX(ts_us) AS tmx,
          MIN(v_k) AS vmn, MAX(v_k) AS vmx,
          MIN(user_id) AS umn, MAX(user_id) AS umx FROM e)
      SELECT event_type, COUNT(*) AS n_box,
        ${sqlDsum("value")} AS sum_value, TRUE AS pruned
      FROM e, b
      WHERE ts_us BETWEEN tmn + (tmx - tmn) * 35 // 100
                      AND tmn + (tmx - tmn) * 45 // 100
        AND v_k BETWEEN vmn + (vmx - vmn) * 35 // 100
                    AND vmn + (vmx - vmn) * 45 // 100
        AND user_id BETWEEN umn + (umx - umn) * 35 // 100
                        AND umn + (umx - umn) * 45 // 100
      GROUP BY event_type ORDER BY event_type"""),
    doc = "3-D z-order clustered store + sidecar skipping: 35-45%-decile box " +
      "on (time, value, user) reads few files")

  /** q86 — JSONL sink → source round-trip (the LLM-corpus exchange format,
    * S-surface sibling of q74's parquet snapshot): documents are written as
    * newline-delimited JSON and read back under the DECLARED schema in
    * PERMISSIVE/quarantine mode; every surviving row's identity columns and
    * text md5 must match the parquet original, which DuckDB reads directly.
    * A lossy writer, a schema drift, or a line-splitting bug (a raw newline
    * escaping the JSON encoder would shear rows) all break the row hash. */
  val q86 = GraftQuery(
    "q86_jsonl_roundtrip",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      // fixed pid-suffixed dir, overwritten each run (same discipline as
      // q74): repeated Verify/Bench invocations must not accumulate a
      // fresh JSONL copy of the corpus in /tmp per run
      val dir = Artifacts.scratch("q86_jsonl")
      val (clean, bad) = graft.engine.sources.Jsonl.readJsonlClean(
        spark, {
          graft.engine.sources.Jsonl.writeJsonl(docs, s"$dir/docs")
          s"$dir/docs"
        }, docs.schema)
      clean.select(col("doc_id"), col("lang"), col("source"),
          md5(col("text").cast("binary")).as("text_md5"), col("n_chars"))
        // quarantined lines fail the row-count compare (docs wrote clean
        // JSON, so any corrupt row means the round-trip sheared a line)
        .unionByName(bad.select(lit(-1L).as("doc_id"),
          lit("corrupt").as("lang"), lit("corrupt").as("source"),
          md5(col("raw").cast("binary")).as("text_md5"),
          lit(-1L).as("n_chars")))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, md5(text) AS text_md5, n_chars
      FROM documents ORDER BY doc_id"""),
    doc = "JSONL write -> declared-schema PERMISSIVE read == parquet original, " +
      "value-level (corrupt lines surface as planted mismatch rows)")

  /** q136 — SCHEMA EVOLUTION across store versions (VERDICT r16 item 3):
    * the first time a crawler adds a field, a 100 TB ingest pipeline
    * must widen the table WITHOUT rewriting the corpus. v1 publishes the
    * even-doc half with the original 3 columns; v2 appends the odd half
    * carrying a NEW `quality` column (`append(allowNewColumns = true)` —
    * O(batch), zero existing files touched). A plain read serves v2's
    * recorded union schema and surfaces `quality` as NULL for v1
    * rows; the DuckDB twin is the prescribed UNION-with-NULL-fill.
    * Time-travel schema arithmetic is pinned at value level: v1 read
    * back still has 3 columns — a pinned pre-evolution
    * version keeps its own schema — while the current version has 4.
    * `n_with_quality` (COUNT over the nullable column) pins that
    * exactly the post-evolution rows carry values. */
  val q136 = GraftQuery(
    "q136_schema_evolution",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q136_evo") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // v1: the pre-evolution corpus — `quality` does not exist yet
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") % 2 === 0), root, "doc_id", nBuckets = 8)
      // v2: the crawler added a field — appended, nothing rewritten
      SnapshotStore.append(
        docs.filter(col("doc_id") % 2 === 1)
          .withColumn("quality", (col("doc_id") % 7).cast("double")),
        root, allowNewColumns = true)
      val v1Cols = SnapshotStore.read(spark, root, 1L)
        .columns.count(_ != "_bucket")
      val cur = SnapshotStore.read(spark, root)
      val v2Cols = cur.columns.count(_ != "_bucket")
      cur.groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          dsum(coalesce(col("quality"), lit(0.0))).as("sum_quality"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("v1_n_cols", lit(v1Cols.toLong))
        .withColumn("v2_n_cols", lit(v2Cols.toLong))
        .orderBy(col("source"))
    },
    Some(s"""SELECT source, COUNT(*) AS n_docs,
        COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_quality,
        ${sqlDsum("CASE WHEN doc_id % 2 = 1 " +
          "THEN CAST(doc_id % 7 AS DOUBLE) ELSE 0.0 END")} AS sum_quality,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(3 AS BIGINT) AS v1_n_cols, CAST(4 AS BIGINT) AS v2_n_cols
      FROM documents GROUP BY source ORDER BY source"""),
    doc = "store schema evolution: append a new column without rewriting " +
      "(O(batch)); merged read NULL-fills old files, time travel keeps " +
      "each version's own schema")

  /** q137 — CDC UPSERT: re-crawled documents supersede their old rows
    * (VERDICT r16 item 4 — x66 covers add/delete; this is the missing
    * replace leg). Crawl 1 publishes the corpus; crawl 2 re-delivers
    * ~10% of doc_ids with CHANGED content plus brand-new discoveries,
    * merged by key: probes/reads must see EXACTLY ONE row per doc_id,
    * with the newest crawl winning. The DuckDB twin ranks by
    * (key, crawl version) with ROW_NUMBER() = 1 — the canonical CDC
    * compaction. Pinned alongside the values: `one_row_per_key`
    * (computed from the store, not assumed), `replay_noop` (the same
    * tagged epoch merged twice returns the SAME version — the
    * at-least-once contract), `n_versions` (exactly bootstrap + one
    * upsert minted). Scale posture: merge rewrites only the buckets the
    * batch touches and hardlinks the rest — cost ∝ re-crawled data,
    * never corpus size (q95 pins the inode-level reuse). */
  val q137 = GraftQuery(
    "q137_cdc_upsert",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q137_cdc") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, root, "doc_id", nBuckets = 16)
      // crawl 2: changed content for re-crawled keys + new discoveries
      val recrawl = docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 2 + 17).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 100 === 42)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
            col("n_chars")))
      val v2 = SnapshotStore.merge(recrawl, root, tag = Some("crawl-2"))
      // the at-least-once replay: same epoch tag -> same version back,
      // nothing re-applied, nothing minted
      val vReplay = SnapshotStore.merge(recrawl, root, tag = Some("crawl-2"))
      val replayNoop = vReplay == v2 &&
        SnapshotStore.currentVersion(root) == v2
      val cur = SnapshotStore.read(spark, root)
      val oneRowPerKey = cur.groupBy(col("doc_id")).count()
        .filter(col("count") > 1).isEmpty
      cur.groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("one_row_per_key", lit(oneRowPerKey))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("n_versions", lit(SnapshotStore.currentVersion(root)))
        .orderBy(col("source"))
    },
    Some("""WITH c1 AS (SELECT doc_id, source, n_chars, 1 AS crawl_v
          FROM documents),
      c2 AS (SELECT doc_id, source, n_chars * 2 + 17 AS n_chars,
            2 AS crawl_v
          FROM documents WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id + 5000000 AS doc_id, source, n_chars, 2 AS crawl_v
          FROM documents WHERE doc_id % 100 = 42),
      latest AS (
        SELECT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY crawl_v DESC) = 1)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS one_row_per_key, TRUE AS replay_noop,
        CAST(2 AS BIGINT) AS n_versions
      FROM latest GROUP BY source ORDER BY source"""),
    doc = "CDC upsert: re-crawled docs supersede by key (one row per key, " +
      "newest crawl wins), tagged replay is a no-op, touched-bucket-only " +
      "rewrite; oracle = ROW_NUMBER() OVER (key, version DESC) = 1")

  /** q139 — BAD-PUBLISH ROLLBACK + REPUBLISH, the storage runbook leg
    * the registry didn't pin (rollback was spec-only): an upstream bug
    * publishes corrupted rows (negative n_chars) as v2; the operator
    * rolls CURRENT back to v1 — a pointer flip, no data movement — while
    * v2 STAYS ON DISK for the postmortem; the fixed batch then merges
    * against the rolled-back base and lands as v3 (version numbers never
    * reuse: the bad v2 and the fix coexist, which is what makes the
    * forensic diff q89-able). Pinned at value level: the final per-source
    * aggregate (fix applied, corruption gone) against the DuckDB twin,
    * plus four honest observables — `bad_was_live` (v2 really served
    * negatives while current), `rollback_clean` (post-rollback reads ==
    * pre-bug content), `forensic_v2_readable` (time travel still reads
    * the bad version after the fix), `n_versions` == 3. Scale posture:
    * rollback is O(1) metadata regardless of table size — the whole
    * argument for pointer-versioned publishes over in-place writes. */
  val q139 = GraftQuery(
    "q139_rollback_republish",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q139_rb") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, root, "doc_id", nBuckets = 8) // v1
      // the bad publish: an upstream bug corrupts doc_id < 100
      SnapshotStore.merge(docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"),
          (-col("n_chars")).as("n_chars")), root) // v2, corrupted
      val badWasLive = SnapshotStore.currentVersion(root) == 2L &&
        SnapshotStore.read(spark, root)
          .filter(col("n_chars") < 0).count() > 0
      SnapshotStore.rollback(root, 1L) // pointer flip; v2 kept on disk
      val rollbackClean = SnapshotStore.read(spark, root)
        .filter(col("n_chars") < 0).isEmpty
      // the fix merges against the ROLLED-BACK base and mints v3
      SnapshotStore.merge(docs.filter(col("doc_id") < 100)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000L).as("n_chars")), root) // v3
      val forensicReadable = SnapshotStore.read(spark, root, 2L)
        .filter(col("n_chars") < 0).count() > 0
      SnapshotStore.read(spark, root).groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("bad_was_live", lit(badWasLive))
        .withColumn("rollback_clean", lit(rollbackClean))
        .withColumn("forensic_v2_readable", lit(forensicReadable))
        .withColumn("n_versions",
          lit(SnapshotStore.currentVersion(root)))
        .orderBy(col("source"))
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN doc_id < 100 THEN n_chars + 1000
                      ELSE n_chars END) AS BIGINT) AS sum_chars,
        TRUE AS bad_was_live, TRUE AS rollback_clean,
        TRUE AS forensic_v2_readable, CAST(3 AS BIGINT) AS n_versions
      FROM documents GROUP BY source ORDER BY source"""),
    doc = "bad-publish runbook: corrupted v2 -> O(1) pointer rollback " +
      "(v2 kept for forensics) -> fixed merge against the rolled-back " +
      "base as v3; final values + liveness/cleanliness/forensic booleans " +
      "all pinned")

  /** q140 — TAKEDOWN PROPAGATION (right-to-be-forgotten): a deletion
    * request must come OUT of every derived dataset, not just the
    * corpus. Six doc_ids are deleted-by-key from the corpus store AND
    * from the derived md5-sharded export store (both doc_id-bucketed;
    * [[graft.engine.sources.SnapshotStore.deleteKeys]] rewrites only
    * the ≤6 buckets the keys hash into, hardlinking the other ~26 —
    * `untouched_reused` pins the inode-level reuse, `has_untouched`
    * that the fixture really left buckets untouched). The tagged replay
    * returns the same version (`replay_noop` — an at-least-once
    * takedown worker can't double-mint). The honest lifecycle is
    * pinned end to end: `pre_vacuum_forensic` — BEFORE vacuum, time
    * travel still reads the deleted rows in v1 (deletion is not yet
    * complete, the compliance caveat deleteKeys documents) —, then
    * `vacuum(keep = 0)` on both stores, and `takedown_complete` — the
    * v1 dirs are GONE, so no version serves the deleted keys anywhere.
    * DuckDB twin: the export recomputed over `documents` minus the
    * takedown set. */
  val q140 = GraftQuery(
    "q140_takedown_propagation",
    (spark, sfDir) => {
      val base = Artifacts.scratch("q140_rtbf")
      import graft.engine.sources.SnapshotStore
      import graft.engine.llm.Curation
      val corpusRoot = s"$base/corpus"
      val exportRoot = s"$base/export"
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // 32 buckets: enough spread that the 6-key takedown leaves >=26
      // buckets untouched (the reuse pin stays non-vacuous) without
      // paying 64 dirs x 2 stores of tiny-file machinery at harness SF
      // corpus and export are INDEPENDENT stores, both pure functions of
      // `docs` — bootstrap them concurrently (x71's pattern)
      Par.overlap(spark) { s =>
        s.fork(SnapshotStore.publishBucketed(docs, corpusRoot, "doc_id", 32))
        SnapshotStore.publishBucketed(
          Curation.shuffleShards(docs, "doc_id", nShards = 8)
            .drop("shuffle_key"),
          exportRoot, "doc_id", 32)
      }
      // the takedown set: 6 fixed keys present at every SF
      val takedown = docs
        .filter(col("doc_id") % 17 === 3 && col("doc_id") < 100)
        .select(col("doc_id"))
      // the two deletes hit independent stores with the same key frame —
      // overlap them too (x71's per-tick discipline, here one request)
      val v2c = Par.overlap(spark) { s =>
        s.fork(SnapshotStore.deleteKeys(takedown, exportRoot,
          tag = Some("takedown-1")))
        SnapshotStore.deleteKeys(takedown, corpusRoot,
          tag = Some("takedown-1"))
      }
      val replayNoop = SnapshotStore.deleteKeys(takedown, corpusRoot,
        tag = Some("takedown-1")) == v2c &&
        SnapshotStore.currentVersion(corpusRoot) == v2c
      // touched-bucket census for the inode reuse pin
      val touched = takedown
        .withColumn("_b", SnapshotStore.bucketExpr("doc_id", 32))
        .select("_b").distinct().collect().map(_.getInt(0)).toSet
      def bucketOf(rel: String): Int =
        rel.split('/').head.stripPrefix("_bucket=").toInt
      val v1Inodes = SnapshotStore.versionFileInodes(corpusRoot, 1L)
        .filterNot { case (rel, _) => touched(bucketOf(rel)) }
      val v2Inodes = SnapshotStore.versionFileInodes(corpusRoot, 2L)
      val untouchedReused = v1Inodes.forall { case (rel, ino) =>
        v2Inodes.get(rel).contains(ino) }
      val hasUntouched = v1Inodes.nonEmpty
      def hasKeys(df: DataFrame): Boolean =
        !df.join(takedown, Seq("doc_id"), "left_semi").isEmpty
      // three independent read-probes over pinned versions: the audit
      // tail costs max(probe), not the sum
      val (corpusClean, exportClean, forensic) = Par.overlap(spark) { s =>
        val corpusF = s.fork(!hasKeys(SnapshotStore.read(spark, corpusRoot)))
        val exportF = s.fork(!hasKeys(SnapshotStore.read(spark, exportRoot)))
        // deletion completes at vacuum: v1 still serves the rows until…
        val v1 = hasKeys(SnapshotStore.read(spark, corpusRoot, 1L))
        (corpusF.join(), exportF.join(), v1)
      }
      SnapshotStore.vacuum(corpusRoot, keep = 0)
      SnapshotStore.vacuum(exportRoot, keep = 0)
      val complete = !java.nio.file.Files.exists(
          java.nio.file.Paths.get(corpusRoot, "v1")) &&
        !java.nio.file.Files.exists(
          java.nio.file.Paths.get(exportRoot, "v1"))
      SnapshotStore.read(spark, exportRoot).groupBy(col("shard_id"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("shard_chars"))
        .withColumn("corpus_clean", lit(corpusClean))
        .withColumn("export_clean", lit(exportClean))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("untouched_reused", lit(untouchedReused))
        .withColumn("has_untouched", lit(hasUntouched))
        .withColumn("pre_vacuum_forensic", lit(forensic))
        .withColumn("takedown_complete", lit(complete))
        .orderBy(col("shard_id"))
    },
    Some("""WITH kept AS (SELECT doc_id, n_chars FROM documents
          WHERE NOT (doc_id % 17 = 3 AND doc_id < 100)),
      sharded AS (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM kept)
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        TRUE AS corpus_clean, TRUE AS export_clean, TRUE AS replay_noop,
        TRUE AS untouched_reused, TRUE AS has_untouched,
        TRUE AS pre_vacuum_forensic, TRUE AS takedown_complete
      FROM sharded GROUP BY shard_id ORDER BY shard_id"""),
    doc = "right-to-be-forgotten: delete-by-key from the corpus AND the " +
      "derived export (touched-bucket-only rewrite, inode-pinned reuse, " +
      "tagged replay no-op), time travel serves v1 until vacuum, then " +
      "the deletion is complete everywhere; oracle = export recomputed " +
      "minus the takedown set")

  /** q141 — INCREMENTAL EXPORT RESYNC ACROSS A REWRITE (VERDICT r16
    * item 2, the last documented caveat in the resumable-export story):
    * q138's `readSince` leg is sound only over append lineage — a CDC
    * upsert (q137) or takedown (q140) in the interval REWRITES files,
    * readSince refuses loudly, and until now no registered query pinned
    * what the consumer does NEXT. This is that path: the export consumer
    * wakes at cursor c, finds rewrite-kind versions above it, and
    * resyncs via [[graft.engine.sources.SnapshotStore.diff]] — the
    * ROW-level delta between its cursor version and current —
    * `removed` rows [[graft.engine.sources.SnapshotStore.deleteKeys]]
    * out of the derived export (a changed doc deletes its OLD row;
    * delete runs FIRST so the new content survives), `added` rows shard
    * by the same md5 draw and append. Tagged, so an at-least-once
    * resync worker can't double-apply. Pinned: `readsince_refused` (the
    * lineage guard really fired), `one_row_per_key`,
    * `export_matches_full` (exceptAll both ways against a from-scratch
    * recompute of the final corpus — the eventual-consistency contract),
    * `replay_noop`, `n_export_versions` == 4 (full, append-sync, resync
    * delete, resync append — never a rebuild). Scale posture: the diff
    * is one hash shuffle of two corpus snapshots (the resync is RARE —
    * the routine path is q138's O(delta) readSince); applying it costs
    * O(touched buckets) + O(added rows), never an export rebuild. */
  val q141 = GraftQuery(
    "q141_export_resync_rewrite",
    (spark, sfDir) => {
      val base = Artifacts.scratch("q141_resync")
      import graft.engine.sources.SnapshotStore
      import graft.engine.llm.Curation
      val corpusRoot = s"$base/corpus"
      val exportRoot = s"$base/export"
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
      def sharded(d: DataFrame): DataFrame =
        Curation.shuffleShards(d, "doc_id", nShards = 8)
          .drop("shuffle_key")
      // crawl 1 (4/5 of the corpus) -> corpus v1; full export v1; cursor.
      // 8 buckets (not q140's 32): this query pins no bucket-census
      // observable, and SEVEN store versions × bucket-dir count of tiny
      // files is the fixture's whole cost at harness SF — 32 buckets
      // read 11 s in the r17 quiet rep, 8 read ~6 s, identical plans
      SnapshotStore.publishBucketed(
        docs.filter(col("doc_id") % 5 =!= 0), corpusRoot, "doc_id", 8)
      SnapshotStore.publishBucketed(
        sharded(SnapshotStore.read(spark, corpusRoot).drop("_bucket")),
        exportRoot, "doc_id", 8)
      SnapshotStore.setConsumedThrough(corpusRoot, "export", 1L)
      // crawl 2 (append-only): the ROUTINE q138 sync still works…
      SnapshotStore.append(
        docs.filter(col("doc_id") % 5 === 0), corpusRoot) // corpus v2
      SnapshotStore.readSince(spark, corpusRoot, 1L).foreach { delta =>
        SnapshotStore.append(
          sharded(delta.drop("_bucket")).localCheckpoint(),
          exportRoot, tag = Some("sync-v2")) // export v2
      }
      SnapshotStore.setConsumedThrough(corpusRoot, "export", 2L)
      // …then a CDC re-crawl (changed content + discoveries, q137 shape)
      // and a takedown REWRITE the corpus past the consumer's cursor
      SnapshotStore.merge(docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), (col("n_chars") * 2 + 17).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 100 === 42)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            col("n_chars"))),
        corpusRoot) // corpus v3 (rewrite kind)
      SnapshotStore.deleteKeys(
        docs.filter(col("doc_id") % 17 === 3 && col("doc_id") < 100)
          .select(col("doc_id")), corpusRoot) // corpus v4 (rewrite kind)
      // the lineage guard refuses the unsound file-diff…
      // (cursor via recoverTaggedFolds, keyed on the LAST resync leg:
      // a crashed worker that landed both tagged steps but not the
      // cursor advance must not re-fold a widened diff under fresh
      // tags; crash BETWEEN the legs is safe without recovery — the
      // delete is content-idempotent and the add never landed)
      val cursor = SnapshotStore.recoverTaggedFolds(
        corpusRoot, "export", exportRoot, "resync-add")
      val corpusV = SnapshotStore.currentVersion(corpusRoot)
      val refused =
        try { SnapshotStore.readSince(spark, corpusRoot, cursor); false }
        catch { case _: IllegalStateException => true }
      // …so the consumer resyncs on the ROW-level diff instead
      val delta = SnapshotStore.diff(spark, corpusRoot, cursor, corpusV)
        .localCheckpoint()
      // no further checkpoints (r22): both splits are cheap filters over
      // the checkpointed delta, and each is computed exactly once — the
      // replay legs below early-return on their tag before any action
      val removedKeys = delta.filter(col("change") === "removed")
        .select(col("doc_id")).distinct()
      val added = delta.filter(col("change") === "added")
        .drop("change", "_bucket")
      // delete FIRST: a changed doc is removed+added under the same key,
      // and the delete must not eat the freshly-appended new content
      val vDel = SnapshotStore.deleteKeys(removedKeys, exportRoot,
        tag = Some(SnapshotStore.foldTag("resync-del", "export", corpusV))) // export v3
      SnapshotStore.append(sharded(added), exportRoot,
        tag = Some(SnapshotStore.foldTag("resync-add", "export", corpusV))) // export v4
      SnapshotStore.setConsumedThrough(corpusRoot, "export", corpusV)
      // at-least-once worker: both tagged steps replay as no-ops
      val replayNoop =
        SnapshotStore.deleteKeys(removedKeys, exportRoot,
          tag = Some(SnapshotStore.foldTag("resync-del", "export", corpusV))) == vDel &&
        SnapshotStore.append(sharded(added), exportRoot,
          tag = Some(SnapshotStore.foldTag("resync-add", "export", corpusV))) ==
          SnapshotStore.currentVersion(exportRoot)
      val cur = SnapshotStore.read(spark, exportRoot)
        .drop("_bucket").localCheckpoint()
      val full = sharded(
        SnapshotStore.read(spark, corpusRoot).drop("_bucket"))
      // the two invariant checks are independent reads of the pinned
      // export, so the audit path costs max(check), not the sum
      val (matchesFull, oneRowPerKey) = Par.overlap(spark) { s =>
        // one-pass multiset equality (r22, §2.4)
        val matchesFullF = s.fork(
          graft.engine.relational.Exact.sameMultiset(cur, full))
        val oneRowPerKey = cur.groupBy(col("doc_id")).count()
          .filter(col("count") > 1).isEmpty
        (matchesFullF.join(), oneRowPerKey)
      }
      cur.groupBy(col("shard_id"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("shard_chars"))
        .withColumn("readsince_refused", lit(refused))
        .withColumn("one_row_per_key", lit(oneRowPerKey))
        .withColumn("export_matches_full", lit(matchesFull))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("n_export_versions",
          lit(SnapshotStore.currentVersion(exportRoot)))
        .orderBy(col("shard_id"))
    },
    Some("""WITH c1 AS (SELECT doc_id, n_chars, 1 AS v FROM documents),
      c2 AS (SELECT doc_id, n_chars * 2 + 17 AS n_chars, 2 AS v
          FROM documents WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id + 5000000 AS doc_id, n_chars, 2 AS v
          FROM documents WHERE doc_id % 100 = 42),
      latest AS (
        SELECT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY v DESC) = 1),
      kept AS (SELECT doc_id, n_chars FROM latest
        WHERE NOT (doc_id % 17 = 3 AND doc_id < 100)),
      sharded AS (SELECT doc_id, n_chars,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) % 8 AS shard_id
        FROM kept)
      SELECT shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
        TRUE AS readsince_refused, TRUE AS one_row_per_key,
        TRUE AS export_matches_full, TRUE AS replay_noop,
        CAST(4 AS BIGINT) AS n_export_versions
      FROM sharded GROUP BY shard_id ORDER BY shard_id"""),
    doc = "incremental export resync across a CDC rewrite: readSince " +
      "refuses the rewrite-kind interval (pinned), the consumer falls " +
      "back to the row-level diff — removed keys deleteKey out of the " +
      "derived export, added rows shard-append — tagged replay no-ops, " +
      "final export == full recompute; oracle = ROW_NUMBER-latest minus " +
      "takedowns, md5-sharded",
    costClass = GraftQuery.FixedLifecycle)

  /** q142 — TYPE-WIDENING EVOLUTION (VERDICT r16 item 4): q136 covers
    * the additive drift (new columns); this is the second-most-common
    * one — a counter outgrows its type (int → long). The honest
    * mechanic is widen-on-write ([[graft.engine.sources.SnapshotStore
    * .append]] `allowWidening`): the new files carry the wider type, NO
    * existing file rewrites, the version sidecar records the widened
    * union, and reads up-cast the old int32 files at scan (a
    * parquet footer-merge would throw CANNOT_MERGE_SCHEMAS on the
    * straddle). Value-level teeth: the appended rows carry counts above
    * Int.MaxValue, so the final per-source SUM is only right if the
    * widened column really reads as long everywhere. Pinned booleans:
    * `widen_rejected_by_default` (drift never slips in silently),
    * `narrowing_rejected` (even with the flag), `widened_to_long`
    * (the served union type), `v1_still_int` (time travel keeps the
    * pre-widening schema). Scale posture: the evolution is O(batch) at
    * any corpus size — that is the whole point of widen-on-write. */
  val q142 = GraftQuery(
    "q142_type_widening",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q142_widen") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // crawl 1: counts fit int, the store bootstraps narrow
      SnapshotStore.publishBucketed(
        docs.withColumn("n_chars", col("n_chars").cast("int")),
        root, "doc_id", nBuckets = 16) // v1, n_chars: int
      // crawl 2: counts outgrew int — long-typed, values past Int.Max
      val wide = docs.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
          (col("n_chars") + 3000000000L).as("n_chars"))
      val rejectedByDefault =
        try { SnapshotStore.append(wide, root); false }
        catch { case _: IllegalArgumentException => true }
      SnapshotStore.append(wide, root, allowWidening = true) // v2
      // narrowing never passes, flag or no flag
      val narrowingRejected =
        try {
          SnapshotStore.append(
            docs.withColumn("n_chars", col("n_chars").cast("int")),
            root, allowWidening = true)
          false
        } catch { case _: IllegalArgumentException => true }
      val cur = SnapshotStore.read(spark, root)
      val widened = cur.schema("n_chars").dataType == LongType
      val v1Int = SnapshotStore.read(spark, root, 1L)
        .schema("n_chars").dataType ==
        org.apache.spark.sql.types.IntegerType
      cur.groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("widen_rejected_by_default", lit(rejectedByDefault))
        .withColumn("narrowing_rejected", lit(narrowingRejected))
        .withColumn("widened_to_long", lit(widened))
        .withColumn("v1_still_int", lit(v1Int))
        .orderBy(col("source"))
    },
    Some("""WITH c2 AS (SELECT doc_id + 10000000 AS doc_id, source,
          n_chars + 3000000000 AS n_chars
        FROM documents WHERE doc_id % 7 = 1),
      allr AS (SELECT doc_id, source, n_chars FROM documents
        UNION ALL SELECT doc_id, source, n_chars FROM c2)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS widen_rejected_by_default, TRUE AS narrowing_rejected,
        TRUE AS widened_to_long, TRUE AS v1_still_int
      FROM allr GROUP BY source ORDER BY source"""),
    doc = "type-widening evolution: an int store accepts a long batch " +
      "only via allowWidening (widen-on-write, O(batch), no rewrite); " +
      "merged reads up-cast old files at scan so sums past Int.Max are " +
      "exact; narrowing and silent drift stay rejected; v1 time-travels " +
      "with its own int schema")

  /** q143 — COMPOSITE-KEY LIFECYCLE (VERDICT r16 item 5, the q137
    * variant on a two-column identity): a multilingual corpus is keyed
    * by (doc_id, lang) — one logical document, several language
    * editions, each its own row. Caller-side concat ("3|zh") was the
    * old workaround and silently defeated [[graft.engine.sources
    * .SnapshotStore.deleteKeys]]' per-column type check; the store now
    * hashes the column LIST in one xxhash64. Exercised end to end on
    * the composite identity: re-crawl UPSERTS specific (doc_id, lang)
    * editions (same doc_id, other langs untouched), new 'xx' editions
    * INSERT under an existing doc_id (differ only in the second key
    * column — the composite point), a takedown deletes one language
    * edition while the same document's other editions survive
    * (`xx_survives` pins the row that would vanish under a doc_id-only
    * key). Tagged replay no-ops, one row per composite key. Oracle:
    * ROW_NUMBER over (doc_id, lang). */
  val q143 = GraftQuery(
    "q143_composite_key_lifecycle",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q143_composite") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, root, "doc_id,lang",
        nBuckets = 16) // v1
      // crawl 2: re-crawled editions (same doc_id AND lang) change
      // content; brand-new 'xx' editions insert under EXISTING doc_ids
      val recrawl = docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("lang"), col("source"),
          (col("n_chars") * 2 + 17).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 25 === 3)
          .select(col("doc_id"), lit("xx").as("lang"), col("source"),
            col("n_chars")))
      val v2 = SnapshotStore.merge(recrawl, root, tag = Some("crawl-2"))
      val replayNoop =
        SnapshotStore.merge(recrawl, root, tag = Some("crawl-2")) == v2 &&
          SnapshotStore.currentVersion(root) == v2
      // takedown of ONE language edition: the original-lang rows of six
      // fixed doc_ids — doc 3's fresh 'xx' edition must survive it
      SnapshotStore.deleteKeys(
        docs.filter(col("doc_id") % 17 === 3 && col("doc_id") < 100)
          .select(col("doc_id"), col("lang")), root)
      val cur = SnapshotStore.read(spark, root).localCheckpoint()
      val oneRowPerKey = cur.groupBy(col("doc_id"), col("lang")).count()
        .filter(col("count") > 1).isEmpty
      val xxSurvives = cur
        .filter(col("doc_id") === 3 && col("lang") === "xx")
        .count() == 1L
      cur.groupBy(col("lang"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("one_row_per_key", lit(oneRowPerKey))
        .withColumn("replay_noop", lit(replayNoop))
        .withColumn("xx_survives", lit(xxSurvives))
        .orderBy(col("lang"))
    },
    Some("""WITH c1 AS (SELECT doc_id, lang, n_chars, 1 AS v
          FROM documents),
      c2 AS (SELECT doc_id, lang, n_chars * 2 + 17 AS n_chars, 2 AS v
          FROM documents WHERE doc_id % 10 = 3
        UNION ALL
        SELECT doc_id, 'xx' AS lang, n_chars, 2 AS v
          FROM documents WHERE doc_id % 25 = 3),
      latest AS (
        SELECT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, lang
          ORDER BY v DESC) = 1),
      kept AS (SELECT * FROM latest
        WHERE NOT (doc_id % 17 = 3 AND doc_id < 100 AND lang <> 'xx'))
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS one_row_per_key, TRUE AS replay_noop, TRUE AS xx_survives
      FROM kept GROUP BY lang ORDER BY lang"""),
    doc = "composite bucket key (doc_id, lang): upsert one language " +
      "edition, insert new editions under existing doc_ids, take down a " +
      "single edition while sibling editions survive — one xxhash64 " +
      "over the column list, tagged replay no-op; oracle = ROW_NUMBER " +
      "over the composite key minus the edition takedown")

  /** q144 — REBUCKET LIFECYCLE (VERDICT r16 item 3, the value-level
    * pin on top of the spec): a corpus bootstrapped at 8 buckets
    * outgrows them — the 100 TB certainty, since nBuckets bounds merge
    * parallelism and file sizes. [[graft.engine.sources.SnapshotStore
    * .rebucket]] migrates to 32 in one bounded rewrite, and everything
    * a production store accumulates SURVIVES: a pre-rebucket tagged
    * upsert's content, tags, and time travel (`history_intact`: v2
    * still reads its exact pre-rebucket rows); the spec flip is
    * observable (`spec_tracked`); a post-rebucket upsert censuses the
    * NEW layout and lands correctly (`post_upsert_ok` is implicit in
    * the final values); every row sits in its new-spec bucket
    * (`layout_ok`); an incremental consumer across the rebucket is
    * REFUSED by readSince (`readsince_refused`) and its diff-based
    * resync sees only the DATA change, not the layout churn
    * (`resync_rows` == the one post-rebucket upsert row at value
    * level — _bucket is layout, not data). Oracle: ROW_NUMBER-latest
    * over the three crawls. */
  val q144 = GraftQuery(
    "q144_rebucket_lifecycle",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q144_rebucket") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, root, "doc_id", 8) // v1
      // a pre-rebucket upsert (tagged): this content must survive the
      // layout migration byte-for-byte
      SnapshotStore.merge(docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 2 + 17).as("n_chars")),
        root, tag = Some("crawl-2")) // v2
      val v2Rows = SnapshotStore.read(spark, root)
        .drop("_bucket").localCheckpoint()
      SnapshotStore.rebucket(spark, root, 32) // v3, new layout
      val specTracked =
        SnapshotStore.readBucketSpec(root) == Some(("doc_id", 32)) &&
          SnapshotStore.bucketSpecAt(root, 2L) == Some(("doc_id", 8))
      val afterRebucket = SnapshotStore.read(spark, root)
      val layoutOk = afterRebucket.filter(col("_bucket") =!=
        SnapshotStore.bucketExpr("doc_id", 32)).isEmpty
      val historyIntact = { // one-pass multiset equality (r22)
        val v2Again = SnapshotStore.read(spark, root, 2L).drop("_bucket")
        graft.engine.relational.Exact.sameMultiset(v2Again, v2Rows)
      }
      // a consumer parked at v2: refused across the rewrite…
      val refused =
        try { SnapshotStore.readSince(spark, root, 2L); false }
        catch { case _: IllegalStateException => true }
      // …post-rebucket upsert censuses the NEW spec
      SnapshotStore.merge(docs.filter(col("doc_id") % 100 === 42)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
          col("n_chars")), root) // v4
      // …and the diff resync sees only the DATA delta, zero layout churn
      val resyncRows = SnapshotStore.diff(spark, root, 2L, 4L).count()
      SnapshotStore.read(spark, root).groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("spec_tracked", lit(specTracked))
        .withColumn("layout_ok", lit(layoutOk))
        .withColumn("history_intact", lit(historyIntact))
        .withColumn("readsince_refused", lit(refused))
        .withColumn("resync_rows", lit(resyncRows))
        .orderBy(col("source"))
    },
    Some("""WITH c1 AS (SELECT doc_id, source, n_chars, 1 AS v
          FROM documents),
      c2 AS (SELECT doc_id, source, n_chars * 2 + 17 AS n_chars, 2 AS v
          FROM documents WHERE doc_id % 10 = 3),
      c3 AS (SELECT doc_id + 5000000 AS doc_id, source, n_chars, 3 AS v
          FROM documents WHERE doc_id % 100 = 42),
      latest AS (
        SELECT * FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
          UNION ALL SELECT * FROM c3)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY v DESC) = 1)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS spec_tracked, TRUE AS layout_ok, TRUE AS history_intact,
        TRUE AS readsince_refused,
        CAST((SELECT COUNT(*) FROM c3) AS BIGINT) AS resync_rows
      FROM latest GROUP BY source ORDER BY source"""),
    doc = "rebucket lifecycle: 8 -> 32 buckets in one bounded rewrite; " +
      "pre-rebucket tagged upsert content and time travel survive, " +
      "post-rebucket upsert censuses the new layout, readSince refuses " +
      "across it, and the diff resync carries only the data delta " +
      "(layout is not data); oracle = ROW_NUMBER-latest over three crawls",
    costClass = GraftQuery.FixedLifecycle)

  /** q145 — KEY-PRUNED POINT LOOKUP ([[graft.engine.sources
    * .SnapshotStore.readKeys]]): the READ leg of the store's
    * touched-bucket census. The compliance audit ("show me these N
    * documents"), the CDC spot check, and the secondary-index probe
    * all ask for a handful of rows by identity — at 100 TB a
    * `WHERE doc_id IN (...)` over `read` scans the corpus for them,
    * while `readKeys` hashes the key frame through the store's OWN
    * bucket assignment and reads only the ≤ |keys| touched bucket
    * directories, semi-joining against the broadcast key frame inside
    * them. Cost ∝ touched data, never table size — the exact economics
    * merge/deleteKeys already have on the write side. Pinned plan
    * booleans: `bucket_pruned` (the scan carries a `_bucket` partition
    * filter — directory-level pruning, verified in the executed plan)
    * and `broadcast_lookup` (the key frame broadcasts; the store side
    * never shuffles). The lookup runs AFTER an upsert, so values prove
    * it reads current content, not the bootstrap crawl. */
  val q145 = GraftQuery(
    "q145_keyed_lookup",
    (spark, sfDir) => {
      val root = Artifacts.scratch("q145_lookup") + "/tbl"
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, root, "doc_id", 16) // v1
      // a re-crawl upserts a tenth of the corpus: the lookup must see it
      SnapshotStore.merge(docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), col("source"),
          (col("n_chars") * 2 + 17).as("n_chars")), root) // v2
      val keys = docs.filter(col("doc_id") % 97 === 5)
        .select(col("doc_id"))
      val looked = SnapshotStore.readKeys(keys, root)
      // force ONCE so the tree walk pins AQE's FINAL plan; rebuild from
      // the collected rows so the caller's action doesn't re-run the
      // pruned lookup (r22)
      val lookedRows = looked.collect()
      import graft.tools.PlanAudit
      val pruned = PlanAudit.prunesOnBucket(looked)
      val bcast = PlanAudit.hasBroadcastHashJoin(looked)
      spark.createDataFrame(java.util.Arrays.asList(lookedRows: _*),
          looked.schema)
        .withColumn("bucket_pruned", lit(pruned))
        .withColumn("broadcast_lookup", lit(bcast))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source,
        CASE WHEN doc_id % 10 = 3 THEN n_chars * 2 + 17
          ELSE n_chars END AS n_chars,
        TRUE AS bucket_pruned, TRUE AS broadcast_lookup
      FROM documents WHERE doc_id % 97 = 5 ORDER BY doc_id"""),
    doc = "key-pruned point lookup (readKeys): rows by identity reading " +
      "only the buckets the keys hash to — _bucket partition filter in " +
      "the executed plan, key frame broadcast, store side never " +
      "shuffled; runs after an upsert so values pin current content")

  /** q146 — SECONDARY-INDEX TAKEDOWN: production takedown requests
    * arrive as DOMAINS ("purge everything from src3"), but the corpus
    * is keyed by doc_id — resolving source → doc_id with a corpus scan
    * is O(100 TB) per request. The fix composes three existing
    * primitives, no new machinery: an INVERTED INDEX (source, doc_id)
    * kept as its own bucketed store with `source` as PARTITION key
    * ([[graft.engine.sources.SnapshotStore.append]]'s IVF-codes
    * semantics — many rows per source), maintained INCREMENTALLY from
    * corpus versions ([[graft.engine.sources.SnapshotStore.readSince]]
    * — each crawl appends only its delta, `index_incremental` pins
    * that the maintenance read exactly the new rows); a takedown then
    * [[graft.engine.sources.SnapshotStore.readKeys]]-es the index
    * (touches ≤ |sources| buckets of the INDEX, `lookup_pruned` pins
    * the `_bucket` partition filter) and [[graft.engine.sources
    * .SnapshotStore.deleteKeys]]-es the resolved doc_ids from the
    * corpus (rewrites ≤ |doc_ids| corpus buckets). The index
    * self-cleans with the SAME delete primitive keyed by source
    * (`index_clean`: the lookup finds nothing after). The two stores
    * have no cross-store transaction, so both legs carry the REQUEST
    * id as their idempotence tag: a worker that crashes between them
    * replays the whole request and each leg no-ops if already applied
    * (`replay_noop` — x71's per-tick discipline, here per request).
    * End to end the request costs O(index delta + touched buckets) —
    * the corpus is never scanned. */
  val q146 = GraftQuery(
    "q146_secondary_takedown",
    (spark, sfDir) => {
      val base = Artifacts.scratch("q146_sidx")
      val (corpusRoot, idxRoot) = (s"$base/corpus", s"$base/idx")
      import graft.engine.sources.SnapshotStore
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      SnapshotStore.publishBucketed(docs, corpusRoot, "doc_id", 8) // v1
      // index bootstrap from corpus v1; source is a PARTITION key
      SnapshotStore.publishBucketed(
        SnapshotStore.read(spark, corpusRoot, 1L)
          .select(col("source"), col("doc_id")),
        idxRoot, "source", 4)
      // crawl 2 appends new documents; the index maintenance reads ONLY
      // the delta via the consumer cursor, never the corpus
      val crawl2 = docs.filter(col("doc_id") % 9 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("n_chars"))
      SnapshotStore.append(crawl2, corpusRoot) // v2
      val deltaOpt = SnapshotStore.readSince(spark, corpusRoot, 1L)
      val indexIncremental =
        deltaOpt.map(_.count()).getOrElse(0L) == crawl2.count()
      deltaOpt.foreach(d => SnapshotStore.append(
        d.select(col("source"), col("doc_id")), idxRoot))
      // the takedown request: two domains, resolved through the index
      import spark.implicits._
      val sources = Seq("src3", "src17").toDF("source")
      val hits = SnapshotStore.readKeys(sources, idxRoot)
      // force without a driver collect (the resolved doc list is
      // corpus-fraction-sized), so the tree walk pins AQE's FINAL plan
      hits.foreach(_ => ())
      val lookupPruned = graft.tools.PlanAudit.prunesOnBucket(hits)
      // both legs carry the REQUEST id as the idempotence tag: the two
      // stores have no cross-store transaction, so a worker that crashes
      // between them replays the whole request and each leg no-ops if
      // already applied (x71's per-tick discipline, here per request)
      val docKeys = hits.select(col("doc_id")).distinct()
        .localCheckpoint() // pin: the index delete below empties `hits`
      // the two legs hit INDEPENDENT stores with pinned key frames —
      // overlap them (x71's per-tick discipline)
      val (vCorpus, vIdx) = Par.overlap(spark) { s =>
        val corpusDel = s.fork(SnapshotStore.deleteKeys(docKeys, corpusRoot,
          tag = Some("takedown-req1")))
        // the index self-cleans with the same primitive, keyed by source
        val vIdx = SnapshotStore.deleteKeys(sources, idxRoot,
          tag = Some("takedown-req1"))
        (corpusDel.join(), vIdx)
      }
      val indexClean = SnapshotStore.readKeys(sources, idxRoot).isEmpty
      // crash-replay of the request: both legs return their already-
      // applied versions, nothing is re-deleted or re-minted (the two
      // no-op replays are independent across stores — overlap them too)
      val (corpusReplayNoop, idxReplayNoop) = Par.overlap(spark) { s =>
        val corpusReplay = s.fork(SnapshotStore.deleteKeys(docKeys,
          corpusRoot, tag = Some("takedown-req1")) == vCorpus)
        val idxReplayNoop = SnapshotStore.deleteKeys(sources, idxRoot,
          tag = Some("takedown-req1")) == vIdx
        (corpusReplay.join(), idxReplayNoop)
      }
      val replayNoop = idxReplayNoop && corpusReplayNoop &&
        SnapshotStore.currentVersion(corpusRoot) == vCorpus &&
        SnapshotStore.currentVersion(idxRoot) == vIdx
      SnapshotStore.read(spark, corpusRoot).groupBy(col("source"))
        .agg(lcount().as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
        .withColumn("index_incremental", lit(indexIncremental))
        .withColumn("lookup_pruned", lit(lookupPruned))
        .withColumn("index_clean", lit(indexClean))
        .withColumn("replay_noop", lit(replayNoop))
        .orderBy(col("source"))
    },
    Some("""WITH c2 AS (SELECT doc_id + 1000000 AS doc_id, source, n_chars
          FROM documents WHERE doc_id % 9 = 2),
      allr AS (SELECT doc_id, source, n_chars FROM documents
        UNION ALL SELECT doc_id, source, n_chars FROM c2),
      kept AS (SELECT * FROM allr
        WHERE source NOT IN ('src3', 'src17'))
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        TRUE AS index_incremental, TRUE AS lookup_pruned,
        TRUE AS index_clean, TRUE AS replay_noop
      FROM kept GROUP BY source ORDER BY source"""),
    doc = "secondary-index takedown: requests arrive as domains, the " +
      "inverted (source, doc_id) index — its own bucketed store, " +
      "maintained incrementally via readSince — resolves them to " +
      "primary keys for deleteKeys; lookup prunes index buckets, " +
      "index self-cleans by source, both legs tagged by request id so " +
      "a crash-replay no-ops; the corpus is never scanned",
    costClass = GraftQuery.FixedLifecycle)

  /** q148 — CLUSTERED STORE VERSIONS ([[graft.engine.sources
    * .ClusteredStore]]; VERDICT r17 item 5): events published twice as
    * z-clustered versions of ONE store (v1 = even event_ids, v2 = all)
    * over (t_us, v100) — the time-window × value-band box shape a
    * dashboard/debug query asks a 100 TB fact table. A 2-D box (middle
    * fifth of the time range × value 10–30) is then served by
    * [[graft.engine.sources.ClusteredStore.readBox]] from BOTH versions:
    * `pruned_current`/`pruned_pinned` pin that each read opened strictly
    * fewer files than its version holds (the sidecar envelopes did
    * real work — a silent full scan fails the oracle), and `travel_ok`
    * pins time travel (the v1 box equals a direct filter over v1's
    * input, via the x65 signed-digest multiset compare). The returned
    * rollup is the CURRENT version's box, replayed by DuckDB from raw
    * events with the same exact-integer bound arithmetic. */
  val q148 = GraftQuery(
    "q148_clustered_store_box",
    (spark, sfDir) => {
      import graft.engine.sources.{ClusteredStore, SnapshotStore}
      val root = Artifacts.scratch("q148_zstore") + "/tbl"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"),
          col("event_type"), col("value"))
      val half = ev.filter(col("event_id") % 2 === 0)
      ClusteredStore.publishClustered(half, root, Seq("t_us", "v100"),
        nFiles = 16) // v1
      ClusteredStore.publishClustered(ev, root, Seq("t_us", "v100"),
        nFiles = 16) // v2
      // box bounds in exact integer arithmetic (replayable in SQL):
      // middle fifth of the FULL time range x value band [10, 30)
      val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val lo = tmin + (tmax - tmin) * 2L / 5L
      val hi = tmin + (tmax - tmin) * 3L / 5L
      val box = Seq(("t_us", lo, hi), ("v100", 1000L, 3000L))
      val (cur, readCur, totalCur) = ClusteredStore.readBox(spark, root, box)
      val (old, readOld, totalOld) =
        ClusteredStore.readBox(spark, root, box, version = 1L)
      // time travel: v1's box == direct filter over v1's input (signed
      // row-digest multiset compare — one narrow aggregate, no join)
      val oldExpected = half.filter(col("t_us").between(lo, hi) &&
        col("v100").between(1000L, 3000L))
      val cmpCols = Seq("event_id", "t_us", "v100", "event_type")
      def side(df: org.apache.spark.sql.DataFrame, s: Long) =
        df.select(cmpCols.map(col): _*).withColumn("_side", lit(s))
      val d = side(old, 1L).unionByName(side(oldExpected, -1L))
        .agg(sum(col("_side")).as("dn"),
          sum(col("_side").cast("decimal(38,0)") *
            xxhash64(cmpCols.map(col): _*).cast("decimal(38,0)")).as("dh"))
        .head()
      val travelOk = d.getLong(0) == 0L && d.getDecimal(1).signum == 0
      cur.groupBy(col("event_type"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .withColumn("pruned_current", lit(readCur < totalCur))
        .withColumn("pruned_pinned", lit(readOld < totalOld))
        .withColumn("travel_ok", lit(travelOk))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t_us,
        CAST(FLOOR(value * 100) AS BIGINT) AS v100 FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS lo,
        MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 3 // 5 AS hi FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        ${sqlDsum("e.value")} AS sum_value,
        TRUE AS pruned_current, TRUE AS pruned_pinned, TRUE AS travel_ok
      FROM e, b WHERE e.t_us BETWEEN b.lo AND b.hi
        AND e.v100 BETWEEN 1000 AND 3000
      GROUP BY 1 ORDER BY 1"""),
    doc = "z-clustered store versions: 2-D box read with per-version " +
      "sidecar file skipping (strictly pruned, pinned), time travel to " +
      "the pre-append layout, rollup oracle-replayed from raw events")

  /** q149 — CLUSTERED-STORE APPEND ([[graft.engine.sources
    * .ClusteredStore.appendClustered]]): the steady-state write path a
    * clustered fact table actually takes — the first half of events
    * bootstraps the clustered store (v1), the second half APPENDS as a
    * batch z-clustered within itself, hardlinking v1's files over with
    * their sidecar envelopes carried verbatim (v2, lineage `append`).
    * Pins: the 2-D box over v2 equals the plain SQL over the FULL
    * table (`pruned` — envelopes from both the base and the appended
    * files did work); `delta_ok` — [[graft.engine.sources.SnapshotStore
    * .readSince]] v1→v2 equals exactly the appended half (the file
    * diff IS the row delta across a clustered append — incremental
    * consumers compose with clustered layout); `no_rewrite` — every v1
    * data file carried over by hardlink (same inode), the O(batch)
    * cost contract. */
  val q149 = GraftQuery(
    "q149_clustered_append",
    (spark, sfDir) => {
      import graft.engine.sources.{ClusteredStore, SnapshotStore}
      val root = Artifacts.scratch("q149_zappend") + "/tbl"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"),
          col("event_type"), col("value"))
      val halfA = ev.filter(col("event_id") % 2 === 0)
      val halfB = ev.filter(col("event_id") % 2 === 1)
      ClusteredStore.publishClustered(halfA, root, Seq("t_us", "v100"),
        nFiles = 16) // v1
      val v1Inodes = SnapshotStore.versionFileInodes(root, 1L)
      ClusteredStore.appendClustered(halfB, root, nFiles = 16) // v2
      val v2Inodes = SnapshotStore.versionFileInodes(root, 2L)
      val noRewrite = v1Inodes.nonEmpty && v1Inodes.forall {
        case (rel, ino) => v2Inodes.get(rel).contains(ino) }
      val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val lo = tmin + (tmax - tmin) * 2L / 5L
      val hi = tmin + (tmax - tmin) * 3L / 5L
      val (cur, readCur, totalCur) = ClusteredStore.readBox(spark, root,
        Seq(("t_us", lo, hi), ("v100", 1000L, 3000L)))
      // the incremental consumer's view: the v1->v2 file diff must be
      // exactly the appended half (x65's signed-digest compare)
      val delta = SnapshotStore.readSince(spark, root, 1L, 2L).get
      val cmpCols = Seq("event_id", "t_us", "v100", "event_type")
      def side(df: org.apache.spark.sql.DataFrame, s: Long) =
        df.select(cmpCols.map(col): _*).withColumn("_side", lit(s))
      val d = side(delta, 1L).unionByName(side(halfB, -1L))
        .agg(sum(col("_side")).as("dn"),
          sum(col("_side").cast("decimal(38,0)") *
            xxhash64(cmpCols.map(col): _*).cast("decimal(38,0)")).as("dh"))
        .head()
      val deltaOk = d.getLong(0) == 0L && d.getDecimal(1).signum == 0
      cur.groupBy(col("event_type"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .withColumn("pruned", lit(readCur < totalCur))
        .withColumn("delta_ok", lit(deltaOk))
        .withColumn("no_rewrite", lit(noRewrite))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t_us,
        CAST(FLOOR(value * 100) AS BIGINT) AS v100 FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS lo,
        MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 3 // 5 AS hi FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        ${sqlDsum("e.value")} AS sum_value,
        TRUE AS pruned, TRUE AS delta_ok, TRUE AS no_rewrite
      FROM e, b WHERE e.t_us BETWEEN b.lo AND b.hi
        AND e.v100 BETWEEN 1000 AND 3000
      GROUP BY 1 ORDER BY 1"""),
    doc = "clustered-store append: batch z-clustered within itself, " +
      "base files hardlinked with envelopes carried, box over the " +
      "appended version pruned AND exact, readSince delta == the batch")

  /** q150 — CLUSTERED-STORE COMPACTION ([[graft.engine.sources
    * .ClusteredStore.compactClustered]]; VERDICT r18 item 1): the repair
    * for the decay [[graft.engine.sources.ClusteredStore.appendClustered]]
    * accumulates — each append is z-clustered only within itself, so k
    * appends leave k overlapping z-runs (skipping decays), a sidecar
    * growing by nFiles lines per append, and O(k²) total hardlink work.
    * The query bootstraps a clustered events store (v1 = one third),
    * appends two more thirds (v2, v3 — the append pile), then compacts
    * into ONE global 16-file z-run (v4) and pins the whole contract:
    * `content_neutral` (the same 2-D box reads the same rows before and
    * after, x65's signed-digest multiset compare), `pruned_after` (the
    * compacted run still skips files), `files_rebased` (v4 holds one
    * z-run's worth of files — 16 — vs the pile's 48), `travel_ok` (the
    * box pinned to pre-compact v3 is untouched by the rewrite),
    * `delta_refused` ([[graft.engine.sources.SnapshotStore.readSince]]
    * across the compact throws — lineage kind `rewrite`, the file diff
    * is no longer the row delta), and `compact_noop` (a second compact
    * returns v4 without minting — already one z-run). The returned
    * rollup is the post-compact box, replayed by DuckDB from raw events
    * with the same exact-integer bound arithmetic (q148's oracle shape:
    * compaction must be invisible to every reader). */
  val q150 = GraftQuery(
    "q150_clustered_compact",
    (spark, sfDir) => {
      import graft.engine.sources.{ClusteredStore, SnapshotStore}
      val root = Artifacts.scratch("q150_zcompact") + "/tbl"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"),
          col("event_type"), col("value"))
      val thirds = (0 until 3).map(i => ev.filter(col("event_id") % 3 === i))
      ClusteredStore.publishClustered(thirds(0), root, Seq("t_us", "v100"),
        nFiles = 16) // v1
      ClusteredStore.appendClustered(thirds(1), root, nFiles = 16) // v2
      ClusteredStore.appendClustered(thirds(2), root, nFiles = 16) // v3
      val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val lo = tmin + (tmax - tmin) * 2L / 5L
      val hi = tmin + (tmax - tmin) * 3L / 5L
      val box = Seq(("t_us", lo, hi), ("v100", 1000L, 3000L))
      val (pre, _, totalPre) = ClusteredStore.readBox(spark, root, box)
      val cmpCols = Seq("event_id", "t_us", "v100", "event_type")
      def side(df: org.apache.spark.sql.DataFrame, s: Long) =
        df.select(cmpCols.map(col): _*).withColumn("_side", lit(s))
      def digestsToZero(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Boolean = {
        val d = side(a, 1L).unionByName(side(b, -1L))
          .agg(sum(col("_side")).as("dn"),
            sum(col("_side").cast("decimal(38,0)") *
              xxhash64(cmpCols.map(col): _*).cast("decimal(38,0)")).as("dh"))
          .head()
        d.getLong(0) == 0L && d.getDecimal(1).signum == 0
      }
      // the pre-compact box content, materialized small (box rows only)
      val preKept = pre.select(cmpCols.map(col): _*).localCheckpoint()
      val v4 = ClusteredStore.compactClustered(spark, root, nFiles = 16)
      val compactNoop =
        ClusteredStore.compactClustered(spark, root, nFiles = 16) == v4
      val (post, readPost, totalPost) =
        ClusteredStore.readBox(spark, root, box)
      val contentNeutral = digestsToZero(post, preKept)
      val (old3, _, totOld3) = ClusteredStore.readBox(spark, root, box,
        version = 3L)
      val travelOk = totOld3 == totalPre && digestsToZero(old3, preKept)
      val deltaRefused =
        try { SnapshotStore.readSince(spark, root, 2L, v4); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("rewrite") }
      post.groupBy(col("event_type"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .withColumn("content_neutral", lit(contentNeutral))
        .withColumn("pruned_after", lit(readPost < totalPost))
        .withColumn("files_rebased", lit(totalPost < totalPre))
        .withColumn("travel_ok", lit(travelOk))
        .withColumn("delta_refused", lit(deltaRefused))
        .withColumn("compact_noop", lit(compactNoop))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t_us,
        CAST(FLOOR(value * 100) AS BIGINT) AS v100 FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS lo,
        MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 3 // 5 AS hi FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        ${sqlDsum("e.value")} AS sum_value,
        TRUE AS content_neutral, TRUE AS pruned_after,
        TRUE AS files_rebased, TRUE AS travel_ok,
        TRUE AS delta_refused, TRUE AS compact_noop
      FROM e, b WHERE e.t_us BETWEEN b.lo AND b.hi
        AND e.v100 BETWEEN 1000 AND 3000
      GROUP BY 1 ORDER BY 1"""),
    doc = "clustered-store compaction: k overlapping append z-runs " +
      "rewritten into one global z-run — box content-neutral and still " +
      "pruned, file count rebased, time travel and lineage contracts " +
      "pinned, rollup oracle-replayed from raw events")

  /** q152 — CLUSTERED RETENTION TRIM ([[graft.engine.sources
    * .ClusteredStore.trimBelow]], r19): the TTL action a 100 TB fact
    * table takes daily, at FILE economics. The store holds two
    * 16-file z-runs (publish + append); dropping everything before the
    * 40% time mark classifies every file by its SIDECAR envelope alone:
    * files wholly below drop METADATA-ONLY (never opened), files wholly
    * above carry by HARDLINK (`carried_by_inode` — same inode in the
    * new version), and only the straddlers are read, filtered, and
    * re-z-run (`rewrote_bounded` — the fresh-file count is capped by
    * the trim's own nFiles). The remaining contracts ride along:
    * `pruned_after` (a value-band box over the trimmed layout still
    * skips files), `travel_ok` (the pre-trim version still serves every
    * row until vacuum), `delta_refused` (lineage `rewrite`: a trim
    * deletes rows, so readSince across it refuses). The returned rollup
    * is the WHOLE trimmed store, replayed by DuckDB as the plain
    * `t_us >= cutoff` filter with the same exact-integer arithmetic —
    * the trim must equal the filter, row for row. */
  val q152 = GraftQuery(
    "q152_clustered_retention",
    (spark, sfDir) => {
      import graft.engine.sources.{ClusteredStore, SnapshotStore}
      val root = Artifacts.scratch("q152_ztrim") + "/tbl"
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
          expr("CAST(FLOOR(value * 100) AS BIGINT)").as("v100"),
          col("event_type"), col("value"))
      ClusteredStore.publishClustered(ev.filter(col("event_id") % 2 === 0),
        root, Seq("t_us", "v100"), nFiles = 16) // v1
      ClusteredStore.appendClustered(ev.filter(col("event_id") % 2 === 1),
        root, nFiles = 16) // v2
      val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val cutoff = tmin + (tmax - tmin) * 2L / 5L
      val v2Inodes = SnapshotStore.versionFileInodes(root, 2L)
      val v3 = ClusteredStore.trimBelow(spark, root, "t_us", cutoff,
        nFiles = 8)
      val v3Inodes = SnapshotStore.versionFileInodes(root, v3)
      val reused = v3Inodes.keySet.intersect(v2Inodes.keySet)
      val fresh = v3Inodes.keySet -- v2Inodes.keySet
      val carriedOk = reused.nonEmpty &&
        reused.forall(rel => v3Inodes(rel) == v2Inodes(rel))
      val rewroteBounded = fresh.size <= 8
      val travelOk =
        SnapshotStore.read(spark, root, 2L).count() == ev.count()
      val deltaRefused =
        try { SnapshotStore.readSince(spark, root, 2L, v3); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("rewrite") }
      val (_, readN, totalN) = ClusteredStore.readBox(spark, root,
        Seq(("v100", 1000L, 3000L)))
      SnapshotStore.read(spark, root)
        .groupBy(col("event_type"))
        .agg(lcount().as("n_events"), dsum(col("value")).as("sum_value"))
        .withColumn("carried_by_inode", lit(carriedOk))
        .withColumn("rewrote_bounded", lit(rewroteBounded))
        .withColumn("pruned_after", lit(readN < totalN))
        .withColumn("travel_ok", lit(travelOk))
        .withColumn("delta_refused", lit(deltaRefused))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS t_us
        FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS cutoff
        FROM e)
      SELECT event_type, COUNT(*) AS n_events,
        ${sqlDsum("e.value")} AS sum_value,
        TRUE AS carried_by_inode, TRUE AS rewrote_bounded,
        TRUE AS pruned_after, TRUE AS travel_ok, TRUE AS delta_refused
      FROM e, b WHERE e.t_us >= b.cutoff
      GROUP BY 1 ORDER BY 1"""),
    doc = "clustered retention trim: expired files drop by sidecar " +
      "envelope alone (metadata-only), survivors hardlink-carry " +
      "(inode-pinned), only straddlers re-z-run (bounded); trimmed " +
      "store == the plain time filter, DuckDB-replayed")

  /** Shared q154/q155/q156 fixture: a fresh 1-D TIME-clustered events
    * store in the steady-state mixed layout (published evens + one
    * appended odds batch, 16+16 files) — the one layout all three
    * metadata-read queries probe, built in one place so they cannot
    * drift onto different shapes. Returns (root, all events, evens). */
  private def clusteredEventsFixture(spark: SparkSession, sfDir: String,
      name: String): (String, DataFrame, DataFrame) = {
    import graft.engine.sources.{ClusteredStore, SnapshotStore}
    val root = Artifacts.scratch(name) + "/tbl"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"))
    val evens = ev.filter(col("event_id") % 2 === 0)
    ClusteredStore.publishClustered(evens, root, Seq("t_us"),
      nFiles = 16) // v1
    ClusteredStore.appendClustered(ev.filter(col("event_id") % 2 === 1),
      root, nFiles = 16) // v2
    (root, ev, evens)
  }

  /** q154 — METADATA-ONLY BOX COUNT ([[graft.engine.sources
    * .ClusteredStore.countBox]], r19): the "how many rows landed in
    * this window" audit a 100 TB fact table answers daily — priced in
    * FILES, because the sidecar already records each file's exact
    * envelope AND row count. Events are 1-D time-clustered (publish
    * evens, append odds — the steady-state mixed layout), then the
    * middle three-fifths band is COUNTED: interior files contribute
    * their sidecar counts unopened, only the (≤2 per z-run) edge
    * straddlers are read (`pruned`), and the whole-domain count reads
    * ZERO files (`zero_read_full_domain` — a fully metadata-served
    * query). Time travel rides along: the count pinned to v1 equals a
    * direct filter over v1's input (`pinned_matches`). The band count
    * itself is the oracle-hashed value — exact, never estimated. */
  val q154 = GraftQuery(
    "q154_clustered_count",
    (spark, sfDir) => {
      import graft.engine.sources.ClusteredStore
      val (root, ev, evens) = clusteredEventsFixture(spark, sfDir,
        "q154_zcount")
      val Array(mm) = ev.agg(min(col("t_us")), max(col("t_us"))).collect()
      val (tmin, tmax) = (mm.getLong(0), mm.getLong(1))
      val lo = tmin + (tmax - tmin) * 2L / 5L
      val hi = tmin + (tmax - tmin) * 3L / 5L
      val (n, readN, totalN) = ClusteredStore.countBox(spark, root,
        Seq(("t_us", lo, hi)))
      val (nAll, readAll, _) = ClusteredStore.countBox(spark, root,
        Seq(("t_us", tmin, tmax)))
      val (nV1, _, _) = ClusteredStore.countBox(spark, root,
        Seq(("t_us", lo, hi)), version = 1L)
      val pinnedExpected = evens.filter(col("t_us").between(lo, hi)).count()
      spark.range(1).select(
        lit(n).as("n_in_box"),
        lit(readN < totalN).as("pruned"),
        lit(readAll == 0 && nAll == ev.count()).as("zero_read_full_domain"),
        lit(nV1 == pinnedExpected).as("pinned_matches"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) AS t_us FROM events),
      b AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 2 // 5 AS lo,
        MIN(t_us) + (MAX(t_us) - MIN(t_us)) * 3 // 5 AS hi FROM e)
      SELECT COUNT(*) AS n_in_box, TRUE AS pruned,
        TRUE AS zero_read_full_domain, TRUE AS pinned_matches
      FROM e, b WHERE e.t_us BETWEEN b.lo AND b.hi"""),
    doc = "metadata-only box count: interior files counted from their " +
      "sidecar lines unopened, only edge straddlers read, whole-domain " +
      "count reads zero files; exact (never estimated), time travel " +
      "pinned, band count oracle-hashed")

  /** q155 — METADATA-ASSISTED TOP-K ([[graft.engine.sources
    * .ClusteredStore.readTopK]], r19): "the newest 25 events", the
    * dashboard probe a 100 TB fact table answers constantly, at FILE
    * economics. Same mixed publish+append layout as q154; the sidecar
    * envelopes pick the smallest newest-file prefix holding 25 rows,
    * one narrow job finds the 25th timestamp, and only files whose
    * envelope still reaches it are read (`pruned` — for a time-ordered
    * stream that is the newest file or two). The returned candidate set
    * provably contains every row at-or-beyond the threshold, so the
    * query's own (t_us, event_id) total order makes the top-25 exact
    * AND deterministic — hashed row-for-row against DuckDB's plain
    * ORDER BY ... LIMIT. Time travel (`travel_ok`: the v1-pinned top-k
    * equals a direct sort of v1's input) and the ascending probe
    * (`asc_ok`: oldest-k against a direct sort) ride along. */
  val q155 = GraftQuery(
    "q155_clustered_topk",
    (spark, sfDir) => {
      import graft.engine.sources.ClusteredStore
      val (root, ev, evens) = clusteredEventsFixture(spark, sfDir,
        "q155_ztopk")
      val k = 25
      def topSeq(df: org.apache.spark.sql.DataFrame, asc: Boolean) = {
        val o = if (asc) Seq(col("t_us").asc, col("event_id").asc)
          else Seq(col("t_us").desc, col("event_id").desc)
        df.select(col("event_id"), col("t_us")).orderBy(o: _*).limit(k)
          .collect().toSeq
      }
      val (cand, readN, totalN) = ClusteredStore.readTopK(spark, root,
        "t_us", k)
      val (candV1, _, _) = ClusteredStore.readTopK(spark, root, "t_us", k,
        version = 1L)
      val travelOk = topSeq(candV1, asc = false) == topSeq(evens,
        asc = false)
      val (candAsc, readAsc, totalAsc) = ClusteredStore.readTopK(spark,
        root, "t_us", k, descending = false)
      val ascOk = topSeq(candAsc, asc = true) == topSeq(ev, asc = true)
      cand.select(col("event_id"), col("t_us"))
        .orderBy(col("t_us").desc, col("event_id").desc).limit(k)
        .withColumn("pruned", lit(readN < totalN && readAsc < totalAsc))
        .withColumn("travel_ok", lit(travelOk))
        .withColumn("asc_ok", lit(ascOk))
    },
    Some("""SELECT event_id, epoch_us(ts) AS t_us, TRUE AS pruned,
        TRUE AS travel_ok, TRUE AS asc_ok
      FROM events ORDER BY t_us DESC, event_id DESC LIMIT 25"""),
    doc = "metadata-assisted top-k: the sidecar picks the newest-file " +
      "prefix, one narrow job finds the k-th timestamp, only files " +
      "reaching it are read; candidate set provably complete, top-25 " +
      "row-hashed against DuckDB, time travel + oldest-k pinned")

  /** q156 — METADATA-ONLY TABLE STATS ([[graft.engine.sources
    * .ClusteredStore.tableStats]], r19): the freshness probe
    * ("SELECT count(*), min(ts), max(ts)") a 100 TB fact table answers
    * every minute, served with ZERO file reads: the sidecar already
    * records each file's exact row count and envelopes, so the
    * table-wide answers are pure metadata folds. Same mixed
    * publish+append layout as q154/q155; `zero_files` pins that NO file
    * was opened for either the current or the pinned version, and
    * `travel_ok` pins the v1 stats equal to a direct aggregate over
    * v1's input. The values themselves are the oracle-hashed row. */
  val q156 = GraftQuery(
    "q156_clustered_stats",
    (spark, sfDir) => {
      import graft.engine.sources.ClusteredStore
      val (root, ev, evens) = clusteredEventsFixture(spark, sfDir,
        "q156_zstats")
      val (n, envs, read, total) = ClusteredStore.tableStats(spark, root)
      val (n1, envs1, read1, _) = ClusteredStore.tableStats(spark, root,
        version = 1L)
      val Array(d1) = evens.agg(lcount(), min(col("t_us")),
        max(col("t_us"))).collect()
      val travelOk = n1 == d1.getLong(0) &&
        envs1("t_us") == ((d1.getLong(1), d1.getLong(2)))
      spark.range(1).select(
        lit(n).as("n_rows"),
        lit(envs("t_us")._1).as("min_t_us"),
        lit(envs("t_us")._2).as("max_t_us"),
        lit(read == 0 && read1 == 0 && total > 0).as("zero_files"),
        lit(travelOk).as("travel_ok"))
    },
    Some("""SELECT COUNT(*) AS n_rows, MIN(epoch_us(ts)) AS min_t_us,
        MAX(epoch_us(ts)) AS max_t_us, TRUE AS zero_files,
        TRUE AS travel_ok
      FROM events"""),
    doc = "metadata-only table stats: exact count/min/max folded from " +
      "the sidecar lines with zero file reads, current and pinned " +
      "versions both; values oracle-hashed against the raw table")

  def queries: Seq[GraftQuery] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14,
    q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25, q26, q27, q57,
    q59, q66, q67, q74, q86, q89, q95, q98, q99, q103, q104, q108, q136,
    q137, q139, q140, q141, q142, q143, q144, q145, q146, q148, q149,
    q150, q152, q154, q155, q156)
}
