package graft.ops

import graft.{QuerySpec, Scoped, Spill, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Star-schema analytics — the extension layer of SURVEY §2 (§2.3-§2.6).
  *
  * The reference's own relational surface is tiny (filter / project /
  * broadcast-equi-join / count — see `catalog.Discovery` and
  * `catalog.Audit` for the parity queries). This module supplies the
  * full query surface a user of a real engine expects, expressed as
  * declarative DataFrame plans so Catalyst drives pushdown, pruning,
  * join selection (broadcast under the threshold) and AQE at scale.
  *
  * Scale notes (100 TB design intent):
  *  - joins are written dimension-last so Catalyst broadcast-joins the
  *    small sides (region/nation/supplier/part fit in memory at any SF;
  *    customer/orders shuffle-hash or sort-merge as AQE decides);
  *  - aggregations are all partial+final (map-side combine) built-ins;
  *  - window queries partition on high-cardinality keys (custkey,
  *    suppkey) so per-partition state stays bounded;
  *  - every filter is a plain column predicate → parquet pushdown.
  */
object Relational {

  private def rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val revSql = "l_extendedprice * (1.0 - l_discount)"

  /** lineitem columns profiled by q52, with their profiling kind.
    * Declared before [[specs]]: the oracle strings are built eagerly
    * during object init.
    */
  private val profileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
    "l_linenumber" -> "num", "l_quantity" -> "num",
    "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
    "l_returnflag" -> "str", "l_linestatus" -> "str",
    "l_shipdate" -> "ts")

  /** Damped PageRank iterations run by q53 (declared before [[specs]]
    * — the oracle string is built eagerly during object init). */
  private val PageRankRounds = 10

  val specs: Seq[QuerySpec] = Seq(

    // ---- Q1-style pricing summary (flagship; scan→filter→agg→sort) ----
    QuerySpec(
      "q01_pricing_summary",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          // 128-bit tick accumulators (dsum128 ≡ dsum bit-for-bit,
          // ExprEquivSpec-pinned): six decimal-exact aggregates become
          // six two-long carry buffers — one quantize + a few integer
          // ops per row inside whole-stage codegen, instead of six
          // BigDecimal constructs + adds. quantity / price / discount
          // hit the integer / 2-decimal quantize fast path; only the
          // computed rev / charge take the canonical string path.
          .agg(
            dsum128(col("l_quantity")).as("sum_qty"),
            dsum128(col("l_extendedprice")).as("sum_base_price"),
            dsum128(rev).as("sum_disc_price"),
            dsum128(rev * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            davg128(col("l_quantity")).as("avg_qty"),
            davg128(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity")} AS sum_qty,
        ${dsumSql("l_extendedprice")} AS sum_base_price,
        ${dsumSql(revSql)} AS sum_disc_price,
        ${dsumSql(s"$revSql * (1.0 + l_tax)")} AS sum_charge,
        ${davgSql("l_quantity")} AS avg_qty,
        ${davgSql("l_discount")} AS avg_disc,
        COUNT(1) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    // ---- filter + projection with computed column (pushdown check) ----
    QuerySpec(
      "q02_filter_project",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_quantity") >= 45.0 && col("l_discount") >= 0.08 &&
            col("l_shipdate") >= ts("1999-01-01 00:00:00"))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_discount"), rev.as("disc_price"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        $revSql AS disc_price
      FROM lineitem
      WHERE l_quantity >= 45.0 AND l_discount >= 0.08
        AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      ORDER BY l_orderkey, l_linenumber""")),

    // ---- Q3-style: 3-way join, agg, top-10 ----
    QuerySpec(
      "q03_shipping_priority",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"),
            col("o_orderpriority"))
          .agg(dsum128(rev).as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        o_orderpriority, ${dsumSql(revSql)} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")),

    // ---- Q4-style: EXISTS semi-join, count by priority ----
    QuerySpec(
      "q04_order_priority",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00"))
        val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(1) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")),

    // ---- Q5-style: 6-way star join (broadcast dims), agg by nation ----
    QuerySpec(
      "q05_local_supplier_volume",
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d)
        val sup = Tables.supplier(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1999-01-01 00:00:00"))
        val l = Tables.lineitem(s, d)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsum128(rev).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some(s"""SELECT n_name, ${dsumSql(revSql)} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")),

    // ---- Q6-style: scalar aggregate ----
    QuerySpec(
      "q06_forecast_revenue",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24.0)
          .agg(dsum128(col("l_extendedprice") * col("l_discount")).as("revenue"),
            count(lit(1)).as("n"))
      },
      Some(s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
        COUNT(1) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24.0""")),

    // ---- global top-k with join (order by + limit) ----
    QuerySpec(
      "q07_topk_orders",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"), col("o_totalprice"),
            col("o_orderdate").cast("date").as("orderdate"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .limit(25)
      },
      Some("""SELECT o_orderkey, c_name, o_totalprice,
        CAST(o_orderdate AS DATE) AS orderdate
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 25""")),

    // ---- window: rank within group (top-3 orders per customer) ----
    QuerySpec(
      "q08_window_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn""")),

    // ---- window: running (cumulative) revenue per supplier ----
    QuerySpec(
      "q09_running_revenue",
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("2000-01-01 00:00:00"))
          .withColumn("running_qty",
            sum(col("l_quantity").cast(DecimalType(18, 2))).over(w).cast("double"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("running_qty"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
          PARTITION BY l_suppkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ---- window: lag (days since customer's previous order) ----
    QuerySpec(
      "q10_order_gaps",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
          .withColumn("gap_days",
            datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
          .filter(col("gap_days").isNotNull)
          .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, gap_days FROM (
        SELECT o_custkey, o_orderkey,
          CAST(DATE_DIFF('day',
            CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS INT) AS gap_days
        FROM orders) t
      WHERE gap_days IS NOT NULL
      ORDER BY o_custkey, o_orderkey""")),

    // ---- rollup over region/nation hierarchy ----
    QuerySpec(
      "q11_rollup_revenue",
      (s, d) => {
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(dsum128(col("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            col("total"), col("n_orders"))
          .orderBy("region", "nation")
      },
      Some(s"""SELECT COALESCE(r_name, 'ALL') AS region,
        COALESCE(n_name, 'ALL') AS nation,
        ${dsumSql("o_totalprice")} AS total, COUNT(1) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region, nation""")),

    // ---- cube over two low-cardinality dims ----
    QuerySpec(
      "q12_cube_flags",
      (s, d) => {
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum128(col("l_quantity")).as("qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n"), col("qty"))
          .orderBy("returnflag", "linestatus")
      },
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        COALESCE(l_linestatus, 'ALL') AS linestatus,
        COUNT(1) AS n, ${dsumSql("l_quantity")} AS qty
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""")),

    // ---- left-semi: customers having orders, per segment ----
    QuerySpec(
      "q13_active_customers",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).select(col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(1) AS n_active
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")),

    // ---- left-anti: customers with no orders ----
    QuerySpec(
      "q14_inactive_customers",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < ts("1996-01-01 00:00:00"))
          .select(col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
      ORDER BY c_custkey""")),

    // ---- union all + group on branch tag ----
    QuerySpec(
      "q15_union_price_bands",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val hi = l.filter(col("l_extendedprice") >= 90000.0)
          .select(lit("high").as("band"), col("l_extendedprice"))
        val lo = l.filter(col("l_extendedprice") <= 2000.0)
          .select(lit("low").as("band"), col("l_extendedprice"))
        hi.unionAll(lo)
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), dsum128(col("l_extendedprice")).as("total"))
          .orderBy("band")
      },
      Some(s"""SELECT band, COUNT(1) AS n, ${dsumSql("l_extendedprice")} AS total
      FROM (
        SELECT 'high' AS band, l_extendedprice FROM lineitem
          WHERE l_extendedprice >= 90000.0
        UNION ALL
        SELECT 'low' AS band, l_extendedprice FROM lineitem
          WHERE l_extendedprice <= 2000.0) t
      GROUP BY band
      ORDER BY band""")),

    // ---- exact distinct counting. r16 adjudication (guide §1.1): a
    //      per-leg two-stage distinct rewrite (each NDV its own
    //      broadcast-join → partial-distinct → count, no Expand) was
    //      built and MEASURED — sf1 2.03→2.71 s (0.7×), sf0.1
    //      1.41→1.49 s — and reverted: the Expand here is only ×2 and
    //      its partial distinct-aggregate already dedups (brand, key,
    //      gid) map-side, so both shapes shuffle ~|distinct pairs|
    //      but the two-leg form pays a second lineitem scan. Evidence
    //      in OPTIMIZATION_r16.md and plans/r16/q16_*. ----
    QuerySpec(
      "q16_distinct_parts",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
            countDistinct(col("l_orderkey")).as("n_orders"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand""")),

    // ---- HAVING ----
    QuerySpec(
      "q17_big_nations",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_customers"),
            davg128(col("c_acctbal")).as("avg_bal"))
          .filter(col("n_customers") > 50)
          .orderBy("n_name")
      },
      Some(s"""SELECT n_name, COUNT(1) AS n_customers,
        ${davgSql("c_acctbal")} AS avg_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      HAVING COUNT(1) > 50
      ORDER BY n_name""")),

    // ---- CASE WHEN bucketing + conditional aggregation ----
    QuerySpec(
      "q18_price_buckets",
      (s, d) => {
        val bucket = when(col("o_totalprice") < 50000.0, "small")
          .when(col("o_totalprice") < 150000.0, "medium")
          .otherwise("large")
        Tables.orders(s, d)
          .withColumn("bucket", bucket)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum128(col("o_totalprice")).as("total"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_filled"))
          .orderBy("bucket")
      },
      Some(s"""SELECT bucket, COUNT(1) AS n, ${dsumSql("o_totalprice")} AS total,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_filled
      FROM (SELECT o_totalprice, o_orderstatus,
        CASE WHEN o_totalprice < 50000.0 THEN 'small'
             WHEN o_totalprice < 150000.0 THEN 'medium'
             ELSE 'large' END AS bucket FROM orders) t
      GROUP BY bucket
      ORDER BY bucket""")),

    // ---- string functions (F1/F4/F5/F6 analogues over part) ----
    QuerySpec(
      "q19_string_funcs",
      (s, d) => {
        Tables.part(s, d)
          .select(col("p_partkey"),
            upper(col("p_name")).as("uname"),
            length(col("p_name")).as("name_len"),
            substring_index(col("p_name"), " ", 1).as("first_word"),
            substring_index(col("p_name"), " ", -1).as("last_word"),
            substring(col("p_type"), 1, 3).as("type_pfx"),
            concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
            translate(col("p_name"), "'", "_").as("sanitized"),
            instr(col("p_name"), "red").as("red_pos"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, UPPER(p_name) AS uname,
        CAST(LENGTH(p_name) AS INT) AS name_len,
        STR_SPLIT(p_name, ' ')[1] AS first_word,
        STR_SPLIT(p_name, ' ')[-1] AS last_word,
        SUBSTR(p_type, 1, 3) AS type_pfx,
        CONCAT_WS('/', p_brand, p_type) AS brand_type,
        REPLACE(p_name, '''', '_') AS sanitized,
        CAST(INSTR(p_name, 'red') AS INT) AS red_pos
      FROM part
      ORDER BY p_partkey""")),

    // ---- date functions ----
    QuerySpec(
      "q20_date_funcs",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            dayofmonth(col("o_orderdate")).as("dom"),
            quarter(col("o_orderdate")).as("qtr"),
            last_day(col("o_orderdate")).as("month_end"),
            date_add(col("o_orderdate").cast("date"), 30).as("due_date"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        CAST(YEAR(o_orderdate) AS INT) AS yr,
        CAST(MONTH(o_orderdate) AS INT) AS mo,
        CAST(DAY(o_orderdate) AS INT) AS dom,
        CAST(QUARTER(o_orderdate) AS INT) AS qtr,
        CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
        CAST(o_orderdate AS DATE) + 30 AS due_date
      FROM orders
      ORDER BY o_orderkey""")),

    // ---- revenue by year x brand (join + derived group key) ----
    QuerySpec(
      "q21_brand_yearly",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("l_shipdate")).as("yr"), col("p_brand"))
          .agg(dsum128(rev).as("revenue"))
          .orderBy("yr", "p_brand")
      },
      Some(s"""SELECT CAST(YEAR(l_shipdate) AS INT) AS yr, p_brand,
        ${dsumSql(revSql)} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
      ORDER BY yr, p_brand""")),

    // ---- exact median / quantiles ----
    QuerySpec(
      "q22_quantity_median",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.9)").as("p90_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
        QUANTILE_CONT(l_quantity, 0.9) AS p90_qty,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // ---- approx distinct (HLL) — algorithm differs from DuckDB's, so
    //      rows-only check; the exact-distinct twin is q16. ----
    QuerySpec(
      "q23_approx_distinct",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
            approx_count_distinct(col("l_orderkey")).as("approx_orders"))
          .orderBy("l_returnflag")
      },
      None),

    // ---- correlated scalar-subquery style: orders above their
    //      customer's average (expressed as join vs grouped avg) ----
    QuerySpec(
      "q24_above_avg_orders",
      (s, d) => {
        val o = Tables.orders(s, d)
        val avgByCust = o.groupBy(col("o_custkey").as("k"))
          .agg(davg128(col("o_totalprice")).as("avg_price"))
        o.join(avgByCust, col("o_custkey") === col("k"))
          .filter(col("o_totalprice") > col("avg_price") * 1.5)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      JOIN (SELECT o_custkey AS k, ${davgSql("o_totalprice")} AS avg_price
            FROM orders GROUP BY o_custkey) a ON o.o_custkey = a.k
      WHERE o_totalprice > avg_price * 1.5
      ORDER BY o_orderkey""")),

    // ---- pivot: priorities become columns (fixed value list so the
    //      output schema is static at any SF) ----
    QuerySpec(
      "q25_pivot_priority",
      (s, d) => {
        val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        Tables.orders(s, d)
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority", priorities)
          .agg(dsum128(col("o_totalprice")))
          .select(col("o_orderstatus") +:
            priorities.map(p => col(s"`$p`").as(p.takeRight(p.length - 2)
              .toLowerCase.replace(" ", "_"))): _*)
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus,
        ${dsumSql("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS urgent,
        ${dsumSql("CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END")} AS high,
        ${dsumSql("CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END")} AS medium,
        ${dsumSql("CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END")} AS not_specified,
        ${dsumSql("CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END")} AS low
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- custom typed Aggregator (§2.9 UDAF surface): exact decimal
    //      sum-of-squares, partial-aggregation-capable ----
    QuerySpec(
      "q26_custom_agg",
      (s, d) => {
        val sumsq = udaf(graft.functions.Aggregators.DecimalSumSq,
          org.apache.spark.sql.Encoders.scalaDouble)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(sumsq(col("l_quantity")).as("sumsq_qty"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
        ${dsumSql("l_quantity * l_quantity")} AS sumsq_qty, COUNT(1) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- set operations: INTERSECT / EXCEPT ----
    QuerySpec(
      "q27_set_ops",
      (s, d) => {
        val o = Tables.orders(s, d)
        // each year's distinct buyer set is read by BOTH set-op
        // branches — persist (scope-tracked) so orders is scanned once
        // per year, not once per branch
        def buyers(yr: Int) = graft.Scoped.persist(o
          .filter(year(col("o_orderdate")) === yr)
          .select(col("o_custkey")).distinct())
        val b97 = buyers(1997)
        val b98 = buyers(1998)
        val both = b97.intersect(b98)
          .select(lit("both").as("cohort"), col("o_custkey"))
        val churned = b97.except(b98)
          .select(lit("churned").as("cohort"), col("o_custkey"))
        both.unionAll(churned)
          .groupBy(col("cohort")).agg(count(lit(1)).as("n"))
          .orderBy("cohort")
      },
      Some("""SELECT cohort, COUNT(1) AS n FROM (
        SELECT 'both' AS cohort, o_custkey FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate)=1997
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate)=1998) a
        UNION ALL
        SELECT 'churned' AS cohort, o_custkey FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate)=1997
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate)=1998) b
      ) t GROUP BY cohort ORDER BY cohort""")),

    // ---- array aggregation + element functions ----
    QuerySpec(
      "q28_array_funcs",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 100)
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_list(col("l_quantity"))).as("qtys"))
          .select(col("l_orderkey"),
            size(col("qtys")).as("n_items"),
            element_at(col("qtys"), 1).as("min_q"),
            element_at(col("qtys"), -1).as("max_q"),
            array_contains(col("qtys"), 30.0).as("has_30"),
            aggregate(col("qtys"), lit(0.0), (a, x) => a + x).as("sum_q"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, CAST(len(qtys) AS INT) AS n_items,
        qtys[1] AS min_q, qtys[-1] AS max_q,
        list_contains(qtys, 30.0) AS has_30,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), qtys),
          (a, x) -> a + x) AS sum_q
      FROM (SELECT l_orderkey, list(l_quantity ORDER BY l_quantity) AS qtys
            FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey) t
      ORDER BY l_orderkey""")),

    // ---- regex functions (replace-all / extract / rlike) ----
    QuerySpec(
      "q29_regex_funcs",
      (s, d) => {
        Tables.part(s, d)
          .select(col("p_partkey"),
            regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
            regexp_extract(col("p_name"), "\\b(\\w{5,})\\b", 1).as("long_word"),
            col("p_name").rlike("red|blue").as("is_colorful"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey,
        regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
        COALESCE(regexp_extract(p_name, '\b(\w{5,})\b', 1), '') AS long_word,
        regexp_matches(p_name, 'red|blue') AS is_colorful
      FROM part ORDER BY p_partkey""")),

    // ---- min_by / max_by argmax aggregates ----
    QuerySpec(
      "q30_argmax",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(max_by(col("c_name"), col("c_acctbal")).as("richest"),
            min_by(col("c_name"), col("c_acctbal")).as("poorest"),
            max(col("c_acctbal")).as("max_bal"),
            min(col("c_acctbal")).as("min_bal"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
        arg_max(c_name, c_acctbal) AS richest,
        arg_min(c_name, c_acctbal) AS poorest,
        MAX(c_acctbal) AS max_bal, MIN(c_acctbal) AS min_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")),

    // ---- skew-handling pattern: salted two-stage aggregation. The
    //      group key (l_returnflag, 3 values) is maximally skewed; the
    //      salt spreads each hot key over 16 reducers, the second
    //      stage re-aggregates the 16 partials. Result is identical to
    //      the direct aggregation (the oracle is the UNSALTED query) —
    //      decimal partials make the two-stage sum order-independent. ----
    QuerySpec(
      "q31_salted_agg",
      (s, d) => {
        val salted = Tables.lineitem(s, d)
          .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(sum(col("l_quantity").cast(DecimalType(28, 10))).as("part_qty"),
            count(lit(1)).as("part_n"))
        salted
          .groupBy(col("l_returnflag"))
          .agg(sum(col("part_qty")).cast("double").as("total_qty"),
            sum(col("part_n")).as("n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, ${dsumSql("l_quantity")} AS total_qty,
        COUNT(1) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- map type: build per-order linenumber→quantity maps ----
    QuerySpec(
      "q32_map_funcs",
      (s, d) => {
        // linenumbers repeat within an order in the fixtures → the map
        // key must be made unique first (sum per line)
        val perLine = Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 100)
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(dsum128(col("l_quantity")).as("qty"))
        perLine
          .groupBy(col("l_orderkey"))
          .agg(map_from_entries(
            array_sort(collect_list(struct(col("l_linenumber"), col("qty")))))
            .as("m"))
          .select(col("l_orderkey"),
            size(col("m")).as("n_lines"),
            element_at(col("m"), 1).as("qty_line1"),
            array_max(map_keys(col("m"))).as("max_line"))
          .orderBy("l_orderkey")
      },
      Some(s"""SELECT l_orderkey, CAST(cardinality(m) AS INT) AS n_lines,
        m[1][1] AS qty_line1,
        list_max(map_keys(m)) AS max_line
      FROM (SELECT l_orderkey, map_from_entries(
              list({'k': l_linenumber, 'v': qty}
                   ORDER BY l_linenumber)) AS m
            FROM (SELECT l_orderkey, l_linenumber,
                    ${dsumSql("l_quantity")} AS qty
                  FROM lineitem WHERE l_orderkey <= 100
                  GROUP BY l_orderkey, l_linenumber) g
            GROUP BY l_orderkey) t
      ORDER BY l_orderkey""")),

    // ---- unpivot (wide → long) ----
    QuerySpec(
      "q33_unpivot",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") <= 50)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_discount"), col("l_tax"))
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "metric", "value")
          .orderBy("l_orderkey", "l_linenumber", "metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, value
      FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
              l_discount, l_tax FROM lineitem WHERE l_orderkey <= 50)
            ON l_quantity, l_discount, l_tax
            INTO NAME metric VALUE value)
      ORDER BY l_orderkey, l_linenumber, metric""")),

    // ---- deterministic key-bucket sampling (the reproducible,
    //      cluster-stable alternative to random TABLESAMPLE) ----
    QuerySpec(
      "q34_bucket_sample",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(20)) === 0) // 5% of orders
          .agg(count(lit(1)).as("n"),
            dsum128(col("l_extendedprice")).as("sampled_revenue"),
            countDistinct(col("l_orderkey")).as("n_orders"))
      },
      Some(s"""SELECT COUNT(1) AS n,
        ${dsumSql("l_extendedprice")} AS sampled_revenue,
        COUNT(DISTINCT l_orderkey) AS n_orders
      FROM lineitem WHERE l_orderkey % 20 = 0""")),

    // ---- the SQL surface end-to-end: temp views + spark.sql (the
    //      same Catalyst plans as the DataFrame API; Spark and DuckDB
    //      here run literally the same query text modulo the decimal
    //      cast helper) ----
    QuerySpec(
      "q35_sql_api",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
        s.sql(s"""
          SELECT o_orderpriority,
            COUNT(DISTINCT o.o_orderkey) AS n_orders,
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,10))) AS DOUBLE)
              AS total_qty
          FROM orders_v o JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
          WHERE o.o_totalprice > 100000.0
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority,
        COUNT(DISTINCT o.o_orderkey) AS n_orders,
        ${dsumSql("l.l_quantity")} AS total_qty
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_totalprice > 100000.0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")),

    // ---- explicit GROUPING SETS + grouping() marker ----
    QuerySpec(
      "q36_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_gs")
        s.sql(s"""
          SELECT COALESCE(o_orderstatus, 'ANY') AS status,
            COALESCE(o_orderpriority, 'ANY') AS priority,
            CAST(grouping(o_orderstatus) AS INT) AS g_status,
            COUNT(1) AS n
          FROM orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
            (o_orderstatus, o_orderpriority))
          ORDER BY status, priority""")
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ANY') AS status,
        COALESCE(o_orderpriority, 'ANY') AS priority,
        CAST(grouping(o_orderstatus) AS INT) AS g_status,
        COUNT(1) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        (o_orderstatus, o_orderpriority))
      ORDER BY status, priority""")),

    // ---- analytic window breadth: ntile / percent_rank / cume_dist /
    //      nth_value ----
    QuerySpec(
      "q37_window_breadth",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d)
          .filter(col("o_custkey") <= 100)
          .select(col("o_orderkey"), col("o_orderstatus"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 9).as("pct_rank"),
            round(cume_dist().over(w), 9).as("cume"),
            nth_value(col("o_orderkey"), 2).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("second_key"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
        CAST(NTILE(4) OVER w AS INT) AS quartile,
        ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 9) AS cume,
        NTH_VALUE(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) AS second_key
      FROM orders
      WHERE o_custkey <= 100
      WINDOW w AS (PARTITION BY o_orderstatus
        ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey""")),

    // ---- fuzzy matching: levenshtein near-match pairs of part names
    //      (the edit-distance leg of the dedup toolkit; bounded subset
    //      keeps the pair space small — the LSH patterns of t09/s05
    //      are the scale path for fuzzy joins too) ----
    QuerySpec(
      "q38_fuzzy_match",
      (s, d) => {
        val p = Tables.part(s, d).filter(col("p_partkey") <= 300)
        val a = p.select(col("p_partkey").as("ka"), col("p_name").as("na"))
        val b = p.select(col("p_partkey").as("kb"), col("p_name").as("nb"))
        a.crossJoin(b).filter(col("ka") < col("kb"))
          .select(col("ka"), col("kb"),
            levenshtein(col("na"), col("nb")).as("dist"))
          .filter(col("dist") <= 4)
          .orderBy("ka", "kb")
      },
      Some("""SELECT a.p_partkey AS ka, b.p_partkey AS kb,
        CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM part a JOIN part b ON a.p_partkey < b.p_partkey
      WHERE a.p_partkey <= 300 AND b.p_partkey <= 300
        AND levenshtein(a.p_name, b.p_name) <= 4
      ORDER BY ka, kb"""))

    // ---- approximate quantiles (GK sketch): bounded-memory
    //      single-pass percentiles — at 100 TB the exact `percentile`
    //      (q22) must hold each group's values; the sketch holds
    //      O(1/accuracy) per group regardless of rows.
    //      ORACLE CONVERSION (e20's exact-regime playbook, in RANK
    //      space): l_quantity is integer-valued 1..50 uniform, so each
    //      value occupies a ~2%-of-rows run of equal elements. The
    //      probes 0.49 and 0.895 sit MID-RUN (inside value 25's and
    //      45's runs at every fixture SF — nearest observed run
    //      boundary ≥ 0.0038 of mass away, measured across
    //      sf0.001/0.01/0.1; sf1/sf10 are duplications of sf0.1 so
    //      their boundaries are identical), while the GK guarantee
    //      bounds the returned element's rank within ±n/accuracy =
    //      ±0.0001·n of the target. Every rank in that window holds
    //      the SAME value, so the sketch answer is provably the exact
    //      order statistic and DuckDB's QUANTILE_DISC hash-matches —
    //      regardless of either engine's rank-definition choice.
    //      VALIDITY BOUND: a corpus whose probed column stops having
    //      ≥0.4%-wide value runs around the probes (e.g. a continuous
    //      l_quantity) exits the regime; the check then downgrades to
    //      the OpsSpec error-bound contract vs the exact q22 twin,
    //      which stays registered either way. ----
    , QuerySpec(
      "q39_approx_quantiles",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("approx_percentile(l_quantity, array(0.49, 0.895), 10000)")
              .as("approx_q"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"),
            col("approx_q")(0).as("approx_q49"),
            col("approx_q")(1).as("approx_q895"),
            col("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        QUANTILE_DISC(l_quantity, 0.49) AS approx_q49,
        QUANTILE_DISC(l_quantity, 0.895) AS approx_q895,
        COUNT(1) AS n
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""))

    // ---- FULL OUTER join: year-over-year customer spend where either
    //      side may be absent (joined a year late, churned, or both).
    //      At scale this is the one join flavor that can't semi-prune
    //      either side — both inputs shuffle on the key, which is why
    //      the aggregates are taken FIRST (orders → one row per
    //      (customer, year)) so the join moves pre-aggregated rows,
    //      not raw orders. ----
    , QuerySpec(
      "q40_full_outer_yoy",
      (s, d) => {
        val o = Tables.orders(s, d)
        def spend(yr: Int) = o
          .filter(year(col("o_orderdate")) === yr)
          .groupBy(col("o_custkey").as(s"k$yr"))
          .agg(dsum128(col("o_totalprice")).as(s"spend_$yr"))
        spend(1997).join(spend(1998),
            col("k1997") === col("k1998"), "full_outer")
          .select(coalesce(col("k1997"), col("k1998")).as("custkey"),
            col("spend_1997"), col("spend_1998"),
            (col("k1997").isNull || col("k1998").isNull).as("partial"))
          .orderBy("custkey")
      },
      Some(s"""SELECT COALESCE(a.k, b.k) AS custkey,
        a.spend_1997, b.spend_1998,
        (a.k IS NULL OR b.k IS NULL) AS partial
      FROM (SELECT o_custkey AS k, ${dsumSql("o_totalprice")} AS spend_1997
            FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1) a
      FULL OUTER JOIN
           (SELECT o_custkey AS k, ${dsumSql("o_totalprice")} AS spend_1998
            FROM orders WHERE year(o_orderdate) = 1998 GROUP BY 1) b
        ON a.k = b.k
      ORDER BY custkey""")),

    // ---- true correlated subqueries through the SQL planner (q24
    //      hand-decorrelates; here Catalyst's RewriteCorrelatedScalar
    //      Subquery + RewritePredicateSubquery do it): orders at 2×
    //      their priority's average that also shipped a returned item.
    //      The scalar AVG uses the decimal-sum form so both engines
    //      produce the identical double. ----
    QuerySpec(
      "q41_subqueries",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_sq")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_sq")
        s.sql("""
          SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM orders_sq o
          WHERE o_totalprice > 2 * (
              SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(28,10)))
                       AS DOUBLE) / COUNT(o2.o_totalprice)
              FROM orders_sq o2
              WHERE o2.o_orderpriority = o.o_orderpriority)
            AND EXISTS (
              SELECT 1 FROM lineitem_sq l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          ORDER BY o_orderkey""")
      },
      Some(s"""SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
          SELECT ${davgSql("o2.o_totalprice")}
          FROM orders o2
          WHERE o2.o_orderpriority = o.o_orderpriority)
        AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      ORDER BY o_orderkey""")),

    // ---- salted SHUFFLE JOIN under engineered skew: one key (0)
    //      holds ~25% of the fact rows, which on a real cluster parks
    //      a quarter of the table on one reducer of a sort-merge join.
    //      Mitigation ladder at 100 TB: (1) broadcast the dim — no
    //      shuffle, no skew (the dim here is ≤1000 rows, so this demo
    //      FORCES merge join to model the dim-too-big regime);
    //      (2) AQE skew-join splitting; (3) this pattern — explode the
    //      dim over 8 deterministic salts, route each fact row to one
    //      salt by hashing a high-cardinality column, join on
    //      (key, salt). Every fact row still meets its dim row exactly
    //      once, so the result is IDENTICAL to the plain join — the
    //      oracle is the unsalted query (the q31 two-stage-agg idea
    //      applied to joins). ----
    QuerySpec(
      "q42_skew_join",
      (s, d) => {
        val nSalt = 8
        val fact = Tables.lineitem(s, d)
          .withColumn("k",
            when(pmod(col("l_orderkey"), lit(4)) === 0, lit(0L))
              .otherwise(pmod(col("l_orderkey"), lit(1000))))
          .withColumn("salt",
            pmod(hash(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey")), lit(nSalt)))
        val dim = Tables.part(s, d)
          .groupBy(pmod(col("p_partkey"), lit(1000)).as("k"))
          .agg(pmod(min(col("p_partkey")), lit(7)).as("d_tag"))
          .withColumn("salt",
            explode(sequence(lit(0), lit(nSalt - 1))))
        fact.join(dim.hint("merge"), Seq("k", "salt"))
          .groupBy(col("d_tag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(28, 10)))
              .cast("double").as("total_qty"))
          .orderBy("d_tag")
      },
      Some(s"""SELECT d_tag, COUNT(1) AS n,
        ${dsumSql("l_quantity")} AS total_qty
      FROM (SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0
                        ELSE l_orderkey % 1000 END AS k, l_quantity
            FROM lineitem) f
      JOIN (SELECT p_partkey % 1000 AS k, MIN(p_partkey) % 7 AS d_tag
            FROM part GROUP BY 1) dim USING (k)
      GROUP BY d_tag ORDER BY d_tag""")),

    // ---- PIVOT: long → wide reshaping with explicit pivot values.
    //      Spark's .pivot over a KNOWN value list is one hash
    //      aggregate (each cell is a filtered partial — map-side
    //      combined, single shuffle on the row key); omitting the
    //      value list would add a distinct-scan job to discover it,
    //      so at 100 TB the explicit list is the only sane form.
    //      Cells sum in decimal (dsum) so both engines emit the
    //      identical double; absent cells are NULL in both. ----
    QuerySpec(
      "q43_pivot",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("O", "F"))
          .agg(sum(col("l_quantity").cast(DecimalType(28, 10)))
            .cast("double"))
          .select(col("l_returnflag"), col("O").as("qty_open"),
            col("F").as("qty_filled"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10)))
          FILTER (WHERE l_linestatus = 'O') AS VARCHAR) AS DOUBLE)
          AS qty_open,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10)))
          FILTER (WHERE l_linestatus = 'F') AS VARCHAR) AS DOUBLE)
          AS qty_filled
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- CUBE / grouping sets: all four (returnflag × linestatus)
    //      marginals in one pass. Spark expands the cube BEFORE the
    //      shuffle (each input row feeds 4 grouping sets, partials
    //      map-side combined) — one shuffle total vs four for the
    //      UNION-of-GROUP-BYs a naive user writes. grouping_id()
    //      disambiguates real NULL keys from subtotal rows; both
    //      engines use the same bit order (first column = MSB). ----
    QuerySpec(
      "q44_cube",
      (s, d) => {
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            dsum128(col("l_extendedprice")).as("revenue"))
          .orderBy("gid", "l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COUNT(1) AS n, ${dsumSql("l_extendedprice")} AS revenue
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus""")),

    // ---- LATERAL join: per-outer-row correlated subquery with its
    //      own ORDER BY/LIMIT — the SQL-standard spelling of "top-N
    //      per group" (here: 2 best-funded suppliers per nation).
    //      Catalyst DECORRELATES it (DecorrelateInnerQuery +
    //      RewriteLateralSubquery): the per-nation limit becomes a
    //      rank-over-window on ONE pass of supplier — the same plan
    //      q37 builds by hand — never a per-row re-execution; N
    //      outer rows at 100 TB cost one shuffle of the inner side,
    //      not N queries. ----
    QuerySpec(
      "q45_lateral_topn",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("nation_lat")
        Tables.supplier(s, d).createOrReplaceTempView("supplier_lat")
        s.sql("""
          SELECT n.n_name, l.s_name, l.s_acctbal
          FROM nation_lat n, LATERAL (
            SELECT s_name, s_acctbal FROM supplier_lat s
            WHERE s.s_nationkey = n.n_nationkey
            ORDER BY s_acctbal DESC, s_name LIMIT 2) l
          ORDER BY n_name, s_acctbal DESC, s_name""")
      },
      Some("""SELECT n.n_name, l.s_name, l.s_acctbal
      FROM nation n, LATERAL (
        SELECT s_name, s_acctbal FROM supplier s
        WHERE s.s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, s_name LIMIT 2) l
      ORDER BY n_name, s_acctbal DESC, s_name""")),

    // ---- recursive CTE: the iteration generates a BOUNDED control
    //      relation (doubling price bands, O(log maxprice) rows) and
    //      the data-sized work is a single broadcast range join +
    //      one aggregation — the right division of labor for
    //      recursion on a cluster: recurse over metadata, join over
    //      data ONCE. Contrast t12/s12, where the data itself is the
    //      fixpoint: there the engine uses the checkpointed
    //      label-propagation loop, not WITH RECURSIVE. Band bounds
    //      are powers of two times 1000 — exact doubles, so both
    //      engines agree bitwise. ----
    QuerySpec(
      "q46_recursive_bands",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_rec")
        s.sql("""
          WITH RECURSIVE bands(lo, hi) AS (
            SELECT CAST(0 AS DOUBLE), CAST(1000 AS DOUBLE)
            UNION ALL SELECT hi, hi * 2 FROM bands WHERE hi < 600000)
          SELECT b.lo, b.hi, COUNT(o.o_orderkey) AS n
          FROM bands b LEFT JOIN orders_rec o
            ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
          GROUP BY b.lo, b.hi ORDER BY b.lo""")
      },
      Some("""WITH RECURSIVE bands(lo, hi) AS (
        SELECT CAST(0 AS DOUBLE), CAST(1000 AS DOUBLE)
        UNION ALL SELECT hi, hi * 2 FROM bands WHERE hi < 600000)
      SELECT b.lo, b.hi, COUNT(o.o_orderkey) AS n
      FROM bands b LEFT JOIN orders o
        ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
      GROUP BY b.lo, b.hi ORDER BY b.lo""")),

    // ---- multiset set operations: INTERSECT ALL / EXCEPT ALL —
    //      bag semantics (multiplicity = min / difference of counts)
    //      vs q27's set forms. Spark plans both as a single
    //      count-and-compare aggregation per key (one shuffle each,
    //      no distinct pass, no join): the generated plan literally
    //      materializes the min/difference of per-side counts —
    //      which is also the right mental model for their cost at
    //      100 TB: same price as a groupBy on the compared columns,
    //      duplicates preserved without a window. ----
    QuerySpec(
      "q47_multiset_ops",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_ms")
        s.sql("""
          WITH a AS (SELECT o_orderpriority FROM orders_ms
                     WHERE o_totalprice > 150000),
          b AS (SELECT o_orderpriority FROM orders_ms
                WHERE o_custkey % 2 = 0),
          i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
          e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
          SELECT 'intersect_all' AS op, o_orderpriority, COUNT(1) AS n
          FROM i GROUP BY o_orderpriority
          UNION ALL
          SELECT 'except_all' AS op, o_orderpriority, COUNT(1) AS n
          FROM e GROUP BY o_orderpriority
          ORDER BY op, o_orderpriority""")
      },
      Some("""WITH a AS (SELECT o_orderpriority FROM orders
                 WHERE o_totalprice > 150000),
      b AS (SELECT o_orderpriority FROM orders WHERE o_custkey % 2 = 0),
      i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
      e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      SELECT 'intersect_all' AS op, o_orderpriority, COUNT(1) AS n
      FROM i GROUP BY o_orderpriority
      UNION ALL
      SELECT 'except_all' AS op, o_orderpriority, COUNT(1) AS n
      FROM e GROUP BY o_orderpriority
      ORDER BY op, o_orderpriority""")),

    // ---- NULL semantics, made explicit: NULLIF manufactures NULL
    //      keys, GROUP BY keeps them as ONE group (SQL null grouping,
    //      not row-dropping), `IS DISTINCT FROM` is the null-safe
    //      comparison (NULL counts as distinct from '2-HIGH' instead
    //      of evaporating into UNKNOWN), and the sort order pins
    //      NULLS FIRST explicitly — engines DIFFER on the default
    //      (Spark ASC = nulls first, DuckDB ASC = nulls last), so
    //      portable SQL must say it. The aggregate itself is one
    //      partial-agg shuffle; a NULL group key hashes like any
    //      other value — no skew, no special-casing at scale. ----
    QuerySpec(
      "q48_null_semantics",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_ns")
        s.sql("""
          SELECT NULLIF(o_orderpriority, '1-URGENT') AS p, COUNT(1) AS n,
            SUM(CASE WHEN NULLIF(o_orderpriority, '1-URGENT')
              IS DISTINCT FROM '2-HIGH' THEN 1 ELSE 0 END) AS n_not_high
          FROM orders_ns GROUP BY p ORDER BY p NULLS FIRST""")
      },
      Some("""SELECT NULLIF(o_orderpriority, '1-URGENT') AS p,
        COUNT(1) AS n,
        CAST(SUM(CASE WHEN NULLIF(o_orderpriority, '1-URGENT')
          IS DISTINCT FROM '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_not_high
      FROM orders GROUP BY p ORDER BY p NULLS FIRST""")),

    // ---- second columnar SOURCE FORMAT: the same relational engine
    //      over ORC. lineitem is rewritten to ORC once per session
    //      (memoized temp table) and the query runs ENTIRELY against
    //      the ORC scan — predicate pushdown and column pruning reach
    //      the ORC reader exactly as they reach parquet (PlanSpec pins
    //      PushedFilters on the OrcScan), and the DuckDB oracle reads
    //      the original parquet, so the hash-match proves the engine
    //      is FORMAT-AGNOSTIC: same bytes-in-rows semantics, same
    //      exact-decimal aggregates, different storage. At 100 TB
    //      this is the migration/interop story — a lakehouse rarely
    //      owns one format. ----
    QuerySpec(
      "q49_orc_source",
      (s, d) => {
        val path = lineitemCopy(s, d, "orc")(_.write.orc(_))
        s.read.orc(path)
          .filter(col("l_shipdate") <= ts("1997-06-30 00:00:00") &&
            col("l_quantity") >= 25)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum128(col("l_quantity")).as("sum_qty"),
            dsum128(rev).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(1) AS n,
        ${dsumSql("l_quantity")} AS sum_qty,
        ${dsumSql(revSql)} AS revenue
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
        AND l_quantity >= 25
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- text-line SOURCE FORMAT: the same engine over JSON lines.
    //      Exactness across the round-trip is the point being proven:
    //      Spark writes doubles as shortest-round-trip decimals and
    //      timestamps as ISO strings, the read applies the ORIGINAL
    //      schema (schema-on-read — no inference drift), and the
    //      decimal-exact aggregates then hash-match the oracle read
    //      from parquet. With q49 (ORC) this completes the format
    //      matrix: columnar-binary ×2, text ×1, plus the csv/binary
    //      ingest paths — one relational engine, any storage. ----
    QuerySpec(
      "q50_json_source",
      (s, d) => {
        val src = Tables.lineitem(s, d)
        val path = lineitemCopy(s, d, "json")(_.write.json(_))
        s.read.schema(src.schema).json(path)
          .filter(col("l_returnflag") === "R" &&
            col("l_discount") >= 0.05)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            dsum128(col("l_extendedprice")).as("sum_price"),
            dsum128(rev).as("revenue"))
          .orderBy("l_linestatus")
      },
      Some(s"""SELECT l_linestatus, COUNT(1) AS n,
        ${dsumSql("l_extendedprice")} AS sum_price,
        ${dsumSql(revSql)} AS revenue
      FROM lineitem
      WHERE l_returnflag = 'R' AND l_discount >= 0.05
      GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // ---- delimited-text SOURCE FORMAT: the same engine over CSV,
    //      completing the format matrix q49 (ORC) and q50 (JSON lines)
    //      started: columnar-binary ×2, structured text ×1, delimited
    //      text ×1. CSV is the weakest format (no types, no nesting),
    //      which is exactly why the proof matters: Spark writes
    //      doubles as shortest-round-trip decimals and ms timestamps
    //      in its default ISO form, the read applies the ORIGINAL
    //      schema (schema-on-read, no inference drift), and the
    //      decimal-exact aggregates hash-match an oracle reading
    //      parquet. At 100 TB, CSV is what the upstream vendor drop
    //      actually looks like — the engine must not bend semantics
    //      to the lowest-common-denominator format. ----
    QuerySpec(
      "q51_csv_source",
      (s, d) => {
        val src = Tables.lineitem(s, d)
        val path = lineitemCopy(s, d, "csv")(
          _.write.option("header", "true").csv(_))
        s.read.schema(src.schema).option("header", "true").csv(path)
          .filter(col("l_linestatus") === "F" && col("l_tax") >= 0.04)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum128(col("l_discount") * col("l_extendedprice")).as("disc_amt"),
            dsum128(rev).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag, COUNT(1) AS n,
        ${dsumSql("l_discount * l_extendedprice")} AS disc_amt,
        ${dsumSql(revSql)} AS revenue
      FROM lineitem
      WHERE l_linestatus = 'F' AND l_tax >= 0.04
      GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- COLUMN PROFILING: the audit pass every ingest runs before
    //      trusting a new table — per-column row/null/distinct counts,
    //      numeric min/max, string mean length — as ONE declarative
    //      plan: a SINGLE wide aggregate over a SINGLE scan. Catalyst
    //      rewrites the 11 exact COUNT(DISTINCT)s plus the plain aggs
    //      into one multi-way Expand + two-phase aggregate, so the
    //      two passes over the scan, each the best shape for its
    //      aggregates: a plain partial+final aggregate for row/null
    //      counts, min/max, mean length (no Expand — fusing these
    //      INTO the distinct aggregate drags every stat column
    //      through the 12-way Expand's row multiplication; profiled
    //      1.7× slower), and — since r16 — PER-COLUMN two-stage
    //      distinct aggregates for the exact NDVs: each column gets
    //      its own pruned single-column scan → partial-distinct
    //      HashAggregate (map-side dedup) → exchange of DISTINCT
    //      VALUES only → 1-row count (guide §2, distinct-aggregate
    //      shaping). The r15 Expand form multiplied the full 11-column
    //      scan ×11 and shuffled the expanded multiset under a
    //      12-column key; the per-column form shuffles each column's
    //      distinct values under a 1-column key and reads each column
    //      once (columnar scans — total I/O ≈ one table pass), with
    //      NO Expand anywhere in the plan. The 12 one-row results
    //      meet in free 1×1 cross joins and unpivot to a row per
    //      column. Exact NDV is the oracle-exactness trade, same as
    //      q01's decimal sums: at 100 TB swap count_distinct for
    //      approx_count_distinct (e09's HLL pattern) and the whole
    //      NDV side collapses back into the plain aggregate. ----
    QuerySpec(
      "q52_column_profile",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val aggs = profileCols.flatMap { case (c, kind) =>
          Seq(count(col(c)).as(s"${c}__cnt")) ++ (kind match {
            case "num" => Seq(
              min(col(c)).cast("double").as(s"${c}__min"),
              max(col(c)).cast("double").as(s"${c}__max"),
              lit(null).cast("double").as(s"${c}__len"))
            case "str" => Seq(
              lit(null).cast("double").as(s"${c}__min"),
              lit(null).cast("double").as(s"${c}__max"),
              davg128(length(col(c))).as(s"${c}__len"))
            case _ => Seq(
              lit(null).cast("double").as(s"${c}__min"),
              lit(null).cast("double").as(s"${c}__max"),
              lit(null).cast("double").as(s"${c}__len"))
          })
        }
        // exact NDV per column as its own two-stage distinct: the
        // single-column scan feeds a partial-distinct HashAggregate
        // (map-side dedup), only DISTINCT values cross the exchange,
        // and a 1-row count finishes. COUNT(DISTINCT c) ignores
        // nulls, hence the isNotNull guard; the 1×1 cross joins are
        // free (BroadcastNestedLoopJoin over single rows).
        val ndvs = profileCols.map { case (c, _) =>
          li.select(col(c)).filter(col(c).isNotNull)
            .distinct()
            .agg(count(lit(1)).as(s"${c}__ndv"))
        }.reduce(_.crossJoin(_))
        val one = li.agg(count(lit(1)).as("__n"), aggs: _*)
          .crossJoin(ndvs) // 1 row × 1 row
        one.select(explode(array(profileCols.map {
            case (c, _) =>
              struct(lit(c).as("col_name"),
                col("__n").as("n_rows"),
                (col("__n") - col(s"${c}__cnt")).as("n_nulls"),
                col(s"${c}__ndv").as("n_distinct"),
                col(s"${c}__min").as("min_num"),
                col(s"${c}__max").as("max_num"),
                col(s"${c}__len").as("avg_len"))
          }: _*)).as("p"))
          .select("p.*")
          .orderBy("col_name")
      },
      Some {
        val parts = profileCols.map { case (c, kind) =>
          val minmax =
            if (kind == "num")
              s"CAST(MIN($c) AS DOUBLE) AS min_num, " +
                s"CAST(MAX($c) AS DOUBLE) AS max_num"
            else "CAST(NULL AS DOUBLE) AS min_num, " +
              "CAST(NULL AS DOUBLE) AS max_num"
          val len =
            if (kind == "str") s"${davgSql(s"LENGTH($c)")} AS avg_len"
            else "CAST(NULL AS DOUBLE) AS avg_len"
          s"""SELECT '$c' AS col_name, COUNT(1) AS n_rows,
            COUNT(1) - COUNT($c) AS n_nulls,
            COUNT(DISTINCT $c) AS n_distinct, $minmax, $len
          FROM lineitem"""
        }
        s"SELECT * FROM (${parts.mkString(" UNION ALL ")}) " +
          "ORDER BY col_name"
      }),

    // ---- GRAPH ANALYTICS: PageRank over the nation-to-nation trade
    //      network (customer nation → supplier nation, edges weighted
    //      by revenue). The decomposition that scales: the ONLY
    //      data-sized stage is building the weighted edge list — a
    //      5-way star join + one aggregate, the same shape as q05 —
    //      which runs fully distributed. The AGGREGATED graph is
    //      bounded by construction at ≤ nations² rows (25² = 625 at
    //      EVERY scale factor — nation is a fixed dimension), so the
    //      10 damped iterations (d=0.85) run on the driver over the
    //      collected transition table: the same bounded-model-collect
    //      pattern as kMeansModel (Similarity.scala) — collect a
    //      statistics table that is small by construction, never
    //      corpus data. The previous dataflow loop (broadcast join +
    //      group-by + localCheckpoint per round) was semantically
    //      identical but paid ~0.3 s of job scheduling per round on a
    //      625-row relation — 3.2 s of pure overhead at any SF.
    //      Arithmetic is replicated bit-for-bit: each per-edge term
    //      p·r is quantized to decimal(28,10) through the exact
    //      Double.toString route Spark's Cast(double→decimal) uses
    //      (java BigDecimal.valueOf), summed exactly, and converted
    //      once to double — the dsum contract — so 10 compounded
    //      rounds stay bitwise-identical to the DuckDB oracle, which
    //      replays the same iterations as chained MATERIALIZED CTEs
    //      (t38's pattern). ----
    QuerySpec(
      "q53_nation_pagerank",
      (s, d) => {
        val nat = Tables.nation(s, d)
        val edges = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey"))
          .join(nat.select(col("n_nationkey").as("cnk"),
            col("n_name").as("src")), col("c_nationkey") === col("cnk"))
          .join(nat.select(col("n_nationkey").as("snk"),
            col("n_name").as("dst")), col("s_nationkey") === col("snk"))
          .groupBy(col("src"), col("dst"))
          .agg(dsum128(rev).as("w"))
        // ow stays on the DECIMAL dsum, not dsum128: each input row here
        // is itself an already-aggregated revenue sum w (~3.5e8 at SF1,
        // growing linearly with SF), which crosses DecimalTicks' per-ROW
        // bound |x| < 9.2e8 around SF~2.6 — dsum's decimal cast has no
        // per-row limit and is bit-identical (same quantization route).
        val outW = edges.groupBy(col("src")).agg(dsum(col("w")).as("ow"))
        // transition probabilities, normalized once — w and ow are
        // doubles (dsum's contract), so p is one IEEE double division,
        // identical in Spark and on the driver
        val edgesP = edges.join(outW, "src")
          .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
        // ONE distributed job; ≤ nations² rows come back
        val ep: Array[(String, String, Double)] =
          edgesP.collect().map(r =>
            (r.getString(0), r.getString(1), r.getDouble(2)))
        val nodes: Array[String] =
          (ep.map(_._1) ++ ep.map(_._2)).distinct.sorted
        val nNodes = nodes.length
        // Spark's Cast(double → decimal(28,10)): BigDecimal.valueOf
        // (the Double.toString route, NOT the exact binary expansion),
        // then HALF_UP to scale 10 — replicated exactly.
        def q10(x: Double): java.math.BigDecimal =
          java.math.BigDecimal.valueOf(x)
            .setScale(10, java.math.RoundingMode.HALF_UP)
        var rank: Map[String, Double] =
          nodes.map(_ -> 1.0 / nNodes).toMap
        for (_ <- 1 to PageRankRounds) {
          val contrib = new scala.collection.mutable.HashMap[
            String, java.math.BigDecimal]()
          ep.foreach { case (src, dst, p) =>
            val t = q10(p * rank(src)) // dsum's per-term quantization
            contrib.update(dst,
              contrib.getOrElse(dst, java.math.BigDecimal.ZERO).add(t))
          }
          rank = nodes.map { n =>
            val c = contrib.get(n).map(_.doubleValue).getOrElse(0.0)
            n -> (0.15 / nNodes + 0.85 * c)
          }.toMap
        }
        import s.implicits._
        nodes.map(n => (n, rank(n))).toSeq
          .toDF("nation", "pagerank").orderBy("nation")
      },
      Some(pageRankSql(PageRankRounds)),
    ),

    // ---- REFERENTIAL-INTEGRITY AUDIT: the constraint checks an
    //      ingest runs after q52's statistical profile — orphan
    //      foreign keys (anti-joins), duplicate natural keys, domain
    //      ranges — as ONE declarative union of violation counts.
    //      Plan shape at 100 TB: the three range checks fold into a
    //      SINGLE conditional-sum pass over lineitem; the key-dup
    //      check is one groupBy on the composite key; the orphan
    //      checks are anti-joins that ship only the key columns
    //      (left_semi/anti prune everything else at the scan). A
    //      clean corpus reports zeros — the AUDIT is the product, so
    //      zero rows-with-violations is still a hash-checkable
    //      result, not an empty one. ----
    QuerySpec(
      "q54_integrity_audit",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
        def one(name: String, v: Column): DataFrame => DataFrame =
          df => df.agg(coalesce(v, lit(0L)).cast("long").as("n_violations"))
            .select(lit(name).as("check_name"), col("n_violations"))
        val ranges = li.agg(
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("disc"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("qty"),
          sum(when(col("l_shipdate") < ts("1992-01-01 00:00:00") ||
            col("l_shipdate") >= ts("1999-01-01 00:00:00"), 1L)
            .otherwise(0L)).as("ship"))
        val rangeRows = ranges.select(explode(array(
          struct(lit("discount_range").as("check_name"),
            col("disc").as("n_violations")),
          struct(lit("nonpositive_qty").as("check_name"),
            col("qty").as("n_violations")),
          struct(lit("shipdate_range").as("check_name"),
            col("ship").as("n_violations")))).as("p"))
          .select("p.*")
        val dupKeys = one("dup_lineitem_key", sum(col("c") - 1))(
          li.groupBy(col("l_orderkey"), col("l_linenumber"))
            .agg(count(lit(1)).as("c")).filter(col("c") > 1))
        val orphanLi = one("orphan_lineitem", count(lit(1)))(
          li.join(ord, col("l_orderkey") === col("o_orderkey"),
            "left_anti"))
        val orphanOrd = one("orphan_order", count(lit(1)))(
          ord.join(cust, col("o_custkey") === col("c_custkey"),
            "left_anti"))
        rangeRows.unionByName(dupKeys).unionByName(orphanLi)
          .unionByName(orphanOrd)
          .orderBy("check_name")
      },
      Some("""SELECT * FROM (
        SELECT 'discount_range' AS check_name,
          CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM lineitem
        UNION ALL
        SELECT 'nonpositive_qty',
          CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
            AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'shipdate_range',
          CAST(SUM(CASE WHEN
            l_shipdate < TIMESTAMP '1992-01-01 00:00:00'
            OR l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
            THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'dup_lineitem_key',
          COALESCE(CAST(SUM(c - 1) AS BIGINT), 0)
        FROM (SELECT COUNT(1) AS c FROM lineitem
              GROUP BY l_orderkey, l_linenumber) g
        WHERE c > 1
        UNION ALL
        SELECT 'orphan_lineitem', CAST(COUNT(1) AS BIGINT)
        FROM lineitem WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orphan_order', CAST(COUNT(1) AS BIGINT)
        FROM orders WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer)
      ) ORDER BY check_name""")),

    // ---- TPC-H Q2 SHAPE: min-cost correlated scalar subquery across
    //      FIVE tables (part × lineitem × supplier × nation × region;
    //      lineitem stands in for partsupp — the fixtures carry no
    //      partsupp table, and l_extendedprice·(1−l_discount) is the
    //      per-offer cost). The interesting property is NOT the
    //      answer, it's the PLAN: a naive engine re-executes the
    //      4-table subquery once per outer row; Catalyst's
    //      RewriteCorrelatedScalarSubquery decorrelates it into ONE
    //      per-part min aggregate joined back to the outer join tree
    //      (PlanSpec pins: no scalar-subquery node survives in the
    //      physical plan). At 100 TB that is the difference between
    //      one shuffle and |part| shuffles. Region filter reaches
    //      both scans as a pushed predicate; nation/region broadcast
    //      (≤25 rows). ----
    QuerySpec(
      "q55_min_cost_supplier",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("part_q55")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q55")
        Tables.supplier(s, d).createOrReplaceTempView("supplier_q55")
        Tables.nation(s, d).createOrReplaceTempView("nation_q55")
        Tables.region(s, d).createOrReplaceTempView("region_q55")
        s.sql("""
          SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
            l.l_extendedprice * (1 - l.l_discount) AS offer_price
          FROM part_q55 p, lineitem_q55 l, supplier_q55 s,
               nation_q55 n, region_q55 r
          WHERE l.l_partkey = p.p_partkey AND s.s_suppkey = l.l_suppkey
            AND s.s_nationkey = n.n_nationkey
            AND n.n_regionkey = r.r_regionkey
            AND r.r_name = 'ASIA' AND p.p_size < 10
            AND l.l_extendedprice * (1 - l.l_discount) = (
              SELECT MIN(l2.l_extendedprice * (1 - l2.l_discount))
              FROM lineitem_q55 l2, supplier_q55 s2,
                   nation_q55 n2, region_q55 r2
              WHERE l2.l_partkey = p.p_partkey
                AND s2.s_suppkey = l2.l_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey
                AND r2.r_name = 'ASIA')
          ORDER BY p_partkey, s_name""")
      },
      Some("""SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
        l.l_extendedprice * (1 - l.l_discount) AS offer_price
      FROM part p, lineitem l, supplier s, nation n, region r
      WHERE l.l_partkey = p.p_partkey AND s.s_suppkey = l.l_suppkey
        AND s.s_nationkey = n.n_nationkey
        AND n.n_regionkey = r.r_regionkey
        AND r.r_name = 'ASIA' AND p.p_size < 10
        AND l.l_extendedprice * (1 - l.l_discount) = (
          SELECT MIN(l2.l_extendedprice * (1 - l2.l_discount))
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p.p_partkey
            AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey
            AND r2.r_name = 'ASIA')
      ORDER BY p_partkey, s_name""")),

    // ---- TPC-H Q21 SHAPE: the double EXISTS / NOT EXISTS self-join
    //      on the fact table — suppliers of 'F' orders whose line was
    //      RETURNED (l_returnflag = 'R'; the fixtures carry no
    //      receipt/commit dates, so "kept the order waiting" becomes
    //      "was the returned line") while SOME other supplier shared
    //      the order (semi-join) and NO other supplier's line was
    //      returned (anti-join). Catalyst plans both subqueries as
    //      LeftSemi/LeftAnti joins on l_orderkey against the SAME
    //      lineitem relation — never a per-row probe (PlanSpec pins
    //      both join types present, no subquery node). The two
    //      self-joins share the fact table's shuffle key, so at
    //      100 TB they ride one exchange of 8-byte keys + flags, not
    //      two corpus copies. ----
    QuerySpec(
      "q56_blame_sole_supplier",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier_q56")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q56")
        Tables.orders(s, d).createOrReplaceTempView("orders_q56")
        Tables.nation(s, d).createOrReplaceTempView("nation_q56")
        s.sql("""
          SELECT s.s_name, COUNT(*) AS numwait
          FROM supplier_q56 s, lineitem_q56 l1, orders_q56 o,
               nation_q56 n
          WHERE s.s_suppkey = l1.l_suppkey
            AND o.o_orderkey = l1.l_orderkey
            AND o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
            AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
            AND EXISTS (SELECT 1 FROM lineitem_q56 l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lineitem_q56 l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
          GROUP BY s.s_name
          ORDER BY numwait DESC, s_name""")
      },
      Some("""SELECT s.s_name, COUNT(*) AS numwait
      FROM supplier s, lineitem l1, orders o, nation n
      WHERE s.s_suppkey = l1.l_suppkey
        AND o.o_orderkey = l1.l_orderkey
        AND o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s.s_name
      ORDER BY numwait DESC, s_name""")),

    // ---- TPC-H Q20 SHAPE: the nested IN → IN → correlated-scalar
    //      stack ("excess suppliers"). The fixtures have no partsupp,
    //      so availability becomes the supplier's own 1997 shipped
    //      quantity per part, and the demand benchmark is that part's
    //      corpus-wide 1996 quantity — the same three-deep nesting:
    //      an IN over parts (name prefix), a grouped derived table,
    //      and a scalar subquery correlated on the group key. Catalyst
    //      decorrelates all three (PlanSpec pins: no per-row subquery
    //      probe; the correlated SUM becomes an aggregate joined on
    //      l_partkey). Quantity sums ride DECIMAL(28,10) so the
    //      2·q97 > q96 gate is exact-arithmetic in both engines —
    //      a double SUM here would make membership order-dependent.
    //      At 100 TB: two filtered fact scans shuffled on the same
    //      8-byte part key, then a key-only semi-join chain up to the
    //      25-row supplier dimension — no data-sized broadcast. ----
    QuerySpec(
      "q57_excess_suppliers",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier_q57")
        Tables.nation(s, d).createOrReplaceTempView("nation_q57")
        Tables.part(s, d).createOrReplaceTempView("part_q57")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q57")
        s.sql("""
          SELECT s.s_name, s.s_acctbal, n.n_name
          FROM supplier_q57 s, nation_q57 n
          WHERE s.s_nationkey = n.n_nationkey
            AND s.s_suppkey IN (
              SELECT g.suppkey FROM (
                SELECT l.l_suppkey AS suppkey, l.l_partkey AS partkey,
                  SUM(CAST(l.l_quantity AS DECIMAL(28,10))) AS q97
                FROM lineitem_q57 l
                WHERE l.l_partkey IN (
                    SELECT p_partkey FROM part_q57
                    WHERE p_name LIKE 'small%')
                  AND year(l.l_shipdate) = 1997
                GROUP BY l.l_suppkey, l.l_partkey) g
              WHERE 2 * g.q97 > (
                SELECT SUM(CAST(l2.l_quantity AS DECIMAL(28,10)))
                FROM lineitem_q57 l2
                WHERE l2.l_partkey = g.partkey
                  AND year(l2.l_shipdate) = 1996))
          ORDER BY s.s_name""")
      },
      Some("""SELECT s.s_name, s.s_acctbal, n.n_name
      FROM supplier s, nation n
      WHERE s.s_nationkey = n.n_nationkey
        AND s.s_suppkey IN (
          SELECT g.suppkey FROM (
            SELECT l.l_suppkey AS suppkey, l.l_partkey AS partkey,
              SUM(CAST(l.l_quantity AS DECIMAL(28,10))) AS q97
            FROM lineitem l
            WHERE l.l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND year(l.l_shipdate) = 1997
            GROUP BY l.l_suppkey, l.l_partkey) g
          WHERE 2 * g.q97 > (
            SELECT SUM(CAST(l2.l_quantity AS DECIMAL(28,10)))
            FROM lineitem l2
            WHERE l2.l_partkey = g.partkey
              AND year(l2.l_shipdate) = 1996))
      ORDER BY s.s_name""")),

    // ---- TPC-H Q22 SHAPE: "lost customers" — an UNCORRELATED scalar
    //      subquery (global positive-balance average, executed ONCE as
    //      a SubqueryExec, never per row) combined with a NOT EXISTS
    //      anti-join against the fact table, rolled up per nation.
    //      (Every fixture customer has SOME order, so the churn gate
    //      is "no order since 2000" — the anti-join runs against a
    //      date-filtered fact scan, same shape, nonempty answer.)
    //      The average rides the dsum/davg decimal route on BOTH
    //      sides: a double SUM would make the qualifying SET itself
    //      order-dependent, not just a statistic. At 100 TB: one
    //      customer scan + a key-only anti-join against orders on the
    //      8-byte custkey; the scalar is a broadcast of ONE row. ----
    QuerySpec(
      "q58_lost_customers",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_q58")
        Tables.orders(s, d).createOrReplaceTempView("orders_q58")
        s.sql("""
          SELECT c.c_nationkey AS cntry, COUNT(*) AS numcust,
            CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
              AS totacctbal
          FROM customer_q58 c
          WHERE c.c_acctbal > (
              SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,10)))
                     AS DOUBLE) / COUNT(*)
              FROM customer_q58 c2 WHERE c2.c_acctbal > 0.0)
            AND NOT EXISTS (SELECT 1 FROM orders_q58 o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
          GROUP BY c.c_nationkey
          ORDER BY cntry""")
      },
      Some(s"""SELECT c.c_nationkey AS cntry, COUNT(*) AS numcust,
        ${dsumSql("c.c_acctbal")} AS totacctbal
      FROM customer c
      WHERE c.c_acctbal > (
          SELECT ${davgSql("c2.c_acctbal")}
          FROM customer c2 WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      GROUP BY c.c_nationkey
      ORDER BY cntry""")),

    // ---- CUMULATIVE DISTINCT over an ordered window — the query
    //      neither engine supports directly (COUNT(DISTINCT) OVER
    //      (ORDER BY …) is rejected by Spark AND DuckDB), rewritten
    //      the way an engine should: distinct-first-touch (each
    //      supplier collapses to its FIRST ship month — one groupBy
    //      on the supplier key) then a running SUM of first-touch
    //      counts per nation. The rewrite turns an O(window²)
    //      dedup-per-frame into one aggregate + a window over the
    //      |nations|×|months| relation. Both sides implement the SAME
    //      rewrite, so the hash-match certifies it IS the cumulative
    //      distinct. Months where no supplier debuts carry no row
    //      (the cum value resumes at the next debut month) — the
    //      sparse-series form, like e28's shrinking baseline. Scale:
    //      the only data-sized shuffle is the per-supplier min;
    //      dimensions broadcast; the window input is bounded. ----
    QuerySpec(
      "q59_cumulative_distinct",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))
        val firstShip = li
          .select(col("l_suppkey"),
            to_date(date_trunc("month", col("l_shipdate"))).as("month"))
          .groupBy(col("l_suppkey"))
          .agg(min(col("month")).as("first_month"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        val w = Window.partitionBy(col("nation")).orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firstShip
          .groupBy(col("n_name").as("nation"),
            col("first_month").as("month"))
          .agg(count(lit(1)).as("n_new_suppliers"))
          .withColumn("cum_suppliers",
            sum(col("n_new_suppliers")).over(w))
          .orderBy("nation", "month")
      },
      Some("""WITH fs AS (
        SELECT l_suppkey,
          MIN(CAST(date_trunc('month', l_shipdate) AS DATE)) AS first_month
        FROM lineitem GROUP BY l_suppkey),
      cnt AS (
        SELECT n.n_name AS nation, f.first_month AS month,
          COUNT(1) AS n_new_suppliers
        FROM fs f JOIN supplier s ON f.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2)
      SELECT nation, month, n_new_suppliers,
        CAST(SUM(n_new_suppliers) OVER (PARTITION BY nation
          ORDER BY month
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_suppliers
      FROM cnt ORDER BY nation, month""")),

    // ---- revenue CONCENTRATION (Pareto): how many customers cover
    //      80% of revenue, and what share the top decile holds — the
    //      classic "whale" analysis. The global ordered prefix sum is
    //      built the DISTRIBUTED way (t32's trick on the revenue
    //      domain): customers bucket by a fixed $25k revenue band (a
    //      monotone function of the sort key with a bounded, SF-free
    //      band count), the running sum is a window WITHIN each
    //      band, and ≤ ~30 band totals become broadcast offsets —
    //      never a 1-partition window over the customer relation.
    //      Revenue stays DECIMAL through every cumulative step, so
    //      order never matters; the 80% crossing is the exact integer
    //      comparison cum·5 < total·4; only the final shares cast to
    //      double through the dsum hop. ----
    QuerySpec(
      "q60_revenue_pareto",
      (s, d) => {
        // three plan branches (window, offsets, total) read the same
        // per-customer aggregate — persist or the orders shuffle
        // recomputes per branch (package.scala's Scoped convention)
        val base = graft.Scoped.persist(Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(28,10)")).as("rev"))
          .withColumn("bkt", floor(col("rev") / 25000).cast("int")))
        val wIn = Window.partitionBy(col("bkt"))
          .orderBy(desc("rev"), col("o_custkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val withIn = base
          .withColumn("cum_rev_in", sum(col("rev")).over(wIn))
          .withColumn("cum_n_in", count(lit(1)).over(wIn))
        val wOff = Window.orderBy(desc("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = base.groupBy(col("bkt"))
          .agg(sum(col("rev")).as("brev"), count(lit(1)).as("bn"))
          .withColumn("rev_off", coalesce(sum(col("brev")).over(wOff),
            lit(0).cast("decimal(38,10)")))
          .withColumn("n_off", coalesce(sum(col("bn")).over(wOff),
            lit(0L)))
          .select(col("bkt"), col("rev_off"), col("n_off"))
        val tot = base.agg(sum(col("rev")).as("trev"),
          count(lit(1)).as("tn"))
        withIn.join(broadcast(offs), "bkt").crossJoin(broadcast(tot))
          .select(col("rev"),
            (col("rev_off") + col("cum_rev_in")).as("cum_rev"),
            (col("n_off") + col("cum_n_in")).as("cum_n"),
            col("trev"), col("tn"))
          .agg(max(col("tn")).as("n_customers"),
            max(col("trev")).cast("double").as("total_revenue"),
            (sum(when(col("cum_rev") * 5 < col("trev") * 4, 1L)
              .otherwise(0L)) + 1).as("n_top80"),
            (sum(when(col("cum_n") <= (col("tn") / 10).cast("long"),
              col("rev"))).cast("double") /
              max(col("trev")).cast("double")).as("top_decile_share"))
      },
      Some("""WITH base AS (
        SELECT o_custkey,
          SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS rev
        FROM orders GROUP BY o_custkey),
      b2 AS (SELECT o_custkey, rev,
               CAST(floor(rev / 25000) AS INT) AS bkt FROM base),
      win AS (
        SELECT o_custkey, rev, bkt,
          SUM(rev) OVER (PARTITION BY bkt ORDER BY rev DESC, o_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_rev_in,
          COUNT(1) OVER (PARTITION BY bkt ORDER BY rev DESC, o_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_n_in
        FROM b2),
      offs AS (
        SELECT bkt,
          COALESCE(SUM(brev) OVER (ORDER BY bkt DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS rev_off,
          COALESCE(SUM(bn) OVER (ORDER BY bkt DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_off
        FROM (SELECT bkt, SUM(rev) AS brev, COUNT(1) AS bn
              FROM b2 GROUP BY bkt) t),
      tot AS (SELECT SUM(rev) AS trev, COUNT(1) AS tn FROM b2),
      j AS (
        SELECT w.rev, o.rev_off + w.cum_rev_in AS cum_rev,
          o.n_off + w.cum_n_in AS cum_n, t.trev, t.tn
        FROM win w JOIN offs o USING (bkt), tot t)
      SELECT MAX(tn) AS n_customers,
        CAST(CAST(MAX(trev) AS VARCHAR) AS DOUBLE) AS total_revenue,
        CAST(SUM(CASE WHEN cum_rev * 5 < trev * 4 THEN 1 ELSE 0 END)
          + 1 AS BIGINT) AS n_top80,
        CAST(CAST(SUM(CASE WHEN cum_n <= tn // 10 THEN rev END)
            AS VARCHAR) AS DOUBLE)
          / CAST(CAST(MAX(trev) AS VARCHAR) AS DOUBLE)
          AS top_decile_share
      FROM j""")),

    // ---- DYNAMIC PARTITION PRUNING: the fact table is materialized
    //      once per session PARTITIONED by ship month (the production
    //      layout for a date-keyed 100 TB fact), and the query joins
    //      it on that partition column against a dim derived from a
    //      filtered orders scan — months known only at RUNTIME, so no
    //      static predicate can prune. Catalyst inserts a
    //      DynamicPruningSubquery reusing the broadcast: only the
    //      ~3 matching month directories are ever listed or read, the
    //      exact mechanism that turns a 100 TB scan into a 3-partition
    //      read when the filter lives on the other side of a join
    //      (PlanSpec pins `dynamicpruning` in the scan's partition
    //      filters). ----
    QuerySpec(
      "q61_dpp_prune",
      (s, d) => {
        val fact = s.read.parquet(lineitemCopy(s, d, "dpp") {
          (li, out) => li
            .withColumn("l_ship_month",
              date_format(col("l_shipdate"), "yyyy-MM"))
            .write.partitionBy("l_ship_month").parquet(out)
        })
        val months = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
            col("o_orderdate") < ts("1995-04-01 00:00:00"))
          .select(date_format(col("o_orderdate"), "yyyy-MM")
            .as("l_ship_month"))
          .distinct()
        fact.join(broadcast(months), "l_ship_month")
          .groupBy(col("l_ship_month"))
          .agg(count(lit(1)).as("n"), dsum128(rev).as("revenue"))
          .orderBy("l_ship_month")
      },
      Some(s"""SELECT strftime(l_shipdate, '%Y-%m') AS l_ship_month,
        COUNT(1) AS n, ${dsumSql(revSql)} AS revenue
      FROM lineitem
      WHERE strftime(l_shipdate, '%Y-%m') IN (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00')
      GROUP BY 1 ORDER BY 1"""))
  )

  /** q53 oracle: the identical edge build + `k` damped iterations as
    * chained MATERIALIZED CTEs (multi-referenced CTEs must not
    * inline — see bpeTrainCtes' note in Text.scala). */
  private def pageRankSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH edges AS MATERIALIZED (
      SELECT cn.n_name AS src, sn.n_name AS dst,
        ${dsumSql(revSql)} AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY 1, 2),
    out_w AS MATERIALIZED (
      SELECT src, ${dsumSql("w")} AS ow FROM edges GROUP BY 1),
    nodes AS MATERIALIZED (
      SELECT DISTINCT n FROM (
        SELECT src AS n FROM edges
        UNION SELECT dst AS n FROM edges) u),
    nn AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nodes),
    r0 AS MATERIALIZED (
      SELECT n, 1.0 / (SELECT cnt FROM nn) AS r FROM nodes)"""
    for (i <- 1 to k) {
      sb ++= s""",
    r$i AS MATERIALIZED (
      SELECT nodes.n,
        0.15 / (SELECT cnt FROM nn) +
          0.85 * COALESCE(contrib.c, 0.0) AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS n, ${dsumSql("(e.w / o.ow) * p.r")} AS c
        FROM edges e
        JOIN out_w o ON e.src = o.src
        JOIN r${i - 1} p ON e.src = p.n
        GROUP BY 1) contrib ON nodes.n = contrib.n)"""
    }
    sb ++= s"""
    SELECT n AS nation, r AS pagerank FROM r$k ORDER BY nation"""
    sb.toString
  }

  /** Session-memoized copies of lineitem: ORC, JSON and CSV (q49–q51)
    * and month-partitioned parquet for the DPP demonstration (q61). */
  private val copyMemo = Spill.tables[(String, String)]

  /** `d`'s lineitem, written by `write` into a spill table once per
    * session, `tag` and lineitem version; returns its path. */
  private def lineitemCopy(s: SparkSession, d: String, tag: String)
      (write: (DataFrame, String) => Unit): String =
    copyMemo.getOrCompute(s, (d, tag), Tables.fingerprint(s, d, "lineitem"))(
      Spill.table(s, tag)(write(Tables.lineitem(s, d), _)))
}
