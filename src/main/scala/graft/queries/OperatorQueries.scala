package graft
package queries

import graft.ops.{Aggs, Layout, Relational, Reshape}
import graft.queries.Shared._
import graft.streaming.Events
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-operator queries (SURVEY.md §2.1-2.10): aggregation,
  * joins, windows, reshape, scalar functions, unions, the batch twins
  * of the event-stream operators, as-of and interval joins, over the
  * TPC-H-shaped harness tables and `events`. Each query is declared
  * once, next to its DuckDB oracle SQL. */
object OperatorQueries {

  lazy val all: Seq[Query] = Seq(

    // ---- aggregations (§2.4 A1-A3) ----
    Query("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(cents(col("l_extendedprice"), 2)) / 100.0).as("sum_base_price"),
          (sum(cents(extDisc, 4)) / 10000.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_base_price,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT)/10000.0 AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- multi-way dimension join (§2.3 J1/J2/J9) ----
    Query("q02_region_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          (sum(cents(extDisc, 4)) / 10000.0).as("revenue"),
          count_distinct(col("o_orderkey")).as("n_orders"))
    }, Some(
      """SELECT r_name,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT)/10000.0 AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),

    // ---- top-n after aggregation (§2.4 A12) ----
    Query("q03_top_orders", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg((sum(cents(extDisc, 4)) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }, Some(
      """SELECT l_orderkey,
        | CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT)/10000.0 AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // ---- left join with unmatched rows (§2.3 J1, §2.2 P6) ----
    Query("q04_part_line_stats", (s, dir) => {
      val part = t(s, dir, "part")
      val li = t(s, dir, "lineitem")
      part.join(li, part("p_partkey") === li("l_partkey"), "left")
        .groupBy("p_partkey")
        .agg(
          count(col("l_orderkey")).as("n_lines"),
          coalesce(sum(col("l_quantity")), lit(0.0)).as("total_qty"))
    }, Some(
      """SELECT p_partkey, count(l_orderkey) AS n_lines,
        | coalesce(sum(l_quantity), 0.0) AS total_qty
        |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY p_partkey""".stripMargin)),

    // ---- semi join (§2.3 J6) ----
    Query("q05_big_order_customers", (s, dir) => {
      val big = t(s, dir, "orders").where(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),

    // ---- anti join (§2.3 J7) ----
    Query("q06_never_bulk_ordered", (s, dir) => {
      val bulk = t(s, dir, "lineitem").where(col("l_quantity") >= 48)
      t(s, dir, "part")
        .join(bulk, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
    }, Some(
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 48)""".stripMargin)),

    // ---- full outer join (§2.3 J5, §2.2 P15) ----
    Query("q07_nation_coverage", (s, dir) => {
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_suppliers"))
      cn.join(sn, Seq("nationkey"), "full")
        .select(col("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
    }, Some(
      """SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
        | coalesce(n_customers, CAST(0 AS BIGINT)) AS n_customers,
        | coalesce(n_suppliers, CAST(0 AS BIGINT)) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY 1) cn
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1) sn USING (nationkey)""".stripMargin)),

    // ---- membership flag / semi-join as boolean (§2.3 J10) ----
    Query("q08_membership_flag", (s, dir) => {
      Relational.withMembershipFlag(
          t(s, dir, "customer"), "c_custkey",
          t(s, dir, "orders").where(col("o_totalprice") > 300000).select("o_custkey"),
          "o_custkey", "has_big_order")
        .select("c_custkey", "has_big_order")
    }, Some(
      """SELECT c_custkey,
        | EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_totalprice > 300000) AS has_big_order
        |FROM customer""".stripMargin)),

    // ---- latest record per key (§2.5 W2) ----
    Query("q09_latest_order", (s, dir) => {
      Relational.latestPerKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("latest_date"))
    }, Some(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin)),

    // ---- duplicate-key probe rows (§2.5 W1) ----
    Query("q10_dup_order_days", (s, dir) => {
      val withDay = t(s, dir, "orders")
        .withColumn("order_day", col("o_orderdate").cast("date"))
      Relational.withGroupCount(withDay, Seq("o_custkey", "order_day"), "n")
        .where(col("n") > 1)
        .select("o_orderkey", "o_custkey", "n")
    }, Some(
      """SELECT o_orderkey, o_custkey, n
        |FROM (SELECT o_orderkey, o_custkey,
        |        count(*) OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)) AS n
        |      FROM orders)
        |WHERE n > 1""".stripMargin)),

    // ---- slice_min with ties (§2.5 W3) ----
    Query("q11_first_shipment", (s, dir) => {
      Relational.slicePerKeyWithTies(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_shipdate").asc))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_day"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_day
        |FROM (SELECT l_orderkey, l_linenumber, l_shipdate,
        |        rank() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate) AS rk
        |      FROM lineitem)
        |WHERE rk = 1""".stripMargin)),

    // ---- group sum kept on rows (§2.5 W5) ----
    Query("q12_line_share", (s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("line_cents", cents(extDisc, 4))
        .withColumn("share", round(
          col("line_cents") / sum(col("line_cents")).over(Window.partitionBy("l_orderkey")), 6))
        .select("l_orderkey", "l_linenumber", "share")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        | round(line_cents / CAST(sum(line_cents) OVER (PARTITION BY l_orderkey) AS BIGINT), 6) AS share
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT) AS line_cents
        |      FROM lineitem)""".stripMargin)),

    // ---- group-max fill of nulls (§2.5 W6, §2.2 P15) ----
    Query("q13_fill_group_max", (s, dir) => {
      val nulled = t(s, dir, "events")
        .withColumn("v", when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")))
      Relational.fillWithGroupMax(nulled, Seq("user_id"), "v")
        .select(col("event_id"), col("user_id"), col("v").as("value_filled"))
    }, Some(
      """SELECT event_id, user_id,
        | coalesce(v, max(v) OVER (PARTITION BY user_id)) AS value_filled
        |FROM (SELECT event_id, user_id,
        |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |      FROM events)""".stripMargin)),

    // ---- distinct count per group as filter (§2.5 W7) ----
    Query("q14_multi_status_custs", (s, dir) => {
      Relational.withGroupDistinctCount(t(s, dir, "orders"), Seq("o_custkey"),
          col("o_orderstatus"), "n_status")
        .where(col("n_status") > 1)
        .select("o_custkey", "n_status")
        .distinct()
    }, Some(
      """SELECT o_custkey, CAST(count(DISTINCT o_orderstatus) AS INTEGER) AS n_status
        |FROM orders GROUP BY o_custkey
        |HAVING count(DISTINCT o_orderstatus) > 1""".stripMargin)),

    // ---- pivot_wider (§2.6 R2) ----
    Query("q15_status_pivot", (s, dir) => {
      Reshape.pivotWide(t(s, dir, "orders"), Seq("o_custkey"), "o_orderstatus",
          Seq("F", "O", "P"), count(lit(1)), fill = Some(lit(0L)), prefix = "n_")
        .withColumnRenamed("n_F", "n_f")
        .withColumnRenamed("n_O", "n_o")
        .withColumnRenamed("n_P", "n_p")
    }, Some(
      """SELECT o_custkey,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_custkey""".stripMargin)),

    // ---- pivot_longer / melt (§2.6 R1/R5) ----
    Query("q16_part_melt", (s, dir) => {
      Reshape.melt(
        t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size_d")),
        ids = Seq("p_partkey"), values = Seq("p_retailprice", "p_size_d"))
    }, Some(
      """SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_size_d' AS variable, CAST(p_size AS DOUBLE) AS value FROM part""".stripMargin)),

    // ---- multi-value pivot_wider (§2.6 R3) ----
    Query("q36_pivot_multi", (s, dir) => {
      Reshape.pivotWideMulti(t(s, dir, "orders"),
          keys = Seq("o_custkey"), pivotCol = "o_orderstatus",
          levels = Seq("F", "O", "P"),
          aggs = Seq(
            count(lit(1)) -> "n",
            (sum(cents(col("o_totalprice"), 2)) / 100.0) -> "total"))
        .na.fill(0L, Seq("f_n", "o_n", "p_n"))
    }, Some(
      """SELECT o_custkey,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
        | CASE WHEN count(CASE WHEN o_orderstatus = 'F' THEN 1 END) > 0
        |   THEN CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(round(o_totalprice*100) AS BIGINT) END) AS BIGINT)/100.0 END AS f_total,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
        | CASE WHEN count(CASE WHEN o_orderstatus = 'O' THEN 1 END) > 0
        |   THEN CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(round(o_totalprice*100) AS BIGINT) END) AS BIGINT)/100.0 END AS o_total,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n,
        | CASE WHEN count(CASE WHEN o_orderstatus = 'P' THEN 1 END) > 0
        |   THEN CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(round(o_totalprice*100) AS BIGINT) END) AS BIGINT)/100.0 END AS p_total
        |FROM orders GROUP BY o_custkey""".stripMargin)),

    // ---- J13: paired compare via self-pivot on periode — the plot
    // coordinate-displacement pattern (multi-value pivot + Euclidean
    // distance, process_external_data.Rmd:103-106) ----
    Query("q75_coord_displacement", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val p1 = sup.select(col("s_suppkey").as("plot_id"), lit("1").as("periode"),
        ((col("s_suppkey") * 7) % 1000).cast("double").as("x"),
        ((col("s_suppkey") * 13) % 1000).cast("double").as("y"))
      val p2 = sup.select(col("s_suppkey").as("plot_id"), lit("2").as("periode"),
        (((col("s_suppkey") * 7) % 1000) + (col("s_suppkey") % 9) - 4).cast("double").as("x"),
        (((col("s_suppkey") * 13) % 1000) + (col("s_suppkey") % 7) - 3).cast("double").as("y"))
      val wide = Reshape.pivotWideMulti(p1.unionByName(p2),
        keys = Seq("plot_id"), pivotCol = "periode", levels = Seq("1", "2"),
        aggs = Seq(min(col("x")) -> "x", min(col("y")) -> "y"))
      wide.withColumn("displacement_m", round(
          sqrt(pow(col("1_x") - col("2_x"), 2) + pow(col("1_y") - col("2_y"), 2)), 6))
        .select("plot_id", "1_x", "1_y", "2_x", "2_y", "displacement_m")
    }, Some(
      """SELECT plot_id,
        | CAST((s_suppkey * 7) % 1000 AS DOUBLE) AS "1_x",
        | CAST((s_suppkey * 13) % 1000 AS DOUBLE) AS "1_y",
        | CAST((s_suppkey * 7) % 1000 + (s_suppkey % 9) - 4 AS DOUBLE) AS "2_x",
        | CAST((s_suppkey * 13) % 1000 + (s_suppkey % 7) - 3 AS DOUBLE) AS "2_y",
        | round(sqrt(
        |   pow(CAST((s_suppkey * 7) % 1000 AS DOUBLE) - CAST((s_suppkey * 7) % 1000 + (s_suppkey % 9) - 4 AS DOUBLE), 2)
        | + pow(CAST((s_suppkey * 13) % 1000 AS DOUBLE) - CAST((s_suppkey * 13) % 1000 + (s_suppkey % 7) - 3 AS DOUBLE), 2)), 6) AS displacement_m
        |FROM (SELECT s_suppkey, s_suppkey AS plot_id FROM supplier)""".stripMargin)),

    // ---- separate (§2.6 R4) ----
    Query("q17_separate_name", (s, dir) => {
      Reshape.separate(t(s, dir, "part"), "p_name", Seq("color", "object"), " ")
        .select("p_partkey", "color", "object")
    }, Some(
      """SELECT p_partkey,
        | string_split(p_name, ' ')[1] AS color,
        | string_split(p_name, ' ')[2] AS object
        |FROM part""".stripMargin)),

    // ---- union by name with tag (§2.8 U1, E1 step 3) ----
    Query("q18_union_cycles", (s, dir) => {
      val orders = t(s, dir, "orders")
      val early = orders.where(year(col("o_orderdate")) < 1998)
        .select("o_orderkey", "o_totalprice")
      val late = orders.where(year(col("o_orderdate")) >= 1998)
        .select("o_orderkey")
      Relational.unionCycles(Seq(1 -> early, 2 -> late))
    }, Some(
      """SELECT o_orderkey, o_totalprice, 1 AS mon_cycle FROM orders
        | WHERE year(o_orderdate) < 1998
        |UNION ALL
        |SELECT o_orderkey, NULL AS o_totalprice, 2 AS mon_cycle FROM orders
        | WHERE year(o_orderdate) >= 1998""".stripMargin)),

    // ---- case_when recode (§2.2 P12/P13) ----
    Query("q19_priority_recode", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("priority_class",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
            .when(col("o_orderpriority") === "3-MEDIUM", "medium")
            .otherwise("low"))
        .groupBy("priority_class")
        .agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high'
        |            WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
        |            ELSE 'low' END AS priority_class,
        | count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin)),

    // ---- string scalar functions (§2.7) ----
    Query("q20_string_funcs", (s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("name_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("cust_num"),
        length(col("c_name")).as("name_len"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("seg_name"))
    }, Some(
      """SELECT c_custkey,
        | lower(c_name) AS name_lower,
        | substring(c_name, 1, 8) AS name_prefix,
        | CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num,
        | CAST(length(c_name) AS INTEGER) AS name_len,
        | concat_ws('-', c_mktsegment, c_name) AS seg_name
        |FROM customer""".stripMargin)),

    // ---- date scalar functions (§2.7) ----
    Query("q21_year_stats", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"), 2)) / 100.0).as("sum_total"))
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_total
        |FROM orders GROUP BY 1""".stripMargin)),

    // ---- coalesce / nullif / least (§2.2 P14/P15, §2.7) ----
    Query("q22_discount_rules", (s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(0.05)).as("discount_imputed"),
        round(least(col("l_discount") + col("l_tax"), lit(0.15)), 6).as("charge_rate"),
        greatest(col("l_quantity"), lit(10.0)).as("qty_floor"))
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        | coalesce(nullif(l_discount, 0.0), 0.05) AS discount_imputed,
        | round(least(l_discount + l_tax, 0.15), 6) AS charge_rate,
        | greatest(l_quantity, 10.0) AS qty_floor
        |FROM lineitem""".stripMargin)),

    // ---- complement-product cover union (§2.4 A7 / §2.10 K3-adjacent) ----
    Query("q23_discount_union", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(round6(Aggs.complementProductSorted(col("l_discount")))
          .as("effective_discount"))
    }, Some(
      s"""SELECT l_orderkey,
        | ${round6Sql("1 - product(1 - l_discount ORDER BY 1 - l_discount)")} AS effective_discount
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)),

    // ---- ordered group string concat (§2.4 A10) ----
    Query("q24_status_concat", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(Aggs.stringAggSorted(col("o_orderstatus"), ";").as("statuses"))
    }, Some(
      """SELECT o_custkey,
        | string_agg(DISTINCT o_orderstatus, ';' ORDER BY o_orderstatus) AS statuses
        |FROM orders GROUP BY o_custkey""".stripMargin)),

    // ---- boolean any/all aggregation (§2.4 A5) ----
    Query("q25_bool_flags", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          Aggs.boolAny(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          Aggs.boolAll(col("o_orderstatus") === "F").as("all_finished"))
    }, Some(
      """SELECT o_custkey,
        | bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        | bool_and(o_orderstatus = 'F') AS all_finished
        |FROM orders GROUP BY o_custkey""".stripMargin)),

    // ---- assert-single-value collapse (§2.4 A9) ----
    Query("q26_nation_region", (s, dir) => {
      val cols = Aggs.singleValue(col("n_regionkey"), "regionkey_first")
      t(s, dir, "nation").groupBy("n_nationkey").agg(cols.head, cols.tail: _*)
    }, Some(
      """SELECT n_nationkey,
        | min(n_regionkey) AS regionkey_first,
        | count(DISTINCT n_regionkey) <= 1 AS regionkey_first_ok
        |FROM nation GROUP BY n_nationkey""".stripMargin)),

    // ---- stddev / avg (§2.4 A8, A11) ----
    Query("q27_qty_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"))
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_quantity) / count(*), 6) AS avg_qty,
        | round(stddev_samp(l_quantity), 6) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- grouped ratio summaries (§2.4 A11, A4) ----
    Query("q28_acctbal_ratio", (s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n_customers"),
          round(lit(100.0) * count(when(col("c_acctbal") > 0, 1)) / count(lit(1)), 6)
            .as("pct_positive"))
    }, Some(
      """SELECT c_nationkey, count(*) AS n_customers,
        | round(100.0 * count(CASE WHEN c_acctbal > 0 THEN 1 END) / count(*), 6) AS pct_positive
        |FROM customer GROUP BY c_nationkey""".stripMargin)),

    // ---- event-time tumbling window, batch twin of streaming (§2.9) ----
    Query("q29_events_hourly", (s, dir) => {
      Events.hourlyStats(t(s, dir, "events"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"), col("sum_value"))
    }, Some(
      eventsHourlyOracleSql)),

    // ---- sessionization, batch twin of mapGroupsWithState (§2.9) ----
    Query("q30_user_sessions", (s, dir) =>
      Events.sessionCounts(t(s, dir, "events"), gapMinutes = 30),
      Some(s"""SELECT user_id,
        | CAST(max(session_seq) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM (
        |${sessionSeqSql()})
        |GROUP BY user_id""".stripMargin)),

    // ---- regex field extraction from semi-structured props (§2.7) ----
    Query("q31_events_props", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int"))
        .groupBy("event_type")
        .agg(
          round(sum(col("k")) / count(lit(1)), 6).as("avg_k"),
          max(col("k")).as("max_k"))
    }, Some(
      """SELECT event_type,
        | round(sum(k) / count(*), 6) AS avg_k,
        | max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin)),

    // ---- salted two-phase aggregation (hot-key mitigation): must be
    // plan-equivalent to a plain groupBy count — the oracle IS the
    // plain form, so the rewrite's correctness is hash-checked ----
    Query("q33_salted_hot_count", (s, dir) =>
      graft.ops.Skew.saltedCount(t(s, dir, "orders"), Seq("o_orderpriority")),
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1""")),

    // ---- session boundaries: per (user, session) start/end/size —
    // the session-window shape (timestamps as exact epoch micros) ----
    Query("q35_session_bounds", (s, dir) => {
      Events.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .groupBy("user_id", "session_seq")
        .agg(
          min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
          max(unix_micros(col("ts").cast("timestamp"))).as("end_us"),
          count(lit(1)).as("n_events"))
        .withColumn("session_seq", col("session_seq").cast("long"))
    }, Some(
      s"""SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | min(epoch_us(ts)) AS start_us,
        | max(epoch_us(ts)) AS end_us,
        | count(*) AS n_events
        |FROM (
        |${sessionSeqSql(" ts,")})
        |GROUP BY user_id, session_seq""".stripMargin)),

    // ---- W4/W8 oracle gate (q146): group-wise any-flag kept on rows
    // (the reference's per-plot `any(cond)` probes, e.g. the
    // missing-plot checks at query_fieldmap.Rmd:1520-1546) — flag every
    // order of a customer who ever placed an urgent order, then keep a
    // deterministic row subset so the flag's row-preserving nature is
    // hash-visible. ----
    Query("q146_group_any_flag", (s, dir) => {
      Relational.withGroupAny(t(s, dir, "orders"), Seq("o_custkey"),
          col("o_orderpriority") === "1-URGENT", "has_urgent")
        .where(col("o_orderkey") % 5 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "has_urgent")
    }, Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, has_urgent FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey) = 1 AS has_urgent
        |  FROM orders) t
        |WHERE o_orderkey % 5 = 0""".stripMargin)),

    // ---- backward as-of join: each click picks up the user's latest
    // purchase at-or-before it — union + one keyed window, NO join in
    // the plan (see Temporal.asofJoinBackward's scale notes) ----
    Query("q90_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      graft.ops.Temporal.asofJoinBackward(clicks, purchases,
          keys = Seq("user_id"), timeCol = "ts_us", payload = Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("ts_us_right").as("purchase_ts_us"),
          col("value_right").as("purchase_value"))
    }, Some(
      """WITH l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |r AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts_us,
        |  r.ts_us AS purchase_ts_us, r.value AS purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us""".stripMargin)),

    // ---- un-keyed interval join: every event against 240 overlapping
    // global 2h maintenance windows, via the 1-D grid-cell equi-join
    // (no cross join, no inequality-only join) ----
    Query("q91_interval_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val t0 = ev.agg(unix_micros(date_trunc("day", min(col("ts")))
        .cast("timestamp")).as("t0_us"))
      val hourUs = 3600L * 1000000L
      val windows = t0
        .select(explode(sequence(lit(0), lit(239))).as("window_id"), col("t0_us"))
        .select(col("window_id"),
          (col("t0_us") + col("window_id") * lit(3 * hourUs)).as("start_us"),
          (col("t0_us") + col("window_id") * lit(3 * hourUs) + lit(2 * hourUs))
            .as("end_us"))
      val points = ev.select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      graft.ops.Temporal.intervalJoin(points, "ts_us",
          windows.select("window_id", "start_us", "end_us"),
          "start_us", "end_us", cellUs = 2 * hourUs)
        .select("event_id", "window_id", "ts_us")
    }, Some(
      """WITH t0 AS (
        |  SELECT epoch_us(date_trunc('day', min(ts))) AS t0_us FROM events),
        |w AS (
        |  SELECT CAST(i AS INTEGER) AS window_id,
        |    t0_us + i * 10800000000 AS start_us,
        |    t0_us + i * 10800000000 + 7200000000 AS end_us
        |  FROM range(240) r(i), t0),
        |p AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT p.event_id, w.window_id, p.ts_us
        |FROM p JOIN w ON p.ts_us >= w.start_us AND p.ts_us < w.end_us""".stripMargin)),

    // ---- z-order layout key (Layout.zvalue): Morton code over
    // declared domains. Map-only and bit-exact across engines — the
    // write path (Layout.writeZOrdered) range-exchanges on this key so
    // parquet min/max pruning works on EVERY dimension (LayoutSpec
    // proves the per-file envelope property). ----
    Query("q99_zorder_key", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Layout.zvalue(Seq(
          Layout.ZDim(col("p_size"), 1, 50),
          Layout.ZDim(col("p_retailprice"), 900, 2100)), bits = 8).as("z")),
      Some {
      // q99: replay Layout.zvalue — quantize each dimension to an 8-bit
      // cell (scale by 2^bits, clamp the top cell; identical IEEE double
      // ops in both engines), then interleave via unrolled shift/mask
      // terms (bit b of dim i lands at b*ndims + i).
      val cx = "least(CAST(floor((least(greatest(CAST(p_size AS DOUBLE), 1.0), 50.0)" +
        " - 1.0) / 49.0 * 256.0) AS BIGINT), 255)"
      val cy = "least(CAST(floor((least(greatest(CAST(p_retailprice AS DOUBLE), 900.0), 2100.0)" +
        " - 900.0) / 1200.0 * 256.0) AS BIGINT), 255)"
      val interleave = (0 until 8).flatMap(b => Seq(
        s"(((cx >> $b) & 1) << ${2 * b})",
        s"(((cy >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH cells AS (
         |  SELECT p_partkey, $cx AS cx, $cy AS cy FROM part)
         |SELECT p_partkey, $interleave AS z FROM cells""".stripMargin
    })
  )
}
