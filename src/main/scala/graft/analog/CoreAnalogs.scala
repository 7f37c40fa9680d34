package graft.analog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.sources.Tables

/** The reference's T1–T7 operator surface (SURVEY.md §2.8), exercised as
  * analog queries over the driver's TPC-H-ish testdata, each paired with
  * the DuckDB oracle the harness replays. Role mapping per SURVEY.md §7:
  * orders⟕customer⟕nation plays the double dimension enrichment;
  * month(o_orderdate)/dayofmonth play month/day; o_orderpriority /
  * l_returnflag / l_linestatus play business/time_of_day categorical
  * roles; the events table plays the daily-average task.
  *
  * Scale notes (100 TB): every dimension join below is an explicit
  * `broadcast()`; the only shuffle joins are fact⋈fact (lineitem⋈orders),
  * which at cluster scale would be bucketed/co-partitioned on the order
  * key; every aggregate is a partial/final HashAggregate pair; every
  * top-k is orderBy+limit which Catalyst plans as TakeOrderedAndProject
  * (per-partition heaps, no global sort).
  */
object CoreAnalogs {

  // ---- shared frames -----------------------------------------------------

  /** Analog of the reference's enrichment preamble (`codes/task1.py:40-69`):
    * fact ⟕ dim ⟕ dim with both dims broadcast. Left joins mirror the
    * reference's null-keeping semantics.
    */
  def enrichedOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select(
      col("c_custkey"), col("c_nationkey"),
      col("c_name").as("customer_name"),
      col("c_mktsegment").as("mktsegment"))
    val n = Tables.nation(s, d).select(
      col("n_nationkey"), col("n_name").as("nation"))
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .drop("c_custkey", "c_nationkey", "n_nationkey")
  }

  /** Shared DuckDB CTE matching [[enrichedOrders]]. */
  private val enrichedSql =
    """WITH enriched AS (
      |  SELECT o.*, c.c_name AS customer_name, c.c_mktsegment AS mktsegment,
      |         n.n_name AS nation
      |  FROM orders o
      |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |)""".stripMargin

  /** Route analog (`codes/task3.py:106-115`, `task7.py:76-94`): each
    * lineitem labelled "CUST_NATION to SUPP_NATION". lineitem⋈orders is
    * the one genuine fact⋈fact shuffle join in the library — at scale,
    * bucket both tables by order key so it becomes a co-partitioned join
    * with zero shuffle; the four dimension joins broadcast.
    */
  def routeLineitems(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val cn = Tables.nation(s, d).select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val sn = Tables.nation(s, d).select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .withColumn("route",
        concat_ws(" to ", col("cust_nation"), col("supp_nation")))
  }

  private[analog] val routeSql =
    """WITH rl AS (
      |  SELECT cn.n_name || ' to ' || sn.n_name AS route, l.*
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |)""".stripMargin

  /** DuckDB equivalent of Spark's `format_number(x, 2)` ("1,234,567.89").
    * DuckDB 1.0's `format('{:,.2f}', …)` rejects floats, so we format the
    * integer and fraction parts separately from the rounded value.
    */
  private def duckFmt2(e: String): String = {
    val r = s"round($e, 2)"
    s"(CASE WHEN $r < 0 AND trunc($r) = 0 THEN '-' ELSE '' END" +
      s" || format('{:,}', CAST(trunc($r) AS BIGINT)) || '.'" +
      s" || lpad(CAST(CAST(round(abs($r - trunc($r)) * 100) AS INT) AS VARCHAR), 2, '0'))"
  }

  // ---- queries -----------------------------------------------------------

  val queries: Seq[Q] = Seq(

    // T1 — enrichment count (operators S1/S5/J1; `codes/task1.py:40-78`).
    Q("t1_enrich_count",
      (s, d) => enrichedOrders(s, d).agg(count(lit(1)).as("cnt")),
      Some(s"""$enrichedSql SELECT count(*) AS cnt FROM enriched"""),
      core = true),

    // T1 — enriched sample incl. the epoch→"yyyy-MM-dd" conversion analog
    // (operator F1; `codes/task1.py:69`) and the post-join projection.
    Q("t1_enrich_sample",
      (s, d) => enrichedOrders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("customer_name"), col("nation"))
        .orderBy("o_orderkey").limit(100),
      Some(s"""$enrichedSql
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       customer_name, nation
        |FROM enriched ORDER BY o_orderkey LIMIT 100""".stripMargin),
      core = true),

    // T2a — counts per (category, month) (operators A1/F2; `codes/task2.py:77-80`).
    Q("t2a_trip_count",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          month(col("o_orderdate")).as("month"))
        .groupBy("priority", "month").count()
        .withColumnRenamed("count", "trip_count")
        .orderBy("priority", "month"),
      Some("""SELECT o_orderpriority AS priority,
        |       CAST(month(o_orderdate) AS INT) AS month,
        |       count(*) AS trip_count
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      core = true),

    // T2b — formatted sums per (category, month) (operators A2/F5/F6;
    // `codes/task2.py:86-93`): format_number with thousands separators.
    Q("t2b_total_profit",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          month(col("o_orderdate")).as("month"), col("o_totalprice"))
        .groupBy("priority", "month")
        .agg(sum(col("o_totalprice").cast("double")).as("profit"))
        .select(col("priority"), col("month"),
          format_number(col("profit"), 2).as("total_profit"))
        .orderBy("priority", "month"),
      Some(s"""SELECT o_orderpriority AS priority,
        |       CAST(month(o_orderdate) AS INT) AS month,
        |       ${duckFmt2("sum(o_totalprice)")} AS total_profit
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      core = true),

    // T2c — same over the bigger fact (`codes/task2.py:96-103` analog).
    Q("t2c_total_earnings",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"),
          month(col("l_shipdate")).as("month"), col("l_extendedprice"))
        .groupBy("flag", "month")
        .agg(sum(col("l_extendedprice").cast("double")).as("earnings"))
        .select(col("flag"), col("month"),
          format_number(col("earnings"), 2).as("total_earnings"))
        .orderBy("flag", "month"),
      Some(s"""SELECT l_returnflag AS flag,
        |       CAST(month(l_shipdate) AS INT) AS month,
        |       ${duckFmt2("sum(l_extendedprice)")} AS total_earnings
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      core = true),

    // T3a — top-5 per month by dense_rank, ties kept (operators WF1/W5;
    // `codes/task3.py:74-89`). Customer-nation counts per order month.
    Q("t3a_top5_nations_month",
      (s, d) => {
        val counts = enrichedOrders(s, d)
          .withColumn("month", month(col("o_orderdate")))
          .groupBy("nation", "month").count()
          .withColumnRenamed("count", "trip_count")
        val w = Window.partitionBy("month").orderBy(col("trip_count").desc)
        counts.withColumn("rank", dense_rank().over(w))
          .filter(col("rank") <= 5).drop("rank")
          .orderBy(col("month"), col("trip_count").desc, col("nation"))
      },
      Some(s"""$enrichedSql, counts AS (
        |  SELECT nation, CAST(month(o_orderdate) AS INT) AS month,
        |         count(*) AS trip_count
        |  FROM enriched GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, dense_rank() OVER
        |    (PARTITION BY month ORDER BY trip_count DESC) AS rnk
        |  FROM counts
        |)
        |SELECT nation, month, trip_count FROM ranked WHERE rnk <= 5
        |ORDER BY month, trip_count DESC, nation""".stripMargin),
      core = true),

    // T3b — dropoff-side variant: supplier nations per ship month
    // (`codes/task3.py:92-102` analog).
    Q("t3b_top5_supp_nations_month",
      (s, d) => {
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))
        val n = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name").as("nation"))
        val counts = Tables.lineitem(s, d)
          .select(col("l_suppkey"), month(col("l_shipdate")).as("month"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"), "left")
          .groupBy("nation", "month").count()
          .withColumnRenamed("count", "trip_count")
        val w = Window.partitionBy("month").orderBy(col("trip_count").desc)
        counts.withColumn("rank", dense_rank().over(w))
          .filter(col("rank") <= 5).drop("rank")
          .orderBy(col("month"), col("trip_count").desc, col("nation"))
      },
      Some("""WITH counts AS (
        |  SELECT n.n_name AS nation,
        |         CAST(month(l.l_shipdate) AS INT) AS month,
        |         count(*) AS trip_count
        |  FROM lineitem l
        |  LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, dense_rank() OVER
        |    (PARTITION BY month ORDER BY trip_count DESC) AS rnk
        |  FROM counts
        |)
        |SELECT nation, month, trip_count FROM ranked WHERE rnk <= 5
        |ORDER BY month, trip_count DESC, nation""".stripMargin),
      core = true),

    // T3c — top-30 routes by summed measure (operators F4/A2/O1;
    // `codes/task3.py:106-115`). Deterministic tie-break on route.
    Q("t3c_top30_routes",
      (s, d) => routeLineitems(s, d)
        .groupBy("route")
        .agg(round(sum(col("l_extendedprice")), 2).as("total_profit"))
        .orderBy(col("total_profit").desc, col("route"))
        .limit(30),
      Some(s"""$routeSql
        |SELECT route, round(sum(l_extendedprice), 2) AS total_profit
        |FROM rl GROUP BY route
        |ORDER BY total_profit DESC, route LIMIT 30""".stripMargin),
      core = true),

    // T4a — avg per category, desc (operator A3; `codes/task4.py:74-76`).
    Q("t4a_avg_price_by_priority",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(round(avg(col("o_totalprice")), 6).as("average_price"))
        .orderBy(col("average_price").desc, col("priority")),
      Some("""SELECT o_orderpriority AS priority,
        |       round(avg(o_totalprice), 6) AS average_price
        |FROM orders GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin),
      core = true),

    // T4b — second avg (`codes/task4.py:80-82`).
    Q("t4b_avg_qty_by_flag",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(round(avg(col("l_quantity")), 6).as("average_qty"))
        .orderBy(col("average_qty").desc, col("flag")),
      Some("""SELECT l_returnflag AS flag,
        |       round(avg(l_quantity), 6) AS average_qty
        |FROM lineitem GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin),
      core = true),

    // T4c — the two aggregates joined on the shared key + ratio
    // (operators J2/F8; `codes/task4.py:86-95`). Post-agg sides are tiny
    // → broadcast inner join, exactly like the reference's.
    Q("t4c_price_per_qty",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val a = li.groupBy(col("l_returnflag").as("flag"))
          .agg(avg(col("l_extendedprice")).as("avg_price"))
        val b = li.groupBy(col("l_returnflag").as("flag"))
          .agg(avg(col("l_quantity")).as("avg_qty"))
        a.join(b, Seq("flag"))
          .select(col("flag"),
            round(col("avg_price") / col("avg_qty"), 6).as("price_per_unit"))
          .orderBy("flag")
      },
      Some("""WITH a AS (
        |  SELECT l_returnflag AS flag, avg(l_extendedprice) AS avg_price
        |  FROM lineitem GROUP BY 1
        |), b AS (
        |  SELECT l_returnflag AS flag, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT a.flag AS flag, round(avg_price / avg_qty, 6) AS price_per_unit
        |FROM a JOIN b ON a.flag = b.flag ORDER BY 1""".stripMargin),
      core = true),

    // T5a — month slice + per-day averages, asc (operators W4/F3/A3;
    // `codes/task5.py:71-80`). The month filter sits below the aggregate.
    Q("t5a_daily_avg_value",
      (s, d) => Tables.events(s, d)
        .filter(month(col("ts")) === 1)
        .select(dayofmonth(col("ts")).as("day"), col("value"))
        .groupBy("day")
        .agg(round(avg(col("value")), 6).as("average_value"))
        .orderBy("day"),
      Some("""SELECT CAST(dayofmonth(ts) AS INT) AS day,
        |       round(avg(value), 6) AS average_value
        |FROM events WHERE month(ts) = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      core = true),

    // T5b — threshold filter on the aggregate, kept fully in Spark
    // (the reference crossed to pandas — `codes/task5.py:86-92`).
    // 54.0 sits in a wide gap of the daily averages (53.73 vs 54.50).
    Q("t5b_days_over_threshold",
      (s, d) => Tables.events(s, d)
        .filter(month(col("ts")) === 1)
        .select(dayofmonth(col("ts")).as("day"), col("value"))
        .groupBy("day")
        .agg(avg(col("value")).as("average_value"))
        .filter(col("average_value") > 54.0)
        .select("day")
        .orderBy("day"),
      Some("""SELECT CAST(dayofmonth(ts) AS INT) AS day
        |FROM events WHERE month(ts) = 1
        |GROUP BY 1 HAVING avg(value) > 54.0 ORDER BY 1""".stripMargin),
      core = true),

    // T6a — post-aggregation HAVING range + multi-key sort (operators
    // W3/O2; `codes/task6.py:71-81`).
    Q("t6a_having_range",
      (s, d) => enrichedOrders(s, d)
        .groupBy(col("nation"), col("o_orderpriority").as("priority"))
        .count().withColumnRenamed("count", "trip_count")
        .filter(col("trip_count") > 0 && col("trip_count") < 100)
        .orderBy("nation", "priority"),
      Some(s"""$enrichedSql
        |SELECT nation, o_orderpriority AS priority, count(*) AS trip_count
        |FROM enriched GROUP BY 1, 2
        |HAVING count(*) > 0 AND count(*) < 100
        |ORDER BY 1, 2""".stripMargin),
      core = true),

    // T6b — equality filter + re-attached literal column (operators
    // W1/F7; `codes/task6.py:84-90`).
    Q("t6b_urgent_by_nation",
      (s, d) => enrichedOrders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("nation").count()
        .withColumnRenamed("count", "trip_count")
        .withColumn("priority", lit("1-URGENT"))
        .select("nation", "priority", "trip_count")
        .orderBy("nation"),
      Some(s"""$enrichedSql
        |SELECT nation, '1-URGENT' AS priority, count(*) AS trip_count
        |FROM enriched WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      core = true),

    // T6c — conjunctive filter: count (operators W2/S5; `codes/task6.py:96-106`).
    Q("t6c_filtered_count",
      (s, d) => enrichedOrders(s, d)
        .filter(col("nation") === "NATION_3" && col("o_orderstatus") === "F")
        .agg(count(lit(1)).as("cnt")),
      Some(s"""$enrichedSql
        |SELECT count(*) AS cnt FROM enriched
        |WHERE nation = 'NATION_3' AND o_orderstatus = 'F'""".stripMargin),
      core = true),

    // T6c — the 10-row sample of the same slice (operators P3/O3;
    // `codes/task6.py:110-118`), keyed for determinism.
    Q("t6c_filtered_sample",
      (s, d) => enrichedOrders(s, d)
        .filter(col("nation") === "NATION_3" && col("o_orderstatus") === "F")
        .select("o_orderkey", "nation", "o_orderstatus", "customer_name")
        .orderBy("o_orderkey").limit(10),
      Some(s"""$enrichedSql
        |SELECT o_orderkey, nation, o_orderstatus, customer_name
        |FROM enriched
        |WHERE nation = 'NATION_3' AND o_orderstatus = 'F'
        |ORDER BY o_orderkey LIMIT 10""".stripMargin),
      core = true),

    // T7 — pivot with explicit values (skips PySpark's eager distinct
    // job), fillna(0), derived total, top-10 (operators A4/A5/P1/O1;
    // `codes/task7.py:79-94`).
    Q("t7_pivot_routes",
      (s, d) => routeLineitems(s, d)
        .groupBy("route")
        .pivot("l_linestatus", Seq("O", "F"))
        .count()
        .na.fill(0)
        .withColumnRenamed("O", "o_count")
        .withColumnRenamed("F", "f_count")
        .withColumn("total_count", col("o_count") + col("f_count"))
        .orderBy(col("total_count").desc, col("route"))
        .limit(10),
      Some(s"""$routeSql
        |SELECT route,
        |       count(*) FILTER (WHERE l_linestatus = 'O') AS o_count,
        |       count(*) FILTER (WHERE l_linestatus = 'F') AS f_count,
        |       count(*) AS total_count
        |FROM rl GROUP BY route
        |ORDER BY total_count DESC, route LIMIT 10""".stripMargin),
      core = true),

    // Events — hourly tumbling-window aggregate, the batch twin of the
    // Structured Streaming pipeline in graft.streaming (watermark+window);
    // date_trunc keeps the output SQL-comparable.
    Q("events_hourly",
      (s, d) => Tables.events(s, d)
        .select(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour"),
          col("event_type"), col("value"))
        .groupBy("hour", "event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      core = true),

    // Semi/anti join shapes (free from Spark; beyond the reference's
    // J1/J2 surface): customers with vs without orders, one row each.
    Q("t8_semi_anti",
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey")
        val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
        val withOrders = c.join(o, Seq("c_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
        val withoutOrders = c.join(o, Seq("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
        withOrders.union(withoutOrders).select("kind", "n").orderBy("kind")
      },
      Some("""SELECT 'with_orders' AS kind, count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'without_orders', count(*) FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY kind""".stripMargin),
      core = true),

    // Multi-level aggregation via ROLLUP (nation → grand total); null
    // grouping keys labeled so both engines order identically.
    Q("t9_rollup",
      (s, d) => enrichedOrders(s, d)
        .rollup(col("nation"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          grouping_id().as("level"))
        .select(coalesce(col("nation"), lit("ALL")).as("nation"),
          coalesce(col("priority"), lit("ALL")).as("priority"),
          col("level"), col("n"), col("revenue"))
        .orderBy("nation", "priority", "level"),
      Some(s"""$enrichedSql
        |SELECT coalesce(nation, 'ALL') AS nation,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       GROUPING(nation, o_orderpriority) AS level,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM enriched GROUP BY ROLLUP (nation, o_orderpriority)
        |ORDER BY 1, 2, 3""".stripMargin),
      core = true),

    // Distinct aggregation (absent from the reference): unique ordering
    // customers and priorities per order month.
    Q("t10_distinct_agg",
      (s, d) => Tables.orders(s, d)
        .groupBy(month(col("o_orderdate")).as("month"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy("month"),
      Some("""SELECT CAST(month(o_orderdate) AS INT) AS month,
        |       count(DISTINCT o_custkey) AS n_customers,
        |       count(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      core = true),

    // Table profiling: one aggregation pass over every column of
    // orders (counts, distincts, numeric min/max), unpivoted by stack.
    Q("table_profile",
      (s, d) => graft.operators.Profile.profile(Tables.orders(s, d)),
      Some {
        val numeric = Set("o_orderkey", "o_custkey", "o_totalprice")
        val rows = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority").map { c =>
          val (mn, mx) =
            if (numeric(c)) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)")
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
          s"""SELECT '$c' AS "column", t.n_rows, count($c) AS n_nonnull,
             |  count(DISTINCT $c) AS n_distinct, $mn AS min_num, $mx AS max_num
             |FROM orders, t GROUP BY t.n_rows""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT * FROM (
        |$rows
        |) ORDER BY "column"""".stripMargin
      }),

    // MERGEABLE sharded profiling (the incremental-corpus-stats
    // contract): each source shard profiles itself ONCE
    // (Profile.shardProfile — counts, numeric min/max, and an HLL
    // sketch per column), then Profile.mergeProfile folds the
    // shard-count-sized stats frame into the whole-corpus profile
    // without rescanning the corpus — counts sum, min/max fold, HLL
    // registers max-union. The hash gate covers the EXACTLY-mergeable
    // columns; the sketch-union distinct estimate is engine-specific
    // (DataSketches HLL) and is law-tested against the exact count in
    // ProfileMergeSpec instead.
    Q("profile_merge",
      (s, d) => graft.operators.Profile.mergeProfile(
        graft.operators.Profile.shardProfile(
          Tables.documents(s, d), "source"))
        .select("column", "n_rows", "n_nonnull", "min_num", "max_num"),
      Some {
        val numeric = Set("doc_id", "n_chars")
        val rows = Seq("doc_id", "text", "lang", "n_chars").map { c =>
          val (mn, mx) =
            if (numeric(c)) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)")
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
          s"""SELECT '$c' AS "column", t.n_rows, count($c) AS n_nonnull,
             |  $mn AS min_num, $mx AS max_num
             |FROM documents, t GROUP BY t.n_rows""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT count(*) AS n_rows FROM documents)
        |SELECT * FROM (
        |$rows
        |) ORDER BY "column"""".stripMargin
      }),

    // Count-Min heavy hitters — the FREQUENCY leg of the mergeable-
    // sketch contract (profile_merge's HLL covers distincts): the
    // corpus token stream folds into a 4×512 grid of order-independent
    // cell sums (hash-exact under any plan), then a bounded candidate
    // vocabulary (every 100th doc's distinct tokens — the deployment
    // shape: candidates come from a sample/query set, never the full
    // vocabulary) probes the broadcast sketch for min-over-rows
    // estimates. The exact count rides along as the sketch's own
    // accuracy gate — est >= exact by construction (collisions only
    // add), and the hash gate pins both engines to identical
    // overestimates, not just identical truths. At 100 TB the sketch
    // path shuffles <= 2048 partial cells per task where the exact
    // path shuffles the whole vocabulary.
    Q("profile_cm_heavy",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(
          explode(split(col("text"), " ")).as("token"))
        // ONE corpus token aggregation feeds BOTH legs (round 19):
        // the sketch derives from the exact counts (cmSketchOf — sum
        // of per-token counts per cell == the raw stream's cell
        // count), so the two identical groupBy(token) subtrees share
        // their exchange and the corpus-sized explode runs once
        // instead of twice
        val exact = toks.groupBy("token")
          .agg(count(lit(1)).as("n_exact"))
        val sketch = graft.operators.Profile.cmSketchOf(
          exact.select(col("token"), col("n_exact").as("c")), 4, 512)
        val cands = docs.filter(col("doc_id") % 100 === 0)
          .select(explode(split(col("text"), " ")).as("token"))
          .distinct()
        graft.operators.Profile.cmEstimate(sketch, cands, 4, 512)
          .join(exact, Seq("token"))
          .select("token", "est", "n_exact")
          .orderBy(col("est").desc, col("token")).limit(20)
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tt AS (SELECT unnest(w) AS t FROM tok),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cells AS (
        |  SELECT j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 15))
        |      ::BIGINT % 512 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM tt CROSS JOIN js GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT unnest(w) AS token FROM tok
        |         WHERE doc_id % 100 = 0),
        |lu AS (
        |  SELECT token, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      ::BIGINT % 512 AS bucket
        |  FROM cand CROSS JOIN js),
        |est AS (
        |  SELECT token, CAST(min(COALESCE(c, 0)) AS BIGINT) AS est
        |  FROM lu LEFT JOIN cells
        |    ON cells.j = lu.j AND cells.bucket = lu.bucket
        |  GROUP BY 1),
        |ex AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS n_exact
        |       FROM tt GROUP BY 1)
        |SELECT e.token, e.est, x.n_exact
        |FROM est e JOIN ex x USING (token)
        |ORDER BY est DESC, token LIMIT 20""".stripMargin)),

    // Batch twin of the streaming Count-Min shard screen
    // (graft.streaming.DocStreams.cmScreen): every 5th doc "arrives"
    // (one minute per doc_id) and each event-time hour folds its token
    // stream into a 4×64 sketch shard — the stream publishes SKETCH
    // STATE, not estimates, so any window range folds with cmMerge and
    // point-queries with cmEstimate without replaying the stream.
    // Cells are sums: the per-window shard is hash-identical under any
    // micro-batch boundary (streaming-vs-batch equality is law-tested
    // in DocStreamsSpec; the hash gate here pins the cell VALUES).
    Q("stream_cm_screen",
      (s, d) => {
        val arrivals = Tables.documents(s, d)
          .filter(col("doc_id") % 5 === 0)
          .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' + " +
            "make_interval(0,0,0,0,0,cast(doc_id as int),0)"))
          .select("text", "ts")
        graft.streaming.DocStreams.cmScreen(arrivals, 4, 64)
          .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss")
            .as("hour"), col("rw"), col("bucket"), col("c"))
          .orderBy("hour", "rw", "bucket")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id % 5 = 0),
        |tt AS (SELECT doc_id, unnest(w) AS t FROM tok),
        |js AS (SELECT unnest([0, 1, 2, 3]) AS j)
        |SELECT strftime(date_trunc('hour',
        |    timestamp '2024-01-01 00:00:00' + to_minutes(doc_id)),
        |    '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(j AS BIGINT) AS rw,
        |  ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 15))
        |    ::BIGINT % 64 AS bucket,
        |  CAST(count(*) AS BIGINT) AS c
        |FROM tt CROSS JOIN js GROUP BY 1, 2, 3
        |ORDER BY hour, rw, bucket""".stripMargin)),

    // Mergeable histogram quantiles — the RANK leg of the mergeable-
    // sketch contract (profile_merge: distincts, profile_cm_heavy:
    // frequencies): each half of the corpus folds into its own sparse
    // equi-width grid (Profile.histSketch, ≤ 100 cells per event_type),
    // histMerge adds the shards cell-wise, and histQuantiles resolves
    // p50/p90/p99 to exact bin upper edges — always >= the true
    // quantile, within one step of it, and INTEGER, so both engines
    // agree on the estimate itself. stats_quantiles' exact path must
    // globally sort the column; this is the one-scan sketch path a
    // 100 TB latency dashboard actually runs (the oracle sketches the
    // whole stream at once — cells are sums, so the two-shard merge is
    // definitionally the same grid).
    Q("profile_hist_quantiles",
      (s, d) => {
        val ev = Tables.events(s, d)
        val shard = (r: Long) => graft.operators.Profile.histSketch(
          ev.filter(col("event_id") % 2 === r), "event_type", "value",
          lo = 0L, step = 5L, bins = 100)
        graft.operators.Profile.histQuantiles(
          graft.operators.Profile.histMerge(shard(0L).union(shard(1L))),
          lo = 0L, step = 5L,
          Seq("p50" -> 5000, "p90" -> 9000, "p99" -> 9900))
          .orderBy("key")
      },
      Some("""WITH h AS (
        |  SELECT event_type AS key,
        |    least(99, greatest(0, CAST(floor((value - 0.0) / 5.0) AS BIGINT)))
        |      AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT key, sum(c) AS n FROM h GROUP BY 1),
        |cum AS (
        |  SELECT key, bin, c,
        |    sum(c) OVER (PARTITION BY key ORDER BY bin) AS cum
        |  FROM h)
        |SELECT cum.key AS key, CAST(n.n AS BIGINT) AS n,
        |  CAST((min(CASE WHEN cum >= (5000*n.n+9999)//10000 THEN bin END)+1)*5
        |    AS BIGINT) AS p50,
        |  CAST((min(CASE WHEN cum >= (9000*n.n+9999)//10000 THEN bin END)+1)*5
        |    AS BIGINT) AS p90,
        |  CAST((min(CASE WHEN cum >= (9900*n.n+9999)//10000 THEN bin END)+1)*5
        |    AS BIGINT) AS p99
        |FROM cum JOIN n USING (key)
        |GROUP BY cum.key, n.n ORDER BY key""".stripMargin)),

    // Batch twin of the streaming histogram screen
    // (graft.streaming.EventStreams.histScreen): each event-time hour
    // publishes its value-distribution SKETCH shard — (bin, c) cells
    // over the shared Profile.histBin grid — so any window range folds
    // with histMerge and resolves percentiles with histQuantiles
    // without replaying the stream. Cells are sums: the shard is
    // hash-identical under any micro-batch boundary (streaming-vs-
    // batch equality law-tested in EventStreamsSpec; the hash gate
    // here pins the cell VALUES).
    Q("stream_hist_screen",
      (s, d) => graft.streaming.EventStreams.histScreen(
          Tables.events(s, d).select(col("ts"), col("value")))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("bin"), col("c"))
        .orderBy("hour", "bin"),
      Some("""SELECT strftime(date_trunc('hour', ts),
        |    '%Y-%m-%d %H:%M:%S') AS hour,
        |  least(99, greatest(0, CAST(floor((value - 0.0) / 5.0) AS BIGINT)))
        |    AS bin,
        |  CAST(count(*) AS BIGINT) AS c
        |FROM events GROUP BY 1, 2 ORDER BY hour, bin""".stripMargin)),

    // Exact quantiles (sorted interpolation — identical definition in
    // both engines; no sketches, so values hash-match).
    Q("stats_quantiles",
      // sort-based exact quantiles (Profile.exactQuantiles) — identical
      // interpolation to builtin `percentile`, but no per-group
      // distinct-value map in the aggregation buffer (scale-safe)
      (s, d) => graft.operators.Profile.exactQuantiles(
        Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
          col("l_extendedprice")),
        "flag", "l_extendedprice",
        Seq("median_price" -> 0.5, "p95_price" -> 0.95))
        .orderBy("flag"),
      Some("""SELECT l_returnflag AS flag,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Analytic windows beyond ranking (frame spec + lag): 7-day moving
    // average and day-over-day delta of daily event totals.
    Q("events_rolling",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(col("value")).as("total"))
        val w = Window.orderBy("day")
        daily
          .withColumn("ma7", round(avg(col("total"))
            .over(w.rowsBetween(-6, Window.currentRow)), 6))
          .withColumn("delta",
            round(col("total") - lag(col("total"), 1).over(w), 6))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            round(col("total"), 6).as("total"), col("ma7"), col("delta"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, sum(value) AS total
        |  FROM events GROUP BY 1
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, round(total, 6) AS total,
        |  round(avg(total) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7,
        |  round(total - lag(total, 1) OVER (ORDER BY day), 6) AS delta
        |FROM daily ORDER BY day""".stripMargin),
      core = true),

    // Events — semi-structured source: typed JSON extraction from the
    // props column (from_json with an explicit schema parses once;
    // pushdown-friendly vs stringly get_json_object chains).
    Q("events_json_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          round(avg(col("k")), 6).as("avg_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
        |       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      core = true),

    // Events — sessionization: per-user session count with a 30-minute
    // inactivity gap, via lag + cumulative conditional sum. Exact integer
    // (microsecond) arithmetic on both engines. The streaming twin uses
    // mapGroupsWithState (graft.streaming.EventStreams).
    Q("events_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts")
        Tables.events(s, d)
          .select(col("user_id"), col("ts"))
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_session",
            when(col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1L)
              .otherwise(0L))
          .groupBy("user_id")
          .agg(sum(col("new_session")).as("n_sessions"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (
        |  SELECT user_id,
        |         CASE WHEN lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
      core = true),

    // Visualization manifest — the deterministic artifact behind the
    // reference's T2/T5 notebooks (`codes/task2_vis.ipynb`,
    // `codes/task5_vis.ipynb`): render all four figures + the data view
    // in memory (graft.rideshare.VisReport.renderAll) and expose one
    // (figure, sha256, bytes) row per artifact. SVG rendering isn't
    // SQL, so the oracle is a COMMITTED GOLDEN manifest per scale
    // factor, dispatched on the orders row count (see
    // corpus_datasheet_manifest for the regeneration command) —
    // render drift or a testdata regeneration fails the gate loudly.
    // Determinism is separately pinned by VisReportSpec's
    // double-render test. The collect()s inside renderAll are the
    // notebooks' own pandas step: ≤ dozens of pre-aggregated rows.
    Q("vis_report_manifest",
      (s, d) => {
        val byName = queries.map(q => q.name -> q.fn).toMap
        val arts = graft.rideshare.VisReport.renderAll(
          byName("t2a_trip_count")(s, d), byName("t2b_total_profit")(s, d),
          byName("t2c_total_earnings")(s, d), byName("t5a_daily_avg_value")(s, d))
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        val rows = arts.map { case (name, content) =>
          val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (name, digest.digest(bytes).map("%02x".format(_)).mkString,
            bytes.length.toLong)
        }.sortBy(_._1)
        import s.implicits._
        rows.toDF("figure", "sha256", "bytes").orderBy("figure")
      },
      Some("""WITH n AS (SELECT count(*) AS c FROM orders),
        |exp(figure, sha256, bytes, c) AS (VALUES
        |  ('t2a_trip_counts.svg',
        |   'a2e87b8f8e9820fae4b7ce79a32cac0912c6442c59f884a28b21e7c65b674df9',
        |   9116, 1500),
        |  ('t2b_total_profits.svg',
        |   '56e53d9a8a297465fa4cf41b3497d9634b14d4535bbace94afa3e61a64a24b8e',
        |   9759, 1500),
        |  ('t2c_total_earnings.svg',
        |   '27da89ea516bf9bafa0ae0b582fed52446f9c8370b16027ef0a4e221ba9478ee',
        |   6429, 1500),
        |  ('t5_daily_avg_wait.svg',
        |   'ff2afd21b18b00107c75098380453ce70c3d6b63842a1e99359b520ae47a5bc1',
        |   4790, 1500),
        |  ('vis_report.md',
        |   'fc1a6ad67ce2d923cc80056e0bfea4987cc2d09d78233013abc8dc3eb973f19e',
        |   5423, 1500),
        |  ('t2a_trip_counts.svg',
        |   '8a7d5c892706d10289788fe42b6e78458631e2fba56a70d3a11c51a76b87489e',
        |   9141, 15000),
        |  ('t2b_total_profits.svg',
        |   'b3505ab7f20cd65dfc1f4f678817e07680f0e9219e03df0e78261de1659a9afc',
        |   9790, 15000),
        |  ('t2c_total_earnings.svg',
        |   '60f9ca03e2d2cd8b704ea62f622dd37b2142202351ba9fb290cdbcb13f546b52',
        |   6455, 15000),
        |  ('t5_daily_avg_wait.svg',
        |   '2e95d05b76edf46899bb1ffdfbdc8feaa243f3e88916725fc3148e0fef273448',
        |   4804, 15000),
        |  ('vis_report.md',
        |   '5c0fcaf5d361b6913acf62ea29b7d718c11233996ea6ac1800724c0a61537358',
        |   5589, 15000),
        |  ('t2a_trip_counts.svg',
        |   'a4faed153936b7eeb7362a7fa4d270afcffe36555b6e7cded1200b56314d0d46',
        |   9254, 150000),
        |  ('t2b_total_profits.svg',
        |   '4d2977eb1ddf29cb56ef7feaddb61014eb58a0ab1e2af3cc3f96e1f214628fdb',
        |   9840, 150000),
        |  ('t2c_total_earnings.svg',
        |   '5e6fb2d6cb3258d8ebe29526715c0b4c12f9f8b23c1d979339d2c3b283a631b7',
        |   6495, 150000),
        |  ('t5_daily_avg_wait.svg',
        |   'ae7f29a56c638128fe1ddcbf7cc53c91a2b09132ed8868ab2a19ee40fab7b7ad',
        |   4763, 150000),
        |  ('vis_report.md',
        |   'cc3f3330cfb6df8cd265135178bf65dcd5c2556910bb81b2493775b2ba455a21',
        |   5741, 150000))
        |SELECT figure, sha256, CAST(bytes AS BIGINT) AS bytes
        |FROM exp JOIN n ON exp.c = n.c ORDER BY figure""".stripMargin))
  )
}
