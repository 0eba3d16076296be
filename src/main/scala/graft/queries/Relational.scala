package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryUtil._

/** §2A — the reference's relational query surface (scans, filters,
  * distinct, joins, counts; changegen/db.py + __main__.py SQL),
  * expressed as declarative DataFrame plans so Catalyst handles
  * pushdown, join strategy, and partial aggregation.
  *
  * Money math convention: every double money/quantity column is
  * quantized per-row to bigint cents (`fp(x, 2)` = floor(x*100+0.5))
  * BEFORE aggregation. Per-row IEEE double ops are bit-identical in
  * Spark and DuckDB, and integer sums are order-independent — so
  * results hash-match the oracle exactly, with no decimal-rounding or
  * float-summation-order hazards. Decimal sums of doubles do NOT have
  * this property (ulp-edge rounding differs per engine).
  */
object Relational {

  /** Orders keyed for the as-of rows: (o_orderkey, k = custkey mod
    * 100, oms = order epoch ms). */
  private def asofOrders(s: SparkSession, dir: String): DataFrame = {
    val o0 = t(s, dir, "orders")
    o0.select(
      col("o_orderkey"), pmod(col("o_custkey"), lit(100L)).as("k"),
      tsMs(o0, "o_orderdate").as("oms"))
  }

  /** Events as (k = user_id mod 100, ms, event_id). Events postdate
    * every order by decades; `fold` remaps their times into the
    * order-date span (deterministic pmod) so backward and forward
    * matches both occur. */
  private def asofEvents(s: SparkSession, dir: String, fold: Boolean): DataFrame = {
    val e0 = t(s, dir, "events")
    val ms = if (fold) lit(788918400000L) + pmod(tsMs(e0), lit(207705600000L)) else tsMs(e0)
    e0.select(pmod(col("user_id"), lit(100L)).as("k"), ms.as("ms"), col("event_id"))
  }

  /** SQL twins of [[asofOrders]] and [[asofEvents]]: CTEs `o`, `e`. */
  private def asofCtes(fold: Boolean): String = {
    val ms =
      if (fold) "788918400000 + ((epoch_ms(ts) % 207705600000 + 207705600000) % 207705600000)"
      else "epoch_ms(ts)"
    s"""o AS (SELECT o_orderkey, o_custkey % 100 AS k, epoch_ms(o_orderdate) AS oms FROM orders),
       |e AS (SELECT user_id % 100 AS k, $ms AS ms, event_id FROM events)""".stripMargin
  }

  /** As-of oracle: best time b = `agg`(e.ms `cmp` oms) per order, then
    * the max event_id at that time (graft's struct-max picks the same
    * pair). */
  private def asofSql(fold: Boolean, agg: String, cmp: String): String =
    s"""WITH ${asofCtes(fold)},
       |b AS (SELECT o.o_orderkey, $agg(e.ms) AS ev_ms
       |      FROM o LEFT JOIN e ON e.k = o.k AND e.ms $cmp o.oms GROUP BY 1),
       |p AS (SELECT o.o_orderkey, o.k, o.oms, b.ev_ms, max(e.event_id) AS ev_event_id
       |      FROM o JOIN b ON b.o_orderkey = o.o_orderkey
       |      LEFT JOIN e ON e.k = o.k AND e.ms = b.ev_ms
       |      GROUP BY 1, 2, 3, 4)
       |SELECT o_orderkey, k, oms, ev_ms, ev_event_id FROM p ORDER BY o_orderkey""".stripMargin

  lazy val queries: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("count_order"),
          sum(fp(col("l_quantity"), 2)).as("sum_qty_c"),
          sum(fp(col("l_extendedprice"), 2)).as("sum_base_price_c"),
          sum(fp(discPrice, 2)).as("sum_disc_price_c")
        )
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
        | CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(sum(CAST(floor(l_extendedprice*100+0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
        | CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100+0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_c
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("q2_filter_project", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_size") >= 10 && col("p_type").like("%M%"))
        .select(col("p_partkey"), col("p_name"), fp(col("p_retailprice"), 2).as("p_retailprice_c"))
    }, oracle =
      """SELECT p_partkey, p_name, CAST(floor(p_retailprice*100+0.5) AS BIGINT) AS p_retailprice_c
        |FROM part WHERE p_size >= 10 AND p_type LIKE '%M%' ORDER BY p_partkey""".stripMargin),
    Query("q3_join_agg", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      broadcast(c)
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
          count(lit(1)).as("n_items"),
          sum(fp(discPrice, 2)).as("revenue_c")
        )
    }, oracle =
      """SELECT c_custkey, c_name, count(*) AS n_items,
        | CAST(sum(CAST(floor(l_extendedprice*(1.0-l_discount)*100+0.5) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    Query("q4_distinct", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    }, oracle = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1, 2"),
    Query("q5_sort_limit", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), fp(col("o_totalprice"), 2).as("o_totalprice_c"))
        .orderBy(col("o_totalprice_c").desc, col("o_orderkey"))
        .limit(100)
    }, oracle =
      """SELECT o_orderkey, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS o_totalprice_c
        |FROM orders ORDER BY 2 DESC, o_orderkey LIMIT 100""".stripMargin),
    Query("q6_window", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice_c").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), fp(col("o_totalprice"), 2).as("o_totalprice_c"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice_c, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS o_totalprice_c,
        |         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(floor(o_totalprice*100+0.5) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin),
    Query("q7_semijoin", (s, dir) => {
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      t(s, dir, "supplier")
        .join(l, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    }, oracle =
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 45)
        |ORDER BY s_suppkey""".stripMargin),
    // anti-join against the FILTERED orders subset — on this testdata
    // every customer has *some* order, so the unfiltered anti-join
    // returned 0 rows and the oracle check was vacuous (a WHERE false
    // plan would also have passed). Customers without a finalized
    // ('F') order exist at every SF, so this row set discriminates.
    Query("q8_antijoin", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),
    Query("q9_setop", (s, dir) => {
      val active = t(s, dir, "orders").filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("custkey"))
      active.except(building)
    }, oracle =
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |) ORDER BY custkey""".stripMargin),
    Query("q10_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(fp(col("l_quantity"), 2)).as("sum_qty_c"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),
    Query("q11_like_scan", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").like("%e%"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"))
    }, oracle =
      "SELECT p_brand, count(*) AS n FROM part WHERE p_name LIKE '%e%' GROUP BY 1 ORDER BY 1"),
    Query("q12_outer_join", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
    }, oracle =
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q13_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min(fp(col("l_quantity"), 2)).as("min_qty_c"),
          max(fp(col("l_quantity"), 2)).as("max_qty_c"),
          sum(fp(col("l_quantity"), 2)).as("sum_qty_c"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty_fp4", fp(col("sum_qty_c") / col("n"), 4))
    }, oracle =
      """SELECT l_returnflag,
        | min(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS min_qty_c,
        | max(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS max_qty_c,
        | CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | count(*) AS n,
        | CAST(floor(CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) / count(*) * 1e4 + 0.5) AS BIGINT) AS avg_qty_fp4
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q14_lead_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), fp(col("o_totalprice"), 2).as("price_c"))
        .withColumn("prev_c", coalesce(lag("price_c", 1).over(w), lit(-1L)))
        .withColumn("next_c", coalesce(lead("price_c", 1).over(w), lit(-1L)))
    // no output orderBy: row-per-order output, and the window already
    // sorted within partitions — a global presentation sort would add
    // a corpus-sized range shuffle the checker (which row-sorts before
    // hashing) never needs
    }, oracle =
      """SELECT o_custkey, o_orderkey,
        | CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS price_c,
        | coalesce(lag(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) OVER w, -1) AS prev_c,
        | coalesce(lead(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) OVER w, -1) AS next_c
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // 11e — top-N per group (rank within partition, deterministic
    // tie-break on keys, rn <= 3). The window sorts per group; the
    // partition key shuffle is the only exchange.
    Query("q15_topn_group", (s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("price_c").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          fp(col("l_extendedprice"), 2).as("price_c"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
    }, oracle =
      """SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CAST(floor(l_extendedprice*100+0.5) AS BIGINT) AS price_c,
        | rn
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY CAST(floor(l_extendedprice*100+0.5) AS BIGINT) DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin),
    // 11f — moving aggregate over an ordered frame (ROWS BETWEEN 4
    // PRECEDING AND CURRENT ROW): per-supplier trailing window over
    // quantized cents, so the windowed sum is integer-exact on both
    // engines; the trailing mean divides two exact longs.
    Query("q16_moving_avg", (s, dir) => {
      val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_suppkey").orderBy(order: _*).rowsBetween(-4, 0)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") % 10 === 0)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_shipdate"), fp(col("l_quantity"), 2).as("qty_c"))
        .withColumn("win_sum_c", sum(col("qty_c")).over(w))
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("mavg_fp2", fp(col("win_sum_c").cast("double") / col("win_n").cast("double") / 100.0, 2))
        .drop("qty_c", "l_shipdate")
    }, oracle =
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) OVER w AS BIGINT) AS win_sum_c,
        | count(*) OVER w AS win_n,
        | CAST(floor(CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) OVER w AS DOUBLE)
        |   / CAST(count(*) OVER w AS DOUBLE) / 100.0 * 100 + 0.5) AS BIGINT) AS mavg_fp2
        |FROM lineitem WHERE l_suppkey % 10 = 0
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    // 11g — backward as-of join (point-in-time enrichment): each order
    // picks the latest event at-or-before its date on a shared derived
    // key. Sort-merge over a tagged union — ONE key shuffle, no range
    // θ-join, no BroadcastNestedLoopJoin (operators/AsofJoin.scala).
    // orders.o_orderdate and events.ts are parquet timestamp[us]
    // (real TIMESTAMP columns, UTC session) — both normalize to epoch
    // ms through tsMs, which branches on the LOADED dataType so a
    // driver-side regeneration to timestamp[ns]-as-long (or back)
    // cannot strand the query again.
    Query("q17_asof_join", (s, dir) => {
      val (o, e) = (asofOrders(s, dir), asofEvents(s, dir, fold = false))
      graft.operators.AsofJoin.asofBackward(o, "k", "oms", e, "k", "ms", Seq("event_id"))
        .select(col("o_orderkey"), col("k"), col("oms"),
          col("asof_time").as("ev_ms"), col("asof_event_id").as("ev_event_id"))
    }, // row-per-order output — no presentation sort (checker row-sorts)
    oracle = asofSql(fold = false, "max", "<=")),
    // 11h — interval (range) join: customer points against supplier
    // intervals, p ∈ [lo, hi]. 1-D grid bucketing — the interval
    // replicates over its covered buckets, the point sits in ONE, so
    // the equi-join meets each qualifying pair exactly once
    // (operators/RangeJoin.scala); the BETWEEN θ-join this replaces
    // would plan a nested-loop broadcast.
    Query("q18_range_join", (s, dir) => {
      val pts = t(s, dir, "customer")
        .select(col("c_custkey"), (col("c_custkey") * 13 % 1000 / lit(10.0)).as("p"))
      val iv = t(s, dir, "supplier")
        .select(col("s_suppkey"), (col("s_suppkey") * 17 % 970 / lit(10.0)).as("lo"))
        .withColumn("hi", col("lo") + lit(1.0) + col("s_suppkey") % 20 / lit(10.0))
      graft.operators.RangeJoin.intervalJoin(pts, "p", iv, "lo", "hi", bucketWidth = 3.0)
        .select(col("c_custkey"), col("s_suppkey"),
          fp(col("p"), 6).as("p_fp6"), fp(col("lo"), 6).as("lo_fp6"))
    }, oracle =
      // both engines derive p/lo/hi with the same double op order, so
      // the containment set is identical before fp6 quantization
      """SELECT c_custkey, s_suppkey,
        | CAST(floor(p*1e6+0.5) AS BIGINT) AS p_fp6,
        | CAST(floor(lo*1e6+0.5) AS BIGINT) AS lo_fp6
        |FROM (SELECT c_custkey, c_custkey*13 % 1000 / 10.0 AS p FROM customer),
        |     (SELECT s_suppkey, s_suppkey*17 % 970 / 10.0 AS lo,
        |             s_suppkey*17 % 970 / 10.0 + 1.0 + s_suppkey % 20 / 10.0 AS hi
        |      FROM supplier)
        |WHERE p >= lo AND p <= hi
        |ORDER BY c_custkey, s_suppkey""".stripMargin),
    // 11i — PIVOT (long→wide conditional aggregation): events per user
    // spread into one count column per event type. Spark's pivot with
    // an EXPLICIT value list — no extra distinct-values job, and the
    // plan is a single hash aggregate over Expand-free conditional
    // counts (one shuffle on the group key). Missing cells coalesce
    // to 0 so the engines agree (pivot-count yields null there).
    Query("q19_pivot", (s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
        .select(col("user_id") +: types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
    }, oracle =
      """SELECT user_id,
        | CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
        | CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        | CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
        | CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
        | CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 11h — per-group Pearson correlation from exact integer moment
    // sums: both inputs quantize to cents first, the five moments
    // accumulate in DECIMAL(38,0) (never float sums — partial-agg
    // order would change the result), and only the final
    // num/sqrt(d1·d2) drops to double, once, in the same expression
    // shape the oracle uses. One shuffle (the groupBy), map-side
    // partial moments — the textbook distributed-corr shape
    Query("q20_corr", (s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val x = fp(col("l_quantity"), 2)
      val y = fp(col("l_extendedprice"), 2)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          // zero-variance guard: a degenerate group (all-x or all-y
          // equal) makes a denominator factor 0 → NaN, and the two
          // engines diverge on NaN handling (Spark fp() nulls, DuckDB
          // CAST(floor(nan)) errors) — emit NULL identically instead
          when((col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
               (col("n") * col("syy") - col("sy") * col("sy")) === 0,
            lit(null).cast("long"))
            .otherwise(
              fp((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                  (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4))
            .as("corr_fp4"))
    }, oracle =
      // moment sums stay exact integers (DuckDB sum(BIGINT) → HUGEINT,
      // Spark DECIMAL(38,0)); only the final ratio drops to double, in
      // the same expression shape, so fp4 lands identically
      """WITH q AS (SELECT l_returnflag,
        |    CAST(floor(l_quantity*100+0.5) AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice*100+0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM q GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL
        |    ELSE CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
        |      * 1e4 + 0.5) AS BIGINT)
        |  END AS corr_fp4
        |FROM m ORDER BY l_returnflag""".stripMargin),
    // 11i — latest-row-per-key (the QUALIFY row_number()=1 pattern:
    // CDC upsert compaction / changelog dedup — the most common
    // warehouse maintenance query): per (user, event type), the
    // newest event wins on (ms, event_id) — a TOTAL order, so rank 1
    // is unique and the result retry/partitioning-stable. One key
    // shuffle; the window partition is per-key-sized, never global
    Query("q21_latest_per_key", (s, dir) => {
      val e0 = t(s, dir, "events")
      val e = e0.select(col("user_id"), col("event_type"), col("event_id"),
        tsMs(e0).as("ms"), fp(col("value"), 4).as("v4"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ms").desc, col("event_id").desc)
      e.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .drop("_rk")
    }, oracle =
      // (ms, event_id) is a total order, so QUALIFY rank 1 is unique
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
        |    CAST(floor("value"*1e4+0.5) AS BIGINT) AS v4 FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ms DESC, event_id DESC) AS rk FROM e)
        |SELECT user_id, event_type, event_id, ms, v4 FROM r WHERE rk = 1
        |ORDER BY user_id, event_type""".stripMargin),
    // 11l — UNPIVOT (wide→long): the inverse of q19's PIVOT — melt
    // the three lineitem measure columns into (measure, value) rows
    // (Spark's unpivot plans an Expand: each input row fans out to
    // one row per measure BEFORE the map-side partial agg, so the
    // shuffle carries 3 agg cells per task, not 3× the corpus). Cents
    // quantization per row keeps the sums exact integers.
    Query("q22_unpivot", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          fp(col("l_quantity"), 2).as("quantity_c"),
          fp(col("l_extendedprice"), 2).as("extendedprice_c"),
          fp(col("l_discount"), 2).as("discount_c"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity_c"), col("extendedprice_c"), col("discount_c")),
          "measure", "value_c")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), sum("value_c").cast("long").as("sum_c"),
          min("value_c").as("min_c"), max("value_c").as("max_c"))
    }, oracle =
      """WITH u AS (
        |  SELECT 'quantity_c' AS measure, CAST(floor(l_quantity*100+0.5) AS BIGINT) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice_c', CAST(floor(l_extendedprice*100+0.5) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_c', CAST(floor(l_discount*100+0.5) AS BIGINT) FROM lineitem)
        |SELECT measure, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_c,
        |  min(v) AS min_c, max(v) AS max_c
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
    // 11m — correlated scalar subquery through the SQL FRONT-END:
    // orders whose total exceeds 1.5× their own customer's average
    // (the planner must decorrelate — RewriteCorrelatedScalarSubquery
    // turns each subquery into an aggregate + join, and
    // MergeScalarSubqueries can fuse the two over the same table;
    // nothing executes per-row). The 1.5× test is all-integer:
    // 2·cents·n > 3·Σcents avoids a cross-engine double average.
    Query("q23_correlated", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_q23_orders")
      s.sql("""
        SELECT o_custkey, count(*) AS n_big
        FROM graft_q23_orders o
        WHERE 2 * CAST(floor(o_totalprice*100+0.5) AS BIGINT)
                * (SELECT count(*) FROM graft_q23_orders o2
                   WHERE o2.o_custkey = o.o_custkey)
            > 3 * (SELECT sum(CAST(floor(o2.o_totalprice*100+0.5) AS BIGINT))
                   FROM graft_q23_orders o2
                   WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey ORDER BY o_custkey
      """)
    }, oracle =
      """SELECT o_custkey, count(*) AS n_big
        |FROM orders o
        |WHERE 2 * CAST(floor(o_totalprice*100+0.5) AS BIGINT)
        |        * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > 3 * (SELECT CAST(sum(CAST(floor(o2.o_totalprice*100+0.5) AS BIGINT)) AS BIGINT)
        |           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // 11n — LATERAL correlated subquery with ORDER BY + LIMIT (the
    // SQL-standard "top-3 orders per customer" shape). Distinct
    // planner path from q15's window-rank: the lateral decorrelates
    // through DomainJoin into WindowGroupLimit — a PARTIAL map-side
    // top-k per key BEFORE the exchange (each task forwards ≤3 rows
    // per customer, not the customer's whole order history), then the
    // final group-limit after the key shuffle, joined back broadcast.
    // Tie-break on unique o_orderkey keeps the top-3 total-ordered.
    Query("q24_lateral", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_q24_customer")
      t(s, dir, "orders").createOrReplaceTempView("graft_q24_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM graft_q24_customer c,
        LATERAL (
          SELECT o_orderkey, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents
          FROM graft_q24_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY cents DESC, o_orderkey
          LIMIT 3
        ) t
        ORDER BY c.c_custkey, cents DESC, o_orderkey
      """)
    }, oracle =
      """SELECT c.c_custkey, t.o_orderkey, t.cents
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY cents DESC, o_orderkey
        |  LIMIT 3
        |) t
        |ORDER BY c.c_custkey, cents DESC, o_orderkey""".stripMargin),
    // 11o — RANGE-frame window (value-based bounds): per customer,
    // trailing-30-DAY order spend/count ordered by epoch day. The
    // semantics q16's ROWS frame can't express — the frame holds
    // whatever rows fall in the value interval (gaps shrink it, peer
    // days enter together), which is the time-windowed feature shape
    // (trailing-spend features, rate limits, rolling exposure).
    // Scale: one key shuffle, per-key sort bounded by a customer's
    // order count, frame evaluation is the sliding two-pointer pass
    // Spark codegens for bounded RANGE frames — never O(rows²).
    Query("q25_range_frame", (s, dir) => {
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
      o.select(col("o_custkey"), col("o_orderkey"),
          expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000").as("day"),
          fp(col("o_totalprice"), 2).as("cents"))
        .withColumn("sum30_c", sum("cents").over(w))
        .withColumn("n30", count(lit(1)).over(w))
    }, oracle =
      """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) // 86400000 AS day,
        |  CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents,
        |  CAST(sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) OVER w AS BIGINT) AS sum30_c,
        |  count(*) OVER w AS n30
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate) // 86400000
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day, o_orderkey""".stripMargin),
    // 11p — SALTED skew join: the fact side is deliberately skewed
    // (~80% of rows map to key 0 — the hot-partition shape a Zipf
    // key distribution produces at 100 TB), and the join is salted
    // EXPLICITLY: the fact adds a 16-way salt, the dim replicates
    // ×16 (explode over the salt domain), and the equi-join runs on
    // (k, salt) — so the hot key's rows spread over 16 tasks instead
    // of melting one reducer. shuffle_hash hint keeps the join a
    // real shuffle (a broadcast would hide the technique; at scale
    // the dim is past broadcast size and this IS the plan). The
    // salt never changes semantics: every fact row still meets its
    // dim row exactly once — the oracle is the PLAIN unsalted join.
    // AQE's skew-join handles sort-merge skew automatically;
    // explicit salting is the portable form that also covers
    // hash joins and aggregations.
    Query("q26_skew_join", (s, dir) => {
      val S = 16
      val fact = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 5 =!= 0, 0L)
          .otherwise(pmod(col("l_orderkey"), lit(97L))).as("k"),
        pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(S.toLong)).as("salt"),
        fp(col("l_extendedprice"), 2).as("cents"))
      // dim attribute = name of the min suppkey per k: long min is
      // hash-aggregable where min(string) would force SortAggregate
      val sup = t(s, dir, "supplier")
        .select(pmod(col("s_suppkey"), lit(97L)).as("k"),
          col("s_suppkey"), col("s_name"))
      val dim = sup.groupBy("k").agg(min("s_suppkey").as("s_suppkey"))
        .join(sup, Seq("k", "s_suppkey"))
        .select(col("k"), col("s_name").as("dim_name"))
      val dimSalted = dim.withColumn("salt",
        explode(array((0 until S).map(i => lit(i.toLong)): _*)))
      fact.join(dimSalted.hint("shuffle_hash"), Seq("k", "salt"))
        .groupBy("k", "dim_name")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_c"))
    }, oracle =
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 5 <> 0 THEN 0
        |              ELSE l_orderkey % 97 END AS k,
        |    CAST(floor(l_extendedprice*100+0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |dim AS (
        |  SELECT m.k, s.s_name AS dim_name
        |  FROM (SELECT s_suppkey % 97 AS k, min(s_suppkey) AS sk
        |        FROM supplier GROUP BY 1) m
        |  JOIN supplier s ON s.s_suppkey = m.sk)
        |SELECT f.k, d.dim_name, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_c
        |FROM fact f JOIN dim d ON d.k = f.k
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),
    // 11q — DISTRIBUTION window functions (the ranking family q6/q15
    // don't cover): per market segment, each customer's spend
    // quartile (ntile), percent_rank, cume_dist, and the segment's
    // bottom/top spender via first/last_value over the FULL frame
    // (unbounded both ways — the frame-spec nuance that trips naive
    // last_value uses: the default frame stops at CURRENT ROW).
    // Total order (spend, custkey) makes every rank deterministic;
    // percent_rank/cume_dist divisions are exact small-int ratios,
    // fp6-quantized identically cross-engine. One key shuffle,
    // per-segment sort bounded by segment size.
    Query("q27_distribution_ranks", (s, dir) => {
      val spend = t(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(fp(col("o_totalprice"), 2)).cast("long").as("spend_c"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val w = Window.partitionBy("c_mktsegment").orderBy(col("spend_c"), col("c_custkey"))
      val wf = Window.partitionBy("c_mktsegment").orderBy(col("spend_c"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cust.join(spend, col("c_custkey") === col("o_custkey"))
        .select(col("c_mktsegment"), col("c_custkey"), col("spend_c"),
          ntile(4).over(w).as("quartile"),
          fp(percent_rank().over(w), 6).as("pct_rank_fp6"),
          fp(cume_dist().over(w), 6).as("cume_fp6"),
          first(col("c_custkey")).over(wf).as("bottom_custkey"),
          last(col("c_custkey")).over(wf).as("top_custkey"))
    }, oracle =
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice*100+0.5) AS BIGINT)) AS BIGINT) AS spend_c
        |  FROM orders GROUP BY 1)
        |SELECT c_mktsegment, c_custkey, spend_c,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  CAST(floor(percent_rank() OVER w * 1e6 + 0.5) AS BIGINT) AS pct_rank_fp6,
        |  CAST(floor(cume_dist() OVER w * 1e6 + 0.5) AS BIGINT) AS cume_fp6,
        |  first_value(c_custkey) OVER wf AS bottom_custkey,
        |  last_value(c_custkey) OVER wf AS top_custkey
        |FROM customer JOIN spend ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend_c, c_custkey),
        |  wf AS (PARTITION BY c_mktsegment ORDER BY spend_c, c_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY 1, 3, 2""".stripMargin),
    // 11s — CUBE + GROUPING_ID (the all-subsets grouping q10's rollup
    // — prefix-hierarchy only — doesn't cover): every 2^k dimension
    // subset aggregated in ONE Expand+hash-agg pass (k× row expansion
    // map-side, one shuffle — never 2^k separate scans), with
    // grouping_id() disambiguating "NULL because aggregated away"
    // from a genuinely NULL dimension value. The BI-layer workhorse
    // for materialized all-margins summaries.
    Query("q29_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(fp(col("l_quantity"), 2)).as("sum_qty_c"),
          grouping_id().as("gid"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),
    // 11r — BAG-semantics set operations (q9 is set-semantics EXCEPT;
    // multiplicities are a different operator): INTERSECT ALL keeps
    // min(cntA, cntB) copies per value, EXCEPT ALL keeps
    // max(0, cntA − cntB). Catalyst rewrites both into ONE count
    // aggregate per side + a Generate that re-expands the surviving
    // multiplicity — an equi-shuffle on the value key, never a join
    // of the raw bags — so the op costs two pre-agg scans regardless
    // of duplication depth. Output re-aggregates the expanded bags so
    // the oracle can hash-match multiplicities exactly.
    Query("q28_setop_all", (s, dir) => {
      val a = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select((col("l_orderkey") % 1000).as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select((col("o_orderkey") % 1000).as("k"))
      val ia = a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_both"))
      val ea = a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_only_a"))
      ia.join(ea, Seq("k"), "full_outer")
        .select(coalesce(col("k"), lit(-1L)).as("k"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          coalesce(col("n_only_a"), lit(0L)).as("n_only_a"))
    }, oracle =
      """WITH a AS (SELECT l_orderkey % 1000 AS k FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT o_orderkey % 1000 AS k FROM orders WHERE o_orderstatus = 'F'),
        |ia AS (SELECT k, count(*) AS n_both
        |  FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY 1),
        |ea AS (SELECT k, count(*) AS n_only_a
        |  FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY 1)
        |SELECT coalesce(ia.k, ea.k) AS k, coalesce(n_both, 0) AS n_both,
        |  coalesce(n_only_a, 0) AS n_only_a
        |FROM ia FULL JOIN ea ON ia.k = ea.k ORDER BY k""".stripMargin),
    // 11t — FORWARD as-of join (q17's time-mirror): each order picks
    // the EARLIEST event at-or-after its date on the same key — the
    // "next event after" enrichment (next tick, next deploy). Same
    // single-shuffle tagged-union sort-merge as backward, run on
    // negated time (operators/AsofJoin.asofForward) — no range
    // θ-join, no per-row probe.
    Query("q30_asof_fwd", (s, dir) => {
      val (o, e) = (asofOrders(s, dir), asofEvents(s, dir, fold = false))
      graft.operators.AsofJoin.asofForward(o, "k", "oms", e, "k", "ms", Seq("event_id"))
        .select(col("o_orderkey"), col("k"), col("oms"),
          col("asof_time").as("ev_ms"), col("asof_event_id").as("ev_event_id"))
    }, // row-per-order output — no presentation sort (checker row-sorts)
    oracle = asofSql(fold = false, "min", ">=")),
    // 11v — the SKEW-PROOF as-of path under the oracle gate: q17's
    // exact semantics through AsofJoin.asofBackwardEpoch (sort
    // partitioned on (key, week-epoch) with carrier seeding instead
    // of key alone — the hot-key remedy). Until now the epoch variant
    // was property-tested against the plain one; this pins it to the
    // independent DuckDB oracle too, so BOTH physical strategies are
    // externally verified equal.
    Query("q32_asof_skew", (s, dir) => {
      val (o, e) = (asofOrders(s, dir), asofEvents(s, dir, fold = true))
      graft.operators.AsofJoin.asofBackwardEpoch(o, "k", "oms", e, "k", "ms",
          Seq("event_id"), epochMs = 604800000L)
        .select(col("o_orderkey"), col("k"), col("oms"),
          col("asof_time").as("ev_ms"), col("asof_event_id").as("ev_event_id"))
    }, // row-per-order output — no presentation sort (checker row-sorts)
    oracle =
      // q17's semantics over the span-folded event times (so backward
      // matches exist) — the epoch-split physical path must reproduce
      // them exactly
      asofSql(fold = true, "max", "<=")),
    // 11u — NEAREST as-of (either direction): each order picks
    // whichever of {latest event ≤ t, earliest event ≥ t} is closer
    // in time, ties to the backward side — the gap-tolerant
    // enrichment when staleness in either direction is acceptable.
    // COMPOSED from the two as-of primitives by CHAINING: the
    // forward pass runs with the backward pass's output as its left
    // side (both are left-preserving), so the pick is a narrow map —
    // two sort-merge passes total, no extra join to reconcile them.
    Query("q31_asof_nearest", (s, dir) => {
      val (o, e) = (asofOrders(s, dir), asofEvents(s, dir, fold = true))
      val b = graft.operators.AsofJoin.asofBackward(o, "k", "oms", e, "k", "ms",
        Seq("event_id"), prefix = "b_")
      val bf = graft.operators.AsofJoin.asofForward(b, "k", "oms", e, "k", "ms",
        Seq("event_id"), prefix = "f_")
      val useB = col("f_time").isNull ||
        (col("b_time").isNotNull &&
          (col("oms") - col("b_time")) <= (col("f_time") - col("oms")))
      bf.select(col("o_orderkey"), col("k"), col("oms"),
        when(useB, col("b_time")).otherwise(col("f_time")).as("ev_ms"),
        when(useB, col("b_event_id")).otherwise(col("f_event_id")).as("ev_event_id"),
        when(col("b_time").isNull && col("f_time").isNull, lit(null).cast("string"))
          .when(useB, lit("b")).otherwise(lit("f")).as("dir"))
    }, // row-per-order output — no presentation sort (checker row-sorts)
    oracle =
      s"""WITH ${asofCtes(fold = true)},
        |bb AS (SELECT o.o_orderkey, max(e.ms) AS bt
        |       FROM o LEFT JOIN e ON e.k = o.k AND e.ms <= o.oms GROUP BY 1),
        |bp AS (SELECT o.o_orderkey, bb.bt, max(e.event_id) AS bid
        |       FROM o JOIN bb ON bb.o_orderkey = o.o_orderkey
        |       LEFT JOIN e ON e.k = o.k AND e.ms = bb.bt GROUP BY 1, 2),
        |ff AS (SELECT o.o_orderkey, min(e.ms) AS ft
        |       FROM o LEFT JOIN e ON e.k = o.k AND e.ms >= o.oms GROUP BY 1),
        |fp AS (SELECT o.o_orderkey, ff.ft, max(e.event_id) AS fid
        |       FROM o JOIN ff ON ff.o_orderkey = o.o_orderkey
        |       LEFT JOIN e ON e.k = o.k AND e.ms = ff.ft GROUP BY 1, 2)
        |SELECT o.o_orderkey, o.k, o.oms,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND o.oms - bt <= ft - o.oms)
        |       THEN bt ELSE ft END AS ev_ms,
        |  CASE WHEN ft IS NULL OR (bt IS NOT NULL AND o.oms - bt <= ft - o.oms)
        |       THEN bid ELSE fid END AS ev_event_id,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL OR (bt IS NOT NULL AND o.oms - bt <= ft - o.oms)
        |       THEN 'b' ELSE 'f' END AS dir
        |FROM o JOIN bp ON bp.o_orderkey = o.o_orderkey
        |JOIN fp ON fp.o_orderkey = o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin)
  )
}
