package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Exact
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The SURVEY.md §2.12 operator inventory, re-expressed over the driver's
  * TPC-H-ish testdata. Each entry exercises one operator family of the
  * reference (file:line cited per query) as a lazy Catalyst plan.
  *
  * Scale stance (100 TB): dimension joins take explicit `broadcast` hints
  * (region/nation/customer/supplier/part are orders of magnitude smaller than
  * the fact tables); fact-fact joins shuffle on their natural keys and rely on
  * AQE for skew/coalesce; every query is a pure projection/filter/agg pipeline
  * so predicate pushdown and column pruning reach the parquet scan.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Round-half-up snap to 1/scale precision — the engine-wide form for
    * emitting order-dependent double sums at their true decimal precision
    * (QueryDef determinism rules; mirrors FLOOR(x*scale+0.5)/scale in the
    * oracle SQL; never ROUND, whose half-modes differ across engines).
    */
  private def snap(c: Column, scale: Double): Column =
    floor(c * scale + 0.5).cast("double") / scale

  /** Exact cross-engine price sum (r11 sf1 shakeout): each term is cast to
    * DECIMAL(38,`dp`) — tie-free for doubles (a dyadic binary fraction can
    * never sit exactly halfway between two decimal grid points), so both
    * engines round identically — then summed EXACTLY (order-free) and cast
    * once back to double (correctly rounded in both engines). Replaces the
    * `snap`-after-double-sum convention for price columns, whose
    * `drift ≪ grain/2` assumption breaks once a group's sum reaches
    * ~grain × 5e13 (measured: q_agg_star's 25-nation revenue at 6M rows
    * drifted 1.0e-4 against a 0.5e-4 margin; q_cube's grand total 1.0e-2
    * against 0.5e-2). Value-identical to the snap at every SF where the
    * assumption held — tested-SF hashes are byte-unchanged. SQL twin:
    * `CAST(SUM(CAST(x AS DECIMAL(38,dp))) AS DOUBLE)`.
    */
  private def exactSum(term: Column, dp: Int): Column =
    sum(term.cast(org.apache.spark.sql.types.DecimalType(38, dp))).cast("double")

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // S4/P1 — scan + column projection (reference: transform/__init__.py:227-233).
    // Column pruning must reach the parquet reader (ReadSchema shows 4 cols).
    QueryDef(
      "q_scan_project",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // ------------------------------------------------------------------
    // P5/P7 — range predicates (reference: validate/__init__.py:77-137).
    // Both bounds push down to the scan (PushedFilters).
    QueryDef(
      "q_filter_range",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
             |FROM lineitem
             |WHERE l_quantity BETWEEN 10 AND 20 AND l_discount >= 0.05""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_quantity" >= 10 && $"l_quantity" <= 20 && $"l_discount" >= 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      }),

    // ------------------------------------------------------------------
    // P3 — guarded conditional derived column, the cop_proxy pattern
    // (reference: transform/__init__.py:267-274 — divide only when the
    // denominator >= 1.0, else NULL; real SQL NULL, not NaN).
    QueryDef(
      "q_derived_conditional",
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_quantity >= 1.0
             |       THEN (l_extendedprice * (1.0 - l_discount)) / l_quantity
             |       ELSE NULL END AS unit_net_price
             |FROM lineitem""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").select(
          $"l_orderkey",
          $"l_linenumber",
          when($"l_quantity" >= 1.0,
            ($"l_extendedprice" * (lit(1.0) - $"l_discount")) / $"l_quantity")
            .otherwise(lit(null)).as("unit_net_price"))
      }),

    // ------------------------------------------------------------------
    // P4 — arithmetic derived column, the temp_deviation pattern
    // (reference: load/__init__.py:92). Per-row IEEE arithmetic only.
    QueryDef(
      "q_derived_arith",
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1.0 - l_discount) AS revenue,
             |  l_extendedprice * l_tax AS tax_amount
             |FROM lineitem""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").select(
          $"l_orderkey",
          $"l_linenumber",
          ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          ($"l_extendedprice" * $"l_tax").as("tax_amount"))
      }),

    // ------------------------------------------------------------------
    // J1/J2 — fact→dim left equi-join lookup
    // (reference: transform/__init__.py:213-223). Dim side broadcast.
    QueryDef(
      "q_join_dim",
      Some("""SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey", "left")
          .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
      }),

    // ------------------------------------------------------------------
    // J4 — 5-way star join, inner (reference: load/__init__.py:75-103,
    // vw_zone_with_weather). lineitem⋈orders shuffles on orderkey; the three
    // dim joins broadcast, so the whole star is one shuffle.
    QueryDef(
      "q_join_star5",
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice,
             |       o_orderstatus, c_mktsegment, n_name, r_name
             |FROM lineitem
             |JOIN orders   ON l_orderkey  = o_orderkey
             |JOIN customer ON o_custkey   = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "o_orderstatus", "c_mktsegment", "n_name", "r_name")
      }),

    // ------------------------------------------------------------------
    // J5 — fact-fact join on a composite key (reference: load/__init__.py:
    // 107-140, the 3-column fact_meters⋈fact_weather join). Here: events
    // joined back to its own per-(user, day) rollup. Both sides share the
    // (user_id, event_date) shuffle key, so AQE can plan a single exchange.
    QueryDef(
      "q_join_factfact_composite",
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date, value
             |  FROM events),
             |d AS (
             |  SELECT user_id, event_date,
             |         CAST(COUNT(*) AS BIGINT) AS n_day, MAX(value) AS day_max
             |  FROM e GROUP BY user_id, event_date)
             |SELECT e.event_id, e.user_id, e.event_date, e.value, d.n_day, d.day_max
             |FROM e JOIN d USING (user_id, event_date)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "events")
          .select($"event_id", $"user_id", to_date($"ts").as("event_date"), $"value")
        val d = e.groupBy($"user_id", $"event_date")
          .agg(count(lit(1)).as("n_day"), max($"value").as("day_max"))
        e.join(d, Seq("user_id", "event_date"))
          .select("event_id", "user_id", "event_date", "value", "n_day", "day_max")
      }),

    // ------------------------------------------------------------------
    // J6 — dimension fan-out "cross" join (reference: transform/__init__.py:
    // 393-401, weather replicated per building).
    QueryDef(
      "q_fanout_cross",
      Some("""SELECT r_regionkey, r_name, o_orderpriority
             |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "region")
          .crossJoin(t(s, dir, "orders").select($"o_orderpriority").distinct())
          .select("r_regionkey", "r_name", "o_orderpriority")
      }),

    // ------------------------------------------------------------------
    // A1/J7 — the flagship aggregation star join (reference:
    // load/__init__.py:143-163, vw_energy_summary: COUNT(DISTINCT), SUMs,
    // AVGs over a dim-joined fact). sum/avg of l_quantity are exact in
    // double; the price-weighted revenue is rounded for cross-engine parity.
    QueryDef(
      "q_agg_star",
      Some("""SELECT n_name,
             |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
             |  CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  SUM(l_quantity) AS sum_qty,
             |  AVG(l_quantity) AS avg_qty,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey  = o_orderkey
             |JOIN customer ON o_custkey   = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // Pre-aggregate lineitem PER ORDER before the fact–fact join (r16
        // optimization, guide §2.3 "aggregate before you shuffle"): the
        // orderkey grain collapses ~4 lines/order with map-side partial
        // aggregation ahead of the exchange, and — because each surviving
        // orderkey is then exactly ONE row — countDistinct(o_orderkey)
        // becomes a plain count, removing the distinct-agg Expand that
        // doubled every joined row through the aggregation. Values are
        // IDENTICAL by exactness, not by luck: l_quantity sums are integer
        // sums in double (exact at any grouping, far under 2^53), the
        // revenue terms sum in DECIMAL(38,4) (exact + associative — the
        // exactSum contract), n_lines/n_orders are integer counts, and
        // avg_qty = exact sum / exact count is the same single IEEE divide
        // Spark's Average evaluates. Oracle SQL unchanged.
        val lpre = t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(
            count(lit(1)).as("nl"),
            // the avg denominator counts NON-NULL quantities (ADVICE r16
            // #2): AVG(l_quantity) skips NULLs, count(*) would not —
            // identical on TPC-H's non-null column, kept faithful anyway
            count($"l_quantity").as("cq"),
            sum($"l_quantity").as("sq"),
            sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
              .cast(org.apache.spark.sql.types.DecimalType(38, 4))).as("rev"))
        lpre
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(
            count(lit(1)).as("n_orders"),
            sum($"nl").as("n_lines"),
            sum($"sq").as("sum_qty"),
            (sum($"sq") / sum($"cq")).as("avg_qty"),
            sum($"rev").cast("double").as("revenue"))
      }),

    // ------------------------------------------------------------------
    // A2 — grouped sums feeding business rules (reference:
    // validate/__init__.py:204-227, energy plausibility). The rule predicate
    // rides on the aggregate as a boolean column.
    QueryDef(
      "q_agg_grouped_rules",
      Some("""SELECT o_custkey, o_orderstatus,
             |  CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) > 0.0 AS rule_positive
             |FROM orders
             |GROUP BY o_custkey, o_orderstatus""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_custkey", $"o_orderstatus")
          .agg(
            count(lit(1)).as("n_orders"),
            // true total is an exact 2-decimal value → the per-term decimal
            // cast recovers it and the sum is order-free (exactSum)
            exactSum($"o_totalprice", 2)
              .as("total_price"))
          .withColumn("rule_positive", $"total_price" > 0.0)
      }),

    // ------------------------------------------------------------------
    // A5 — conditional count / count-if (reference: README.md:262, comfort
    // hours: SUM(CASE WHEN ABS(dev) > k THEN 1 ELSE 0 END)). Expressed as
    // COUNT(CASE...) so both engines emit BIGINT (DuckDB SUM(int)→HUGEINT).
    QueryDef(
      "q_countif",
      Some("""SELECT
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(CASE WHEN ABS(l_extendedprice * l_discount) > 1000.0
             |             THEN 1 END) AS BIGINT) AS n_big_discount
             |FROM lineitem""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          count(when(abs($"l_extendedprice" * $"l_discount") > 1000.0, 1)).as("n_big_discount"))
      }),

    // ------------------------------------------------------------------
    // A6/F1 — binned aggregate / histogram (reference: README.md:267-275,
    // COP-vs-outdoor-temp per ROUND(temp)). Binning uses FLOOR(x + 0.5) —
    // round-half-up spelled in IEEE primitives so both engines agree bit-for-
    // bit (Spark ROUND is HALF_UP via BigDecimal, DuckDB differs on halves).
    QueryDef(
      "q_bin_round",
      Some("""SELECT CAST(FLOOR(o_totalprice / 1000.0 + 0.5) AS BIGINT) AS price_bin,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) AS avg_price
             |FROM orders
             |GROUP BY 1""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy(floor($"o_totalprice" / 1000.0 + 0.5).as("price_bin"))
          .agg(
            count(lit(1)).as("n"),
            // avg derived from the exact decimal sum so both engines divide
            // the identical numerator by the identical count
            (exactSum($"o_totalprice", 2)
              / count(lit(1))).as("avg_price"))
      }),

    // ------------------------------------------------------------------
    // A7 — distinct / dedup on a key pair (reference: transform/__init__.py:
    // 96,133 drop_duplicates). SELECT DISTINCT (set semantics) rather than
    // dropDuplicates (arbitrary-survivor semantics) so the result is
    // deterministic across engines.
    QueryDef(
      "q_dedup",
      Some("SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"),
      (s, dir) =>
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()),

    // ------------------------------------------------------------------
    // W1 — surrogate-key enumeration via row_number over an explicit global
    // order (reference: transform/__init__.py:170-173, time_key). The single-
    // partition window is deliberate and bounded: it runs on the *distinct*
    // key domain (dates), which stays tiny even at 100 TB of facts.
    QueryDef(
      "q_surrogate_rownum",
      Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
             |SELECT order_date,
             |       CAST(ROW_NUMBER() OVER (ORDER BY order_date) AS INT) AS date_key
             |FROM d""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select(to_date($"o_orderdate").as("order_date")).distinct()
          .withColumn("date_key", row_number().over(Window.orderBy($"order_date")))
      }),

    // ------------------------------------------------------------------
    // W2 — lag / consecutive-diff gap detection (reference:
    // validate/__init__.py:159-168, hourly-gap check). Timestamps compared in
    // epoch-µs because parquet ns truncates to µs in Spark; ties broken by
    // event_id so both engines sort identically.
    QueryDef(
      "q_gap_lag",
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
             |  FROM events)
             |SELECT event_id, user_id, ts_us,
             |  ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
             |FROM e""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        t(s, dir, "events")
          .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
          .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
      }),

    // ------------------------------------------------------------------
    // W-ext — tumbling-window aggregation on event time, the hourly meter
    // rollup's shape over events. window().start of a 1-hour tumbling
    // window == date_trunc('hour'); compared as epoch µs per the events-ns
    // convention. Sums of events.value aggregate IEEE-portable picounit
    // integers (Exact.pico12, r12) — order-free bit-identical at any
    // scale — with the 2-decimal snap kept as pure output formatting.
    QueryDef(
      "q_window_tumbling",
      Some("""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
             |  event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  FLOOR(CAST(SUM(CAST(FLOOR(value * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 * 100.0 + 0.5) / 100.0 AS sum_value,
             |  MAX(value) AS peak_value
             |FROM events
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(
            count(lit(1)).as("n_events"),
            snap(Exact.sum12($"value"), 100.0).as("sum_value"),
            max($"value").as("peak_value"))
          .select(
            unix_micros($"window.start").as("window_start_us"),
            $"event_type", $"n_events", $"sum_value", $"peak_value")
      }),

    // ------------------------------------------------------------------
    // W-ext — analytic frame window: 3-row moving average per user (the
    // "hourly load profile" analytic the reference's notebooks describe).
    // Frame is exactly 3 doubles accumulated in the same order in both
    // engines → exact; deterministic order via (ts, event_id).
    QueryDef(
      "q_moving_avg",
      Some("""SELECT event_id, user_id, value,
             |  AVG(value) OVER (PARTITION BY user_id
             |                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             |                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
             |                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS INT) AS rn
             |FROM events""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val order = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"), $"event_id")
        val frame = order.rowsBetween(-2, Window.currentRow)
        t(s, dir, "events").select(
          $"event_id", $"user_id", $"value",
          avg($"value").over(frame).as("mov_avg"),
          row_number().over(order).as("rn"))
      }),

    // ------------------------------------------------------------------
    // W4 — calendar decomposition (reference: transform/__init__.py:173-184).
    // dow follows the reference's pandas convention Mon=0..Sun=6: Spark
    // dayofweek is Sun=1, so (dayofweek+5)%7; DuckDB isodow is Mon=1, so -1.
    QueryDef(
      "q_calendar",
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate)  AS INT) AS yr,
             |  CAST(month(o_orderdate) AS INT) AS mo,
             |  CAST(day(o_orderdate)   AS INT) AS dom,
             |  CAST(hour(o_orderdate)  AS INT) AS hr,
             |  CAST(isodow(o_orderdate) - 1 AS INT) AS dow,
             |  (isodow(o_orderdate) - 1) >= 5 AS is_weekend
             |FROM orders""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val dow = (dayofweek($"o_orderdate") + lit(5)) % 7
        t(s, dir, "orders").select(
          $"o_orderkey",
          year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          dayofmonth($"o_orderdate").as("dom"),
          hour($"o_orderdate").as("hr"),
          dow.as("dow"),
          (dow >= 5).as("is_weekend"))
      }),

    // ------------------------------------------------------------------
    // U1 — union-all of homogeneous slices (reference: transform/__init__.py:
    // 241, per-run fact concat). unionByName so column order can never drift.
    QueryDef(
      "q_union_all",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, 'returned' AS slice
             |FROM lineitem WHERE l_returnflag = 'R'
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, l_quantity, 'bulk' AS slice
             |FROM lineitem WHERE l_quantity > 45""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val a = li.filter($"l_returnflag" === "R")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", lit("returned").as("slice"))
        val b = li.filter($"l_quantity" > 45)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", lit("bulk").as("slice"))
        a.unionByName(b)
      }),

    // ------------------------------------------------------------------
    // U3 — set-difference coverage check as an anti-join (reference:
    // validate/__init__.py:171-180, time keys missing from facts).
    // "Customers with no urgent orders" — the filter keeps the result
    // non-degenerate (plain customers-without-orders is empty at every SF).
    QueryDef(
      "q_anti_coverage",
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderpriority = '1-URGENT')""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT"),
            $"c_custkey" === $"o_custkey", "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
      }),

    // ------------------------------------------------------------------
    // Beyond-reference: semi join (the positive twin of q_anti_coverage —
    // customers WITH an urgent order, no row multiplication).
    QueryDef(
      "q_semi_join",
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey
             |                AND o_orderpriority = '1-URGENT')""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT"),
            $"c_custkey" === $"o_custkey", "left_semi")
          .select("c_custkey", "c_name")
      }),

    // ------------------------------------------------------------------
    // Beyond-reference: INTERSECT / EXCEPT set ops (SURVEY §2.7 notes the
    // reference has none — completing the set-op matrix). DISTINCT
    // semantics in both engines.
    QueryDef(
      "q_set_ops",
      Some("""WITH hi AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 30),
             |     disc AS (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.05)
             |SELECT 'both' AS side, l_partkey FROM (SELECT * FROM hi INTERSECT SELECT * FROM disc)
             |UNION ALL
             |SELECT 'hi_only' AS side, l_partkey FROM (SELECT * FROM hi EXCEPT SELECT * FROM disc)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val hi = li.filter($"l_quantity" >= 30).select($"l_partkey")
        val disc = li.filter($"l_discount" >= 0.05).select($"l_partkey")
        hi.intersect(disc).select(lit("both").as("side"), $"l_partkey")
          .unionByName(hi.except(disc).select(lit("hi_only").as("side"), $"l_partkey"))
      }),

    // ------------------------------------------------------------------
    // O1-O5 — global sort + limit (reference: load/__init__.py:162 ORDER BY;
    // export_json.py:99-101 head). Unique tiebreak key keeps the top-k stable.
    // Spark plans this as TakeOrderedAndProject — no global sort materializes.
    QueryDef(
      "q_sort_limit",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
          .limit(10)
          .select("o_orderkey", "o_custkey", "o_totalprice")
      }),

    // ------------------------------------------------------------------
    // P6 — null scan per column (reference: validate/__init__.py:49-55).
    QueryDef(
      "q_null_check",
      Some("""SELECT
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT) AS null_event_type,
             |  CAST(COUNT(CASE WHEN value      IS NULL THEN 1 END) AS BIGINT) AS null_value,
             |  CAST(COUNT(CASE WHEN props      IS NULL THEN 1 END) AS BIGINT) AS null_props
             |FROM events""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").agg(
          count(lit(1)).as("n_rows"),
          count(when($"event_type".isNull, 1)).as("null_event_type"),
          count(when($"value".isNull, 1)).as("null_value"),
          count(when($"props".isNull, 1)).as("null_props"))
      }),

    // ------------------------------------------------------------------
    // A9 — monthly rollup, computed honestly (reference: export_json.py:
    // 156-178 hardcodes the seasonal pattern — fixed here per SURVEY §2.6).
    QueryDef(
      "q_monthly_rollup",
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             |       CAST(month(o_orderdate) AS INT) AS mo,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price
             |FROM orders GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
          .agg(
            count(lit(1)).as("n_orders"),
            exactSum($"o_totalprice", 2)
              .as("total_price"))
      }),

    // ------------------------------------------------------------------
    // §2.6 peak-demand KPI, computed for real (reference: export_json.py:188
    // hardcodes peak_demand_kw). MAX is exact selection — no FP drift.
    QueryDef(
      "q_peak",
      Some("""SELECT event_type, MAX(value) AS peak_value,
             |       CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"event_type")
          .agg(max($"value").as("peak_value"), count(lit(1)).as("n_events"))
      }),

    // ------------------------------------------------------------------
    // F3 — string parsing: prefix token, trailing-number extract, lowercase
    // (reference: idaice_client.py:151-166 rsplit filename parse;
    // load/__init__.py:209-210 regex guard; export_json.py:74 lower()).
    QueryDef(
      "q_string_parse",
      Some("""SELECT p_partkey,
             |  split_part(p_name, ' ', 1) AS name_head,
             |  CAST(regexp_extract(p_brand, '#(\d+)$', 1) AS INT) AS brand_num,
             |  lower(p_type) AS type_lc
             |FROM part""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "part").select(
          $"p_partkey",
          substring_index($"p_name", " ", 1).as("name_head"),
          regexp_extract($"p_brand", "#(\\d+)$", 1).cast("int").as("brand_num"),
          lower($"p_type").as("type_lc"))
      }),

    // ------------------------------------------------------------------
    // F5 — JSON field extraction from a string column (reference:
    // export_json.py / validate_json.py JSON surface; events.props is
    // '{"k": <int>}').
    QueryDef(
      "q_json_get",
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
             |FROM events""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").select(
          $"event_id",
          get_json_object($"props", "$.k").cast("long").as("prop_k"))
      }),

    // ------------------------------------------------------------------
    // §2.10 ext — the Kafka-shaped event-frame parse layer
    // (Streaming.parseEventStream): a (key, value-bytes, ts) frame through
    // from_json with corrupt records COUNTED (not thrown). Every 7th frame
    // is deterministically poisoned ('!' prefix → invalid JSON) so the
    // corrupt path is exercised, not vacuous; oracle detects the same
    // frames via json_valid. Proves the parse semantics (StreamingSpec
    // tests the function directly) under the DuckDB hash oracle.
    QueryDef(
      "q_event_parse",
      Some("""WITH frames AS (
             |  SELECT event_type,
             |         CASE WHEN event_id % 7 = 0 THEN '!' || props
             |              ELSE props END AS value
             |  FROM events)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_records,
             |  CAST(COUNT(CASE WHEN value IS NULL OR NOT json_valid(value)
             |             THEN 1 END) AS BIGINT) AS n_corrupt,
             |  CAST(SUM(CASE WHEN value IS NOT NULL AND json_valid(value)
             |           THEN CAST(json_extract_string(value, '$.k') AS BIGINT)
             |           END) AS BIGINT) AS sum_k
             |FROM frames GROUP BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        // the Kafka key carries the routing attribute (here: event_type) —
        // the standard way a consumer groups without reopening the payload
        val frames = t(s, dir, "events").select(
          $"event_type".as("key"),
          when($"event_id" % 7 === 0, concat(lit("!"), $"props"))
            .otherwise($"props").as("value"),
          $"ts")
        val parsed = graft.streaming.Streaming.parseEventStream(
          frames, StructType(Seq(StructField("k", LongType))))
        parsed
          .groupBy($"kafka_key")
          .agg(
            count(lit(1)).as("n_records"),
            count(when($"is_corrupt", 1)).as("n_corrupt"),
            sum(when(!$"is_corrupt", $"k")).as("sum_k"))
          .select($"kafka_key".as("event_type"),
            $"n_records", $"n_corrupt", $"sum_k")
      }),

    // ------------------------------------------------------------------
    // A8 — descriptive moments (reference: describe()/std in
    // tests/test_generate_synthetic_idaice.py:138-139). stddev/avg over
    // fractional doubles drift in the last bits across engines → snapped to
    // 1e-6 (drift ~1e-10 ≪ the 5e-7 floor margin; see QueryDef rules).
    QueryDef(
      "q_stats_moments",
      Some("""SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  FLOOR(AVG(value) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             |  FLOOR(stddev_samp(value) * 1000000.0 + 0.5) / 1000000.0 AS std_value,
             |  MIN(value) AS min_value,
             |  MAX(value) AS max_value
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          snap(avg($"value"), 1000000.0).as("avg_value"),
          snap(stddev_samp($"value"), 1000000.0).as("std_value"),
          min($"value").as("min_value"),
          max($"value").as("max_value"))
      }),

    // ------------------------------------------------------------------
    // Beyond-reference: hierarchical subtotals via ROLLUP (year, month) —
    // grouping-sets coverage the reference's monthly table implies but never
    // computes. NULL group markers align across engines; l_quantity sums are
    // integer-valued doubles → exact.
    QueryDef(
      "q_rollup",
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             |       CAST(month(o_orderdate) AS INT) AS mo,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY ROLLUP (1, 2)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .rollup(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
          .agg(count(lit(1)).as("n_orders"),
            exactSum($"o_totalprice", 2).as("sum_price"))
      }),

    // ------------------------------------------------------------------
    // Beyond-reference: gap-based sessionization — the canonical event-
    // pipeline operator. session_idx = running count of gaps > 30 min per
    // user (two stacked windows over the same (user, ts, id) order → ONE
    // shuffle + one sort at execution).
    QueryDef(
      "q_sessionize",
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
             |  FROM events),
             |g AS (
             |  SELECT event_id, user_id, ts_us,
             |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
             |SELECT event_id, user_id, ts_us,
             |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
             |FROM g""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        t(s, dir, "events")
          .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
          .withColumn("new_sess",
            when($"ts_us" - lag($"ts_us", 1).over(w) > 1800000000L, 1L).otherwise(0L))
          .withColumn("session_idx",
            sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .drop("new_sess")
      }),

    // ------------------------------------------------------------------
    // Native session windows — session_window()'s MergingSessions operator
    // is the plan-native twin of q_sessionize's two-window formulation:
    // per-session AGGREGATES in one groupBy, no per-event session-idx
    // materialization (at 100 TB the manual form writes a corpus-sized
    // intermediate; this one shuffles once and aggregates in place).
    // Boundary semantics (verified empirically on this Spark build): two
    // events exactly gap apart MERGE — session_window breaks only when
    // Δt > gap, the same convention as the manual q_sessionize. The oracle
    // re-derives sessions with the lag/running-sum trick using > gap as the
    // break (with the (ts, event_id) tiebreak on BOTH windows — dropping it
    // from the running sum would let duplicate-timestamp boundary rows sum
    // in a different order than they were flagged), then aggregates; all
    // outputs are exact integers/µs — no snapping.
    QueryDef(
      "q_session_window",
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
             |  FROM events),
             |g AS (
             |  SELECT user_id, event_id, ts_us,
             |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |s AS (
             |  SELECT user_id, ts_us,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |                   ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM g)
             |SELECT user_id,
             |  MIN(ts_us) AS start_us,
             |  MAX(ts_us) + 1800000000 AS end_us,
             |  CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM s GROUP BY user_id, sess""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id", session_window($"ts", "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id",
            unix_micros($"session_window.start").as("start_us"),
            unix_micros($"session_window.end").as("end_us"),
            $"n_events")
      }),

    // ------------------------------------------------------------------
    // A8-ext — exact percentiles (sorted interpolation, deterministic unlike
    // approx sketches). Interpolation rounding differs in the last bits
    // across engines → snapped to 1e-6.
    QueryDef(
      "q_percentile",
      Some("""SELECT event_type,
             |  FLOOR(quantile_cont(value, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS p50,
             |  FLOOR(quantile_cont(value, 0.9) * 1000000.0 + 0.5) / 1000000.0 AS p90
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events").groupBy($"event_type").agg(
          snap(expr("percentile(value, 0.5)"), 1000000.0).as("p50"),
          snap(expr("percentile(value, 0.9)"), 1000000.0).as("p90"))
      }),

    // ------------------------------------------------------------------
    // A8-ext — ONE-PASS approx quantiles (Greenwald-Khanna sketch via
    // percentile_approx). q_percentile's exact interpolation needs the full
    // per-group value multiset in one place; the GK sketch is the shape
    // that survives 100 TB — bounded-size mergeable state, map-side
    // partials, one shuffle keyed on the group. Sketch outputs aren't
    // engine-portable, so like q_approx_distinct this carries a PROPERTY
    // oracle: the declared rows are the exact per-type value counts plus
    // rank_ok flags — each approx quantile's EXACT rank interval
    // [count(<v), count(<=v)] must sit within ±(2ε·n + 1) of q·n, the GK
    // guarantee (ε = 1/accuracy) with engine-convention margin. A broken
    // sketch (collapsed to min/max, off-by-octile) lands tens of rows
    // outside the band at sf0.01 and fails the driver's hash gate; the
    // exact-rank verification arm is one broadcast join + re-agg.
    QueryDef(
      "q_quantile_sketch",
      Some("""WITH n AS (SELECT event_type, CAST(count(value) AS BIGINT) AS n_values
             |          FROM events GROUP BY 1),
             |qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q)
             |SELECT event_type, q, n_values, true AS rank_ok
             |FROM n CROSS JOIN qs""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val acc = 10000 // ε = 1e-4 of rank; ~KBs of sketch state per group
        val qsList = Seq(0.25, 0.5, 0.75, 0.95)
        val ev = t(s, dir, "events")
          .select($"event_type", $"value").where($"value".isNotNull)
        val sk = ev.groupBy($"event_type").agg(
          expr(s"percentile_approx(value, array(${qsList.mkString("D, ")}D), $acc)")
            .as("vs"),
          count($"value").as("n_values"))
        val qv = sk.select($"event_type", $"n_values",
            posexplode($"vs").as(Seq("i", "v")))
          .select($"event_type", $"n_values",
            element_at(array(qsList.map(lit): _*), $"i" + 1).as("q"), $"v")
        val slack = lit(2.0 / acc) * $"n_values".cast("double") + lit(1.0)
        ev.join(broadcast(qv), "event_type")
          .groupBy($"event_type", $"q", $"n_values", $"v")
          .agg(
            sum(when($"value" <= $"v", 1L).otherwise(0L)).as("cnt_le"),
            sum(when($"value" < $"v", 1L).otherwise(0L)).as("cnt_lt"))
          .select($"event_type", $"q", $"n_values",
            ($"cnt_le".cast("double") >= $"q" * $"n_values".cast("double") - slack &&
              $"cnt_lt".cast("double") <= $"q" * $"n_values".cast("double") + slack)
              .as("rank_ok"))
      }),

    // ------------------------------------------------------------------
    // §7.3 — approx distinct (HLL++). The raw estimates differ across
    // engines by construction, so the query carries a PROPERTY oracle:
    // it emits the exact counts (recomputable in ANSI SQL) plus
    // within-bound booleans — |approx − exact| / exact < 0.05, the same
    // 5% gate ApproxSpec proves (rsd=0.01 ⇒ 5σ of margin). DuckDB
    // recomputes the exact side and expects literal TRUE flags, so the
    // driver's hash check now verifies the HLL error bound end to end.
    QueryDef(
      "q_approx_distinct",
      Some("""SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             |       true AS parts_ok, true AS orders_ok
             |FROM lineitem""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // rsd=0.01: ~50 KB of HLL registers per aggregate — the accuracy/
        // memory knob a 100 TB profile job would set explicitly.
        // HLL sketches and multi-column DISTINCT aggregates live in SEPARATE
        // Aggregates: mixing a TypedImperativeAggregate with Expand-based
        // distincts forces a sort-based fallback (measured 20s vs 2s at
        // sf0.1); two hash aggregates + a 1-row cross join is the fast shape
        val li = t(s, dir, "lineitem")
        val approx = li.agg(
          approx_count_distinct($"l_partkey", rsd = 0.01).as("approx_parts"),
          approx_count_distinct($"l_orderkey", rsd = 0.01).as("approx_orders"))
        val exact = li.agg(
          countDistinct($"l_partkey").as("exact_parts"),
          countDistinct($"l_orderkey").as("exact_orders"))
        approx.crossJoin(exact)
          .select($"exact_parts", $"exact_orders",
            (abs($"approx_parts" - $"exact_parts").cast("double")
              < $"exact_parts".cast("double") * 0.05).as("parts_ok"),
            (abs($"approx_orders" - $"exact_orders").cast("double")
              < $"exact_orders".cast("double") * 0.05).as("orders_ok"))
      }),

    // ------------------------------------------------------------------
    // Skew-mitigated hot-key join (operators/Skew.scala as a declared
    // inventory entry). events.event_type has FIVE distinct values — the
    // canonical skew shape where key cardinality ≪ parallelism: a plain
    // shuffle join occupies at most 5 of 32 reducers (and of 32,000 at
    // cluster scale) no matter how large the fact side grows. saltedJoin
    // spreads every hot key over nSalts reducers (shuffle hashes on
    // (event_type, __salt) — plan-asserted in PlanSpec) and is
    // output-equivalent to the unsalted join, so the oracle is the plain
    // ANSI join. The small side (5 rows) is replicated nSalts×; value is
    // per-row passthrough and type_total an exact COUNT → hash-exact.
    //
    // The SHUFFLE_HASH hint stands in for the at-scale context this query
    // models: a right side too large to broadcast (when it fits, broadcast
    // — no shuffle, no skew problem, no salt needed). Without the hint the
    // 5-row test dim would auto-broadcast and the salted shuffle path —
    // the thing this entry exists to exercise — would never plan.
    QueryDef(
      "q_join_skew_salted",
      Some("""SELECT e.event_id, e.event_type, e.value, t.type_total
             |FROM events e
             |JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_total
             |      FROM events GROUP BY event_type) t
             |ON e.event_type = t.event_type""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val typeTotals = ev.groupBy($"event_type")
          .agg(count(lit(1)).as("type_total"))
        graft.operators.Skew.saltedJoin(
          ev.select($"event_id", $"event_type", $"value"),
          typeTotals.hint("shuffle_hash"), Seq("event_type"), nSalts = 8)
      }),

    // ------------------------------------------------------------------
    // Hybrid hot-key join (Skew.hybridJoin): per-event user enrichment
    // where users above the activity threshold route through a broadcast
    // of JUST their slice of the right side and everyone else takes the
    // ordinary equi-shuffle — the skew tool for a right side too big to
    // broadcast whole and too big to replicate nSalts× (saltedJoin). The
    // 67 threshold sits at the fixture's median activity so BOTH paths
    // carry real rows (SkewSpec pins the two plan branches + equality
    // with the plain join). Oracle says the plain join.
    QueryDef(
      "q_join_skew_hybrid",
      Some("""SELECT e.event_id, e.user_id, u.user_total
             |FROM events e
             |JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_total
             |      FROM events GROUP BY user_id) u
             |ON e.user_id = u.user_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val userTotals = ev.groupBy($"user_id")
          .agg(count(lit(1)).as("user_total"))
        graft.operators.Skew.hybridJoin(
          ev.select($"event_id", $"user_id"),
          userTotals.hint("shuffle_hash"), Seq("user_id"),
          hotThreshold = 67L)
      })
  )
}
