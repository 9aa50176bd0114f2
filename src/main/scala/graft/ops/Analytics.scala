package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Kit
import graft.sources.Tables

/** Time-series / warehouse-analytics operators: interval-frame windows,
  * slowly-changing-dimension history, funnel + cohort analysis, and
  * exact-arithmetic statistical moments. The reference's pandas layer
  * reaches for these shapes ad hoc (groupby-apply loops); here each one
  * is a single declarative plan with at most one shuffle on its natural
  * key, and every float-valued output is derived from EXACT decimal/
  * integer aggregates with the final double arithmetic applied once —
  * order-independent across any partitioning, so results are
  * bit-identical on 4 threads or 1000 executors.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Time-RANGE window frame: 7-day trailing order count and total per
    * priority class. The frame is value-based (`RANGE 6 PRECEDING` over a
    * day number), not row-based — peers at the same day always share a
    * frame, so the result is independent of tie order. One shuffle on the
    * partition key; the trailing sum is exact decimal. */
  val windowRangeFrame: QueryDef = QueryDef.sql(
    "window_range_frame",
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS day,
      |  COUNT(*) OVER w AS trail7_n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail7_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY date_diff('day', DATE '1995-01-01', o_orderdate)
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""") { (s, dir) =>
    import s.implicits._
    val day = datediff($"o_orderdate".cast("date"),
      lit("1995-01-01").cast("date")).cast(LongType)
    val w = Window.partitionBy($"o_orderpriority").orderBy($"day")
      .rangeBetween(-6, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("day", day)
      .select($"o_orderkey", $"o_orderpriority", $"day",
        count(lit(1)).over(w).as("trail7_n"),
        sum(Kit.money($"o_totalprice")).over(w).cast(DoubleType)
          .as("trail7_total"))
  }

  /** Slowly-changing dimension (Type 2) built from an ordered change
    * stream: per customer, collapse consecutive orders with the same
    * priority into validity intervals (gaps-and-islands). Two window
    * passes and one aggregate, all partitioned by the same key — a
    * single shuffle end to end. `valid_to` is the next interval's start
    * (half-open convention); NULL marks the current row. */
  val scdType2: QueryDef = QueryDef.sql(
    "scd_type2",
    """WITH s AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |    lag(o_orderpriority) OVER
      |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |r AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority
      |                     THEN 1 ELSE 0 END) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS run_id
      |  FROM s),
      |g AS (
      |  SELECT o_custkey, run_id, o_orderpriority AS priority,
      |    MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT o_custkey, priority, valid_from,
      |  lead(valid_from) OVER
      |    (PARTITION BY o_custkey ORDER BY run_id) AS valid_to,
      |  n_orders,
      |  CASE WHEN lead(valid_from) OVER
      |    (PARTITION BY o_custkey ORDER BY run_id) IS NULL
      |    THEN 1 ELSE 0 END AS is_current
      |FROM g""") { (s, dir) =>
    import s.implicits._
    scd2(t(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_orderpriority"))
  }

  /** Core of [[scdType2]] over any (key, seq, ts, attr) change stream. */
  def scd2(orders: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val runs = orders
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(byKey))
      .withColumn("run_id",
        sum(when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1)
          .otherwise(0)).over(byKey))
    val byRun = Window.partitionBy(col("o_custkey")).orderBy(col("run_id"))
    runs.groupBy(col("o_custkey"), col("run_id"),
        col("o_orderpriority").as("priority"))
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byRun))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .select(col("o_custkey"), col("priority"), col("valid_from"),
        col("valid_to"), col("n_orders"), col("is_current"))
  }

  /** Ordered funnel conversion: users who viewed, then clicked at or
    * after their first view, then purchased at or after that click.
    * Three stacked window passes over ONE partitioning (a single shuffle
    * on user_id — Catalyst reuses the exchange), then a count aggregate.
    * No self-joins: at scale the per-user event list never materializes
    * anywhere but its own partition. */
  val funnelConversion: QueryDef = QueryDef.sql(
    "funnel_conversion",
    """WITH e1 AS (
      |  SELECT user_id, event_type, ts,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS mv
      |  FROM events),
      |e2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= mv THEN ts END)
      |      OVER (PARTITION BY user_id) AS mc
      |  FROM e1),
      |e3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= mc THEN ts END)
      |      OVER (PARTITION BY user_id) AS mp
      |  FROM e2),
      |u AS (SELECT user_id, MAX(mv) AS mv, MAX(mc) AS mc, MAX(mp) AS mp
      |      FROM e3 GROUP BY 1)
      |SELECT COUNT(mv) AS reached_view, COUNT(mc) AS reached_click,
      |       COUNT(mp) AS reached_purchase FROM u""") { (s, dir) =>
    funnel(t(s, dir, "events"))
  }

  /** Core of [[funnelConversion]] over any (user_id, event_type, ts). */
  def funnel(events: DataFrame): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
    events
      .withColumn("mv",
        min(when(col("event_type") === "view", col("ts"))).over(perUser))
      .withColumn("mc",
        min(when(col("event_type") === "click" && col("ts") >= col("mv"),
          col("ts"))).over(perUser))
      .withColumn("mp",
        min(when(col("event_type") === "purchase" && col("ts") >= col("mc"),
          col("ts"))).over(perUser))
      .groupBy(col("user_id"))
      .agg(max(col("mv")).as("mv"), max(col("mc")).as("mc"),
        max(col("mp")).as("mp"))
      .agg(count(col("mv")).as("reached_view"),
        count(col("mc")).as("reached_click"),
        count(col("mp")).as("reached_purchase"))
  }

  /** Weekly retention cohorts: users grouped by first-activity week,
    * counted once per (cohort, weeks-since-first) cell. The cohort
    * anchor is pure day arithmetic (no engine-specific week-truncation
    * semantics). One window pass on user_id + one count-distinct
    * aggregate. */
  val retentionCohorts: QueryDef = QueryDef.sql(
    "retention_cohorts",
    """WITH f AS (
      |  SELECT user_id, ts,
      |    MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      |  FROM events)
      |SELECT
      |  CAST(FLOOR(date_diff('day', DATE '2024-01-01',
      |    CAST(first_ts AS DATE)) / 7.0) AS BIGINT) AS cohort_week,
      |  CAST(FLOOR(date_diff('day', CAST(first_ts AS DATE),
      |    CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM f GROUP BY 1, 2""") { (s, dir) =>
    import s.implicits._
    val perUser = Window.partitionBy($"user_id")
    t(s, dir, "events")
      .withColumn("first_ts", min($"ts").over(perUser))
      .groupBy(
        floor(datediff($"first_ts".cast("date"),
          lit("2024-01-01").cast("date")) / 7.0).cast(LongType)
          .as("cohort_week"),
        floor(datediff($"ts".cast("date"),
          $"first_ts".cast("date")) / 7.0).cast(LongType)
          .as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
  }

  /** Statistical-moments kit: stddev / variance / covariance / Pearson
    * correlation per group — but NOT via the engines' float aggregates
    * (those merge partial states in partition order; the low bits drift
    * between runs and engines). Instead: exact decimal power sums
    * (n, Σx, Σy, Σx², Σy², Σxy — associative, order-independent), then
    * the textbook formulas applied ONCE in double at the end. Same
    * parse tree on both engines → bit-identical, hash-stable output. */
  val statsMomentsKit: QueryDef = QueryDef.sql(
    "stats_moments_kit",
    """WITH a AS (
      |  SELECT l_returnflag,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
      |             CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(FLOOR(((sxx - sx * sx / n) / (n - 1)) * 1000000) AS BIGINT) AS var_qty_q6,
      |  CAST(FLOOR(SQRT((sxx - sx * sx / n) / (n - 1)) * 1000000) AS BIGINT) AS std_qty_q6,
      |  CAST(FLOOR(((sxy - sx * sy / n) / (n - 1)) * 1000000) AS BIGINT) AS covar_q6,
      |  CAST(FLOOR(((sxy - sx * sy / n) /
      |    SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))) * 1000000) AS BIGINT) AS corr_q6
      |FROM a""") { (s, dir) =>
    import s.implicits._
    val x = Kit.money($"l_quantity")
    val y = Kit.money($"l_extendedprice")
    val a = Tables.loadSpread(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum(x * x).cast(DoubleType).as("sxx"),
        sum(y * y).cast(DoubleType).as("syy"),
        sum(x * y).cast(DoubleType).as("sxy"))
    val n = $"n".cast(DoubleType)
    val cxx = $"sxx" - $"sx" * $"sx" / n
    val cyy = $"syy" - $"sy" * $"sy" / n
    val cxy = $"sxy" - $"sx" * $"sy" / n
    a.select($"l_returnflag", $"n",
      Kit.quantize(cxx / (n - 1), 6).as("var_qty_q6"),
      Kit.quantize(sqrt(cxx / (n - 1)), 6).as("std_qty_q6"),
      Kit.quantize(cxy / (n - 1), 6).as("covar_q6"),
      Kit.quantize(cxy / sqrt(cxx * cyy), 6).as("corr_q6"))
  }

  /** Shannon entropy of the source distribution within each language:
    * H = ln T − (Σ c·ln c)/T over exact counts. The only float op per
    * input row (c·ln c) is integer-quantized BEFORE the cross-row sum,
    * so the aggregate is associative and partition-order-independent;
    * ln T is a single double op on an exact integer. */
  val entropyByGroup: QueryDef = QueryDef.sql(
    "entropy_by_group",
    """WITH c AS (
      |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS total,
      |    SUM(CAST(FLOOR(c * LN(c) * 1000000) AS BIGINT)) AS qsum
      |  FROM c GROUP BY 1)
      |SELECT lang, total,
      |  CAST(FLOOR((LN(total) - qsum / 1000000.0 / total) * 1000000)
      |    AS BIGINT) AS entropy_q6
      |FROM t""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents")
      .groupBy($"lang", $"source").agg(count(lit(1)).as("c"))
      .groupBy($"lang")
      .agg(sum($"c").as("total"),
        sum(Kit.quantize($"c" * log($"c"), 6)).as("qsum"))
      .select($"lang", $"total",
        Kit.quantize(log($"total") - $"qsum" / 1000000.0 / $"total", 6)
          .as("entropy_q6"))
  }

  /** Equi-width histogram of order totals: fixed 50k-wide buckets via
    * pure floor arithmetic (identical double division on both engines —
    * no engine-specific width_bucket semantics). Map-side partial
    * aggregation makes this one tiny shuffle regardless of input size. */
  val histogramPrice: QueryDef = QueryDef.sql(
    "histogram_price",
    """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "orders")
      .groupBy(floor($"o_totalprice" / 50000.0).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n"), Kit.moneySum($"o_totalprice").as("total"))
  }

  /** Mergeable-sketch rollup — THE pre-aggregation pattern for distinct
    * counts at 100 TB: build one HLL sketch per fine grain (event_type ×
    * day) ONCE, then answer any coarser-grain distinct-count question by
    * UNIONING sketches instead of re-scanning raw data. A daily sketch
    * table is ~KB per group; re-aggregating a year of it touches
    * thousands of rows, not the fact table. (Spark 4's datasketches-
    * backed hll_sketch_agg/hll_union_agg — unlike approx_count_distinct,
    * whose HLL++ state is not exposed for re-aggregation.)
    *
    * Exact per-type distinct counts ride along for self-auditing, and
    * since round 6 the estimate is emitted as its ACCURACY VERDICT
    * rather than a raw number: `est_ok` asserts |estimate − exact| ≤
    * max(2, ⌈tol·exact⌉), which DuckDB replays as literal TRUE — sketch
    * internals have no ANSI oracle, but the accuracy contract does, so
    * the driver's hash compare machine-checks the ≤5% bound (was
    * rows-only). HllRollupSpec proves the flag is live: an lgK-4 sketch
    * under a 0.1% claim flips it false. */
  def hllRollupDf(s: SparkSession, dir: String, lgK: Int,
      tolerance: Double): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
      .select($"event_type", to_date($"ts").as("day"), $"user_id")
    val daily = ev.groupBy($"event_type", $"day")
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sk"))
    val rolled = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
          .as("est_users"))
    val exact = ev.groupBy($"event_type")
      .agg(count_distinct($"user_id").as("exact_users"))
    rolled.join(exact, "event_type")
      .select($"event_type", $"n_days", $"exact_users",
        (abs($"est_users" - $"exact_users") <=
          greatest(lit(2L), ceil($"exact_users" * tolerance)))
          .as("est_ok"))
  }

  val hllRollup: QueryDef = QueryDef.sql(
    "hll_rollup",
    """SELECT event_type,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS est_ok
      |FROM events GROUP BY event_type""") { (s, dir) =>
    hllRollupDf(s, dir, lgK = 12, tolerance = 0.05)
  }

  /** Calendar zero-fill — the date-spine pattern: generate the full day
    * range between the data's own bounds, left-join daily aggregates,
    * and surface silent gap days as explicit zeros (a time series with
    * MISSING days poisons every moving average and day-over-day delta
    * downstream). The spine comes from ONE aggregate row exploded
    * through `sequence` — no driver-side loop, no external calendar
    * table; the daily aggregate is the only pass over the fact table. */
  val calendarZeroFill: QueryDef = QueryDef.sql(
    "calendar_zero_fill",
    """WITH bounds AS (
      |  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
      |         MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
      |    AS day FROM bounds),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT day, COALESCE(n, 0) AS n_orders,
      |  CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
      |FROM spine LEFT JOIN daily USING (day)""") { (s, dir) =>
    import s.implicits._
    val o = t(s, dir, "orders").select(to_date($"o_orderdate").as("day"))
    val spine = o.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val daily = o.groupBy($"day").agg(count(lit(1)).as("n"))
    spine.join(daily, Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).as("n_orders"),
        when($"n".isNull, 1L).otherwise(0L).as("is_gap"))
  }

  /** Ratio-to-total (percent of report) — each nation's share of global
    * order revenue. Deliberately NOT the empty-partition window form
    * (`SUM(x) OVER ()` plans a single-partition exchange — every row
    * through one task, the canonical scale antipattern): the global
    * total is a one-row aggregate broadcast back over the per-nation
    * aggregate. Shares are IEEE double division of two exact decimal
    * sums, quantized — identical bits in any engine. */
  val ratioToTotal: QueryDef = QueryDef.sql(
    "ratio_to_total",
    """WITH nat AS (
      |  SELECT c_nationkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey)
      |SELECT c_nationkey, CAST(rev AS DOUBLE) AS nation_rev,
      |  CAST(FLOOR(CAST(rev AS DOUBLE) /
      |    CAST((SELECT SUM(rev) FROM nat) AS DOUBLE) * 1000000) AS BIGINT)
      |    AS share_q6
      |FROM nat""") { (s, dir) =>
    import s.implicits._
    val nat = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey")
      .agg(sum(Kit.money($"o_totalprice")).as("rev"))
    val total = nat.agg(sum($"rev").as("tot"))
    nat.crossJoin(broadcast(total))
      .select($"c_nationkey", $"rev".cast(DoubleType).as("nation_rev"),
        Kit.quantize($"rev".cast(DoubleType) / $"tot".cast(DoubleType), 6)
          .as("share_q6"))
  }

  /** Point-in-time (temporal) dimension join — "which regime was this
    * key in when the fact happened": every lineitem shipment looked up
    * against the customer's order-priority interval (the [[scdType2]]
    * dimension) containing its ship day. THE correctness-critical
    * warehouse join (joining facts to a dimension's CURRENT row silently
    * rewrites history).
    *
    * Scale shape: NOT an interval join, and no dimension build. Each
    * order is a state row (custkey, day, tag 0, o_orderdate, o_orderkey,
    * priority); the probes are (custkey, ship day, tag 1). One window
    * per custkey, ordered by (day, tag, o_orderdate, o_orderkey) — the
    * oracle's run order within a day — carries the last priority
    * forward, and probes keep the carried value — a single shuffle on
    * the key, O(facts + orders), the same as-of discipline as
    * asof_click_view applied to dimension lookup.
    *
    * Equivalence with the oracle's textbook interval join: the SCD2
    * runs of a customer tile time from its first order on, each run
    * valid from its first order's day until the next run's. The run
    * whose interval contains day d is the run holding the LATEST order
    * (by o_orderdate, then key) dated on or before d: that run starts
    * no later than d, and the next run starts with a later order, so
    * after d. A zero-width interval (two priority flips on one day) is
    * never that run, because a later order on the same day exists. So
    * the probe takes that order's priority, which is exactly what the
    * window carries: state rows sort before probes on the same day
    * (valid_from is inclusive) and in run order within it; a ship day
    * before the customer's first order carries nothing (NULL, the LEFT
    * JOIN's miss). */
  val pitDimensionJoin: QueryDef = QueryDef.sql(
    "pit_dimension_join",
    """WITH s AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |    lag(o_orderpriority) OVER
      |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |r AS (
      |  SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> o_orderpriority
      |                     THEN 1 ELSE 0 END) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS run_id
      |  FROM s),
      |g AS (
      |  SELECT o_custkey, run_id, o_orderpriority AS priority,
      |    CAST(MIN(o_orderdate) AS DATE) AS valid_from
      |  FROM r GROUP BY 1, 2, 3),
      |d AS (
      |  SELECT o_custkey, priority, valid_from,
      |    lead(valid_from) OVER
      |      (PARTITION BY o_custkey ORDER BY run_id) AS valid_to
      |  FROM g),
      |fact AS (
      |  SELECT o.o_custkey AS custkey, l.l_orderkey, l.l_linenumber,
      |    CAST(l.l_shipdate AS DATE) AS ship_day
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT f.l_orderkey, f.l_linenumber, f.custkey, f.ship_day,
      |  d.priority AS priority_at_ship
      |FROM fact f LEFT JOIN d
      |  ON d.o_custkey = f.custkey AND f.ship_day >= d.valid_from
      |  AND (d.valid_to IS NULL OR f.ship_day < d.valid_to)""") { (s, dir) =>
    import s.implicits._
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    // each side null-fills the other's payload column at its own type
    def none(df: DataFrame, c: String) =
      lit(null).cast(df.schema(c).dataType).as(c)
    val state = orders.select($"o_custkey".as("custkey"),
      to_date($"o_orderdate").as("day"), lit(0).as("tag"),
      $"o_orderdate".as("ts"), $"o_orderkey".as("key"),
      none(lineitem, "l_linenumber"), $"o_orderpriority".as("priority"))
    val probes = lineitem
      .join(orders.select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("custkey"), to_date($"l_shipdate").as("day"),
        lit(1).as("tag"), $"l_shipdate".as("ts"), $"l_orderkey".as("key"),
        $"l_linenumber", none(orders, "o_orderpriority").as("priority"))
    val w = Window.partitionBy($"custkey").orderBy($"day", $"tag", $"ts", $"key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    state.unionByName(probes)
      .withColumn("pri_at", last($"priority", ignoreNulls = true).over(w))
      .where($"tag" === 1)
      .select($"key".as("l_orderkey"), $"l_linenumber", $"custkey",
        $"day".as("ship_day"), $"pri_at".as("priority_at_ship"))
  }

  /** Day-over-day deltas — lag arithmetic over the GAP-FREE calendar
    * spine of [[calendarZeroFill]] (lag over raw daily aggregates
    * silently compares across gaps; the zero-filled spine is what makes
    * "yesterday" mean yesterday). Percent change is integer-quantized
    * off two exact counts; day 1 and zero-baseline days yield NULL pct
    * (0→n has no defined growth rate).
    *
    * Scale note: "yesterday" is fetched by a dense-spine SELF-JOIN on
    * day−1 (exactly lag(1), because the spine has every day) rather than
    * a global-ordered window — the join shuffles on day instead of
    * planning a single-partition exchange. The spine is tiny (one row
    * per DAY) so either plan would finish, but the join form keeps the
    * suite free of the unpartitioned-window antipattern and its runtime
    * WARN; PlanShapeSpec pins the no-Window plan. The heavy lifting
    * stays in the daily aggregate below. */
  val dayOverDay: QueryDef = QueryDef.sql(
    "day_over_day",
    """WITH bounds AS (
      |  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
      |         MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
      |    AS day FROM bounds),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |filled AS (
      |  SELECT day, COALESCE(n, 0) AS n_orders
      |  FROM spine LEFT JOIN daily USING (day))
      |SELECT day, n_orders,
      |  n_orders - lag(n_orders) OVER (ORDER BY day) AS delta,
      |  CASE WHEN lag(n_orders) OVER (ORDER BY day) > 0
      |    THEN CAST(FLOOR((CAST(n_orders AS DOUBLE) /
      |         lag(n_orders) OVER (ORDER BY day) - 1) * 1000000) AS BIGINT)
      |    ELSE NULL END AS pct_q6
      |FROM filled""") { (s, dir) =>
    import s.implicits._
    val o = t(s, dir, "orders").select(to_date($"o_orderdate").as("day"))
    val spine = o.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val filled = spine
      .join(o.groupBy($"day").agg(count(lit(1)).as("n")), Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).as("n_orders"))
    // The spine is DENSE (every day between lo and hi exists), so
    // lag(1) over a global-ordered window ≡ an equi-join on day-1 —
    // which shuffles on day instead of planning the single-partition
    // exchange a `Window.orderBy` costs (bounded by #days here, but the
    // WARN-free join form is the right habit and plan).
    val prev = filled.select(date_add($"day", 1).as("day"),
      $"n_orders".as("prev"))
    filled
      .join(prev, Seq("day"), "left")
      .select($"day", $"n_orders",
        ($"n_orders" - $"prev").as("delta"),
        when($"prev" > 0,
          Kit.quantize($"n_orders".cast(DoubleType) / $"prev" - 1, 6))
          .otherwise(lit(null).cast(LongType)).as("pct_q6"))
  }

  val all: Seq[QueryDef] = Seq(windowRangeFrame, scdType2, funnelConversion,
    retentionCohorts, statsMomentsKit, entropyByGroup, histogramPrice,
    hllRollup, calendarZeroFill, ratioToTotal, pitDimensionJoin,
    dayOverDay)
}
