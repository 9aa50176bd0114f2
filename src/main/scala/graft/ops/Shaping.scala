package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Kit
import graft.sources.Tables

/** Window functions, row shaping, and the scalar kit in anger (SURVEY §2.5,
  * §2.7): top-k per group, running aggregates, string/date/JSON scalar
  * pipelines, pivot/unpivot (the reference's stat-name→column routing F20
  * and home/away row emission S9), and cast/rename (F1/F2).
  *
  * Scale notes: windows partition by a key (never a global window without
  * PARTITION BY — that would single-task); all scalar work is
  * `functions._` compositions that stay inside whole-stage codegen.
  */
object Shaping {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Top-k per group (extension of the reference's Python `max` top-1,
    * `datasources.py:503`): 3 highest-value orders per customer.
    * Deterministic tiebreak on o_orderkey. */
  val topkPerGroup: QueryDef = QueryDef.sql(
    "topk_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) r
      |WHERE rk <= 3""") { (s, dir) =>
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w).cast(LongType))
      .where($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
  }

  /** Running sum + lag per supplier over a total order (shipdate, orderkey,
    * linenumber, quantity — the fixture carries duplicate
    * (orderkey, linenumber) rows at sf0.1, so quantity is the final
    * tiebreaker that makes the order, and thus LAG and every prefix sum,
    * deterministic across engines). Quantities are integer-valued doubles
    * → the running sum is exact regardless of partial-sum order. */
  val windowRunningSum: QueryDef = QueryDef.sql(
    "window_running_sum",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
      |  LAG(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
      |FROM lineitem""") { (s, dir) =>
    import s.implicits._
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
    t(s, dir, "lineitem").select(
      $"l_suppkey", $"l_orderkey", $"l_linenumber",
      sum($"l_quantity").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .as("running_qty"),
      lag($"l_quantity", 1).over(w).as("prev_qty"))
  }

  /** String kit (F3–F9): lower, regex group extract (Brand#N → N), split
    * head, concat_ws, translate, length — the reference's scrape-cleaning
    * pipeline (`datasources.py:341,433,534,713,725`). */
  val stringKit: QueryDef = QueryDef.sql(
    "string_kit",
    """SELECT p_partkey,
      |  lower(p_name) AS name_lower,
      |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
      |  split_part(p_name, ' ', 1) AS name_head,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  translate(p_name, 'aeiou', '') AS name_novowels,
      |  length(p_name) AS name_len,
      |  trim(concat(' ', p_type, ' ')) AS type_trim
      |FROM part""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "part").select(
      $"p_partkey",
      lower($"p_name").as("name_lower"),
      regexp_extract($"p_brand", "Brand#(\\d+)", 1).as("brand_num"),
      split($"p_name", " ").getItem(0).as("name_head"),
      concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
      translate($"p_name", "aeiou", "").as("name_novowels"),
      length($"p_name").cast(LongType).as("name_len"),
      trim(concat(lit(" "), $"p_type", lit(" "))).as("type_trim"))
  }

  /** Date kit (F14–F17): truncation, parts, arithmetic, day-of-week.
    * Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday — the
    * oracle encodes the +1 shift. */
  val dateKit: QueryDef = QueryDef.sql(
    "date_kit",
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  EXTRACT(YEAR FROM o_orderdate) AS yr,
      |  EXTRACT(MONTH FROM o_orderdate) AS mon,
      |  EXTRACT(DAY FROM o_orderdate) AS dom,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS days_since_95,
      |  dayofweek(o_orderdate) + 1 AS dow
      |FROM orders""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "orders").select(
      $"o_orderkey",
      $"o_orderdate".cast(DateType).as("order_date"),
      year($"o_orderdate").cast(LongType).as("yr"),
      month($"o_orderdate").cast(LongType).as("mon"),
      dayofmonth($"o_orderdate").cast(LongType).as("dom"),
      date_trunc("month", $"o_orderdate").as("month_start"),
      date_add($"o_orderdate".cast(DateType), 30).as("due_date"),
      datediff($"o_orderdate".cast(DateType), lit("1995-01-01").cast(DateType))
        .cast(LongType).as("days_since_95"),
      dayofweek($"o_orderdate").cast(LongType).as("dow"))
  }

  /** F11/F12 — JSON document parse + path extract over the events `props`
    * column, aggregated per event type. */
  val jsonPropsExtract: QueryDef = QueryDef.sql(
    "json_props_extract",
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        get_json_object($"props", "$.k").cast(LongType).as("k"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
  }

  /** F20 — pivot: the reference's stat-name→column routing (`mapfields`,
    * `datasources.py:737-752`) done as a relational pivot with a FIXED
    * value list (required for a deterministic schema — and at scale it
    * avoids the extra pass that value-discovery would need). */
  val pivotEventCounts: QueryDef = QueryDef.sql(
    "pivot_event_counts",
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY user_id""") { (s, dir) =>
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    t(s, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
  }

  /** S9-shaped unpivot — one wide row → (measure, value) rows, the
    * home/away stat emission done with a generator (`stack`), which
    * streams inside codegen instead of a union of rescans. The oracle is
    * the equivalent UNION ALL. */
  val unpivotMeasures: QueryDef = QueryDef.sql(
    "unpivot_measures",
    """SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'discount' AS measure, l_discount AS val FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'tax' AS measure, l_tax AS val FROM lineitem""") { (s, dir) =>
    t(s, dir, "lineitem").selectExpr(
      "l_orderkey", "l_linenumber",
      "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, val)")
  }

  /** F1/F2 — cast + bulk rename (`astype` + `mapfields`,
    * `datasources.py:274-275,737-752`). Money→string goes through
    * DECIMAL(18,2) so both engines print identical text. */
  val castRename: QueryDef = QueryDef.sql(
    "cast_rename",
    """SELECT l_orderkey AS order_id,
      |  CAST(l_quantity AS BIGINT) AS qty_int,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
      |  CAST(l_shipdate AS DATE) AS ship_date,
      |  concat(l_returnflag, '/', l_linestatus) AS flag_status
      |FROM lineitem""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "lineitem").select(
      $"l_orderkey".as("order_id"),
      // quantities are integral; floor→long avoids the round-vs-truncate
      // divergence between engines on true fractions
      floor($"l_quantity").cast(LongType).as("qty_int"),
      $"l_extendedprice".cast(DecimalType(18, 2)).cast(StringType).as("price_str"),
      $"l_shipdate".cast(DateType).as("ship_date"),
      concat($"l_returnflag", lit("/"), $"l_linestatus").as("flag_status"))
  }

  /** Scalar kit round 2 — exercises the remaining Kit functions (F4 suffix
    * removal, F10 base64 round-trip, F16 epoch-millis→date, F17 calendar
    * predicate, F18 rounding) plus split/extract/cast via the Kit API.
    * All stay inside whole-stage codegen. */
  val scalarKit2: QueryDef = QueryDef.sql(
    "scalar_kit_2",
    """SELECT o_orderkey,
      |  CAST(o_orderkey AS VARCHAR) AS as_str,
      |  regexp_replace(o_orderpriority, '-URGENT$', '') AS desuf,
      |  string_split(o_orderpriority, '-')[2] AS item1,
      |  regexp_extract(o_orderpriority, '(\d+)-', 1) AS grp,
      |  decode(from_base64(to_base64(encode(o_orderstatus)))) AS b64rt,
      |  CAST(make_timestamp(epoch_ms(o_orderdate) * 1000) AS DATE) AS mdate,
      |  month(o_orderdate) IN (8,9,10,11,12,1) AND dayofweek(o_orderdate) = 1 AS season_mon,
      |  round(o_totalprice / 7, 2) AS r2,
      |  translate(o_orderstatus || chr(9) || o_orderpriority,
      |            chr(9) || chr(13) || chr(10), '') AS strip
      |FROM orders""") { (s, dir) =>
    import s.implicits._
    import graft.functions.Kit
    t(s, dir, "orders").select(
      $"o_orderkey",
      Kit.asString($"o_orderkey").as("as_str"),
      Kit.removeSuffix($"o_orderpriority", "-URGENT").as("desuf"),
      Kit.splitItem($"o_orderpriority", "-", 1).as("item1"),
      Kit.extractGroup($"o_orderpriority", "(\\d+)-", 1).as("grp"),
      Kit.b64ToString(base64(encode($"o_orderstatus", "UTF-8"))).as("b64rt"),
      // fixture timestamps are NTZ; session TZ is UTC, so the cast is the
      // same wall-clock→epoch mapping DuckDB's epoch_ms applies
      Kit.millisToDate(unix_millis($"o_orderdate".cast(TimestampType)))
        .as("mdate"),
      Kit.inSeasonMonday($"o_orderdate").as("season_mon"),
      round($"o_totalprice" / 7, 2).as("r2"),
      Kit.stripCtl(concat($"o_orderstatus", lit("\t"), $"o_orderpriority"))
        .as("strip"))
  }

  /** Exact money rollup — moneySum/moneyAvg (decimal-exact, associative →
    * order-independent across executors, F18 arithmetic). */
  val moneyRollup: QueryDef = QueryDef.sql(
    "money_rollup",
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(o_totalprice) AS avg_price
      |FROM orders GROUP BY o_orderstatus""") { (s, dir) =>
    import s.implicits._
    import graft.functions.Kit
    t(s, dir, "orders").groupBy($"o_orderstatus").agg(
      count(lit(1)).as("n"),
      Kit.moneySum($"o_totalprice").as("sum_price"),
      Kit.moneyAvg($"o_totalprice").as("avg_price"))
  }

  /** MapType surface over the JSON props column: parse to a typed map,
    * surface the (sorted) key list as a string, typed element access, and
    * key membership. The oracle works on the JSON document directly
    * (DuckDB json_keys / json_extract) — same logical operation, two
    * different physical representations, identical rows. */
  val mapKit: QueryDef = QueryDef.sql(
    "map_kit",
    """SELECT event_id,
      |  array_to_string(json_keys(props), ',') AS key_list,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
      |  json_extract(props, '$.k') IS NOT NULL AS has_k,
      |  json_extract(props, '$.missing') IS NOT NULL AS has_missing
      |FROM events""") { (s, dir) =>
    import s.implicits._
    val m = Kit.fromJson($"props",
      org.apache.spark.sql.types.MapType(StringType, LongType))
    // loadSpread: per-row JSON parse into a typed map is the whole query
    Tables.loadSpread(s, dir, "events").select(
      $"event_id",
      concat_ws(",", array_sort(map_keys(m))).as("key_list"),
      element_at(m, "k").as("k_val"),
      map_contains_key(m, "k").as("has_k"),
      map_contains_key(m, "missing").as("has_missing"))
  }

  /** Second string/regexp kit (padding, reversal, repetition, regex
    * counting, field extraction, null scalars) — the remaining F-row
    * surface a text pipeline leans on. */
  val stringKit3: QueryDef = QueryDef.sql(
    "string_kit_3",
    """SELECT p_partkey,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      |  rpad(p_brand, 12, '.') AS brand_pad,
      |  reverse(p_name) AS name_rev,
      |  repeat(p_type[1:1], 3) AS t3,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS vowel_runs,
      |  split_part(p_type, ' ', 2) AS type_mid,
      |  nullif(p_size, 1) AS size_or_null,
      |  ifnull(nullif(p_size, 1), -1) AS size_fallback
      |FROM part""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "part").select(
      $"p_partkey",
      lpad($"p_size".cast(StringType), 4, "0").as("size_pad"),
      rpad($"p_brand", 12, ".").as("brand_pad"),
      reverse($"p_name").as("name_rev"),
      repeat(substring($"p_type", 1, 1), 3).as("t3"),
      regexp_count($"p_name", lit("[aeiou]+")).cast(LongType).as("vowel_runs"),
      split_part($"p_type", lit(" "), lit(2)).as("type_mid"),
      nullif($"p_size", lit(1)).as("size_or_null"),
      coalesce(nullif($"p_size", lit(1)), lit(-1)).as("size_fallback"))
  }

  /** Second temporal kit: month-end, ISO week, quarter, month shifting
    * (DuckDB's `+ INTERVAL` lands on TIMESTAMP — cast back to DATE),
    * and date construction from parts. */
  val dateKit2: QueryDef = QueryDef.sql(
    "date_kit_2",
    """SELECT o_orderkey,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
      |  make_date(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT), 1, 1) AS year_start
      |FROM orders""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "orders").select(
      $"o_orderkey",
      last_day($"o_orderdate").as("month_end"),
      weekofyear($"o_orderdate").as("iso_week"),
      quarter($"o_orderdate").as("qtr"),
      add_months($"o_orderdate".cast(DateType), 3).as("plus3m"),
      make_date(year($"o_orderdate"), lit(1), lit(1)).as("year_start"))
  }

  /** Math/conditional scalar kit: least/greatest, abs/sign/mod on
    * integers, and quantized sqrt/ln/pow — F18 beyond the budget
    * arithmetic. */
  val mathKit: QueryDef = QueryDef.sql(
    "math_kit",
    """SELECT p_partkey, p_size,
      |  least(p_size, 25) AS size_capped,
      |  greatest(p_size, 5) AS size_floored,
      |  abs(p_size - 25) AS dist_from_25,
      |  CAST(sign(p_size - 25) AS BIGINT) AS side_of_25,
      |  p_size % 7 AS size_mod7,
      |  CAST(FLOOR(sqrt(CAST(p_size AS DOUBLE)) * 1000000) AS BIGINT) AS sqrt_q6,
      |  CAST(FLOOR(ln(CAST(p_size AS DOUBLE)) * 1000000) AS BIGINT) AS ln_q6,
      |  CAST(FLOOR(pow(1.05, p_size % 10) * 1000000) AS BIGINT) AS growth_q6
      |FROM part""") { (s, dir) =>
    import s.implicits._
    import graft.functions.Kit
    t(s, dir, "part").select(
      $"p_partkey", $"p_size",
      least($"p_size", lit(25)).as("size_capped"),
      greatest($"p_size", lit(5)).as("size_floored"),
      abs($"p_size" - 25).as("dist_from_25"),
      signum($"p_size" - 25).cast(LongType).as("side_of_25"),
      ($"p_size" % 7).as("size_mod7"),
      Kit.quantize(sqrt($"p_size".cast(DoubleType)), 6).as("sqrt_q6"),
      Kit.quantize(log($"p_size".cast(DoubleType)), 6).as("ln_q6"),
      Kit.quantize(pow(lit(1.05), $"p_size" % 10), 6).as("growth_q6"))
  }

  val all: Seq[QueryDef] = Seq(
    topkPerGroup, windowRunningSum, stringKit, dateKit, jsonPropsExtract,
    pivotEventCounts, unpivotMeasures, castRename, scalarKit2, moneyRollup,
    mapKit, stringKit3, dateKit2, mathKit)
}
