package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function kit — the engine's equivalents of every scalar op the
  * reference performs in pandas/SQL (SURVEY §2.7, F1–F20). All are thin
  * compositions of `org.apache.spark.sql.functions._` so they stay inside
  * whole-stage codegen; none are UDFs.
  */
object Kit {

  /** F1 — casts mirroring pandas `astype` (`datasources.py:274-275`). */
  def asString(c: Column): Column = c.cast(StringType)
  def asDouble(c: Column): Column = c.cast(DoubleType)
  def asDate(c: Column): Column = c.cast(DateType)

  /** Exact-money cast: fixture money columns are 2-decimal doubles, so this
    * is lossless, and decimal addition is associative — aggregate results
    * become order-independent and bit-identical across engines (important
    * both for the DuckDB oracle and for deterministic re-runs at scale). */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact sum of a 2-decimal money column, surfaced as double. */
  def moneySum(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Exact average of a 2-decimal money column, surfaced as double. */
  def moneyAvg(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(c)

  /** F3 — char-class strip, reference `translate` removing `\r\n\t`
    * (`datasources.py:341,715-716`). */
  def stripCtl(c: Column): Column = translate(c, "\r\n\t", "")

  /** F4 — suffix removal (`removesuffix(" County")`, `datasources.py:345`). */
  def removeSuffix(c: Column, suffix: String): Column =
    regexp_replace(c, java.util.regex.Pattern.quote(suffix) + "$", "")

  /** F5 — regex group extract (`datasources.py:433`). */
  def extractGroup(c: Column, re: String, group: Int): Column =
    regexp_extract(c, re, group)

  /** F6 — split + element (`gmurl.split("gameId/")[1]`, `datasources.py:534`). */
  def splitItem(c: Column, sep: String, i: Int): Column =
    split(c, sep).getItem(i)

  /** F10 — base64 payload decode (`main.py:41`). */
  def b64ToString(c: Column): Column = unbase64(c).cast(StringType)

  /** F16 — epoch-millis → date (`DATE(TIMESTAMP_MILLIS(x))`,
    * `datasources.py:394`). */
  def millisToDate(c: Column): Column = to_date(timestamp_millis(c))

  /** F19 — conditional sentinel fill ('unavail' markers,
    * `datasources.py:717-720,729-730`). */
  def unavail(c: Column): Column = coalesce(c, lit("unavail"))

  /** F17 — season gate: month ∈ {8..12,1} ∧ Monday
    * (`datasources.py:480,608-609`). Spark dayofweek: 1=Sunday, 2=Monday. */
  def inSeasonMonday(d: Column): Column =
    month(d).isin(8, 9, 10, 11, 12, 1) && dayofweek(d) === 2

  /** `from_json(c, schema)` built as the Catalyst expression itself.
    * The `functions.from_json` overloads ship the schema as a string
    * literal that analysis parses back into a `DataType` on every plan;
    * here the `DataType` goes straight in (same expression, same
    * result). */
  def fromJson(c: Column, schema: DataType): Column =
    org.apache.spark.sql.GraftExpr.column(
      org.apache.spark.sql.catalyst.expressions.JsonToStructs(
        schema, Map.empty, org.apache.spark.sql.GraftExpr.expression(c)))

  /** Native-codegen dot product over two BIGINT arrays (see
    * [[DotProductI64]]) — the similarity hot loop. */
  def dotI64(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpr.column(DotProductI64(
      org.apache.spark.sql.GraftExpr.expression(a),
      org.apache.spark.sql.GraftExpr.expression(b)))

  /** Native-codegen Jaro-Winkler similarity (see [[JaroWinkler]]) — the
    * entity-resolution scorer. */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpr.column(JaroWinkler(
      org.apache.spark.sql.GraftExpr.expression(a),
      org.apache.spark.sql.GraftExpr.expression(b)))

  /** Native-codegen Bloom-filter membership probe (see
    * [[BloomMightContain]]) — scan-side semi-join reduction. */
  def bloomMightContain(bloomBytes: Array[Byte], key: Column): Column =
    org.apache.spark.sql.GraftExpr.column(BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(bloomBytes, BinaryType),
      org.apache.spark.sql.GraftExpr.expression(key)))

  /** Exact per-group top-k as bounded aggregate state (see [[CosTopK]]):
    * `ARRAY<STRUCT<cos, cid>>` of the k best (score DESC, id ASC) pairs.
    * Map-side partials are O(k) heaps, so the exchange moves state, not
    * candidate rows — the scale shape for top-k over huge pair streams. */
  def cosTopK(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.GraftExpr.column(CosTopK(
      org.apache.spark.sql.GraftExpr.expression(score),
      org.apache.spark.sql.GraftExpr.expression(id),
      k).toAggregateExpression())

  /** Native one-pass MinHash signature (see [[MinHashSig]]) — per set
    * row: one MD5 per element folded into every affine minimum; no
    * explode, no aggregate, no exchange. */
  def minhashSig(sset: Column, ab: Seq[(Long, Long)], p: Long): Column =
    org.apache.spark.sql.GraftExpr.column(MinHashSig(
      org.apache.spark.sql.GraftExpr.expression(sset),
      ab.map(_._1).toArray, ab.map(_._2).toArray, p))

  /** Native one-pass SimHash fingerprint (see [[SimHashFp]]). */
  def simhashFp(sset: Column, bits: Int): Column =
    org.apache.spark.sql.GraftExpr.column(SimHashFp(
      org.apache.spark.sql.GraftExpr.expression(sset), bits))

  /** Native one-pass fuzzy-entity band signature (see [[FuzzyBandSig]]). */
  def fuzzyBandSig(gset: Column, groups: Int, chunks: Int): Column =
    org.apache.spark.sql.GraftExpr.column(FuzzyBandSig(
      org.apache.spark.sql.GraftExpr.expression(gset), groups, chunks))

  /** Deterministic float quantization: floor(x * 10^scale) as BIGINT.
    * floor (not cast) because Spark truncates double→bigint while other
    * engines round — floor is unambiguous everywhere. Used to make
    * floating-point-derived outputs engine-portable and order-stable. */
  def quantize(c: Column, scale: Int): Column =
    floor(c * pow(lit(10.0), lit(scale))).cast(LongType)
}
