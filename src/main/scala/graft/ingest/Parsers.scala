package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Kit

/** Declarative parsers for the fetched-page shapes (S5–S9) — the
  * reference's BeautifulSoup/`re` row extraction re-expressed as codegen'd
  * column expressions over a `(key, body)` frame of fetched pages. No
  * UDFs: `regexp_extract_all` + `arrays_zip` + `explode` emit rows,
  * `from_json` traverses nested documents. Each parser is total: bad rows
  * surface as nulls (filterable), never exceptions.
  */
object Parsers {

  /** S5 — weather API JSON: nested path `forecast.forecastday[0].day`
    * (F12, `datasources.py:266`), keep-list projection (P1 `:270-271`),
    * casts (F1 `:274-275`), literal date column (F13 `:268-269`). `key`
    * is the zip the page was fetched for. */
  private val daySchema = StructType(Seq(
    StructField("totalprecip_in", DoubleType),
    StructField("avgtemp_f", DoubleType)))
  private val forecastDaySchema = StructType(Seq(
    StructField("date", StringType),
    StructField("day", daySchema)))
  val weatherSchema: StructType = StructType(Seq(
    StructField("forecast", StructType(Seq(
      StructField("forecastday", ArrayType(forecastDaySchema)))))))

  def weatherRows(pages: DataFrame): DataFrame =
    pages.select(
      col("key").as("zip_code"),
      Kit.fromJson(col("body"), weatherSchema).as("j"))
      .select(
        col("zip_code"),
        Kit.asDate(col("j.forecast.forecastday").getItem(0).getField("date"))
          .as("date"),
        col("j.forecast.forecastday").getItem(0).getField("day")
          .getField("totalprecip_in").as("totalprecip_in"))

  /** S6 — zips page: parallel `<li class=...>` lists of zips and counties
    * per state page (`datasources.py:326-360`). Emits (zip, county,
    * state); the P7 row-shape assertion (equal list lengths, `:349-353`)
    * is preserved structurally — `arrays_zip` pads the shorter side with
    * null, so a skewed page yields null-bearing rows the caller rejects
    * via [[zipRowsShapeOk]] instead of silently mis-pairing. */
  def zipRows(pages: DataFrame): DataFrame =
    pages.select(
      col("key").as("state"),
      arrays_zip(
        regexp_extract_all(col("body"),
          lit("""<li class="zip">([^<]*)</li>"""), lit(1)),
        regexp_extract_all(col("body"),
          lit("""<li class="county">([^<]*)</li>"""), lit(1))).as("z"))
      .select(col("state"), explode(col("z")).as("p"))
      .select(
        col("p.0").as("zip_code"),
        Kit.removeSuffix(Kit.stripCtl(col("p.1")), " County").as("county"),
        col("state"))

  def zipRowsShapeOk(rows: DataFrame): Boolean =
    rows.where(col("zip_code").isNull || col("county").isNull).isEmpty

  /** S7 — teams page: conference header + team anchors; the team id comes
    * from the href via regex group extract (F5, `_/id/(.+?)/`,
    * `datasources.py:433`). One page per conference (key = conference). */
  def teamRows(pages: DataFrame): DataFrame =
    pages.select(
      col("key").as("conference"),
      explode(regexp_extract_all(col("body"),
        lit("""<a href="([^"]*_/id/[^"]*)">([^<]*)</a>"""), lit(0)))
        .as("anchor"))
      .select(
        col("conference"),
        trim(regexp_extract(col("anchor"), """>([^<]*)<""", 1)).as("team"),
        regexp_extract(col("anchor"), """href="([^"]*)"""", 1).as("url"))
      .withColumn("team_id",
        Kit.extractGroup(col("url"), "_/id/(.+?)/", 1))

  /** S8 — schedule page: game anchors carrying a gameId in the URL; the
    * id is split-extracted (F6, `split("gameId/")[1]`,
    * `datasources.py:534`). Key format "team|year" (the team×year
    * crossJoin fan-out, J3). */
  def scheduleRows(pages: DataFrame): DataFrame =
    pages.select(
      Kit.splitItem(col("key"), "\\|", 0).as("team"),
      Kit.splitItem(col("key"), "\\|", 1).cast(IntegerType).as("year"),
      explode(regexp_extract_all(col("body"),
        lit("""href="[^"]*gameId/([0-9]+)""""), lit(1))).as("game_id"))
      .dropDuplicates()

  /** S9 — matchup-stats page (`datasources.py:623-735`): a stat table of
    * `name|home|away` lines → one row per (game, side) with the 'unavail'
    * sentinel fill (F19) on missing values and label cleanup (F7/F3).
    * The home/away fan-out is the S9 two-row emission; stat-name →
    * column routing (F20) is then a pivot, as in Shaping. */
  def matchupRows(pages: DataFrame): DataFrame = {
    val lines = pages.select(
      col("key").as("game_id"),
      explode(regexp_extract_all(col("body"),
        lit("""<tr>([^<]*\|[^<]*\|[^<]*)</tr>"""), lit(1))).as("line"))
      .select(
        col("game_id"),
        trim(Kit.stripCtl(Kit.splitItem(col("line"), "\\|", 0))).as("stat"),
        Kit.splitItem(col("line"), "\\|", 1).as("home_v"),
        Kit.splitItem(col("line"), "\\|", 2).as("away_v"))
    lines.select(col("game_id"), col("stat"), lit(true).as("is_home"),
      Kit.unavail(nullif(trim(col("home_v")), lit(""))).as("value"))
      .unionAll(lines.select(col("game_id"), col("stat"),
        lit(false).as("is_home"),
        Kit.unavail(nullif(trim(col("away_v")), lit(""))).as("value")))
  }

  /** F20/F2 — stat-name → schema-column routing + bulk rename
    * (`mapfields`, `datasources.py:737-752`): pivot the long rows into
    * one row per (game, side) with one column per mapped stat. */
  def pivotStats(rows: DataFrame, fieldMap: Map[String, String]): DataFrame =
    rows.where(col("stat").isin(fieldMap.keys.toSeq: _*))
      .withColumn("field",
        element_at(
          map(fieldMap.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*),
          col("stat")))
      .groupBy(col("game_id"), col("is_home"))
      .pivot("field", fieldMap.values.toSeq.distinct.sorted)
      .agg(first(col("value")))
}
