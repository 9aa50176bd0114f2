package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Fetch, Fetcher, Parsers}
import graft.pipeline._
import graft.streaming.PushEvents

/** An in-process fetcher over the generated pages: fault 1 fails the first
  * attempt only (transient), fault 2 fails every attempt. Holds only the
  * page map, so it ships into tasks like any `Fetcher`. */
final class SeededFetcher(pages: Map[String, (String, Int)]) extends Fetcher {
  @transient private lazy val tried = ConcurrentHashMap.newKeySet[String]()
  def get(url: String): Either[String, String] = pages.get(url) match {
    case None => Left("404")
    case Some((body, fault)) =>
      val again = !tried.add(url)
      if (fault == 2 || (fault == 1 && !again)) Left("503") else Right(body)
  }
}

/** The reference's daily ELT run, three simulated days per pass (`gen.py`'s
  * `ELT_DAYS`), one op per day, on a fresh warehouse root each pass. A
  * day: `Pipeline.run` over
  * gated sources (fetch through [[SeededFetcher]], parse, expectations,
  * land by date / replace-all / new-rows-only append), a keyed `upsert`,
  * a push-inbox `drainOnce`, `compact` every second day, and the day-end
  * SQL (missing-stats anti-join, grouped COUNT(DISTINCT), watermark MAX),
  * whose answers are checked against the generator's counts. */
final class EltDay(spark: SparkSession, inputs: String, work: String,
                   trace: Trace) extends Workload {
  import spark.implicits._

  private final case class Page(kind: String, key: String, url: String,
                                body: String, fault: Int)
  private final case class Day(date: LocalDate, weatherRows: Long,
                               missing: Long, games: Long, customers: Long,
                               balance: Long, hits: Long, standings: Long)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val expect = mapper.readTree(new java.io.File(s"$inputs/expect.json"))
  private val days: Seq[Day] = expect.get("days").elements().asScala.map { d =>
    Day(LocalDate.parse(d.get("date").asText), d.get("weather_rows").asLong,
      d.get("missing_stats").asLong, d.get("games").asLong,
      d.get("customers").asLong, d.get("balance_cents").asLong,
      d.get("hits").asLong, d.get("standings").asLong)
  }.toSeq
  private val nZips = expect.get("zips").asLong
  private val pages: Seq[Seq[Page]] = days.indices.map { i =>
    Files.readAllLines(Paths.get(s"$inputs/d$i/pages.jsonl")).asScala.map { l =>
      val j = mapper.readTree(l)
      Page(j.get("kind").asText, j.get("key").asText, j.get("url").asText,
        j.get("body").asText, j.get("fault").asInt)
    }.toSeq
  }
  private val cpus = spark.sparkContext.defaultParallelism

  private var root = ""
  private var wh: Warehouse = _
  private var stats = Map.empty[String, Double]

  override def beginPass(p: Int): Unit = {
    root = s"$work/pass$p"
    wh = Warehouse(spark, s"$root/wh")
    stats = Map("retries" -> 0.0, "failed_keys" -> 0.0)
  }

  private def fetched(day: Int, kind: String): DataFrame = {
    val ps = pages(day).filter(_.kind == kind)
    val fetcher = new SeededFetcher(ps.map(p => p.url -> (p.body, p.fault)).toMap)
    val keys = spark.sparkContext.parallelize(ps.map(p => (p.key, p.url)), cpus)
      .toDF("key", "url")
    val f = trace.span("ingest.fetch") {
      val f = Fetch.fetchPartitioned(keys, "key", "url", fetcher).persist()
      val r = f.agg(sum($"attempts" - 1), count(when($"error".isNotNull, 1)))
        .collect()(0)
      stats = stats.updated("retries", stats("retries") + r.getLong(0))
        .updated("failed_keys", stats("failed_keys") + r.getLong(1))
      f
    }
    Fetch.ok(f).select($"key", $"body")
  }

  /** Cache and count inside the span: the parsers and `newRowsOnly` build
    * lazy plans, so without it their work would run, and be timed, in the
    * expectations or the load. */
  private def materialised(df: DataFrame): DataFrame = {
    val m = df.persist()
    m.count()
    m
  }

  private def parsed(df: => DataFrame): DataFrame =
    trace.span("ingest.parse")(materialised(df))

  private def source(n: String, t: String, pol: SinkPolicy)(
      gate: PipelineContext => Boolean)(ext: PipelineContext => DataFrame): Source =
    new Source {
      val name = n
      val table = t
      val policy = pol
      def schedule(ctx: PipelineContext) = trace.span("pipeline.schedule")(gate(ctx))
      def extract(ctx: PipelineContext) = ext(ctx)
    }

  private def existing(t: String) =
    if (wh.catalog.tableExists(t)) Some(wh.read(t)) else None

  private def sources(d: Int): Seq[Source] = Seq(
    source("weather", "weather", SinkPolicy.RelandByDate("date")) { ctx =>
      Gates.watermarkBehind(existing("weather"), "date", ctx.clock) &&
        Gates.monthlyBudgetAllows(existing("weather"), "date", 1000000L,
          nZips, ctx.clock)
    } { _ =>
      val rows = parsed(Parsers.weatherRows(fetched(d, "weather")))
      val ok = trace.span("pipeline.expect")(Expectations.pass(rows, Seq(
        Expectations.NotNull("zip_code"), Expectations.NotNull("date"),
        Expectations.InRange("totalprecip_in", 0, 20),
        Expectations.Unique("zip_code", "date"))))
      if (!ok) throw new IllegalStateException("weather expectations failed")
      rows
    },
    source("zips", "zips", SinkPolicy.Overwrite) { ctx =>
      Gates.annualRefreshDue(wh.catalog.lastModifiedDate("zips"), ctx.clock)
    } { _ =>
      val rows = parsed(Parsers.zipRows(fetched(d, "zips")))
      if (!Parsers.zipRowsShapeOk(rows))
        throw new IllegalStateException("zip pages mis-paired")
      rows
    },
    source("games", "games", SinkPolicy.Append) { ctx =>
      Gates.seasonMonday(ctx.clock)
    } { _ =>
      val rows = parsed(Parsers.scheduleRows(fetched(d, "schedule")))
      trace.span("pipeline.new_rows_only")(materialised(wh.newRowsOnly("games", rows)))
    },
    source("standings", "standings", SinkPolicy.Overwrite) { _ =>
      Gates.rowShapeOk(spark.read.parquet(s"$inputs/d$d/standings.parquet"),
        Seq("team", "wins", "as_of"))
    } { _ => spark.read.parquet(s"$inputs/d$d/standings.parquet") })

  private def check(what: String, got: Long, want: Long): Unit =
    if (got != want)
      throw new IllegalStateException(s"$what: got $got, want $want")

  private def day(d: Int): Unit = {
    val e = days(d)
    val ctx = PipelineContext(spark, wh, Clock.Fixed(e.date.plusDays(1)))
    trace.span("pipeline.run")(new Pipeline(sources(d)).run(ctx))
    spark.catalog.clearCache()
    trace.span("pipeline.upsert")(wh.upsert("customers",
      spark.read.parquet(s"$inputs/d$d/customers.parquet"), Seq("cust_id")))
    trace.span("streaming.drain") {
      val inbox = Paths.get(s"$root/inbox")
      Files.createDirectories(inbox)
      scala.util.Using.resource(Files.list(Paths.get(s"$inputs/d$d/inbox")))(
        _.iterator().asScala.foreach(f =>
          Files.copy(f, inbox.resolve(s"d$d-${f.getFileName}"))))
      PushEvents.drainOnce(spark, inbox.toString, s"$root/hits", s"$root/hits_ckpt")
    }
    if (d % 2 == 1) trace.span("pipeline.compact") {
      wh.compact("weather"); wh.compact("customers")
    }
    trace.span("pipeline.read") {
      val w = wh.read("weather")
      val missing = wh.read("zips").join(
        w.where($"date" === lit(java.sql.Date.valueOf(e.date))),
        Seq("zip_code"), "left_anti").count()
      val games = wh.read("games").groupBy($"team")
        .agg(countDistinct($"game_id").as("n")).agg(sum($"n")).collect()(0)
      val hi = w.agg(max($"date")).collect()(0).getDate(0).toLocalDate
      check("missing-stats anti-join", missing, e.missing)
      check("games COUNT(DISTINCT)", games.getLong(0), e.games)
      if (hi != e.date) throw new IllegalStateException(s"watermark $hi != ${e.date}")
    }
  }

  def ops(p: Int): Seq[Op] = days.indices.map(d => Op(s"day$d", () => day(d)))

  /** Landed tables against the keys and counts the generator derived. */
  override def endPass(p: Int): Option[String] =
    try {
      val last = days.last
      val w = wh.read("weather")
      check("weather rows", w.count(), days.map(_.weatherRows).sum)
      check("weather keys", w.select($"zip_code", $"date").distinct().count(),
        days.map(_.weatherRows).sum)
      check("zips", wh.read("zips").count(), nZips)
      check("games", wh.read("games").count(), last.games)
      val c = wh.read("customers").agg(count(lit(1)), sum($"balance_cents"))
        .collect()(0)
      check("customers", c.getLong(0), last.customers)
      check("customer balances", c.getLong(1), last.balance)
      check("hits", spark.read.schema(PushEvents.hitSchema)
        .parquet(s"$root/hits").count(), last.hits)
      check("standings", wh.read("standings").count(), last.standings)
      None
    } catch { case scala.util.control.NonFatal(e) => Some(e.getMessage) }

  override def passCounters(p: Int): Map[String, Double] = {
    val tables = Seq("weather", "zips", "games", "standings", "customers")
    val live = tables.flatMap(t => wh.currentFiles(t)
      .map(f => Files.size(Paths.get(s"$root/wh/$t/$f")))).sum +
      Storage.parquetBytes(Paths.get(s"$root/hits"))
    val input = Storage.bytes(Paths.get(inputs)) -
      Files.size(Paths.get(s"$inputs/expect.json"))
    stats ++ Map(
      "commits" -> tables.map(t => wh.history(t).size).sum.toDouble,
      "files_written" -> Storage.parquetFiles(Paths.get(root)).toDouble,
      "write_amp" -> Storage.parquetBytes(Paths.get(root)).toDouble / input,
      "space_amp" -> Storage.parquetBytes(Paths.get(root)).toDouble / live)
  }
}

/** Byte and file counts under a directory tree. */
object Storage {
  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum
  def parquetFiles(dir: Path): Int =
    files(dir).count(_.getFileName.toString.endsWith(".parquet"))
  def parquetBytes(dir: Path): Long =
    files(dir).filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
}
