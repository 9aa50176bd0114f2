package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Pluggable page/API fetcher — the engine seam for the reference's
  * `requests.get` calls (`functions/utils/datasources.py:66-73,224`).
  * Serializable so it ships into executor tasks; tests inject fakes, a
  * deployment injects an HTTP client. Returns Left(error) instead of
  * throwing — the skip-and-continue ladder is data, not control flow. */
trait Fetcher extends Serializable {
  def get(url: String): Either[String, String]
}

/** One fetch outcome row. */
final case class Fetched(key: String, url: String, body: String,
                         error: String, attempts: Int)

/** Real-socket [[Fetcher]] over `java.net.http.HttpClient` — the
  * deployment implementation of the seam (reference: `requests.get(url,
  * timeout=…)`, `datasources.py:66-73,224`). Serializable by holding only
  * the timeout config; the client itself is rebuilt lazily per executor
  * JVM (`@transient lazy`), so one connection pool is shared by all of a
  * partition's sequential fetches. Non-2xx statuses and transport faults
  * (connect/read timeout, refused connection) both land in `Left` — the
  * retry/skip ladder in [[Fetch.fetchPartitioned]] treats them alike,
  * matching the reference's blanket `except requests.exceptions.*` skip.
  *
  * Egress is environment-blocked in this sandbox; IngestSpec exercises
  * this class against a loopback `com.sun.net.httpserver` listener with
  * injected 500s and read-timeout stalls, so the socket path itself —
  * not a fake — is what the suite verifies.
  */
final class HttpFetcher(connectTimeoutMs: Long = 5000L,
                        readTimeoutMs: Long = 30000L) extends Fetcher {
  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
      .build()

  def get(url: String): Either[String, String] =
    try {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(readTimeoutMs))
        .GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 == 2) Right(resp.body())
      else Left(s"HTTP ${resp.statusCode()}")
    } catch {
      case e: java.net.http.HttpTimeoutException =>
        Left(s"timeout: ${e.getMessage}")
      case e: java.io.IOException =>
        Left(s"io: ${e.getMessage}")
      case e: InterruptedException =>
        Thread.currentThread().interrupt(); Left(s"interrupted: ${e.getMessage}")
    }
}

/** Partition-parallel fetch over a keys DataFrame — the Spark shape of
  * the reference's driver-side fetch loops (S5 `datasources.py:218-261`,
  * S8 `:494-545`): each partition walks its keys sequentially (natural
  * per-partition rate limiting), retries once after a backoff on failure
  * (`:236-245` — 30 s there, injectable here), and records failures as
  * rows instead of aborting the batch (`:226-235` skip-and-continue).
  *
  * At 100 TB-scale ingestion the parallelism knob is the keys frame's
  * partition count (`repartition(n)` upstream = n concurrent fetchers);
  * results are ordinary rows, so everything downstream is declarative.
  */
object Fetch {

  def fetchPartitioned(keys: DataFrame, keyCol: String, urlCol: String,
                       fetcher: Fetcher, retries: Int = 1,
                       backoffMs: Long = 0L): Dataset[Fetched] = {
    val spark = keys.sparkSession
    import spark.implicits._
    keys.select(keyCol, urlCol).as[(String, String)].mapPartitions { it =>
      it.map { case (key, url) =>
        var attempt = 0
        var out: Either[String, String] = Left("not attempted")
        while (attempt <= retries &&
          (attempt == 0 || out.isLeft)) {
          if (attempt > 0 && backoffMs > 0) Thread.sleep(backoffMs)
          out = fetcher.get(url)
          attempt += 1
        }
        out match {
          case Right(body) => Fetched(key, url, body, null, attempt)
          case Left(err)   => Fetched(key, url, null, err, attempt)
        }
      }
    }
  }

  /** Successful bodies only — failures stay queryable for monitoring.
    * A column predicate, not a typed lambda: the lambda would
    * deserialise every page body into a [[Fetched]] to test one field. */
  def ok(fetched: Dataset[Fetched]): DataFrame =
    fetched.toDF().where(col("error").isNull)
}
