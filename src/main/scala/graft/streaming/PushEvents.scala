package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Kit

/** The push-event ingestion path (S10) — the reference's
  * `websitehits_pipeline`: a publisher pushes messages whose `data` field
  * is base64-encoded JSON rows, each message is decoded and appended with
  * a declared schema, unconditionally (no watermark, no dedup —
  * at-least-once upstream; reference: `functions/main.py:40-51` base64 at
  * `:41`, `functions/utils/datasources.py:779-805`, schema `:779-788`).
  *
  * Spark-first shape: Structured Streaming over a message directory
  * (each file = one push payload, one base64 line per message),
  * `unbase64` → `from_json(array<row>)` → `explode`, landed by the file
  * sink with a checkpoint — which upgrades the reference's at-least-once
  * to EXACTLY-ONCE per payload: `Trigger.AvailableNow` drains whatever is
  * pending and commits source offsets + sink manifest atomically, so a
  * re-run never re-lands a processed payload. At 100 TB scale the same
  * code runs continuously (`Trigger.ProcessingTime`) over a bucketed
  * object-store inbox; per-micro-batch parallelism is one task per
  * payload file.
  */
object PushEvents {

  /** Declared hit schema — the engine analogue of the reference's
    * 8-column SchemaField list (`datasources.py:779-788`: TIMESTAMP +
    * six STRINGs + BOOL). */
  val hitSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("page", StringType),
    StructField("referrer", StringType),
    StructField("session_id", StringType),
    StructField("user_agent", StringType),
    StructField("ip", StringType),
    StructField("country", StringType),
    StructField("is_bot", BooleanType)))

  /** Decode one payload column (base64 of a JSON array of hit rows) into
    * exploded typed rows — shared by the stream and any batch backfill. */
  def decode(payloads: DataFrame): DataFrame =
    payloads
      .select(Kit.fromJson(unbase64(col("value")).cast("string"),
        ArrayType(hitSchema)).as("rows"))
      .select(explode(col("rows")).as("hit"))
      .select("hit.*")

  /** The unbounded source: every line of every file in `inboxDir` is one
    * pushed payload. */
  def stream(spark: SparkSession, inboxDir: String): DataFrame =
    decode(spark.readStream.text(inboxDir))

  /** Drain all pending payloads into the parquet table at `tableDir`
    * exactly once, then stop (`Trigger.AvailableNow` — the incremental-
    * batch deployment mode). Blocks until the drain completes. */
  def drainOnce(spark: SparkSession, inboxDir: String, tableDir: String,
                checkpointDir: String): StreamingQuery = {
    Streams.drainOnce(stream(spark, inboxDir), tableDir, checkpointDir)
  }
}
