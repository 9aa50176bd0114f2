package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{CrashHooks, SinkPolicy, Warehouse}
import graft.streaming.{StatefulSessions, Streams}

/** DRIVER-death fault injection for the streaming exactly-once landing
  * path — the missing half of the fault evidence (round-8 verdict #4:
  * the batch loops have kill -9 proof via [[FaultDemo]]; the streaming
  * claim rested on replay-tag unit tests only). Two kill points, both
  * inside a live `Streams.drainInto` micro-batch:
  *
  *   - `before-manifest`: after the warehouse wrote the batch's parquet
  *     into the transaction directory but BEFORE the manifest commit —
  *     bytes are on disk but invisible; recovery must land the
  *     re-delivered batch (the orphan stays invisible until vacuum).
  *   - `after-commit`: after the manifest commit but BEFORE the
  *     streaming checkpoint advances — the batch is visible and the
  *     source WILL re-deliver it; recovery must recognize the
  *     `appId:batchId` txn tag and skip, or the table double-counts.
  *
  * The kill is a real `kill -9` of the driver JVM's own pid (no shutdown
  * hooks, no finally blocks — same semantics as the node dying).
  * `resume` restarts from the same checkpoint, drains to completion,
  * then replays the identical inbox through an UNCRASHED baseline
  * (fresh warehouse + checkpoint) and proves the crashed-and-recovered
  * table is ROW-IDENTICAL as a multiset: equal counts and empty
  * `exceptAll` in both directions — no duplicated and no missing
  * sessions. Run via `scripts/stream_fault_demo.sh`; prints one JSON
  * line per resume.
  */
object StreamFaultDemo {

  private val NBatches = 8
  private val BatchRows = 5000
  private val NUsers = 400
  /** 0-based index of the NON-EMPTY landed batch whose commit window is
    * killed (batch 0 emits no closed sessions — a session only closes
    * when a later batch's events prove the gap passed). */
  private val KillLanding = 2

  /** Deterministic inbox: batch b's events sit in a 5-minute slot at
    * base + b·40 min, so every batch closes the previous sessions of
    * its users (gap 40 min > session gap 30). */
  private def writeInbox(inbox: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(inbox)
    val base = 1767225600000L // 2026-01-01T00:00:00Z
    for (b <- 0 until NBatches) {
      val sb = new StringBuilder
      var i = 0
      while (i < BatchRows) {
        val ts = base + b * 40L * 60 * 1000 + (i % 300) * 1000L
        val uid = i % NUsers
        sb.append(s"""{"event_id":${b.toLong * BatchRows + i},"ts":"${new java.sql.Timestamp(ts).toInstant}","user_id":$uid,"event_type":"e${i % 5}","value":${(i % 100) / 10.0}}""")
          .append('\n')
        i += 1
      }
      val f = inbox.resolve(f"b$b%05d.jsonl")
      java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
      // FileStreamSource orders files by MODIFICATION TIME; files written
      // inside one millisecond would arrive in arbitrary order and the
      // watermark would drop whichever batch lands "late"
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1767225600000L + b * 1000L))
    }
  }

  private def sessionStream(spark: SparkSession, inbox: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    spark.readStream
      .schema(graft.streaming.EventWindows.eventSchema)
      .option("maxFilesPerTrigger", "1") // one generated file = one micro-batch
      .json(inbox)
      .withWatermark("ts", "10 minutes")
      .select($"user_id", $"ts", $"event_type").as[StatefulSessions.Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(StatefulSessions.transition)
      .toDF()
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0) // victim | resume
    val work = java.nio.file.Paths.get(args(1))
    val killPoint = args(2) // before-manifest | after-commit
    require(Set("victim", "resume")(mode), s"bad mode: $mode")
    require(Set("before-manifest", "after-commit")(killPoint),
      s"bad kill point: $killPoint")
    val spark = HarnessSession.build(cpus = "8", logLevel = "ERROR")
    val inbox = work.resolve("inbox")
    val wh = Warehouse(spark, work.resolve("wh").toString)
    val ckpt = work.resolve("ckpt").toString

    if (mode == "victim") {
      writeInbox(inbox)
      val landings = new java.util.concurrent.atomic.AtomicInteger(0)
      val killer: String => Unit = { _ =>
        if (landings.getAndIncrement() == KillLanding) {
          val pid = ProcessHandle.current().pid()
          System.err.println(
            s"[fault] kill -9 driver pid $pid at $killPoint, landing $KillLanding")
          Runtime.getRuntime.exec(Array("kill", "-9", pid.toString)).waitFor()
          // unreachable on success; if the kill somehow failed, fail loud
          sys.error("kill -9 of own pid did not terminate the JVM")
        }
      }
      killPoint match {
        case "before-manifest" => CrashHooks.beforeManifestCommit = killer
        case "after-commit"    => CrashHooks.afterCommit = killer
      }
      Streams.drainInto(sessionStream(spark, inbox.toString), wh, "sessions",
        SinkPolicy.Append, ckpt, appId = "streamfault")
      // a victim that survived the whole drain never hit the kill window
      System.err.println("[fault] victim completed WITHOUT dying — check KillLanding")
      sys.exit(2)
    }

    // resume: no hooks installed — recover from the existing checkpoint
    Streams.drainInto(sessionStream(spark, inbox.toString), wh, "sessions",
      SinkPolicy.Append, ckpt, appId = "streamfault")
    // uncrashed baseline over the same inbox
    val baseWh = Warehouse(spark, work.resolve("base_wh").toString)
    Streams.drainInto(sessionStream(spark, inbox.toString), baseWh, "sessions",
      SinkPolicy.Append, work.resolve("base_ckpt").toString,
      appId = "streamfault-base")
    val got = wh.read("sessions")
    val want = baseWh.read("sessions")
    // multiset equality: exceptAll catches BOTH a missing session and a
    // double-landed one (a duplicate survives exceptAll once)
    val dup = got.exceptAll(want).count()
    val miss = want.exceptAll(got).count()
    val txns = wh.history("sessions").flatMap(_.txnId)
    val verdict =
      if (dup == 0 && miss == 0 && got.count() > 0) "exactly-once"
      else "BROKEN"
    println(s"""{"metric": "stream_fault", "kill_point": "$killPoint", """ +
      s""""verdict": "$verdict", "rows": ${got.count()}, """ +
      s""""baseline_rows": ${want.count()}, "extra_rows": $dup, """ +
      s""""missing_rows": $miss, """ +
      s""""landed_txns": "${txns.mkString(",")}"}""")
    spark.stop()
    if (verdict != "exactly-once") sys.exit(1)
  }
}
