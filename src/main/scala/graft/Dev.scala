package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.QueryDef

/** Dev CLI over the registered queries, on the HarnessSession conf (so
  * `SPARK_GRAFT_CPUS`, `_MASTER` and `_EXTRA_CONF` apply as in Bench):
  *
  *   sbt 'runMain graft.Dev time <sfDir> <query>...'
  *   sbt 'runMain graft.Dev plan <sfDir> <query>... [outDir suffix]'
  *
  * `time` follows Bench's protocol (noop sink, cache drop inside the
  * timed window): one cold run, then [[Bench.time]]'s median of 3 with
  * process CPU. It prints one JSON line per query, with every named
  * `observe()` metric (candidate volumes, gate counters) and the `skew`
  * flag — whether AQE split a skewed join in the executed plan — both
  * read from the last run's QueryExecution by one listener. It also
  * counts, for the cold run and per timed run, the generated classes
  * compiled (`compiles`: Spark's `CodegenMetrics` delta — the cold run's
  * figure is the query's class census, the timed runs' what the
  * 100-entry codegen cache failed to keep) and the Spark jobs started
  * (`jobs`, build-time gates and collects included).
  *
  * `plan` prints each query's `explain("formatted")`; given an output dir
  * and suffix it writes `<outDir>/<query>_<suffix>.txt` instead (the
  * `plans/r12/` before/after layout, captured there at sf0.1 with
  * `SPARK_GRAFT_CPUS=32`).
  */
object Dev {
  private val usage =
    "usage: Dev time <sfDir> <query>... | Dev plan <sfDir> <query>... [outDir suffix]"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names if names.nonEmpty =>
      val defs = names.map(query)
      run(time(_, sfDir, defs))
    case "plan" :: sfDir :: rest if rest.nonEmpty =>
      val known = SparkEntry.defs.map(_.name).toSet
      val (names, out) = rest match {
        case qs :+ dir :+ suffix if qs.nonEmpty && !known(dir) =>
          (qs, Some((dir, suffix)))
        case qs => (qs, None)
      }
      val defs = names.map(query)
      run(plan(_, sfDir, defs, out))
    case _ => sys.error(usage)
  }

  private def query(name: String): QueryDef =
    SparkEntry.defs.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))

  private def run(body: SparkSession => Unit): Unit = {
    val spark = HarnessSession.build()
    try body(spark) finally spark.stop()
  }

  /** Observed metrics and skew flag of the noop-sink writes. Listener
    * delivery is asynchronous, so a caller arms it for `n` writes and
    * awaits them before reading. Queries' own internal actions (stage
    * table counts, driver collects) run under other names and are
    * ignored. */
  private final class WriteCapture extends QueryExecutionListener {
    @volatile private var pending = new CountDownLatch(0)
    @volatile var metrics: Map[String, Row] = Map.empty
    @volatile var skew = false

    def arm(n: Int): Unit = pending = new CountDownLatch(n)
    /** A failed query may never have issued its write: don't stall. */
    def await(failed: Boolean): Boolean =
      pending.await(if (failed) 2 else 30, TimeUnit.SECONDS)

    // the noop sink's mode("overwrite") executes as an "overwrite" command
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (funcName == "overwrite") {
        // auto-named Observations (UUIDs) are internal row counters;
        // only deliberately-named query metrics are reported
        metrics = qe.observedMetrics.filter { case (k, _) =>
          !k.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
        }
        // the EXECUTED (adaptive final) plan: skew splits exist only here
        skew = qe.executedPlan.toString.contains("skew=true")
        pending.countDown()
      }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      if (funcName == "overwrite") pending.countDown()
  }

  private def time(spark: SparkSession, sfDir: String,
                   defs: Seq[QueryDef]): Unit = {
    val capture = new WriteCapture
    spark.listenerManager.register(capture)
    // Job starts reach this listener on the listener bus's shared queue,
    // ahead of the write's end event that releases `capture.await`, so a
    // count read after the await includes every job of the runs.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def counts() =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, jobs.get)
    def num(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    defs.foreach { d =>
      capture.arm(1)
      val c0 = counts()
      val cold = Bench.time(spark, d, sfDir, reps = 1)
      // the cold write's event must land before the timed ones are counted
      capture.await(cold.error.isDefined)
      val c1 = counts()
      capture.arm(Bench.REPS)
      val t = Bench.time(spark, d, sfDir)
      val error = cold.error.orElse(t.error)
      val seen = capture.await(t.error.isDefined) && error.isEmpty
      val c2 = counts()
      def perRun(a: Long, b: Long) = num((b - a).toDouble / Bench.REPS)
      val metrics = (if (seen) capture.metrics else Map.empty[String, Row])
        .toSeq.sortBy(_._1).flatMap { case (name, row) =>
          row.schema.fieldNames.map { f =>
            val v = row.getAs[Any](f) match {
              case n @ (_: Long | _: Int | _: Short | _: Byte | _: Double |
                        _: Float) => n.toString
              case other => Verify.jsonString(String.valueOf(other))
            }
            Verify.jsonString(s"$name.$f") + ":" + v
          }
        }
      println(Seq(
        "\"query\":" + Verify.jsonString(d.name),
        "\"status\":" + Verify.jsonString(t.copy(error = error).status),
        "\"cold_sec\":" + num(cold.median),
        "\"median_sec\":" + num(t.median),
        "\"runs\":" + t.runs.map(num).mkString("[", ",", "]"),
        "\"cpu_sec\":" + num(t.cpuSec),
        "\"cold_compiles\":" + (c1._1 - c0._1),
        "\"cold_jobs\":" + (c1._2 - c0._2),
        "\"compiles\":" + perRun(c1._1, c2._1),
        "\"jobs\":" + perRun(c1._2, c2._2),
        "\"skew\":" + (seen && capture.skew),
        "\"metrics\":" + metrics.mkString("{", ",", "}")).mkString("{", ",", "}"))
    }
  }

  private def plan(spark: SparkSession, sfDir: String, defs: Seq[QueryDef],
                   out: Option[(String, String)]): Unit =
    defs.foreach { d =>
      val txt = d.fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      out match {
        case Some((dir, suffix)) =>
          val f = Paths.get(dir, s"${d.name}_$suffix.txt")
          Files.createDirectories(f.getParent)
          Files.writeString(f, txt)
          println(s"[dev] wrote $f")
        case None =>
          println(s"===== ${d.name} =====")
          println(txt)
      }
      // planning a query may persist internal stage tables
      spark.catalog.clearCache()
    }
}
