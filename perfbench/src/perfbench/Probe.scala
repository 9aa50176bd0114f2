package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark registers itself: Spark task totals from a
  * `SparkListener`, planning time from a `QueryExecutionListener` (Spark's
  * own `QueryPlanningTracker` phases of every executed query), and JVM
  * CPU, JIT, GC and codegen totals from MXBeans and Spark's static
  * `CodegenMetrics`. `snapshot()` returns monotone totals; a pass's share
  * is the difference of two snapshots. */
final class Probe(spark: SparkSession) {
  private val c = Map(
    "spark.jobs" -> new AtomicLong, "spark.stages" -> new AtomicLong,
    "spark.tasks" -> new AtomicLong, "task_run_ms" -> new AtomicLong,
    "task_cpu_ns" -> new AtomicLong, "shuffle_write_b" -> new AtomicLong,
    "shuffle_read_b" -> new AtomicLong, "spill_b" -> new AtomicLong,
    "input_b" -> new AtomicLong, "input_rows" -> new AtomicLong)
  private val planMs = new DoubleAdder

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      c("spark.jobs").incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c("spark.stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("spark.tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c("task_run_ms").addAndGet(m.executorRunTime)
        c("task_cpu_ns").addAndGet(m.executorCpuTime)
        c("shuffle_write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("shuffle_read_b").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("spill_b").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c("input_b").addAndGet(m.inputMetrics.bytesRead)
        c("input_rows").addAndGet(m.inputMetrics.recordsRead)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planMs.add(qe.tracker.phases.iterator
        .collect { case (p, s) if p != "analysis" => s.durationMs.toDouble }
        .sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Process CPU, JIT and GC seconds and codegen compiles: read
    * synchronously, cheap enough for every op boundary. */
  def jvm(): Map[String, Double] = Map(
    "cpu_s" -> os.getProcessCpuTime / 1e9,
    "jit_s" -> jit.getTotalCompilationTime / 1e3,
    "gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** Every counter; drains the listener bus first so task and planning
    * totals include all work finished so far. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    jvm() ++ c.map { case (k, v) => k -> v.get.toDouble } +
      ("plan_s" -> planMs.sum / 1e3)
  }
}

object Probe {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    catch { case _: java.io.IOException => "" }

  /** (steal, total) jiffies of all CPUs from `/proc/stat`. */
  def stealJiffies(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      case None => (0L, 0L)
    }

  def loadavg1(): Double =
    read("/proc/loadavg").trim.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Peak resident set (`VmHWM`) of this process, MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
