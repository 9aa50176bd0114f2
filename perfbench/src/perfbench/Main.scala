package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op of a pass: `body` throws when the op fails or its result is
  * wrong. */
final case class Op(name: String, body: () => Unit)

/** A closed-loop, single-client workload. Every pass replays the same
  * seeded inputs onto fresh state, op after op. */
trait Workload {
  /** Fresh warehouse root for pass `p`; untimed. */
  def beginPass(p: Int): Unit = ()
  def ops(p: Int): Seq[Op]
  /** Correctness of the state a pass left behind; untimed. A non-empty
    * result marks every op of the pass failed. */
  def endPass(p: Int): Option[String] = None
  /** Untimed correctness work before warm-up: query_mix writes each
    * query's result here for the DuckDB oracle. */
  def checkPass(): Unit = ()
  /** Traced runs only, once after the timed passes: per-layer probes
    * that are not part of any op. */
  def traceExtras(): Unit = ()
  /** Per-pass counters the workload measures itself (traced runs). */
  def passCounters(p: Int): Map[String, Double] = Map.empty
}

/** Benchmark JVM: set up, check, warm up, then run whole timed passes
  * (at least `--timed-passes`) until `--seconds` have elapsed, and write
  * every op, pass, span and counter to `--out` as JSON. `run.py` turns
  * that into the metrics. */
object Main {

  final case class OpRec(pass: Int, phase: String, name: String,
                         wallS: Double, error: String)

  /** The session conf of `graft.Bench`, verbatim, at `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val spark = session(opt("cpus").toInt)
    val probe = new Probe(spark)
    val inputs = opt("inputs")
    val work = opt("work")
    val wl: Workload = opt("workload") match {
      case "query_mix" => new QueryMix(spark, inputs, work, trace, opt("selftest") == "1")
      case "elt_day"   => new EltDay(spark, inputs, work, trace)
      case w           => sys.error(s"unknown workload $w")
    }
    val readyMs = System.currentTimeMillis()

    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[Map[String, Any]]

    def runPass(p: Int, phase: String): Unit = {
      wl.beginPass(p)
      trace.pass = p
      val before = probe.snapshot()
      val recs = wl.ops(p).map { op =>
        trace.op += 1
        val t0 = System.nanoTime()
        val err =
          try { trace.span("op")(op.body()); null }
          catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        OpRec(p, phase, op.name, (System.nanoTime() - t0) / 1e9, err)
      }
      val d = Probe.delta(before, probe.snapshot())
      val wrong = wl.endPass(p)
      ops ++= recs.map(r =>
        if (r.error == null && wrong.isDefined) r.copy(error = wrong.get) else r)
      val own =
        if (!trace.enabled) Map.empty
        else try wl.passCounters(p) catch { case NonFatal(_) => Map.empty }
      passes += Map("pass" -> p, "phase" -> phase,
        "wall_s" -> recs.map(_.wallS).sum) ++ d ++ own
    }

    // The untimed check pass is also the first, cold warm-up pass; then a
    // fixed number of warm-up passes of the workload itself (README.md
    // records the JIT decay per pass that sets it).
    var p = 0
    val checkT0 = System.nanoTime()
    val c0 = probe.snapshot()
    wl.checkPass()
    passes += Map("pass" -> p, "phase" -> "check",
      "wall_s" -> (System.nanoTime() - checkT0) / 1e9) ++
      Probe.delta(c0, probe.snapshot())
    val warmup = opt("warmup-passes").toInt
    for (_ <- 1 to warmup) { p += 1; runPass(p, "warmup") }

    val (st0, tot0) = Probe.stealJiffies()
    val load0 = Probe.loadavg1()
    val timedT0 = System.nanoTime()
    val minTimed = opt("timed-passes").toInt
    while (p < warmup + minTimed || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      p += 1
      runPass(p, "timed")
    }
    val timedS = (System.nanoTime() - timedT0) / 1e9
    val (st1, tot1) = Probe.stealJiffies()
    val load1 = Probe.loadavg1()
    // twice: the second run is the one reported, past its own JIT warm-up
    if (trace.enabled) { trace.pass = -1; wl.traceExtras(); wl.traceExtras() }

    val spans = trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "pass" -> s.pass, "name" -> s.name,
      "t0" -> s.t0 / 1e9, "t1" -> s.t1 / 1e9))
    val result = Map(
      "ready_epoch_ms" -> readyMs,
      "timed_s" -> timedS,
      "steal_share" -> (if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0),
      "loadavg_1m" -> Seq(load0, load1),
      "peak_rss_mb" -> Probe.peakRssMb(),
      "passes" -> passes.toSeq,
      "ops" -> ops.toSeq.map(r => Map("pass" -> r.pass, "phase" -> r.phase,
        "name" -> r.name, "wall_s" -> r.wallS,
        "error" -> r.error)),
      "spans" -> spans.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      Json(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}
