package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the mains (Bench, Verify, Dev, Plans,
  * FaultDemo, StreamFaultDemo) — one place for the repo's measurement
  * protocol (`local[cpus]`, cpus shuffle partitions, the
  * ObjectHashAggregate fallback threshold, UTC, nanos-as-long) plus the
  * two env dials the evidence runs need:
  *
  *   - `SPARK_GRAFT_MASTER` — e.g. `local-cluster[2,4,2048]` for the
  *     process-separated executor sweeps (round-8 discipline: custom
  *     expressions, stage tables, and gate state must cross a real JVM
  *     boundary at least once per round);
  *   - `SPARK_GRAFT_EXTRA_CONF` — `k=v;k=v`, used by the local-cluster
  *     runs to ship the packaged jar (`spark.jars=…`) to executors and by
  *     the constrained-memory runs to squeeze the memory pool.
  *
  * Bench and Verify both call [[build]] with the same arguments, so with
  * the dials unset their confs are identical by construction
  * (HarnessSessionSpec pins the pairs).
  */
object HarnessSession {

  /** `SPARK_GRAFT_CPUS` (default 4): the task slots of `local[cpus]` and
    * the shuffle partition count. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session conf as ordered (key, value) pairs — later pairs win.
    * `master` replaces the default `local[cpus]` (FaultDemo's
    * local-cluster); `SPARK_GRAFT_MASTER` in `env` replaces both. */
  def conf(cpus: String, env: Map[String, String],
           master: Option[String] = None): Seq[(String, String)] =
    Seq(
      "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER",
        master.getOrElse(s"local[$cpus]")),
      "spark.sql.shuffle.partitions" -> cpus,
      // CosTopK-family aggregations hold 10^3-10^5 groups per task; the
      // 128-row default falls back to sort-based aggregation (and its
      // spill cascade) on every such query - see CosTopK scaladoc
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries TIMESTAMP(NANOS); set once at session build
      // (the ONLY place — Tables.load deliberately performs no session-conf
      // mutation, which would race under concurrent planners).
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++
      extraConf(env.get("SPARK_GRAFT_EXTRA_CONF"))

  /** Parses `SPARK_GRAFT_EXTRA_CONF`: `;`-separated `key=value` entries,
    * trimmed, empty entries skipped; the value keeps any further `=`. */
  def extraConf(spec: Option[String]): Seq[(String, String)] =
    spec.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(
          s"SPARK_GRAFT_EXTRA_CONF entry is not key=value: '$kv'")
      }
    }

  /** The session, with the log level lowered BEFORE the context starts:
    * `sparkContext.setLogLevel` after `getOrCreate()` let ~40 start-up
    * INFO lines through ahead of every main's output, and the
    * `spark.log.level` conf still lets the first three through. */
  def build(cpus: String = envCpus, master: Option[String] = None,
            logLevel: String = "WARN"): SparkSession = {
    StartupLog.lower(logLevel)
    conf(cpus, sys.env, master)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  private object StartupLog extends org.apache.spark.internal.Logging {
    /** Sets up Spark's logging as the first SparkContext would (its
      * default log4j2 profile when none is configured), then lowers the
      * root level, which the context's start-up leaves alone. */
    def lower(level: String): Unit = {
      initializeLogIfNecessary(false)
      org.apache.logging.log4j.core.config.Configurator.setRootLevel(
        org.apache.logging.log4j.Level.toLevel(level))
    }
  }
}
