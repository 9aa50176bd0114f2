package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Constrained-memory mode (spill-safety evidence): set
  * `SPARK_GRAFT_EXTRA_CONF="spark.memory.fraction=0.1;..."` and launch
  * with a small `-Xmx` (see `scripts/verify_constrained.sh`). The run
  * prints per-query and total spill counters to stderr — a run that
  * completes with nonzero spill and hash-identical output is the proof
  * that every sort/aggregate/shuffle in the suite degrades to external
  * (spilled) execution instead of OOMing when the data outgrows memory,
  * which is the contract a 100 TB cluster run depends on. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER overrides the in-process master — the
    // local-cluster evidence run (scripts/verify_local_cluster.sh) uses
    // `local-cluster[2,4,N]` to put PROCESS-SEPARATED executors under
    // the whole surface: serialized custom expressions, cross-executor
    // StageLevels capacity probes, BandJoin stage tables, checkpoints.
    val spark = HarnessSession.build()
    // Spill accounting across the whole run (listener events are async;
    // totals are read after stop(), when the listener bus has drained).
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            memSpilled.addAndGet(m.memoryBytesSpilled)
            diskSpilled.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    new java.io.File(outDir).mkdirs()
    // Dev filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those queries (and
    // their oracles) — a one-query selfcheck without the full sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      // start marker BEFORE the query runs: a crash (OOM, kill) names its
      // in-flight query instead of leaving a silent gap in the output dir
      System.err.println(s"[verify] running $name")
      val m0 = memSpilled.get(); val d0 = diskSpilled.get()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may persist() internal stage tables; drop them so caches
      // never accumulate (or leak between queries)
      finally {
        spark.catalog.clearCache()
        val dm = memSpilled.get() - m0; val dd = diskSpilled.get() - d0
        if (dm > 0 || dd > 0) System.err.println(
          s"[verify] spill $name mem=${dm} disk=${dd}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(s"[verify] spill TOTAL mem=${memSpilled.get()} " +
      s"disk=${diskSpilled.get()} maxHeapMB=${
        Runtime.getRuntime.maxMemory() / (1024 * 1024)}")
  }
}
