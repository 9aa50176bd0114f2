package graft

import graft.ops.{Components, LoopState}

/** Executor-loss fault injection for the iterative loops — the measured
  * form of [[LoopState]]'s resilience contract. Runs
  * [[Components.connectedComponents]] on a long-chain graph under
  * `local-cluster[2,2,1024]` (two REAL executor JVMs) and `kill -9`s
  * one executor mid-loop:
  *
  *   - `local` mode (default pins): the dead executor takes its
  *     `localCheckpoint` blocks with it; lineage is truncated, so Spark
  *     CANNOT recompute them — the loop must fail (the demo prints
  *     `FAILED (expected)` with the exception class).
  *   - `reliable` mode (`spark.graft.checkpointDir` set): round state
  *     lives in checkpoint FILES; the standalone worker relaunches the
  *     executor, lost tasks re-read the files, and the loop completes
  *     with the correct labels (verified against the known chain
  *     answer).
  *
  * Run via `scripts/fault_demo.sh` (needs SPARK_SCALA_VERSION for the
  * executor launcher and `SPARK_GRAFT_EXTRA_CONF="spark.jars=<jar>"` to
  * ship the graft classes, same as verify_local_cluster.sh). Prints one
  * JSON line per mode. */
object FaultDemo {

  private def executorPids(appId: String): Seq[Int] = {
    import scala.sys.process._
    // executor JVMs are CoarseGrainedExecutorBackend children; the
    // driver/worker JVM is not. Filter by THIS app's id (present as
    // --app-id in the executor command line) so a concurrent Spark
    // application on the same host (e.g. a verify run) is never hit.
    "jps -m".!!.linesIterator
      .filter(_.contains("CoarseGrainedExecutorBackend"))
      .filter(_.contains(appId))
      .map(_.split("\\s+")(0).toInt).toSeq
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("local")
    require(mode == "local" || mode == "reliable", s"bad mode: $mode")
    val killAfterMs = args.lift(1).map(_.toLong).getOrElse(6000L)
    val n = args.lift(2).map(_.toLong).getOrElse(400000L)
    val spark = HarnessSession.build(cpus = "8",
      master = Some("local-cluster[2,2,1024]"), logLevel = "ERROR")
    // LoopState reads the checkpoint dir from the session conf per loop
    if (mode == "reliable") spark.conf.set(LoopState.CheckpointDirConf,
      java.nio.file.Files.createTempDirectory("graft-fault-ckpt").toString)
    import spark.implicits._

    // a single n-vertex chain: the worst diameter shape (forces the full
    // O(log n) pointer-jump round count, keeping the loop busy long
    // enough for the kill to land mid-iteration); expected answer is
    // every vertex labeled 0
    val edges = spark.range(n - 1).select($"id".as("src"), ($"id" + 1).as("dst"))

    val appId = spark.sparkContext.applicationId
    val killer = new Thread(() => {
      Thread.sleep(killAfterMs)
      val pids = executorPids(appId)
      pids.headOption.foreach { pid =>
        System.err.println(s"[fault] kill -9 executor pid $pid (of ${pids.size})")
        Runtime.getRuntime.exec(Array("kill", "-9", pid.toString)).waitFor()
        ()
      }
    })
    killer.setDaemon(true)

    val t0 = System.nanoTime()
    val outcome =
      try {
        killer.start()
        val cc = Components.connectedComponents(edges, maxIters = 60)
        val bad = cc.where($"cluster_id" =!= 0L).count()
        val total = cc.count()
        if (total == n && bad == 0) s""""ok", "labels": $total"""
        else s""""wrong-answer", "labels": $total, "mislabeled": $bad"""
      } catch {
        case e: Throwable =>
          s""""failed", "exception": "${e.getClass.getSimpleName}""""
      }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric": "fault_demo", "mode": "$mode", "n": $n, """ +
      f""""kill_after_ms": $killAfterMs, "outcome": $outcome, "sec": $sec%.1f}""")
    spark.stop()
  }
}
