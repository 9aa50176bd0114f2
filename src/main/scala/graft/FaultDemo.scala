package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

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
  *     `"outcome": "failed"` with the exception class).
  *   - `reliable` mode (`spark.graft.checkpointDir` set): round state
  *     lives in checkpoint FILES; the standalone worker relaunches the
  *     executor, lost tasks re-read the files, and the loop completes
  *     with the correct labels (verified against the known chain
  *     answer).
  *
  * The kill is tied to the loop's progress, not to a clock: it fires
  * once the loop's first [[LoopState.pin]] has returned, so the pinned
  * round state provably exists when the executor dies and every later
  * round reads it. In local mode that state is the pinned RDD's blocks,
  * and the kill hits an executor that stored one (seen through
  * `onBlockUpdated`); in reliable mode it is the checkpoint files.
  *
  * Run via `scripts/fault_demo.sh` (needs SPARK_SCALA_VERSION for the
  * executor launcher and `SPARK_GRAFT_EXTRA_CONF="spark.jars=<jar>"` to
  * ship the graft classes, same as verify_local_cluster.sh), which
  * fails unless both outcomes above hold. Prints one JSON line per
  * mode. */
object FaultDemo {

  /** (executor id, pid) of this app's executor JVMs. */
  private def executorPids(appId: String): Seq[(String, Int)] = {
    import scala.sys.process._
    // executor JVMs are CoarseGrainedExecutorBackend children; the
    // driver/worker JVM is not. Filter by THIS app's id (present as
    // --app-id in the executor command line) so a concurrent Spark
    // application on the same host (e.g. a verify run) is never hit.
    "jps -m".!!.linesIterator
      .filter(_.contains("CoarseGrainedExecutorBackend"))
      .filter(_.contains(appId))
      .map { line =>
        val words = line.split("\\s+")
        (words(words.indexOf("--executor-id") + 1), words(0).toInt)
      }.toSeq
  }

  /** The executors that stored a block of each RDD. */
  private final class BlockHolders extends SparkListener {
    private val byRdd = new ConcurrentHashMap[Int, java.util.Set[String]]()

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, _) if e.blockUpdatedInfo.storageLevel.isValid =>
          byRdd.computeIfAbsent(rdd, _ => ConcurrentHashMap.newKeySet[String]())
            .add(e.blockUpdatedInfo.blockManagerId.executorId)
        case _ =>
      }

    def of(rdd: Int): Set[String] =
      Option(byRdd.get(rdd)).map(_.asScala.toSet).getOrElse(Set.empty)
  }

  /** Blocks until the loop's first pin has returned. A local pin leaves
    * a persisted RDD that reads as checkpointed once its materializing
    * job is done; the executors that report its blocks are returned. A reliable pin
    * leaves an `rdd-*` directory under the checkpoint dir, and a second
    * one appears only once the next pin starts writing, so the first
    * one's files are complete; no executor holds that state. */
  private def awaitFirstPin(spark: SparkSession, checkpointDir: Option[Path],
                            holders: BlockHolders): Set[String] = {
    def rddDirs(dir: Path): Int = scala.util.Using.resource(Files.walk(dir, 2))(
      _.iterator().asScala.count(_.getFileName.toString.startsWith("rdd-")))
    var pinned: Option[Set[String]] = None
    while (pinned.isEmpty) {
      pinned = checkpointDir match {
        case Some(dir) => if (rddDirs(dir) >= 2) Some(Set.empty) else None
        case None => spark.sparkContext.getPersistentRDDs.values
          .find(_.isCheckpointed).map(r => holders.of(r.id)).filter(_.nonEmpty)
      }
      Thread.sleep(20)
    }
    pinned.get
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("local")
    require(mode == "local" || mode == "reliable", s"bad mode: $mode")
    val n = args.lift(1).map(_.toLong).getOrElse(400000L)
    val spark = HarnessSession.build(cpus = "8",
      master = Some("local-cluster[2,2,1024]"), logLevel = "ERROR")
    // LoopState reads the checkpoint dir from the session conf per loop
    val checkpointDir = Option.when(mode == "reliable")(
      Files.createTempDirectory("graft-fault-ckpt"))
    checkpointDir.foreach(d =>
      spark.conf.set(LoopState.CheckpointDirConf, d.toString))
    import spark.implicits._

    // a single n-vertex chain: the worst diameter shape (forces the full
    // O(log n) pointer-jump round count, keeping the loop busy long
    // enough for the kill to land mid-iteration); expected answer is
    // every vertex labeled 0
    val edges = spark.range(n - 1).select($"id".as("src"), ($"id" + 1).as("dst"))

    val appId = spark.sparkContext.applicationId
    val holders = new BlockHolders
    spark.sparkContext.addSparkListener(holders)
    val t0 = System.nanoTime()
    @volatile var killedAt = -1.0
    val killer = new Thread(() => {
      val pinnedOn = awaitFirstPin(spark, checkpointDir, holders)
      val pids = executorPids(appId)
      // local mode: an executor that holds pinned blocks; reliable mode
      // keeps the pinned state in files, so any executor
      val target = pids.find(p => pinnedOn(p._1)).orElse(
        if (checkpointDir.isDefined) pids.headOption else None)
      target.foreach { case (id, pid) =>
        System.err.println(s"[fault] kill -9 executor $id, pid $pid (of " +
          s"${pids.size}; pinned blocks on ${pinnedOn.mkString(",")}) " +
          "after the first pin returned")
        Runtime.getRuntime.exec(Array("kill", "-9", pid.toString)).waitFor()
        killedAt = (System.nanoTime() - t0) / 1e9
      }
    })
    killer.setDaemon(true)

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
      f""""killed": ${killedAt >= 0}, "kill_at_s": $killedAt%.1f, """ +
      f""""outcome": $outcome, "sec": $sec%.1f}""")
    spark.stop()
  }
}
