package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[LoopState.pin]]'s two modes must be RESULT-IDENTICAL: the default
  * localCheckpoint pin and the `spark.graft.checkpointDir`-gated
  * reliable checkpoint differ only in where round state survives
  * (executor memory vs fault-tolerant storage), never in what the loop
  * computes. Both iterative operators are exercised end-to-end in both
  * modes on the same inputs. */
class CheckpointModeSpec extends SparkTestBase {
  import spark.implicits._

  private def withReliable[A](f: String => A): A = {
    val dir = tmpDir("graft-ckpt")
    spark.conf.set(LoopState.CheckpointDirConf, dir)
    try f(dir)
    finally spark.conf.unset(LoopState.CheckpointDirConf)
  }

  private def ccResult(): Set[(Long, Long)] = {
    // two chains, a clique, and a singleton-free isolate pair
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain -> cluster 1
      (10L, 11L), (11L, 12L),                // chain -> cluster 10
      (20L, 21L), (21L, 22L), (20L, 22L),    // triangle -> cluster 20
      (30L, 31L))                            // pair -> cluster 30
    // the distributed loop directly: the public entry point resolves a
    // 9-edge graph on the driver (DriverLocal.EdgeGate) and would never pin
    Components.ccDistributed(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def prResult(): Seq[(Long, Long)] = {
    val edges = Seq(
      (1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 1L), (4L, 1L, 5L))
    PageRank.pageRank(edges.toDF("src", "dst", "w"), rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  test("connected components: reliable checkpoint mode matches local mode") {
    val local = ccResult()
    val reliable = withReliable { dir =>
      val got = ccResult()
      // the reliable pin must actually have written round state there
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no checkpoint files written in reliable mode")
      got
    }
    assert(reliable == local)
    assert(local.nonEmpty)
  }

  test("pagerank: reliable checkpoint mode is bit-identical to local mode") {
    val local = prResult()
    val reliable = withReliable(_ => prResult())
    assert(reliable == local)
  }

  test("changing the checkpoint dir re-points the live context (no JVM-cached dir)") {
    import org.apache.spark.storage.StorageLevel
    def filesUnder(d: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
    val dirA = tmpDir("graft-ckpt-a")
    val dirB = tmpDir("graft-ckpt-b")
    try {
      spark.conf.set(LoopState.CheckpointDirConf, dirA)
      LoopState.pin(spark.range(10).toDF(), StorageLevel.MEMORY_ONLY).count()
      assert(filesUnder(dirA) > 0, "first pin wrote nothing under dir A")
      // a later session (or a restarted context) pins with a DIFFERENT
      // dir: the pin must check the LIVE context, not a cached var, and
      // re-point — files land under B
      spark.conf.set(LoopState.CheckpointDirConf, dirB)
      LoopState.pin(spark.range(10).toDF(), StorageLevel.MEMORY_ONLY).count()
      assert(filesUnder(dirB) > 0, "second pin did not re-point to dir B")
    } finally spark.conf.unset(LoopState.CheckpointDirConf)
  }

  test("reliable mode leaves no stray cache entries behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    withReliable(_ => ccResult())
    // LoopState.pin persists each round only for the checkpoint write
    // and unpersists immediately; the loop's own stage caches are
    // released by the operators themselves
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
