package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Storage level chooser for PINNED state — persisted stage tables and
  * `localCheckpoint`ed loop state (Components, PageRank, the MinHash
  * stage tables).
  *
  * The tension, measured across rounds 5–6 (BENCH_NOTES.md, PLANS.md
  * memory addendum): cached blocks live in the unified pool's PROTECTED
  * storage region (`spark.memory.storageFraction`, default 0.5), which
  * execution cannot evict — under a squeezed pool (36 MB in the
  * constrained evidence run) pinned state starves hash aggregates below
  * their first page and the job dies with UNABLE_TO_ACQUIRE_MEMORY.
  * Round 6 first pinned everything DISK_ONLY, which fixed the squeezed
  * run but cost 2–3× on the hot path at sf0.1 (minhash 1.3 → 4 s,
  * neardup_clusters 3.3 → 9 s — every stage-table consumer paying disk
  * IO the pool could trivially have held).
  *
  * So the operators ask the only question that matters — CAN the pool
  * hold pinned state without squeezing execution? — at plan time, from
  * the block managers' reported storage capacity (public
  * `getExecutorMemoryStatus`; local mode reports the one executor).
  * Ample pool (≥ [[MinResidentPool]] on every executor) → MEMORY_AND_DISK
  * (fast path, evictable to disk under storage pressure); squeezed pool
  * → DISK_ONLY (loop state is O(rows) read once per round — local-disk
  * reads are ample, and the protected region stays empty for the hash
  * aggregates). The decision lives in the OPERATOR, not in deployment
  * config: the same binary passes the squeezed evidence run at the
  * default storageFraction and keeps the in-memory hot path everywhere
  * else. */
object StageLevels {

  /** Pool floor below which pinned state yields memory to execution:
    * the constrained evidence run reports ~36 MB, any production
    * executor reports GBs; 256 MB cleanly separates the regimes while
    * leaving headroom for the suite's largest stage tables at test
    * scale. */
  val MinResidentPool: Long = 256L * 1024 * 1024

  /** Storage level for pinned loop state / stage tables in `s`'s
    * cluster. Overridable for evidence runs via
    * `spark.graft.pinnedLevel` = `memory_and_disk` | `disk_only`. */
  def pinned(s: SparkSession): StorageLevel = choose(s)(BigInt(0))

  /** The one level decision: the `spark.graft.pinnedLevel` override if
    * set, else MEMORY_AND_DISK exactly when every executor's pool is at
    * least [[MinResidentPool]] and the `projected` in-memory bytes fit
    * half the pools' sum. `projected` is by-name: an override or a
    * squeezed pool decides without planning the frame it sizes. */
  private def choose(s: SparkSession)(projected: => BigInt): StorageLevel =
    s.conf.get("spark.graft.pinnedLevel", "") match {
      case "memory_and_disk" => StorageLevel.MEMORY_AND_DISK
      case "disk_only"       => StorageLevel.DISK_ONLY
      case _ =>
        val caps = s.sparkContext.getExecutorMemoryStatus.values.map(_._1)
        if (caps.nonEmpty && caps.min >= MinResidentPool &&
            projected <= BigInt(caps.sum) / 2)
          StorageLevel.MEMORY_AND_DISK
        else StorageLevel.DISK_ONLY
    }

  /** Projected in-memory footprint multiplier for the text stage tables
    * (deserialized shingle-set / signature rows vs their source parquet
    * bytes): measured ~5× on the stress corpora; 6 adds margin. */
  val TextStageExpansion: Long = 6L

  /** Cache-batch companion to the DISK_ONLY choice, round-10 find at the
    * FIFTH stress decade (10M docs): `persist(DISK_ONLY)` still builds
    * SQL-columnar batches IN HEAP before streaming them to disk, and
    * each task's `ColumnBuilder` grows by buffer DOUBLING — at
    * local[32] on the default 8 GiB heap, 32 concurrent 10,000-row
    * array-column builders OOM'd (`java.lang.OutOfMemoryError` in
    * `ColumnBuilder.ensureFreeSpace`) where the 5M-doc decade survived.
    * In the disk regime cache-build throughput is already I/O-bound, so
    * smaller batches cost ~nothing and bound the per-task spike at
    * cores × 2 × batchBytes regardless of row width. Lowers only the
    * DEFAULT (10,000); an explicit user/session setting is respected.
    * A cluster-shape note: the spike is per-task — 4–8 tasks per
    * executor JVM never hit this; wide single-JVM local modes do. */
  def tuneCacheBatchFor(s: SparkSession, lvl: StorageLevel): Unit =
    if (lvl == StorageLevel.DISK_ONLY &&
        s.conf.get("spark.sql.inMemoryColumnarStorage.batchSize",
          "10000") == "10000") {
      s.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
      ()
    }

  /** [[pinnedFor]] sized from the plan's LEAF relations instead of the
    * frame's own projected stats. A column-pruned text frame — e.g. the
    * `(doc_id, text)` batches the gates receive by contract — estimates
    * its string columns at the fixed default width (~20 B), so a 5 GB
    * corpus projects as ~140 MB and [[pinnedFor]] keeps the memory
    * level: the r8 §13 starvation, reproduced by the round-12 1000×
    * TextGate drain (UNABLE_TO_ACQUIRE_MEMORY in the seed landing).
    * Leaf stats carry the real source bytes: a raw scan reports file
    * size (a corpus-sized landing flips to DISK_ONLY), and an
    * already-persisted arrival batch's InMemoryRelation leaf reports
    * its true materialized bytes (routine batches keep the fast
    * memory path). Upper-bound by construction — filters/projections
    * between leaf and frame are ignored, which only ever flips toward
    * the safe disk regime. */
  def pinnedForSource(df: org.apache.spark.sql.DataFrame,
                      expansion: Long = TextStageExpansion): StorageLevel =
    choose(df.sparkSession)(df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum * expansion)

  /** As [[pinned]], additionally sized against the SOURCE of the stage
    * tables: an ample pool is still squeezed when the pinned state
    * itself scales with the corpus. [[pinned]]'s fixed floor was
    * calibrated for loop STATE (O(nodes) labels — corpus-size-
    * independent); stage TABLES are O(corpus), and at the 1000× corpus
    * (5M docs, 755 MB parquet → ~4 GB of deserialized shingle sets)
    * MEMORY_AND_DISK starved the signature aggregation to
    * AGGREGATE_OUT_OF_MEMORY on an 8 GiB pool while DISK_ONLY completed
    * at full width (STRESS_r08.md §13). Catalyst's sizeInBytes for a
    * file-backed plan is the actual scan bytes; an unknown-size plan
    * reports defaultSizeInBytes (huge) → conservatively DISK_ONLY. */
  def pinnedFor(df: org.apache.spark.sql.DataFrame,
                expansion: Long = TextStageExpansion): StorageLevel =
    choose(df.sparkSession)(
      df.queryExecution.optimizedPlan.stats.sizeInBytes * expansion)
}
