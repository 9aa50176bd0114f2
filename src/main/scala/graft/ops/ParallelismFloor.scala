package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scan-bytes parallelism floor for compute-bound passes over a cached
  * corpus (round-8 pattern, first applied to `similarity_topk_bigq`,
  * STRESS_r08.md §2.1): a small or single-file corpus arrives as 1–2
  * splits, and any operator whose cost is dominated by per-row COMPUTE
  * over that corpus (block-product dot products, k-means' k-distance
  * assignment pass) then runs on 1–2 cores while the rest of the
  * executor idles — measured 12-of-13 task threads parked on the 100×
  * k-means run, and P=2 → P=32 took the ShuffleProbe heap form from
  * 95.8 s to 6.6 s.
  *
  * The floor is sized from the SCAN BYTES (`bytesPerTask` of corpus per
  * task) rather than jumping straight to `defaultParallelism`: a
  * full-width floor costs more in task scheduling than it buys back at
  * sf0.1, while the bytes rule reproduces the natural plan there and
  * still opens big fixtures to full width. A real 100 TB corpus is
  * already thousands of splits ≥ the floor — the repartition is a no-op
  * branch, never an extra shuffle.
  *
  * NOT `df.inputFiles`: persist() rewrites the plan leaf to an
  * InMemoryRelation where inputFiles is empty — stat the fixture path
  * itself (works for a file or a directory). */
object ParallelismFloor {

  /** Bytes and file count of the PARQUET DATA FILES under `path`
    * ((0, 0) when absent). Only `*.parquet` files count (round-8
    * ADVICE): a content-summary file count also sees `_SUCCESS` markers
    * and checksum siblings, so `files >= floor` could be satisfied by
    * zero-byte markers and skip the row-group check exactly when it
    * matters — a directory of one data file plus 31 markers is still a
    * one-task scan. */
  def scanStats(s: SparkSession, path: String): (Long, Long) = {
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p0)) (0L, 0L)
    else {
      val it = fs.listFiles(p0, true)
      var bytes = 0L
      var files = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          bytes += f.getLen
          files += 1
        }
      }
      (bytes, files)
    }
  }

  /** Total parquet ROW GROUPS under `path` — the true splittable unit of a
    * parquet scan. Spark will happily cut a single-row-group file into N
    * byte-range splits, but every row lands in the ONE split containing
    * the row group's start offset and the other N−1 read nothing — so a
    * "32-partition" scan of such a file is 1-task-wide in rows, and any
    * split-count check reports parallelism that does not exist
    * (measured: the 500× fixture is one file / one row group; the
    * assignment pass ran 32 tasks with 1,000,000 rows in task 15 and 0
    * in the rest, 300 s on one core — STRESS_r08.md §11). */
  def rowGroups(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(conf)
    if (!fs.exists(p0)) return 0L
    val it = fs.listFiles(p0, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(f.getPath, conf))
        try total += rd.getRowGroups.size.toLong finally rd.close()
      }
    }
    total
  }

  /** `df` repartitioned up to `ceil(bytes / bytesPerTask)` partitions
    * (capped at defaultParallelism) when its EFFECTIVE parallelism is
    * lower; unchanged otherwise. Apply BEFORE persist() so the cache
    * itself is laid out at the floored width and every downstream pass
    * inherits it without re-shuffling.
    *
    * Effective parallelism is the split count, EXCEPT when the path
    * has fewer FILES than the floor — then parquet row groups bound how
    * many of those splits can carry rows (see [[rowGroups]]), and the
    * row-group count decides. The footer reads only happen on that
    * few-files branch, so a real corpus of thousands of files (file
    * count ≥ floor → every file seeds ≥ 1 task) never pays them.
    *
    * The floor is decided from the file bytes FIRST: a floor of 1 (any
    * corpus under 2 × `bytesPerTask`, e.g. the sf0.01 embeddings) cannot
    * fire on a non-empty input, so `df` comes back as is — without
    * `df.rdd`, which would build the physical plan and compile its
    * stage, and without footer reads. An empty input (0 splits) is the
    * one case this skips a repartition for, and it has no rows to
    * spread. */
  def apply(df: DataFrame, path: String,
            bytesPerTask: Long = 256L << 10): DataFrame = {
    val s = df.sparkSession
    val (bytes, files) = scanStats(s, path)
    val floor = math.min(s.sparkContext.defaultParallelism.toLong,
      math.max(1L, bytes / bytesPerTask)).toInt
    if (floor <= 1) return df
    val splits = df.rdd.getNumPartitions
    val effective =
      if (splits < floor || files >= floor) splits.toLong
      else math.min(splits.toLong, rowGroups(s, path))
    if (effective < floor) df.repartition(floor) else df
  }
}
