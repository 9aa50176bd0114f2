package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The scan-bytes parallelism floor, including the round-8 §11 finding:
  * a single-file single-row-group parquet "has" N byte-range splits but
  * every row lives in the one split containing the row group's start —
  * the floor must count row groups, not splits, before trusting the
  * split count. */
class ParallelismFloorSpec extends SparkTestBase {

  private def writeOneFile(rows: Int): String = {
    import spark.implicits._
    val dir = tmpDir("floor-onefile")
    // coalesce(1) → ONE file, ONE row group (rows ≪ parquet block size)
    (0 until rows).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  test("single-file corpus is spread even when split count looks sufficient") {
    val dir = writeOneFile(50000)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    // force MANY byte-range splits of the one file, so the split count
    // alone looks ≥ the floor — the 500× pathology in miniature
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16L << 10).toString)
    try {
      val df = spark.read.parquet(s"$dir/t.parquet")
      val floor = 4 // = local[4] defaultParallelism cap
      assert(df.rdd.getNumPartitions >= floor,
        "precondition: split count must look sufficient")
      assert(ParallelismFloor.rowGroups(spark, s"$dir/t.parquet") === 1L)
      val floored = ParallelismFloor(df, s"$dir/t.parquet",
        bytesPerTask = 1L << 10)
      val sizes = floored.rdd
        .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
        .collect().map(_._2).filter(_ > 0)
      // without the row-group check every row sits in the ONE split
      // containing the row group's start; floored, rows spread wide
      assert(sizes.length > 1, s"rows still concentrated: ${sizes.toSeq}")
      assert(sizes.max < 50000)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("many-files corpus at or above the floor is left untouched") {
    import spark.implicits._
    val dir = tmpDir("floor-manyfiles")
    (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
    // bytesPerTask tuned so floor ≤ file count → trust splits, no shuffle
    val floored = ParallelismFloor(df, s"$dir/t.parquet",
      bytesPerTask = ParallelismFloor.scanStats(spark, s"$dir/t.parquet")._1 / 4)
    assert(floored.queryExecution.analyzed === df.queryExecution.analyzed)
  }

  test("small fixture below the floor still repartitions (original rule)") {
    val dir = writeOneFile(2000)
    val df = spark.read.parquet(s"$dir/t.parquet")
    val floored = ParallelismFloor(df, s"$dir/t.parquet", bytesPerTask = 4L << 10)
    assert(floored.rdd.getNumPartitions > df.rdd.getNumPartitions)
  }

  test("a floor of 1 returns the same frame without physical planning") {
    val dir = writeOneFile(2000)
    val df = spark.read.parquet(s"$dir/t.parquet")
    // every physical planning pass consults the extra strategies
    val planned = new java.util.concurrent.atomic.AtomicInteger
    val probe = new org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
        planned.incrementAndGet(); Nil
      }
    }
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = prev :+ probe
    try {
      // bytesPerTask past the file's size: floor = max(1, bytes / bpt) = 1
      val floored = ParallelismFloor(df, s"$dir/t.parquet",
        bytesPerTask = 1L << 30)
      assert(floored eq df)
      assert(planned.get == 0, "the floor planned the frame")
      floored.collect()
      assert(planned.get > 0, "precondition: the probe sees planning")
    } finally spark.experimental.extraStrategies = prev
  }

  test("an empty corpus gives the same (no) rows whatever the floor") {
    val dir = tmpDir("floor-empty")
    spark.range(0).selectExpr("id", "cast(id as string) as v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = spark.read.parquet(s"$dir/t.parquet")
    for (bpt <- Seq(1L << 30, 1L)) { // floor 1, then the full-width cap
      val floored = ParallelismFloor(df, s"$dir/t.parquet", bytesPerTask = bpt)
      assert(floored.schema == df.schema)
      assert(floored.collect().isEmpty, s"bytesPerTask = $bpt")
    }
  }
}
