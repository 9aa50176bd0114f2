package graft.pipeline

import java.nio.file.Paths

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase

/** The driver branches of the pipeline's bookkeeping — `upsert`'s key
  * census, file probe and survivors' filter, and `Expectations.check`'s
  * counters — decide exactly what the distributed plans decide, on each
  * side of the row gate, for the values where Spark's grouping equality
  * differs from `==`: null keys, −0.0 against 0.0 and NaN. The gate is a
  * parameter of the bodies (`upsertAt`, `checkAt`); gate 0 sends every
  * non-empty batch down the distributed plan, the reference here. */
class DriverBookkeepingSpec extends SparkTestBase {
  import spark.implicits._

  private val gate = 6L
  private val nan = Double.NaN

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Runs one upsert with the driver gate `g` and the same upsert down
    * the distributed plan on a byte-identical copy of the warehouse, and
    * asserts they agree: landed table, `LoadResult`, rewritten files, or
    * the same refusal. */
  private def upsertParity(what: String, setup: Warehouse => Unit,
                           batch: DataFrame, keys: Seq[String], g: Long,
                           maxRewriteFiles: Int = Warehouse.DefaultMaxRewriteFiles): Unit = {
    val a = Warehouse(spark, tmpDir("bk-local"))
    setup(a)
    val b = Warehouse(spark, tmpDir("bk-dist"))
    org.apache.commons.io.FileUtils.copyDirectory(
      Paths.get(a.root).toFile, Paths.get(b.root).toFile)
    val before = a.currentFiles("t").toSet
    assert(b.currentFiles("t").toSet == before)
    val local = Try(a.upsertAt("t", batch, keys, None, maxRewriteFiles, g))
    val dist = Try(b.upsertAt("t", batch, keys, None, maxRewriteFiles, 0L))
    (local, dist) match {
      case (Success(l), Success(d)) =>
        assert(l == d, what)
        assert(before -- a.currentFiles("t") == before -- b.currentFiles("t"),
          s"$what: rewritten files")
        assert(a.read("t").schema == b.read("t").schema, what)
        assert(rows(a.read("t")) == rows(b.read("t")), what)
      case (Failure(l), Failure(d)) =>
        assert(l.getClass == d.getClass && l.getMessage == d.getMessage, what)
        assert(a.currentFiles("t").toSet == before, s"$what: refused merge committed")
      case _ => fail(s"$what: driver $local, distributed $dist")
    }
  }

  /** Batch sizes gate − 1, gate and gate + 1 of `pool`'s first rows. */
  private def aroundGate[T](pool: Seq[T]): Seq[(Long, Seq[T])] = {
    require(pool.size > gate)
    Seq(gate - 1, gate, gate + 1).map(n => (n, pool.take(n.toInt)))
  }

  /** Four single-file loads, so a probe picks a strict subset. */
  private def loads(w: Warehouse, batches: Seq[DataFrame],
                    policy: SinkPolicy = SinkPolicy.Append): Unit =
    batches.foreach(df => w.load("t", df.coalesce(1), policy))

  test("upsert on a double key: nulls, -0.0 against 0.0 and NaN match as <=> does") {
    val setup = (w: Warehouse) => loads(w, Seq(
      Seq((Option.empty[Double], "n0", "a"), (Some(0.0), "z0", "a")),
      Seq((Some(nan), "nan0", "b"), (Some(1.0), "one0", "b")),
      Seq((Some(2.0), "two0", "c"), (Some(3.0), "three0", "c")),
      Seq((Some(4.0), "four0", "d"))).map(_.toDF("k", "v", "d")),
      SinkPolicy.RelandByDate("d"))
    val pool = Seq(Option.empty[Double], Some(-0.0), Some(nan), Some(10.0),
      Some(3.0), Some(11.0), Some(12.0), Some(13.0))
      .zipWithIndex.map { case (k, i) => (k, s"new$i", "e") }
    for ((n, ks) <- aroundGate(pool))
      upsertParity(s"double key, $n rows", setup, ks.toDF("k", "v", "d"),
        Seq("k"), gate)
  }

  test("upsert on a two-column key with null fields") {
    val setup = (w: Warehouse) => loads(w, Seq(
      Seq((Some("a"), Option.empty[Double], 1L), (None, Some(1.0), 2L)),
      Seq((Some("a"), Some(-0.0), 3L), (Some("b"), Some(nan), 4L)),
      Seq((Option.empty[String], Option.empty[Double], 5L), (Some("c"), Some(2.0), 6L)))
      .map(_.toDF("s", "x", "v")))
    val pool = Seq((Some("a"), None, 10L), (None, Some(1.0), 11L),
      (Some("a"), Some(0.0), 12L), (Some("b"), Some(nan), 13L),
      (None, None, 14L), (Some("q"), Some(9.0), 15L), (Some("r"), None, 16L),
      (Some("s"), Some(8.0), 17L))
    for ((n, ks) <- aroundGate(pool))
      upsertParity(s"two-column key, $n rows", setup,
        ks.toDF("s", "x", "v"), Seq("s", "x"), gate)
  }

  test("upsert with a batch key type wider than the table's") {
    val setup = (w: Warehouse) => loads(w, Seq(
      Seq((Some(1), "a"), (Some(2), "b")), Seq((Some(3), "c"), (Some(Int.MaxValue), "max")),
      Seq((Option.empty[Int], "null")))
      .map(_.toDF("k", "v")))
    // 2^31 must not wrap onto Int.MinValue or match Int.MaxValue
    val pool = Seq(Some(2L), Some(Int.MaxValue.toLong), Some(Int.MaxValue + 1L),
      None, Some(8L), Some(9L), Some(10L)).map(k => (k, s"n$k"))
    for ((n, ks) <- aroundGate(pool))
      upsertParity(s"wider key, $n rows", setup, ks.toDF("k", "v"), Seq("k"), gate)
  }

  test("the key set stays a struct InSet through the optimizer: no per-batch switch") {
    val w = Warehouse(spark, tmpDir("bk-inset"))
    w.load("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), SinkPolicy.Append)
    // an int batch against the int column, and a bigint one that widens
    // it: neither may be narrowed back to an int InSet, which codegen
    // turns into a `switch` over this batch's keys — a new class per batch
    for (batch <- Seq(Seq(2, 5).toDF("k"), Seq(2L, 5L).toDF("k"))) {
      val keys = new w.MergeKeys(batch, Seq("k"), gate)
      val survivors = keys.matching(w.read("t"), hit = false)
      val sets = survivors.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case s: InSet => s }))
      assert(sets.nonEmpty && sets.forall(_.child.dataType.isInstanceOf[StructType]),
        survivors.queryExecution.optimizedPlan)
      assert(!codegenStringSeq(survivors.queryExecution.executedPlan)
        .exists(_._2.contains("switch (")))
      assert(rows(survivors) == Seq("1|a", "3|c"))
    }
  }

  test("upsert refusals agree: duplicate keys by grouping equality, maxRewriteFiles") {
    val setup = (w: Warehouse) => loads(w, Seq(
      Seq((0.0, "a"), (1.0, "b")), Seq((2.0, "c")), Seq((3.0, "d")))
      .map(_.toDF("k", "v")))
    for (dup <- Seq(Seq(Some(-0.0), Some(0.0)), Seq(Some(nan), Some(nan)),
                    Seq(None, None)))
      upsertParity(s"duplicate keys $dup", setup,
        (dup :+ Some(7.0)).zipWithIndex.map { case (k, i) => (k, s"x$i") }
          .toDF("k", "v"), Seq("k"), gate)
    val wide = Seq((-0.0, "A"), (2.0, "C"), (3.0, "D")).toDF("k", "v")
    upsertParity("past maxRewriteFiles", setup, wide, Seq("k"), gate,
      maxRewriteFiles = 2)
    upsertParity("at maxRewriteFiles", setup, wide, Seq("k"), gate,
      maxRewriteFiles = 3)
  }

  test("Expectations: every rule kind counts the same on either side of the gate") {
    val rules = Seq(
      Expectations.NotNull("x"),
      Expectations.InRange("x", 0.0, 1.0),
      Expectations.Matches("s", "^[a-c]$"),
      Expectations.Holds("x_small", $"x" < 5.0),
      Expectations.Unique("x"),
      Expectations.Unique("s", "x"))
    val pool = Seq((Some(0.0), Some("a")), (Some(-0.0), Some("a")),
      (Some(nan), Some("b")), (Some(nan), Some("z")), (None, None),
      (None, Some("c")), (Some(0.5), None), (Some(7.0), Some("a")))
    for ((n, rs) <- aroundGate(pool)) {
      val df = rs.toDF("x", "s")
      val local = Expectations.checkAt(df, rules, gate)
      val dist = Expectations.checkAt(df, rules, 0L)
      assert(local == dist, s"$n rows")
    }
    // the figures themselves, at gate - 1 rows: x = 0.0, -0.0, NaN, NaN, null
    val five = Expectations.checkAt(pool.take(5).toDF("x", "s"), rules, gate)
    assert(five == Map("rows" -> 5L, "not_null(x)" -> 1L,
      "in_range(x,0.0,1.0)" -> 2L, "matches(s)" -> 1L, "x_small" -> 3L,
      "unique(x)" -> 2L, "unique(s,x)" -> 1L))
    // an empty batch takes the driver branch even at gate 0
    assert(Expectations.checkAt(pool.take(0).toDF("x", "s"), rules, 0L)
      .forall(_._2 == 0L))
  }

  test("a 200-key upsert into a 1,000-row table runs at most 5 jobs") {
    val root = tmpDir("bk-jobs")
    val w = Warehouse(spark, root)
    w.load("t", (0L until 1000L).map(k => (k, k * 3)).toDF("cust_id", "cents"),
      SinkPolicy.Append)
    val src = Paths.get(root, "batch").toString
    (0L until 2000L by 10L).map(k => (k, k + 1)).toDF("cust_id", "cents")
      .coalesce(1).write.parquet(src)
    val batch = spark.read.parquet(src)
    val (r, jobs) = jobsDuring(w.upsert("t", batch, Seq("cust_id")))
    assert(r.rows == 200L)
    assert(jobs <= 5, s"$jobs jobs")
    assert(w.read("t").count() == 1100L)
    // the same merge past the gate runs the census, joins and distinct
    val again = batch.withColumn("cents", $"cents" + 1)
    val (_, distJobs) = jobsDuring(w.upsertAt("t", again, Seq("cust_id"), None,
      Warehouse.DefaultMaxRewriteFiles, 0L))
    assert(jobs < distJobs, s"$jobs driver-branch jobs, $distJobs past the gate")
  }

  test("a 300-row, 4-partition Expectations.check runs at most 2 jobs") {
    val df = spark.range(0, 300, 1, 4)
      .select($"id", ($"id" % 7).cast("double").as("x"), $"id".cast("string").as("s"))
    val rules = Seq(Expectations.NotNull("s"), Expectations.InRange("x", 0.0, 5.0),
      Expectations.Unique("id"))
    val (report, jobs) = jobsDuring(Expectations.check(df, rules))
    assert(report == Map("rows" -> 300L, "not_null(s)" -> 0L,
      "in_range(x,0.0,5.0)" -> 42L, "unique(id)" -> 0L))
    assert(jobs <= 2, s"$jobs jobs")
    val (_, distJobs) = jobsDuring(Expectations.checkAt(df, rules, 0L))
    assert(jobs < distJobs, s"$jobs driver-branch jobs, $distJobs past the gate")
  }
}
