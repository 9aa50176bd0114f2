package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase

/** Guards the recorded read schema of format-v4 manifests (see
  * [[TxnLog]] "Recorded schema"): reads of a v4 table plan without a
  * job, and whatever a commit records is EXACTLY what a `mergeSchema`
  * read of the version's files infers — for every commit shape, random
  * sequences of them, legacy adoption and pre-v4 manifests. */
class SchemaLogSpec extends SparkTestBase {
  import spark.implicits._

  /** The schema and rows every read returned before schemas were
    * recorded: a `mergeSchema` read of the version's files. */
  private def inferred(dir: Path, files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", dir.toString)
      .parquet(files.map(dir.resolve(_).toString): _*)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Recorded schema == inference, and read() returns the inferred
    * schema and rows. `recorded` says whether the head must carry one. */
  private def assertParity(w: Warehouse, t: String, recorded: Boolean = true,
                           what: String = ""): Unit = {
    val dir = Paths.get(w.root, t)
    val m = TxnLog.current(dir).get
    val inf = inferred(dir, m.files)
    assert(m.schema.isDefined == recorded, s"$what: recorded ${m.schema}")
    m.schema.foreach(s => assert(s.read == inf.schema,
      s"$what: recorded ${s.read.simpleString} != inferred ${inf.schema.simpleString}"))
    val r = w.read(t)
    assert(r.schema == inf.schema, s"$what: read ${r.schema.simpleString}")
    assert(rows(r) == rows(inf), what)
  }

  /** Jobs started by `f` on this thread, counted by a SparkListener. A
    * sentinel job in a second group flushes the asynchronous listener
    * bus, so every job `f` started has been seen when it is counted. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-guard-${System.nanoTime()}"
    val seen = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)                  => seen.incrementAndGet()
          case Some(g) if g == s"$group-end" => flushed.countDown()
          case _                              => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "schema guard")
      val r = f
      sc.setJobGroup(s"$group-end", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never flushed")
      (r, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Rewrite version `v`'s manifest in the v3 format (no schema= line). */
  private def downgradeToV3(dir: Path, v: Long): Unit = {
    val p = TxnLog.logDir(dir).resolve(f"v$v%012d.manifest")
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8)
    assert(lines.get(0) == "graft-manifest-v4" && lines.get(5).startsWith("schema="))
    lines.set(0, "graft-manifest-v3")
    lines.remove(5)
    Files.write(p, lines)
  }

  private def batch(lo: Long, n: Int, day: String) =
    (lo until lo + n).map(k => (k, (k % 7).toInt, day)).toDF("k", "v", "d")

  test("read, readVersion and newRowsOnly of a v4 table start no job") {
    val w = Warehouse(spark, tmpDir("schema-jobs"))
    w.load("t", batch(0, 20, "2026-01-01"), SinkPolicy.RelandByDate("d"))
    w.load("t", batch(20, 20, "2026-01-02"), SinkPolicy.RelandByDate("d"))
    w.load("t", batch(40, 20, "2026-01-03").withColumn("x", lit("new")),
      SinkPolicy.RelandByDate("d"))
    val incoming = Seq((1L, 1, "2026-01-01")).toDF("k", "v", "d")
    val (schemas, jobs) = jobsDuring(Seq(
      w.read("t").schema,
      w.readVersion("t", 1L).schema,
      w.readVersion("t", 3L).schema,
      w.newRowsOnly("t", incoming).schema))
    assert(jobs == 0, s"$jobs job(s) started while planning reads")
    assert(schemas.head.fieldNames.toSeq == Seq("k", "v", "x", "d"))
    // the same reads of a pre-v4 head infer, so the listener does see jobs
    downgradeToV3(Paths.get(w.root, "t"), 3L)
    val (_, legacyJobs) = jobsDuring(w.read("t").schema)
    assert(legacyJobs > 0, "a v3 read should infer its schema with a job")
  }

  test("each commit shape records exactly the inferred schema") {
    val w = Warehouse(spark, tmpDir("schema-shapes"))
    val t = "t"
    w.load(t, batch(0, 30, "2026-01-01"), SinkPolicy.RelandByDate("d"))
    assertParity(w, t, what = "new table")
    w.load(t, batch(30, 30, "2026-01-02"), SinkPolicy.Append)
    assertParity(w, t, what = "append")
    w.load(t, batch(60, 30, "2026-01-02"), SinkPolicy.RelandByDate("d"))
    assertParity(w, t, what = "re-land")
    w.load(t, batch(90, 10, "2026-01-03").withColumn("x", $"k" * 2),
      SinkPolicy.Append)
    assertParity(w, t, what = "field addition")
    assert(TxnLog.current(Paths.get(w.root, t)).get.schema.exists(!_.uniform))
    // a subset older than the field addition keeps inferring: it reads
    // without the new column, exactly as before
    val dir = Paths.get(w.root, t)
    val old = TxnLog.current(dir).get.files.filter(_.startsWith("d=2026-01-01/"))
    val box = w.readBox(t, Nil, Seq(("d", "2026-01-01")))
    assert(box.schema == inferred(dir, old).schema)
    assert(!box.columns.contains("x"))
    // a subset of a uniform version reads with its data columns
    val appended = w.readAppendedBetween(t, 1L, 2L)
    assert(appended.schema == inferred(dir, w.changedFiles(t, 1L, 2L)._1).schema)
    // re-land after the addition, on a merged head: inferred at commit
    w.load(t, batch(0, 10, "2026-01-01").withColumn("x", $"k"),
      SinkPolicy.RelandByDate("d"))
    assertParity(w, t, what = "re-land on merged head")
    w.upsert(t, batch(5, 10, "2026-01-04").withColumn("x", $"k"), Seq("k"))
    assertParity(w, t, what = "upsert")
    w.compact(t)
    assertParity(w, t, what = "compact")
    assert(TxnLog.current(Paths.get(w.root, t)).get.schema.exists(_.uniform),
      "a full rewrite leaves every file with the same columns")
    w.compactZOrder(t, Seq("k", "v"))
    assertParity(w, t, what = "compactZOrder")
    w.load(t, batch(0, 5, "2026-02-01").drop("d"), SinkPolicy.Overwrite)
    assertParity(w, t, what = "overwrite")
    w.upsert(t, batch(3, 4, "x").drop("d"), Seq("k"))
    assertParity(w, t, what = "upsert on flat table")
  }

  test("partition types re-infer when new values widen them") {
    val w = Warehouse(spark, tmpDir("schema-ptype"))
    w.load("t", batch(0, 5, "1"), SinkPolicy.RelandByDate("d"))
    assertParity(w, "t", what = "int partition")
    assert(w.read("t").schema("d").dataType.typeName == "integer")
    w.load("t", batch(5, 5, "x"), SinkPolicy.Append)
    assertParity(w, "t", what = "widened to string")
    assert(w.read("t").schema("d").dataType.typeName == "string")
  }

  test("a merged head is re-inferred when a commit removes files") {
    // file order decides a merged schema's column order: the first file
    // in path order leads. d=01 holds (v, k), d=02 holds (k, v).
    val w = Warehouse(spark, tmpDir("schema-order"))
    w.load("t", batch(0, 3, "2026-01-02"), SinkPolicy.RelandByDate("d"))
    w.load("t", batch(10, 3, "2026-01-01").select("v", "k", "d"),
      SinkPolicy.Append)
    assertParity(w, "t", what = "reordered append")
    assert(w.read("t").columns.toSeq == Seq("v", "k", "d"))
    // the upsert moves every d=01 row to d=03: the (v, k) file that led
    // the merge is gone, so the (k, v) file leads — carrying (v, k)
    // would be wrong even though the written columns equal the head's
    w.upsert("t", batch(10, 3, "2026-01-03").select("v", "k", "d"), Seq("k"))
    assertParity(w, "t", what = "upsert that removes the leading file")
    assert(w.read("t").columns.toSeq == Seq("k", "v", "d"))
  }

  test("legacy adoption, mixed layout and v2/v3 manifests") {
    // legacy: a plain partitioned parquet dir adopted on first touch
    val root = tmpDir("schema-legacy")
    batch(0, 10, "2026-01-01").write.partitionBy("d")
      .parquet(Paths.get(root, "lg").toString)
    val w = Warehouse(spark, root)
    w.load("lg", batch(10, 10, "2026-01-02"), SinkPolicy.Append)
    val dir = Paths.get(root, "lg")
    val v1 = TxnLog.readVersion(dir, 1L)
    assert(v1.schema.exists(_.read == inferred(dir, v1.files).schema),
      "adoption records the inferred schema")
    assertParity(w, "lg", what = "append after adoption")

    // v3 head: still reads (inferring); the next commit infers once
    downgradeToV3(dir, 2L)
    assert(TxnLog.current(dir).get.schema.isEmpty)
    assert(w.read("lg").count() == 20)
    w.load("lg", batch(20, 10, "2026-01-03"), SinkPolicy.Append)
    assertParity(w, "lg", what = "append on a v3 head")

    // v2 head (headerless snapshot form) reads too
    val p = TxnLog.logDir(dir).resolve(f"v${3L}%012d.manifest")
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8)
    val files = TxnLog.readVersion(dir, 3L).files
    Files.write(p, java.util.Arrays.asList(
      (Seq("graft-manifest-v2", lines.get(1), "txn=", "stats=") ++ files): _*))
    assert(TxnLog.current(dir).get.schema.isEmpty)
    assert(w.read("lg").schema == inferred(dir, files).schema)
    assert(w.read("lg").count() == 30)

    // mixed layout: flat files plus a grafted col=value file record
    // nothing, and keep reading through the per-layout union
    val mw = Warehouse(spark, tmpDir("schema-mixed"))
    mw.load("m", Seq(("a", 1L)).toDF("d", "v").coalesce(1), SinkPolicy.Append)
    val stage = Paths.get(tmpDir("schema-mixed-stage"))
    Seq(("b", 2L)).toDF("d", "v").coalesce(1).write.mode("overwrite")
      .partitionBy("d").parquet(stage.toString)
    val part = Files.walk(stage).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val mdir = Paths.get(mw.root, "m")
    Files.createDirectories(mdir.resolve("d=b"))
    Files.move(part, mdir.resolve("d=b/" + part.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    TxnLog.commit(mdir)(cur =>
      ManifestData(Seq("d"), cur.get.files :+ s"d=b/${part.getFileName}"))
    mw.load("m", Seq(("c", 3L)).toDF("d", "v").coalesce(1), SinkPolicy.Append)
    assert(TxnLog.current(mdir).get.schema.isEmpty)
    assert(mw.read("m").select("d", "v").as[(String, Long)].collect().sorted.toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  // ---- property: any commit sequence keeps recorded == inferred ----

  private sealed trait Op
  private case class Append(n: Int, day: String, extra: Boolean,
                            swap: Boolean) extends Op
  private case class Reland(day: String, extra: Boolean) extends Op
  private case class Overwrite(n: Int) extends Op
  private case class Upsert(lo: Int, pick: Int) extends Op
  private case object Compact extends Op
  private case object ZOrder extends Op

  // partition values whose inferred types differ (int, date, string)
  private val genDay = Gen.oneOf("1", "2", "2026-01-05", "x")
  private val genOp: Gen[Op] = Gen.frequency(
    4 -> Gen.zip(Gen.choose(1, 6), genDay, Gen.prob(0.2), Gen.prob(0.2))
      .map { case (n, d, e, s) => Append(n, d, e, s) },
    3 -> Gen.zip(genDay, Gen.prob(0.2)).map { case (d, e) => Reland(d, e) },
    1 -> Gen.choose(1, 4).map(Overwrite(_)),
    2 -> Gen.zip(Gen.choose(0, 20), Gen.choose(0, 3)).map { case (l, p) => Upsert(l, p) },
    1 -> Gen.const(Compact),
    1 -> Gen.const(ZOrder))

  test("any sequence of commits records exactly the inferred schema") {
    var serial = 0L
    def rowsOf(n: Int, day: String, extra: Boolean): DataFrame = {
      val b = batch(serial, n, day)
      serial += n
      if (extra) b.withColumn("x", $"k".cast("string")) else b
    }
    val prop = Prop.forAll(Gen.choose(2, 6).flatMap(Gen.listOfN(_, genOp))) { ops =>
      val w = Warehouse(spark, tmpDir("schema-prop"))
      w.load("t", rowsOf(4, "1", extra = false), SinkPolicy.RelandByDate("d"))
      ops.foreach { op =>
        val flat = TxnLog.current(Paths.get(w.root, "t")).get.partitionCols.isEmpty
        op match {
          case Append(n, d, e, s) =>
            // `s` swaps the column order: a shape change, inferred
            val b = rowsOf(n, d, e)
            val c = if (s) b.select(b.columns.reverse.map(col): _*) else b
            w.load("t", if (flat) c.drop("d") else c, SinkPolicy.Append)
          case Reland(d, e) if !flat =>
            w.load("t", rowsOf(3, d, e), SinkPolicy.RelandByDate("d"))
          case Reland(_, _) => ()
          case Overwrite(n) => w.load("t", rowsOf(n, "1", extra = false)
            .drop("d"), SinkPolicy.Overwrite)
          case Upsert(lo, pick) =>
            // an existing partition value: it casts to the read type of d
            val days = w.currentFiles("t").flatMap(TxnLog.partitionSegments)
              .map(_.stripPrefix("d=")).distinct.sorted
            val b = batch(lo.toLong, 3, if (flat) "1" else days(pick % days.size))
            w.upsert("t", if (flat) b.drop("d") else b, Seq("k"))
          case Compact => w.compact("t")
          case ZOrder  => w.compactZOrder("t", Seq("k", "v"))
        }
        assertParity(w, "t", what = s"after $op in $ops")
      }
      true
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(r.passed, r.status.toString)
  }
}
