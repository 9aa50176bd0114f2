package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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

  test("box reads of a table past a snapshot boundary start no job") {
    val w = Warehouse(spark, tmpDir("schema-box-jobs"))
    (0 until 12).foreach(i =>
      w.load("t", (i * 100L until i * 100L + 100).map(k => (k, s"r$k"))
        .toDF("k", "payload").coalesce(1), SinkPolicy.Append,
        statsCol = Some("k")))
    assert(TxnLog.versions(Paths.get(w.root, "t")).size > TxnLog.SnapshotEvery)
    val ((files, box, between), jobs) = jobsDuring((
      w.pruneBox("t", Seq(("k", "150", "450"))),
      w.readBox("t", Seq(("k", "150", "450"))),
      w.readBetween("t", "k", "1150", "1160")))
    assert(jobs == 0, s"$jobs job(s) started while planning box reads")
    assert(files.size == 4)
    def keys(df: DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    val full = w.read("t")
    assert(keys(box) == keys(full.where($"k".between(150, 450))))
    assert(keys(between) == keys(full.where($"k".between(1150, 1160))))
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

  test("subset reads carry the version's partition types") {
    // d ∈ {1, x} reads as string; a subset of the d=1 files alone would
    // infer d as int from its own paths
    def holdsStringOne(df: DataFrame, what: String): Unit = {
      assert(df.schema("d").dataType.typeName == "string", what)
      assert(df.select("d").distinct().as[String].collect().toSeq == Seq("1"), what)
    }
    val w = Warehouse(spark, tmpDir("schema-subset-ptype"))
    w.load("t", batch(0, 5, "1"), SinkPolicy.RelandByDate("d"), statsCol = Some("k"))
    w.load("t", batch(5, 5, "x"), SinkPolicy.Append)
    val dir = Paths.get(w.root, "t")
    for (uniform <- Seq(false, true)) {
      // the append records a merged schema; compact rewrites every file
      if (uniform) w.compact("t")
      assert(TxnLog.current(dir).get.schema.exists(_.uniform == uniform))
      assertParity(w, "t", what = s"uniform=$uniform")
      holdsStringOne(w.readBox("t", Nil, Seq(("d", "1"))), s"readBox d=1, uniform=$uniform")
      holdsStringOne(w.readBox("t", Seq(("k", "0", "4"))), s"readBox k, uniform=$uniform")
      holdsStringOne(w.readInSet("t", "k", Seq(0L, 3L)), s"readInSet, uniform=$uniform")
    }
    // the appended d=1 files of a table that already reads d as string
    val a = Warehouse(spark, tmpDir("schema-subset-cdc"))
    a.load("t", batch(0, 3, "x"), SinkPolicy.RelandByDate("d"))
    a.load("t", batch(3, 3, "1"), SinkPolicy.Append)
    val v = a.history("t").last.version
    holdsStringOne(a.readAppendedBetween("t", v - 1, v), "readAppendedBetween")
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

  /** Lands `d=1` (with a zone map on `statsCol`), applies `ops` in order
    * and checks parity after each; returns the warehouse. */
  private def replay(ops: Seq[Op], where: String,
                     statsCol: Option[String] = None): Warehouse = {
    var serial = 0L
    def rowsOf(n: Int, day: String, extra: Boolean): DataFrame = {
      val b = batch(serial, n, day)
      serial += n
      if (extra) b.withColumn("x", $"k".cast("string")) else b
    }
    val w = Warehouse(spark, tmpDir(where))
    w.load("t", rowsOf(4, "1", extra = false), SinkPolicy.RelandByDate("d"),
      statsCol = statsCol)
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
    w
  }

  test("an upsert into a widened partition casts the survivors' partition types") {
    // the merged head reads d as string once `x` lands; the upsert's
    // affected files (d=1, d=2) alone infer d as int, and unioning them
    // with the batch's d = 'x' must not cast 'x' to a number
    replay(Seq(Upsert(4, 0), Append(6, "2", extra = true, swap = false),
      Reland("x", extra = true), Upsert(6, 2)), "schema-upsert-widened")
  }

  test("any sequence of commits records exactly the inferred schema") {
    // GRAFT_SCHEMA_SEED replays a draw; every failure prints its seed
    val seed = sys.env.get("GRAFT_SCHEMA_SEED").map(_.toLong)
      .getOrElse(scala.util.Random.nextLong())
    val prop = Prop.forAll(Gen.choose(2, 6).flatMap(Gen.listOfN(_, genOp))) { ops =>
      replay(ops, "schema-prop")
      true
    }
    info(s"GRAFT_SCHEMA_SEED=$seed")
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(seed), prop)
    assert(r.passed, s"GRAFT_SCHEMA_SEED=$seed: ${r.status}")
  }

  // ---- property: any subset selection reads with its version's types ----

  /** One draw of subset selections: a partition value, a key range, a
    * key set, an append-only segment and an upsert batch (indices pick
    * among what the table holds). */
  private case class Selection(part: Int, lo: Int, span: Int, keys: Seq[Int],
                               segment: Int, upsertLo: Int, upsertPart: Int)

  private val genSelection: Gen[Selection] = for {
    part <- Gen.choose(0, 3)
    lo <- Gen.choose(0, 30)
    span <- Gen.choose(0, 10)
    keys <- Gen.listOfN(3, Gen.choose(0, 40))
    segment <- Gen.choose(0, 7)
    upsertLo <- Gen.choose(0, 30)
    upsertPart <- Gen.choose(0, 3)
  } yield Selection(part, lo, span, keys, segment, upsertLo, upsertPart)

  /** Every column `df` reads has the type `version` gives it (a subset
    * older than a field addition may lack that field). */
  private def assertTypes(df: DataFrame, version: StructType, what: String): Unit =
    df.schema.foreach { f =>
      assert(version.find(_.name == f.name).map(_.dataType).contains(f.dataType),
        s"$what: ${f.name} reads ${f.dataType.simpleString}, the version " +
          version.simpleString)
    }

  /** `s`'s subset reads of `w`'s table carry the head's (or, for an
    * appended segment, its version's) types, and an upsert into one of
    * its partitions keeps every survivor. */
  private def checkSelection(w: Warehouse, s: Selection, what: String): Unit = {
    val head = w.read("t")
    val days = w.currentFiles("t").flatMap(TxnLog.partitionSegments)
      .map(_.stripPrefix("d=")).distinct.sorted
    if (days.nonEmpty) {
      val d = days(s.part % days.size)
      assertTypes(w.readBox("t", Nil, Seq(("d", d))), head.schema,
        s"readBox d=$d, $what")
    }
    val (lo, hi) = (s.lo.toLong, s.lo.toLong + s.span)
    val box = w.readBox("t", Seq(("k", lo.toString, hi.toString)))
    assertTypes(box, head.schema, s"readBox k in [$lo, $hi], $what")
    assert(box.count() == head.where($"k".between(lo, hi)).count(), what)
    assertTypes(w.readInSet("t", "k", s.keys.map(_.toLong)), head.schema,
      s"readInSet ${s.keys}, $what")
    val segments = w.history("t").map(_.version).sliding(2).collect {
      case Seq(a, b) if w.changedFiles("t", a, b)._2.isEmpty => b
    }.toSeq
    if (segments.nonEmpty) {
      val v = segments(s.segment % segments.size)
      assertTypes(w.readAppendedBetween("t", v - 1, v),
        w.readVersion("t", v).schema, s"readAppendedBetween v$v, $what")
    }
    // the batch lands in an existing partition: the survivors of the
    // files it rewrites are unioned with it under the head's types, so
    // the upsert lands and keeps every survivor. The new version's types
    // follow its own files (moving every row out of a partition can
    // narrow d), which parity checks.
    val upsertKeys = (s.upsertLo.toLong until s.upsertLo + 3L)
    val survivors = head.where(!$"k".isin(upsertKeys: _*))
    val kept = rows(survivors)
    val b = batch(upsertKeys.head, upsertKeys.size,
      if (days.isEmpty) "1" else days(s.upsertPart % days.size))
    w.upsert("t", if (days.isEmpty) b.drop("d") else b, Seq("k"))
    val landed = w.read("t").where(!$"k".isin(upsertKeys: _*))
      .select(survivors.columns.map(col): _*)
    assert(rows(landed) == kept, s"upsert survivors of $upsertKeys, $what")
    assertParity(w, "t", what = s"upsert of $upsertKeys, $what")
  }

  test("any subset selection reads with its version's types") {
    // GRAFT_SCHEMA_SEED replays a draw; every failure prints its seed
    val seed = sys.env.get("GRAFT_SCHEMA_SEED").map(_.toLong)
      .getOrElse(scala.util.Random.nextLong())
    val prop = Prop.forAll(Gen.choose(1, 5).flatMap(Gen.listOfN(_, genOp)),
        genSelection) { (ops, sel) =>
      checkSelection(replay(ops, "schema-subset-prop", statsCol = Some("k")),
        sel, s"$sel after $ops")
      true
    }
    info(s"GRAFT_SCHEMA_SEED=$seed")
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(seed), prop)
    assert(r.passed, s"GRAFT_SCHEMA_SEED=$seed: ${r.status}")
  }
}
