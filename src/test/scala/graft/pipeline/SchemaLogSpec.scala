package graft.pipeline

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase

/** Guards the recorded read schema of manifests (see [[TxnLog]]
  * "Recorded schema"): reads plan without a job, partitioned writes are
  * typed without a listing, whatever a commit records is EXACTLY what a
  * `mergeSchema` read of the version's files infers — for every commit
  * shape and random sequences of them — and a write whose types do not
  * merge is refused before it publishes. */
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
    * schema and rows. */
  private def assertParity(w: Warehouse, t: String, what: String = ""): Unit = {
    val dir = Paths.get(w.root, t)
    val m = TxnLog.current(dir).get
    val inf = inferred(dir, m.files)
    assert(m.schema.exists(_.read == inf.schema),
      s"$what: recorded ${m.schema.map(_.read.simpleString)} != inferred ${inf.schema.simpleString}")
    val r = w.read(t)
    assert(r.schema == inf.schema, s"$what: read ${r.schema.simpleString}")
    assert(rows(r) == rows(inf), what)
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
  }

  test("a partitioned load's job count does not grow with its partition count") {
    // typing the new files' partition columns lists nothing: a listing
    // of more than 32 paths would start a job of its own
    def landed(days: Int): (Warehouse, Int) = {
      val w = Warehouse(spark, tmpDir(s"schema-parts-$days"))
      val b = (0 until 2 * days).map(i => (i.toLong, i % 7,
        java.time.LocalDate.of(2026, 1, 1).plusDays(i % days).toString)).toDF("k", "v", "d")
      (w, jobsDuring(w.load("t", b, SinkPolicy.RelandByDate("d")))._2)
    }
    val ((_, two), (w, forty)) = (landed(2), landed(40))
    assert(w.currentFiles("t").size >= 40)
    assert(forty <= two, s"40 partitions started $forty job(s), 2 started $two")
    assertParity(w, "t", what = "40 partitions")
  }

  test("a write whose column type does not merge is refused before it publishes") {
    val w = Warehouse(spark, tmpDir("schema-refused"))
    w.load("t", Seq((1L, 1), (2L, 2)).toDF("k", "v"), SinkPolicy.Append)
    val dir = Paths.get(w.root, "t")
    val (head, schema, before) =
      (TxnLog.current(dir).get.version, w.read("t").schema, rows(w.read("t")))
    val e = intercept[Exception](
      w.load("t", Seq((3L, "x")).toDF("k", "v"), SinkPolicy.Append))
    assert(e.getMessage.toLowerCase.contains("merg"), e.getMessage)
    assert(TxnLog.current(dir).get.version == head)
    assert(w.read("t").schema == schema)
    assert(rows(w.read("t")) == before)
    // the refused write's files are on disk, unreferenced: vacuum reclaims them
    val referenced = w.currentFiles("t").toSet
    val refused = TxnLog.listParquet(dir, dir).filterNot(referenced)
    assert(refused.nonEmpty)
    assert(w.vacuum("t", java.time.Duration.ZERO) == refused.size)
    assert(TxnLog.listParquet(dir, dir).toSet == referenced)
    assert(rows(w.read("t")) == before)
  }

  test("box reads of a table past a snapshot boundary start no job") {
    val w = Warehouse(spark, tmpDir("schema-box-jobs"))
    (0 until 12).foreach(i =>
      w.load("t", (i * 100L until i * 100L + 100).map(k => (k, s"r$k"))
        .toDF("k", "payload").coalesce(1), SinkPolicy.Append,
        statsCol = Some("k")))
    assert(TxnLog.versions(Paths.get(w.root, "t")).size > TxnLog.SnapshotEvery)
    val ((files, box, between), jobs) = jobsDuring {
      val box = w.read("t").where($"k".between(150, 450))
      (scannedFiles(box, Paths.get(w.root, "t").toString), box,
        w.read("t").where($"k".between(1150, 1160)))
    }
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
    // a subset older than the field addition reads with the version's
    // schema: the new column is there, NULL on its rows
    val dir = Paths.get(w.root, t)
    val box = w.read(t).where($"d" === "2026-01-01")
    assert(box.schema == w.read(t).schema)
    assert(box.count() == 30 && box.where($"x".isNotNull).count() == 0)
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
      holdsStringOne(w.read("t").where($"d" === "1"), s"d=1, uniform=$uniform")
      holdsStringOne(w.read("t").where($"k".between(0, 4)), s"k range, uniform=$uniform")
      holdsStringOne(w.read("t").where($"k".isin(0L, 3L)), s"k set, uniform=$uniform")
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
      assertTypes(w.read("t").where($"d" === d), head.schema, s"d=$d, $what")
    }
    val (lo, hi) = (s.lo.toLong, s.lo.toLong + s.span)
    val box = w.read("t").where($"k".between(lo, hi))
    assertTypes(box, head.schema, s"k in [$lo, $hi], $what")
    assert(box.count() == inferred(Paths.get(w.root, "t"), w.currentFiles("t"))
      .where($"k".between(lo, hi)).count(), what)
    assertTypes(w.read("t").where($"k".isin(s.keys.map(_.toLong): _*)), head.schema,
      s"k in ${s.keys}, $what")
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
