package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** The delta-manifest + snapshot-checkpoint layer of [[TxnLog]]: commits
  * between [[TxnLog.SnapshotEvery]] boundaries write O(changed-files)
  * delta manifests, reads resolve through the chain to identical state,
  * vacuum never prunes a manifest a retained version resolves through,
  * and a blocked prune checkpoints the head into a fresh snapshot. This
  * is the metadata-plane design that keeps commit cost O(change) — not
  * O(table) — at millions of files. */
class ManifestChainSpec extends SparkTestBase {
  import spark.implicits._

  private def hits(d: String, n: Int) =
    (1 to n).map(i => (s"u$i", d)).toDF("user", "event_date")
      .withColumn("event_date", $"event_date".cast("date"))

  private def manifestText(dir: java.nio.file.Path, v: Long): String =
    Files.readString(dir.resolve("_log").resolve(f"v$v%012d.manifest"))

  test("mid-cadence commits write deltas; reads resolve the chain to identical state") {
    val w = Warehouse(spark, tmpDir("mc-wh"))
    (1 to 7).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", i), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    // v1 is a snapshot; v2..v7 are deltas against their predecessor
    assert(!manifestText(dir, 1L).contains("base=1"))
    (2L to 7L).foreach { v =>
      val txt = manifestText(dir, v)
      assert(txt.contains(s"base=${v - 1}"), s"v$v should be a delta:\n$txt")
      assert(txt.linesIterator.exists(_.startsWith("+")), s"v$v has no adds")
    }
    // a delta manifest carries only the CHANGED files, not the table
    val v7adds = manifestText(dir, 7L).linesIterator.count(_.startsWith("+"))
    assert(v7adds < TxnLog.readVersion(dir, 7L).files.size,
      "delta should be smaller than the resolved list")
    // chain resolution: every version readable, counts = cumulative loads
    (1L to 7L).foreach { v =>
      assert(w.readVersion("t", v).count() == (1 to v.toInt).sum,
        s"resolved v$v wrong")
    }
    assert(TxnLog.chainVersions(dir, 7L) == (1L to 7L))
  }

  test("every SnapshotEvery-th version is self-contained and resets the chain") {
    val w = Warehouse(spark, tmpDir("mc2-wh"))
    (1 to 12).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", 1), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    // v10 carries an empty base= header (snapshot), not base=9 (delta)
    assert(manifestText(dir, TxnLog.SnapshotEvery)
      .linesIterator.contains("base="))
    // the chain of v12 stops at the v10 snapshot — never walks to v1
    assert(TxnLog.chainVersions(dir, 12L) == Seq(10L, 11L, 12L))
    assert(w.readVersion("t", 12).count() == 12)
  }

  test("vacuum keeps chain manifests retained versions resolve through, then checkpoints") {
    val w = Warehouse(spark, tmpDir("mc3-wh"))
    (1 to 5).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", 2), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    // zero retention: the head (v5, a delta on v1..v4) blocks pruning, so
    // vacuum first commits a snapshot checkpoint (v6) and then collapses
    // the log to just it
    w.vacuum("t", retention = java.time.Duration.ZERO)
    assert(TxnLog.versions(dir) == Seq(6L))
    val head = TxnLog.readVersion(dir, 6L)
    assert(!manifestText(dir, 6L).linesIterator.exists(_.startsWith("+")),
      "checkpoint must be a self-contained snapshot")
    assert(TxnLog.chainVersions(dir, 6L) == Seq(6L))
    assert(w.read("t").count() == 10)
    assert(head.files.size == w.currentFiles("t").size)
    // and the table keeps working after the checkpoint
    w.load("t", hits("2026-02-01", 3), SinkPolicy.Append)
    assert(w.read("t").count() == 13)
    assert(manifestText(dir, 7L).contains("base=6"))
  }

  test("zone-map stats survive delta encoding and a checkpoint") {
    val w = Warehouse(spark, tmpDir("mc4-wh"))
    val p = SinkPolicy.Append
    (1 to 4).foreach { i =>
      w.load("t", hits(f"2026-01-$i%02d", 2), p, statsCol = Some("event_date"))
    }
    val dir = Paths.get(w.root, "t")
    val before = TxnLog.readVersion(dir, 4L)
    assert(before.fileStats.size == before.files.size,
      "every file should carry zone-map stats through the delta chain")
    w.vacuum("t", retention = java.time.Duration.ZERO)
    val after = TxnLog.current(dir).get
    assert(after.fileStats == before.fileStats)
    assert(after.statsCols == Seq("event_date"))
  }

  test("vacuum checkpoint racing a concurrent writer never rolls back its commit") {
    val w = Warehouse(spark, tmpDir("mc6-wh"))
    (1 to 5).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", 2), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    // Backdate the existing manifests past a REAL retention window so
    // the checkpoint fires, while the writer's fresh commits and
    // in-flight files stay safely inside it — retention-zero vacuum is
    // documented unsafe under concurrency (an uncommitted data file
    // whose mtime lands at the cutoff could be reclaimed), and this
    // test must not depend on that timing.
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 3600 * 1000)
    TxnLog.versions(dir).foreach { v =>
      Files.setLastModifiedTime(
        dir.resolve("_log").resolve(f"v$v%012d.manifest"), past)
    }
    // Interleave: a writer committing WHILE vacuum checkpoints. The
    // checkpoint's build callback rebuilds against the latest head, so
    // whichever order the version race resolves, the concurrent append
    // must survive into the final state.
    val writer = new Thread(() => {
      (1 to 3).foreach { i =>
        w.load("t", hits(f"2026-02-$i%02d", 1), SinkPolicy.Append)
      }
    })
    writer.start()
    w.vacuum("t", retention = java.time.Duration.ofMinutes(30))
    writer.join()
    // all 10 original rows + all 3 concurrent appends visible
    assert(w.read("t").count() == 13)
    // every remaining version still resolves (no broken chains)
    TxnLog.versions(dir).foreach(v => TxnLog.readVersion(dir, v))
    // and a follow-up vacuum (no concurrent activity now) collapses the
    // log to a single self-contained manifest with the full state
    w.vacuum("t", retention = java.time.Duration.ZERO)
    assert(TxnLog.versions(dir).size == 1)
    assert(w.read("t").count() == 13)
  }

  test("vacuum leaves a live writer's empty staging skeleton; reclaims a crashed one by age") {
    val w = Warehouse(spark, tmpDir("mc7-wh"))
    (1 to 3).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", 2), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    // What a concurrent appender's staging area IS between the Hadoop
    // committer's job setup and its first task file: nothing but empty
    // directories. The round-9 race deleted exactly this skeleton out
    // from under a live writer (`chmod …/_temporary/0: No such file`),
    // killing its commit — the deterministic re-creation of that window.
    val skel = dir.resolve(".staging-deadbeef/_temporary/0")
    Files.createDirectories(skel)
    // a non-dot empty partition ghost, by contrast, is prunable garbage
    val ghost = dir.resolve("event_date=1999-01-01")
    Files.createDirectories(ghost)
    w.vacuum("t", retention = java.time.Duration.ofMinutes(30))
    assert(Files.isDirectory(skel),
      "fresh (live-writer) staging skeleton must survive vacuum")
    assert(!Files.exists(ghost), "empty non-dot partition dir is pruned")
    assert(w.read("t").count() == 6)
    // age the skeleton past retention: now it is a crashed writer's
    // leftover and the same sweep reclaims it bottom-up
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 3600 * 1000)
    Seq(skel, skel.getParent, skel.getParent.getParent)
      .foreach(Files.setLastModifiedTime(_, past))
    w.vacuum("t", retention = java.time.Duration.ofMinutes(30))
    assert(!Files.exists(dir.resolve(".staging-deadbeef")),
      "aged (crashed-writer) staging skeleton is reclaimed")
    assert(w.read("t").count() == 6)
  }

  private def kbatch(lo: Long, n: Int) =
    (lo until lo + n).map(i => (i, s"r$i")).toDF("k", "payload")

  /** The files a filtered read of `w`'s `t` opens. */
  private def opened(w: Warehouse, df: org.apache.spark.sql.DataFrame): Set[String] =
    scannedFiles(df, Paths.get(w.root, "t").toString)

  test("box pruning past a snapshot equals a full scan") {
    val w = Warehouse(spark, tmpDir("mc8-wh"))
    (0 until 12).foreach(i =>
      w.load("t", kbatch(i * 100L, 100).coalesce(1), SinkPolicy.Append,
        statsCol = Some("k")))
    // the head resolves through the v10 snapshot + deltas v11, v12
    val box = w.read("t").where($"k".between(150, 450))
    assert(opened(w, box).size == 4) // files 1..4 of the disjoint 100-row ranges
    // the read itself matches a full scan, including the deltas' rows
    val dir = Paths.get(w.root, "t")
    val full = spark.read.parquet(w.currentFiles("t").map(dir.resolve(_).toString): _*)
      .where($"k".between(150, 450)).select("k").as[Long].collect().toSet
    assert(box.select("k").as[Long].collect().toSet == full && full.size == 301)
    // a range living only in a DELTA-added file (v12's batch) still hits
    assert(w.read("t").where($"k".between(1150, 1160)).count() == 11)
    // and a range nothing matches stays an empty frame with schema
    val none = w.read("t").where($"k".between(90000, 99999))
    assert(opened(w, none).isEmpty && none.count() == 0)
  }

  test("partition-identity pruning composes with zone maps") {
    // partitioned by event_date (RelandByDate), zone maps on k; 12
    // distinct dates -> 12 one-file partitions with disjoint k ranges,
    // snapshot at v10 + deltas v11, v12
    def batch(d: String, lo: Long) = (lo until lo + 100).toDF("k")
      .withColumn("event_date", org.apache.spark.sql.functions.lit(d).cast("date"))
      .coalesce(1)
    def onDay(w: Warehouse, d: String, k: Option[(Long, Long)] = None) = {
      val day = w.read("t").where($"event_date" === java.sql.Date.valueOf(d))
      k.fold(day) { case (lo, hi) => day.where($"k".between(lo, hi)) }
    }
    val w = Warehouse(spark, tmpDir("mc11-wh"))
    (0 until 12).foreach { i =>
      w.load("t", batch(f"2026-01-${i + 1}%02d", i * 100L),
        SinkPolicy.RelandByDate("event_date"), statsCol = Some("k"))
    }
    // partition-only prune: exactly the one file of the named partition
    val pOnly = opened(w, onDay(w, "2026-01-03"))
    assert(pOnly.size == 1 && pOnly.head.contains("event_date=2026-01-03"))
    // combined partition ∩ zone-map: the range lives in that partition -> 1
    // file; a range outside the partition's k span -> pruned to nothing
    assert(opened(w, onDay(w, "2026-01-03", Some((250L, 260L)))).size == 1)
    assert(opened(w, onDay(w, "2026-01-03", Some((700L, 710L)))).isEmpty)
    // a delta-added partition (v12 = 2026-01-12) prunes correctly too
    assert(opened(w, onDay(w, "2026-01-12")).size == 1)
    // the reads agree with a full-scan filter
    assert(onDay(w, "2026-01-03").count() == 100)
    assert(onDay(w, "2026-01-03", Some((250L, 260L))).count() == 11)
    assert(onDay(w, "2026-01-03", Some((700L, 710L))).count() == 0)
    // a short chain (5 loads, no snapshot boundary): same answers
    val w2 = Warehouse(spark, tmpDir("mc12-wh"))
    (0 until 5).foreach { i =>
      w2.load("t", batch(f"2026-01-${i + 1}%02d", i * 100L),
        SinkPolicy.RelandByDate("event_date"), statsCol = Some("k"))
    }
    assert(opened(w2, onDay(w2, "2026-01-03")).size == 1)
    assert(opened(w2, onDay(w2, "2026-01-03", Some((250L, 260L)))).size == 1)
    assert(opened(w2, onDay(w2, "2026-01-03", Some((700L, 710L)))).isEmpty)
    assert(onDay(w2, "2026-01-03", Some((250L, 260L))).count() == 11)
  }

  test("vacuum collapse publishes a checkpoint and reclaims superseded ones") {
    val w = Warehouse(spark, tmpDir("mc9-wh"))
    (0 until 12).foreach(i =>
      w.load("t", kbatch(i * 100L, 100).coalesce(1), SinkPolicy.Append,
        statsCol = Some("k")))
    val dir = Paths.get(w.root, "t")
    w.vacuum("t", retention = java.time.Duration.ZERO)
    val Seq(head) = TxnLog.versions(dir)
    assert(TxnLog.chainVersions(dir, head) == Seq(head))
    // pruning keeps working off the collapsed snapshot
    val box = w.read("t").where($"k".between(150, 450))
    assert(opened(w, box).size == 4)
    assert(box.count() == 301)
  }

  test("a corrupt delta body line fails resolution loudly") {
    val w = Warehouse(spark, tmpDir("mc10-wh"))
    (1 to 3).foreach(i =>
      w.load("t", hits(f"2026-01-$i%02d", 1), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    Files.writeString(dir.resolve("_log").resolve(f"v${3L}%012d.manifest"),
      "\ndata/orphan.parquet", java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException](TxnLog.readVersion(dir, 3L))
    assert(e.getMessage.contains("corrupt delta line"))
  }

  test("a manifest of any other format, older or newer, is refused") {
    val w = Warehouse(spark, tmpDir("mc12-wh"))
    w.load("t", hits("2026-01-01", 1), SinkPolicy.Append)
    val dir = Paths.get(w.root, "t")
    val p = dir.resolve("_log").resolve(f"v${1L}%012d.manifest")
    val lines = Files.readAllLines(p)
    for (magic <- Seq("graft-manifest-v3", "graft-manifest-v5")) {
      lines.set(0, magic)
      Files.write(p, lines)
      intercept[IllegalArgumentException](TxnLog.readHeader(dir, 1L))
      intercept[IllegalArgumentException](w.read("t"))
    }
  }

  test("a replace-heavy mid-cadence commit encodes as a snapshot, not a bloated delta") {
    val w = Warehouse(spark, tmpDir("mc11-wh"))
    w.load("t", kbatch(0, 10).coalesce(1), SinkPolicy.Append)
    w.load("t", kbatch(10, 10).coalesce(1), SinkPolicy.Append)
    // v3 overwrites: a delta would carry -f1 -f2 +f3 (3 lines) for a
    // 1-file table — strictly worse than the 1-line snapshot
    w.load("t", kbatch(0, 5).coalesce(1), SinkPolicy.Overwrite)
    val dir = Paths.get(w.root, "t")
    val txt = manifestText(dir, 3L)
    assert(txt.linesIterator.contains("base="),
      s"v3 should fall back to a snapshot:\n$txt")
    assert(!txt.linesIterator.exists(l =>
      l.startsWith("+") || l.startsWith("-")))
    assert(TxnLog.chainVersions(dir, 3L) == Seq(3L))
    assert(w.read("t").count() == 5)
  }

  test("txn ids stay discoverable through deltas and the checkpoint carries the head's") {
    val w = Warehouse(spark, tmpDir("mc5-wh"))
    w.load("t", hits("2026-01-01", 1), SinkPolicy.Append,
      txnId = Some("app:1"))
    w.load("t", hits("2026-01-02", 1), SinkPolicy.Append,
      txnId = Some("app:2"))
    val dir = Paths.get(w.root, "t")
    assert(TxnLog.txnCommitted(dir, "app:1"))
    assert(TxnLog.txnCommitted(dir, "app:2"))
    w.vacuum("t", retention = java.time.Duration.ZERO)
    // the pre-checkpoint manifests are gone, but the checkpoint carries
    // the HEAD's txn id so the newest batch still replays idempotently
    assert(TxnLog.txnCommitted(dir, "app:2"))
    w.load("t", hits("2026-01-02", 1), SinkPolicy.Append,
      txnId = Some("app:2"))
    assert(w.read("t").count() == 2, "replayed txn must be a no-op")
  }
}
