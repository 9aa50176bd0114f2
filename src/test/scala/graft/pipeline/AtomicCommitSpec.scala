package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** The atomic-commit contract of the versioned-manifest warehouse
  * ([[TxnLog]]): a reader resolves one manifest and is pinned to that
  * snapshot — every mutation (append, overwrite, re-land, compaction) is
  * either invisible or fully visible to it, never a mix; uncommitted
  * writes are invisible to everyone; version numbers cannot be
  * double-committed; and vacuum is the only operation that ever deletes
  * a committed file. This is the engine-side equivalent of the
  * reference's atomic BigQuery load jobs
  * (`functions/utils/datasources.py:55-58`, blocking `.result()`). */
class AtomicCommitSpec extends SparkTestBase {
  import spark.implicits._

  private def hits(d: String, n: Int) =
    (1 to n).map(i => (s"u$i", d)).toDF("user", "event_date")
      .withColumn("event_date", $"event_date".cast("date"))

  test("a reader pinned before a re-land sees the old table; after, the new — never a mix") {
    val w = Warehouse(spark, tmpDir("at-wh"))
    val p = SinkPolicy.RelandByDate("event_date")
    w.load("t", hits("2026-01-01", 3), p)
    w.load("t", hits("2026-01-02", 4), p)
    val pinned = w.read("t") // snapshot: file list resolved here
    // corrected batch replaces the 4-row date with 2 rows
    w.load("t", hits("2026-01-02", 2), p)
    // the pinned reader still sees the pre-commit world in full...
    assert(pinned.count() == 7)
    assert(pinned.where($"event_date" === "2026-01-02").count() == 4)
    // ...and a fresh reader sees the post-commit world in full
    val fresh = w.read("t")
    assert(fresh.count() == 5)
    assert(fresh.where($"event_date" === "2026-01-02").count() == 2)
  }

  test("link-free publication keeps exclusive versions and all-at-once manifests") {
    // the fallback commit path for filesystems without hard links
    // (object-store FUSE, exFAT, some NFS): claim-then-move must resolve
    // a version race to exactly one winner, publish a complete manifest,
    // and leave the loser's temp intact for its retry
    val dir = Paths.get(tmpDir("lf-wh"), "t")
    Files.createDirectories(TxnLog.logDir(dir))
    def tmpManifest(tag: String) = {
      val p = Files.createTempFile(TxnLog.logDir(dir), ".tmp-", ".manifest")
      Files.writeString(p,
        Seq("graft-manifest-v4", "partition=", "txn=", "stats=", "base=",
          "schema=", s"data/$tag.parquet").mkString("\n"))
      p
    }
    val (a, b) = (tmpManifest("a"), tmpManifest("b"))
    assert(TxnLog.publishWithoutLink(dir, 1L, a))
    assert(!TxnLog.publishWithoutLink(dir, 1L, b)) // lost the race
    assert(Files.exists(b))                        // loser's temp untouched
    assert(TxnLog.readVersion(dir, 1L).files == Seq("data/a.parquet"))
    // the loser retries at the next version and wins it
    assert(TxnLog.publishWithoutLink(dir, 2L, b))
    assert(TxnLog.versions(dir) == Seq(1L, 2L))
    // deleteVersion clears the claim too, so the log dir doesn't accrete
    TxnLog.deleteVersion(dir, 1L)
    assert(scala.util.Using.resource(Files.list(TxnLog.logDir(dir))) { st =>
      import scala.jdk.CollectionConverters._
      !st.iterator().asScala.exists(_.getFileName.toString == "v000000000001.claim")
    })
  }

  test("a reader pinned before compaction keeps its files until vacuum") {
    val w = Warehouse(spark, tmpDir("at2-wh"))
    (1 to 5).foreach(i => w.load("t", hits(f"2026-01-$i%02d", 10),
      SinkPolicy.Append))
    val pinned = w.read("t")
    w.compact("t")
    assert(pinned.count() == 50)          // old files intact post-compact
    assert(w.read("t").count() == 50)     // new layout has the same data
    // fresh artifacts survive the default retention window (in-flight
    // writer safety); only a forced ZERO-retention vacuum reclaims now
    assert(w.vacuum("t") == 0)
    assert(pinned.count() == 50)
    val reclaimed = w.vacuum("t", retention = java.time.Duration.ZERO)
    assert(reclaimed >= 5, s"vacuum deleted only $reclaimed files")
    // after vacuum only the current version's files and manifest remain
    val dir = Paths.get(w.root, "t")
    assert(TxnLog.versions(dir).size == 1)
    assert(TxnLog.listParquet(dir, dir).toSet ==
      w.currentFiles("t").toSet)
    assert(w.read("t").count() == 50)
  }

  test("uncommitted transaction data is invisible to readers and the catalog") {
    val w = Warehouse(spark, tmpDir("at3-wh"))
    w.load("t", hits("2026-01-01", 3), SinkPolicy.Append)
    // simulate a writer that crashed after writing files, before commit
    val orphan = Paths.get(w.root, "t", "data", "txn-crashed")
    hits("2026-01-09", 50).write.parquet(orphan.toString)
    assert(w.read("t").count() == 3)
    assert(w.catalog.lastModifiedDate("t").isDefined)
    // vacuum reclaims the orphaned files (forced retention: this test's
    // orphans are seconds old)
    assert(w.vacuum("t", retention = java.time.Duration.ZERO) >= 1)
    assert(!Files.exists(orphan))
    assert(w.read("t").count() == 3)
  }

  test("a crashed FIRST commit's txn-prefixed orphans stay invisible (no-manifest path)") {
    val root = tmpDir("at10-wh")
    val w = Warehouse(spark, root)
    val dir = Paths.get(root, "t")
    // production crash shape: files already slotted into their final
    // txn-prefixed names, but no manifest was ever committed
    Files.createDirectories(dir.resolve("data"))
    hits("2026-01-01", 7).coalesce(1).write.parquet(s"$root/.tmp-orphan")
    val part = TxnLog.listParquet(Paths.get(root, ".tmp-orphan"),
      Paths.get(root, ".tmp-orphan")).head
    Files.move(Paths.get(root, ".tmp-orphan", part),
      dir.resolve(s"data/deadbeef-$part"))
    // invisible everywhere: catalog, read, and the next load
    assert(!w.catalog.tableExists("t"))
    intercept[IllegalArgumentException](w.read("t"))
    w.load("t", hits("2026-01-02", 2), SinkPolicy.Append)
    assert(w.read("t").count() == 2) // the orphan's 7 rows were NOT read
  }

  test("vacuum on a manifest-less table reclaims crash orphans but never legacy data") {
    val root = tmpDir("at11-wh")
    val w = Warehouse(spark, root)
    val dir = Paths.get(root, "t")
    // an external writer's parquet + a crashed first commit's orphan
    hits("2026-01-01", 4).coalesce(1).write.parquet(dir.toString)
    val external = TxnLog.listParquet(dir, dir)
    hits("2026-01-02", 3).coalesce(1).write.parquet(s"$root/.tmp-o")
    val part = TxnLog.listParquet(Paths.get(root, ".tmp-o"),
      Paths.get(root, ".tmp-o")).head
    Files.createDirectories(dir.resolve("data"))
    Files.move(Paths.get(root, ".tmp-o", part),
      dir.resolve(s"data/deadbeef-$part"))
    // reclaims the orphan (and dot-prefixed checksum droppings — Hadoop
    // simply skips verification when a .crc is absent), never the data
    assert(w.vacuum("t", retention = java.time.Duration.ZERO) >= 1)
    assert(!Files.exists(dir.resolve(s"data/deadbeef-$part")))
    // the external file survives, and a directory without a log is no table
    assert(external.nonEmpty && TxnLog.listParquet(dir, dir) == external)
    assert(!w.catalog.tableExists("t"))
    intercept[IllegalArgumentException](w.read("t"))
  }

  test("a crash before an upsert's or a compaction's manifest commit leaves the table unchanged") {
    val w = Warehouse(spark, tmpDir("at13-wh"))
    (1 to 3).foreach(i => w.load("t", hits(f"2026-01-$i%02d", 4), SinkPolicy.Append))
    val dir = Paths.get(w.root, "t")
    def rows = w.read("t").collect().map(_.toString).sorted.toSeq
    val (head, before, files) = (TxnLog.current(dir).get.version, rows, w.currentFiles("t"))
    val writes = Seq[(String, () => Any)](
      "upsert" -> (() => w.upsert("t", hits("2026-01-05", 2), Seq("user"))),
      "compact" -> (() => w.compact("t")))
    CrashHooks.beforeManifestCommit = t => throw new RuntimeException(s"injected crash on $t")
    try writes.foreach { case (what, write) =>
      val left = TxnLog.listParquet(dir, dir).size
      assert(intercept[RuntimeException](write()).getMessage == "injected crash on t", what)
      // the write's files are on disk, and nothing lists them
      assert(TxnLog.listParquet(dir, dir).size > left, what)
      assert(TxnLog.current(dir).get.version == head, what)
      assert(w.currentFiles("t") == files, what)
      assert(rows == before, what)
    } finally CrashHooks.reset()
    assert(w.vacuum("t", retention = java.time.Duration.ZERO) >= 2)
    assert(TxnLog.listParquet(dir, dir).toSet == files.toSet)
  }

  test("default-retention vacuum keeps every file a retained manifest references") {
    val w = Warehouse(spark, tmpDir("at12-wh"))
    w.load("t", hits("2026-01-01", 5), SinkPolicy.Overwrite)
    val pinned = w.read("t")
    w.load("t", hits("2026-01-02", 2), SinkPolicy.Overwrite)
    // v1's manifest is inside the (default 24h) retention window, so its
    // files must survive even though the current manifest dropped them —
    // the pinned reader and readVersion(1) both still resolve
    assert(w.vacuum("t") == 0)
    assert(pinned.count() == 5)
    assert(w.readVersion("t", 1).count() == 5)
  }

  test("mergeRewrite: concurrent appends merge, concurrent removals conflict") {
    val rewritten = Seq("data/a1.parquet", "data/a2.parquet")
    val out = Seq("data/c1.parquet")
    // no concurrent commit: rewrite replaces its snapshot exactly
    assert(TxnLog.mergeRewrite(rewritten, rewritten, out).contains(out))
    // concurrent APPEND: the appended file rides along with the rewrite
    assert(TxnLog.mergeRewrite(rewritten,
      rewritten :+ "data/b1.parquet", out)
      .contains(Seq("data/b1.parquet") ++ out))
    // concurrent REMOVAL of a rewritten file (re-land/overwrite): the
    // rewrite would resurrect deleted rows — must be refused
    assert(TxnLog.mergeRewrite(rewritten,
      Seq("data/a1.parquet", "data/b1.parquet"), out).isEmpty)
  }

  test("a version number cannot be committed twice; first committer wins") {
    val dir = Paths.get(tmpDir("at4-log"))
    val first = Manifest(1L, Seq.empty, Seq("data/a/f1.parquet"))
    val second = Manifest(1L, Seq.empty, Seq("data/b/f2.parquet"))
    assert(TxnLog.tryCommit(dir, first))
    assert(!TxnLog.tryCommit(dir, second)) // EEXIST → loser must retry
    assert(TxnLog.current(dir).get.files == Seq("data/a/f1.parquet"))
    // the retry path: commit() rebuilds against current and lands v2
    val m = TxnLog.commit(dir) { cur =>
      ManifestData(Seq.empty, cur.get.files :+ "data/b/f2.parquet")
    }
    assert(m.version == 2L)
    assert(TxnLog.current(dir).get.files ==
      Seq("data/a/f1.parquet", "data/b/f2.parquet"))
  }

  test("overwrite leaves a pinned reader on the old version until vacuum") {
    val w = Warehouse(spark, tmpDir("at6-wh"))
    w.load("t", hits("2026-01-01", 5), SinkPolicy.Overwrite)
    val pinned = w.read("t")
    w.load("t", hits("2026-01-02", 2), SinkPolicy.Overwrite)
    assert(pinned.count() == 5)
    assert(w.read("t").count() == 2)
  }

  test("time travel: any committed version stays readable until vacuum") {
    val w = Warehouse(spark, tmpDir("at8-wh"))
    w.load("t", hits("2026-01-01", 3), SinkPolicy.Append)
    w.load("t", hits("2026-01-02", 2), SinkPolicy.Append)
    w.load("t", hits("2026-02-01", 1), SinkPolicy.Overwrite)
    val h = w.history("t")
    assert(h.map(_.version) == Seq(1L, 2L, 3L))
    assert(w.readVersion("t", 1).count() == 3)
    assert(w.readVersion("t", 2).count() == 5)
    assert(w.readVersion("t", 3).count() == 1)
    assert(w.read("t").count() == 1) // current == latest version
  }

  test("a replayed writer txn id is recognized and not landed twice") {
    val w = Warehouse(spark, tmpDir("at9-wh"))
    val r1 = w.load("t", hits("2026-01-01", 4), SinkPolicy.Append,
      txnId = Some("pipe:0"))
    assert(r1.rows == 4)
    // crash-replay of the same micro-batch: same txn id, must be a no-op
    val r2 = w.load("t", hits("2026-01-01", 4), SinkPolicy.Append,
      txnId = Some("pipe:0"))
    assert(r2.action == "skipped-duplicate-txn")
    assert(w.read("t").count() == 4)
    assert(w.history("t").flatMap(_.txnId) == Seq("pipe:0"))
    // the next batch id lands normally
    w.load("t", hits("2026-01-02", 2), SinkPolicy.Append, txnId = Some("pipe:1"))
    assert(w.read("t").count() == 6)
  }

  test("a skipped empty batch leaves no table, no ghost dir, no manifest") {
    val w = Warehouse(spark, tmpDir("at7-wh"))
    val r = w.load("t", hits("2026-01-01", 1).limit(0), SinkPolicy.Append)
    assert(r.action == "skipped-empty")
    assert(!w.catalog.tableExists("t"))
    assert(w.catalog.listTables().isEmpty)
  }
}
