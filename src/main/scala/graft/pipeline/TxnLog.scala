package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.types.{DataType, StructType}

/** The read schema a version records: exactly what a `mergeSchema`
  * read of its whole file list infers (data columns, then the
  * path-inferred partition columns, all nullable). `uniform` holds when
  * every file carries exactly the data columns of `read` — then any
  * SUBSET of the files reads with the same data columns too; a version
  * whose files differ (field addition) only vouches for the whole list. */
final case class TableSchema(read: StructType, uniform: Boolean)

/** One committed table version: the ordered list of data files (paths
  * relative to the table directory) that constitute the table, the
  * partition-column chain its layout is keyed by, — for commits made
  * by an idempotent writer (streaming micro-batches) — the writer
  * transaction id `app:batchId` that produced it, the table's
  * ZONE-MAP columns with per-file min/max values (as cast-to-string,
  * cast-back-exactly values, one pair per stats column in `statsCols`
  * order; files without an entry are never pruned), and the version's
  * recorded read schema (None: readers infer it from the files). */
final case class Manifest(version: Long, partitionCols: Seq[String],
                          files: Seq[String],
                          txnId: Option[String] = None,
                          statsCols: Seq[String] = Seq.empty,
                          fileStats: Map[String, Seq[(String, String)]] = Map.empty,
                          schema: Option[TableSchema] = None)

/** What a commit publishes (everything of a [[Manifest]] but the version,
  * which the log assigns). */
final case class ManifestData(partitionCols: Seq[String],
                              files: Seq[String],
                              statsCols: Seq[String] = Seq.empty,
                              fileStats: Map[String, Seq[(String, String)]] = Map.empty,
                              schema: Option[TableSchema] = None)

/** Minimal versioned-manifest commit log — the atomicity layer under
  * [[Warehouse]]. The reference lands batches through BigQuery load jobs,
  * which are atomic by service contract
  * (`functions/utils/datasources.py:55-58`, blocking `.result()`); a
  * path-addressed parquet warehouse has no such contract, so this module
  * supplies it the way Delta/Iceberg do, scaled down to one file:
  *
  *   - data files are IMMUTABLE and write-once: `col=value` partition
  *     dirs directly under the table root (or `data/` when
  *     unpartitioned), every file name carrying its writer's txn prefix
  *     (`<hex8>-part-…`) so writers never collide
  *   - each commit is one manifest file `<table>/_log/v<N>.manifest`
  *     listing every file of the new version — published with an atomic
  *     link(2), so a manifest is either absent or complete, never partial
  *   - readers resolve the HIGHEST manifest once and pin its file list:
  *     a concurrent commit (append, re-land, overwrite, compaction) never
  *     changes what an in-flight reader sees, because nothing a manifest
  *     references is ever rewritten in place, and nothing is deleted
  *     outside an explicit [[Warehouse.vacuum]]
  *   - writers race on the version number: creating `v<N>.manifest` fails
  *     for all but one committer (EEXIST), and losers rebuild against the
  *     new current version and retry — optimistic concurrency, identical
  *     in shape to Delta's log-contention loop
  *
  * At 100 TB the manifest is O(#files) metadata, never O(data): an append
  * writes only its own parquet files plus one small text file, and
  * compaction swaps file lists without a data-visible intermediate state.
  *
  * == Metadata-plane scalability (deltas + snapshot checkpoints) ==
  *
  * A table at 100 TB can carry millions of data files; rewriting the full
  * list on EVERY commit would make commit cost O(table), not O(change).
  * So manifests come in two kinds (Delta's log design, inverted from its
  * defaults): most commits write a DELTA manifest (`base=<prev>` header;
  * `+path`/`-path` lines — O(files changed)), and every
  * [[SnapshotEvery]]-th version (plus v1, plus any commit whose
  * predecessor is gone) writes a full SNAPSHOT, bounding every reader's
  * resolution chain to < [[SnapshotEvery]] small files. [[Warehouse]]'s
  * vacuum additionally commits an explicit snapshot CHECKPOINT when the
  * head's delta chain blocks log pruning, so a retention-zero vacuum
  * always collapses the log to one self-contained manifest.
  *
  * == Recorded schema (format v4) ==
  *
  * Every v4 manifest carries a `schema=` header: the version's read
  * schema as `StructType.json`, prefixed `uniform ` or `merged ` (see
  * [[TableSchema]]), or empty when none is recorded. Readers plan with
  * it directly — no footer read, no schema-merge job — which is how a
  * catalog serves schemas as metadata (the reference's BigQuery tables,
  * Delta's `metaData` action). [[Warehouse]] derives it at commit time,
  * against the racing head inside the retry loop, without a job:
  *
  *   - CARRY the head's schema when the written data columns equal its
  *     data columns (names, order, types; nullability ignored), the
  *     partition columns and their path-inferred types are unchanged,
  *     and either the head is uniform or no file was removed (a merge
  *     of sorted footers that already yields S still yields S when more
  *     S-shaped files join, wherever they sort);
  *   - when the new version lists ONLY this commit's files (new table,
  *     overwrite, full rewrite), take the writer's data schema plus
  *     Spark's path-only partition inference over the new files;
  *   - otherwise (a shape change, a pre-v4 head) infer ONCE, at commit,
  *     with the same `mergeSchema` read a reader would have run.
  *
  * Mixed-layout versions (flat and `col=value` files together) record
  * nothing: their read is a per-layout union readers keep inferring.
  * v2/v3 manifests stay readable and record nothing either.
  *
  * Driver-memory envelope: the RESOLVED file list (and the zone-map
  * stats) materialize on the driver — ~100 bytes/file, i.e. ~100 MB at a
  * million files, the same metadata-plane envelope Delta accepts. Every
  * read resolves here, zone-map pruning included ([[Warehouse.readBox]]
  * and [[Warehouse.pruneBox]] walk the resolved manifest). Beyond that
  * envelope, compaction ([[Warehouse.compact]]) is the lever: fewer,
  * larger files shrink the manifest itself.
  */
object TxnLog {

  // v2: added the stats= header line; v3: added the base= header line
  // (delta manifests); v4: added the schema= header line. The magic is
  // the FORMAT version — a reader of this code refuses a manifest written
  // by a NEWER format outright instead of misparsing its header lines as
  // file paths; v2 (headerless snapshot form) and v3 files remain
  // readable and record no schema.
  private val MagicV2 = "graft-manifest-v2"
  private val MagicV3 = "graft-manifest-v3"
  private val Magic = "graft-manifest-v4"

  /** Header lines of each readable format, by magic. */
  private def headerLines(magic: String): Option[Int] = magic match {
    case Magic   => Some(6)
    case MagicV3 => Some(5)
    case MagicV2 => Some(4)
    case _       => None
  }

  private def schemaLine(s: Option[TableSchema]): String =
    "schema=" + s.fold("")(t =>
      (if (t.uniform) "uniform " else "merged ") + t.read.json)

  private def parseSchema(line: String, version: Long,
                          tableDir: Path): Option[TableSchema] =
    line.stripPrefix("schema=").split(" ", 2) match {
      case Array("") => None
      case Array(kind @ ("uniform" | "merged"), json) =>
        Some(TableSchema(DataType.fromJson(json).asInstanceOf[StructType],
          kind == "uniform"))
      case _ => throw new IllegalStateException(
        s"corrupt schema= header in v$version of $tableDir")
    }

  private val NameRe = raw"v(\d{12})\.manifest".r

  /** Every Nth version is a full snapshot; versions in between are deltas
    * against their predecessor. Bounds any read's resolution chain. */
  val SnapshotEvery = 10L

  def logDir(tableDir: Path): Path = tableDir.resolve("_log")
  def dataDir(tableDir: Path): Path = tableDir.resolve("data")

  private def manifestPath(tableDir: Path, version: Long): Path =
    logDir(tableDir).resolve(f"v$version%012d.manifest")

  /** Where builds before the text-only log published a parquet
    * checkpoint of a version (a directory). Nothing writes one now;
    * [[deleteVersion]] still reclaims a leftover with its manifest. */
  private[pipeline] def checkpointDir(tableDir: Path, version: Long): Path =
    logDir(tableDir).resolve(f"v$version%012d.checkpoint")

  private def claimPath(tableDir: Path, version: Long): Path =
    logDir(tableDir).resolve(f"v$version%012d.claim")

  /** How long a fallback-path claim may sit unpublished before another
    * committer takes it over as a crashed writer's leftover. */
  private[pipeline] val ClaimGraceMillis = 300000L

  /** All committed versions, ascending (empty if the table has no log). */
  def versions(tableDir: Path): Seq[Long] = {
    val ld = logDir(tableDir)
    if (!Files.isDirectory(ld)) Seq.empty
    else Using.resource(Files.list(ld)) { st =>
      st.iterator().asScala.flatMap(p => p.getFileName.toString match {
        case NameRe(n) => Some(n.toLong)
        case _         => None
      }).toSeq.sorted
    }
  }

  /** The current (highest-version) manifest, if any commit exists. */
  def current(tableDir: Path): Option[Manifest] =
    versions(tableDir).lastOption.map(v => readVersion(tableDir, v))

  /** One manifest file as written: `base` is the predecessor version a
    * DELTA applies to (None = self-contained snapshot); for a delta,
    * `files`/`fileStats` hold only the ADDED entries and `removes` the
    * removed paths. */
  private final case class RawManifest(m: Manifest, base: Option[Long],
                                       removes: Seq[String])

  /** A manifest's HEADER alone — version, partition/stats columns, txn
    * id, the delta base pointer and the recorded schema — readable
    * without touching the body. At a million files a snapshot manifest's
    * body is ~100 MB of text; [[txnCommitted]]'s per-batch replay check
    * must not pay that parse. */
  final case class ManifestHeader(version: Long, partitionCols: Seq[String],
                                  txnId: Option[String],
                                  statsCols: Seq[String], base: Option[Long],
                                  schema: Option[TableSchema])

  private def parseBase(s: String, version: Long, tableDir: Path): Option[Long] =
    s match {
      case "" => None
      case str =>
        val b = try str.toLong catch {
          case _: NumberFormatException => throw new IllegalStateException(
            s"corrupt base= pointer '$str' in v$version of $tableDir")
        }
        require(b < version,
          s"manifest v$version of $tableDir has non-decreasing base=$b")
        Some(b)
    }

  /** Header of one version, reading only the leading lines (O(1) in the
    * file count, unlike [[readVersion]]). */
  def readHeader(tableDir: Path, version: Long): ManifestHeader =
    Using.resource(Files.newBufferedReader(
      manifestPath(tableDir, version), StandardCharsets.UTF_8)) { r =>
      def ln(): String = Option(r.readLine()).getOrElse("")
      val magic = ln()
      val nHeader = headerLines(magic).getOrElse(throw new IllegalArgumentException(
        s"unrecognized manifest header in v$version of $tableDir"))
      val part = ln().stripPrefix("partition=") match {
        case "" => Seq.empty[String]
        case s  => s.split(",").toSeq
      }
      val txn = ln().stripPrefix("txn=") match {
        case "" => None
        case s  => Some(s)
      }
      val stats = ln().stripPrefix("stats=") match {
        case "" => Seq.empty[String]
        case s  => s.split(",").toSeq
      }
      val base =
        if (nHeader < 5) None else parseBase(ln().stripPrefix("base="), version, tableDir)
      val schema =
        if (nHeader < 6) None else parseSchema(ln(), version, tableDir)
      ManifestHeader(version, part, txn, stats, base, schema)
    }

  private def readRaw(tableDir: Path, version: Long): RawManifest = {
    val lines = Files.readAllLines(
      manifestPath(tableDir, version), StandardCharsets.UTF_8).asScala.toSeq
    val nHeader = lines.headOption.flatMap(headerLines).getOrElse(
      throw new IllegalArgumentException(
        s"unrecognized manifest header in v$version of $tableDir"))
    val partitionCols = lines(1).stripPrefix("partition=") match {
      case "" => Seq.empty
      case s  => s.split(",").toSeq
    }
    val txn = lines(2).stripPrefix("txn=") match {
      case "" => None
      case s  => Some(s)
    }
    val statsCols = lines(3).stripPrefix("stats=") match {
      case "" => Seq.empty[String]
      case s  => s.split(",").toSeq
    }
    // the base monotonicity guard in parseBase (base < version) is what
    // makes every chain walk strictly decreasing and thus terminating
    val base =
      if (nHeader < 5) None else parseBase(lines(4).stripPrefix("base="), version, tableDir)
    val schema =
      if (nHeader < 6) None else parseSchema(lines(5), version, tableDir)
    // file lines: `path` or `path\tmin\tmax[\tmin\tmax…]` (one zone-map
    // pair per stats column); in a delta manifest adds are `+`-prefixed
    // and removes `-`-prefixed
    val body = lines.drop(nHeader).filter(_.nonEmpty)
    val (addLines, removeLines) =
      if (base.isEmpty) (body, Seq.empty[String])
      else {
        // every delta body line is `+add` or `-remove`; anything else is
        // truncation/corruption and must fail loudly (same posture as the
        // base= and stats-count guards), not silently drop rows from the
        // resolved file list
        body.find(l => !l.startsWith("+") && !l.startsWith("-")).foreach(l =>
          throw new IllegalStateException(
            s"corrupt delta line '$l' in v$version of $tableDir"))
        (body.filter(_.startsWith("+")).map(_.drop(1)),
         body.filter(_.startsWith("-")).map(_.drop(1)))
      }
    val entries = addLines.map(_.split('\t'))
    val files = entries.map(_.head)
    val stats = entries.collect {
      case a if a.length >= 3 =>
        require((a.length - 1) % 2 == 0,
          s"odd stats field count on '${a.head}' in v$version of $tableDir")
        a.head -> a.tail.grouped(2).map(p => (p(0), p(1))).toSeq
    }.toMap
    RawManifest(
      Manifest(version, partitionCols, files, txn, statsCols, stats, schema),
      base, removeLines)
  }

  /** The raw manifests a read of `version` resolves through, snapshot
    * first. The per-manifest base-monotonicity check in [[readRaw]]
    * makes this walk strictly decreasing, so it always terminates. */
  private def readChain(tableDir: Path, version: Long): List[RawManifest] = {
    var chain = List(readRaw(tableDir, version))
    while (chain.head.base.isDefined)
      chain = readRaw(tableDir, chain.head.base.get) :: chain
    chain
  }

  /** The versions (ascending) whose manifest files a read of `version`
    * resolves through: the nearest snapshot at or below it, then every
    * delta up to it. Always < [[SnapshotEvery]] + 1 entries. */
  def chainVersions(tableDir: Path, version: Long): Seq[Long] =
    readChain(tableDir, version).map(_.m.version)

  /** Resolve a version to its full file list: read back to the nearest
    * snapshot, then fold the delta chain forward (kept files stay in
    * base order; each delta's adds append — exactly the order the
    * writers construct, so resolution reproduces the committed list). */
  def readVersion(tableDir: Path, version: Long): Manifest = {
    val chain = readChain(tableDir, version)
    val folded = chain.tail.foldLeft(chain.head.m) { (acc, d) =>
      val gone = d.removes.toSet
      acc.copy(
        files = acc.files.filterNot(gone) ++ d.m.files,
        fileStats = (acc.fileStats -- gone) ++ d.m.fileStats)
    }
    chain.last.m.copy(files = folded.files, fileStats = folded.fileStats)
  }

  /** Commit time of one version (mtime of its manifest file). */
  def commitTime(tableDir: Path, version: Long): java.time.Instant =
    Files.getLastModifiedTime(manifestPath(tableDir, version)).toInstant

  /** Commit time of the current version. */
  def lastCommitTime(tableDir: Path): Option[java.time.Instant] =
    versions(tableDir).lastOption.map(commitTime(tableDir, _))

  /** Try to publish `m` as version `m.version`. Returns true on success,
    * false if another committer won that version (caller re-resolves the
    * current manifest and retries). Publication is write-temp + fsync +
    * atomic `link(2)` — readers observe either no manifest or the whole
    * manifest, and EEXIST makes version numbers race-free.
    *
    * When `prev` is the resolved predecessor (version `m.version - 1`)
    * and the version isn't on a [[SnapshotEvery]] boundary, the file is
    * written as a DELTA (O(files changed)); otherwise a full snapshot. A
    * kept file whose zone-map stats changed is encoded as remove+add (it
    * re-appends, which may reorder it — sets, which is what every
    * consumer uses, are unaffected). */
  def tryCommit(tableDir: Path, m: Manifest,
                prev: Option[Manifest] = None,
                forceSnapshot: Boolean = false): Boolean = {
    val ld = logDir(tableDir)
    Files.createDirectories(ld)
    def entry(f: String): String = m.fileStats.get(f) match {
      case Some(pairs) if pairs.nonEmpty =>
        (f +: pairs.flatMap(p => Seq(p._1, p._2))).mkString("\t")
      case _ => f
    }
    val asDelta = !forceSnapshot &&
      m.version % SnapshotEvery != 0 && m.version != 1L &&
      prev.exists(_.version == m.version - 1)
    val (baseLine, fileLines) =
      if (!asDelta) ("base=", m.files.map(entry))
      else {
        val p = prev.get
        val nextSet = m.files.toSet
        val prevSet = p.files.toSet
        val statsChanged = p.files.filter(f =>
          nextSet(f) && p.fileStats.get(f) != m.fileStats.get(f)).toSet
        val removes = p.files.filter(f => !nextSet(f) || statsChanged(f))
        val adds = m.files.filter(f => !prevSet(f) || statsChanged(f))
        // a replace-heavy commit (overwrite, re-land, compaction) can make
        // the delta LARGER than a snapshot (every old file a `-`, every new
        // one a `+`) while still lengthening the resolution chain — fall
        // back to a self-contained snapshot when the delta saves nothing
        if (removes.length + adds.length >= m.files.length)
          ("base=", m.files.map(entry))
        else
          (s"base=${p.version}",
            removes.map("-" + _) ++ adds.map(f => "+" + entry(f)))
      }
    val body = (Seq(Magic,
      s"partition=${m.partitionCols.mkString(",")}",
      s"txn=${m.txnId.getOrElse("")}",
      s"stats=${m.statsCols.mkString(",")}",
      baseLine,
      schemaLine(m.schema)) ++
      fileLines).mkString("\n")
    val tmp = Files.createTempFile(ld, ".tmp-", ".manifest")
    try {
      Using.resource(java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.WRITE)) { ch =>
        ch.write(java.nio.ByteBuffer.wrap(body.getBytes(StandardCharsets.UTF_8)))
        ch.force(true) // durable before it can become visible
      }
      try { Files.createLink(manifestPath(tableDir, m.version), tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // hard links are a LOCAL-POSIX feature; object-store FUSE mounts,
        // exFAT, and some NFS configs refuse them — fall back to the
        // claim-then-move protocol with the same observable contract
        case _: UnsupportedOperationException =>
          publishWithoutLink(tableDir, m.version, tmp)
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Fallback publication for filesystems WITHOUT hard links: atomically
    * CLAIM the version by creating `v<N>.claim` with create-exclusive
    * semantics (single winner, same EEXIST race-resolution as link(2)),
    * then move the fsynced temp onto the manifest name. Readers resolve
    * only `.manifest` names, so the claim file is invisible to them and
    * the manifest still appears all-at-once where ATOMIC_MOVE is
    * supported. A claim whose writer crashed before publishing is taken
    * over after [[ClaimGraceMillis]]; the residual hazard — a live writer
    * pausing longer than the grace mid-commit and then racing its
    * usurper — is documented and accepted, matching the pragmatics of
    * commit protocols on rename-only stores. */
  private[pipeline] def publishWithoutLink(tableDir: Path, version: Long,
                                           tmp: Path): Boolean = {
    val target = manifestPath(tableDir, version)
    if (Files.exists(target)) return false
    val claim = claimPath(tableDir, version)
    if (Files.exists(claim) && System.currentTimeMillis() -
        Files.getLastModifiedTime(claim).toMillis > ClaimGraceMillis)
      Files.deleteIfExists(claim) // crashed claimant: manifest never appeared
    try Files.createFile(claim)
    catch { case _: java.nio.file.FileAlreadyExistsException => return false }
    if (Files.exists(target)) return false // claimant of a replayed version
    try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // the claim already guarantees a single writer; non-atomic
        // visibility is the floor such a filesystem can offer
        Files.move(tmp, target)
    }
    true
  }

  /** Commit loop: rebuild the manifest against the latest committed state
    * until the publish wins. `build` receives the current manifest (None
    * for a first commit) and returns the next version's content (its
    * schema included: derived against THIS head, never a stale one). Returns the committed manifest. `forceSnapshot` makes the
    * committed manifest self-contained regardless of the
    * [[SnapshotEvery]] cadence — vacuum's checkpoint lever. */
  def commit(tableDir: Path, txnId: Option[String] = None,
             forceSnapshot: Boolean = false)
            (build: Option[Manifest] => ManifestData): Manifest = {
    var committed: Option[Manifest] = None
    while (committed.isEmpty) {
      val cur = current(tableDir)
      val d = build(cur)
      val present = d.files.toSet
      val next = Manifest(cur.map(_.version + 1).getOrElse(1L),
        d.partitionCols, d.files, txnId, d.statsCols,
        // never carry stats for files not in this version
        d.fileStats.filter(kv => present(kv._1)), d.schema)
      if (tryCommit(tableDir, next, cur, forceSnapshot))
        committed = Some(next)
    }
    committed.get
  }

  /** Has a writer transaction id already been committed? Walks the log
    * newest-first — an idempotent writer (streaming micro-batch replay
    * after a crash) calls this to skip a batch that already landed.
    * O(retained versions) HEADER reads (no chain resolution); vacuum
    * keeps the walk short. */
  def txnCommitted(tableDir: Path, txnId: String): Boolean =
    versions(tableDir).reverse.exists(v =>
      readHeader(tableDir, v).txnId.contains(txnId))

  /** Drop one superseded manifest (vacuum's log-pruning half), plus any
    * fallback-path claim file and older builds' parquet checkpoint it
    * left behind. */
  def deleteVersion(tableDir: Path, version: Long): Unit = {
    Files.deleteIfExists(manifestPath(tableDir, version))
    Files.deleteIfExists(claimPath(tableDir, version))
    val ckpt = checkpointDir(tableDir, version)
    if (Files.isDirectory(ckpt))
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
  }

  /** The `col=value` directory segments of a relative file path — the
    * partition identity used for dynamic-partition replacement. */
  def partitionSegments(relPath: String): Seq[String] =
    relPath.split('/').dropRight(1).filter(_.matches("[^=/]+=[^/]*")).toSeq

  /** All parquet files under `dir`, as paths relative to `tableDir`,
    * sorted for deterministic manifests. */
  def listParquet(tableDir: Path, dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => tableDir.relativize(p).toString).toSeq.sorted
    }

  /** Could this relative path be a crashed pre-commit writer's leftover?
    * True for in-progress staging dirs (dot-prefixed) and txn-prefixed
    * file names — everything the commit protocol writes before a
    * manifest references it. Legacy adoption, legacy reads, and catalog
    * existence checks must all skip these, or an uncommitted write
    * becomes visible through the no-manifest fallback path. */
  def isUncommittedArtifact(relPath: String): Boolean = {
    val segs = relPath.split('/')
    // the full shape our writer produces — `<hex8>-part-…` — not any
    // 8-leading-hex name (a date-stamped external file like
    // `20260131-batch.parquet` must still count as legacy data)
    segs.exists(_.startsWith(".")) || segs.last.matches("^[0-9a-f]{8}-part-.*")
  }

  /** The pre-manifest (externally written) data files of a table dir:
    * every parquet file that is NOT a commit-protocol artifact. */
  def legacyFiles(tableDir: Path): Seq[String] =
    listParquet(tableDir, tableDir).filterNot(isUncommittedArtifact)

  /** Merge a REWRITE (compaction) into a log head it may have raced
    * with: `rewritten` are the files the rewrite consumed, `cur` the
    * current head's files, `newFiles` the rewrite's output. Commits that
    * only ADDED files since the rewrite's snapshot merge cleanly (their
    * files are kept alongside the rewrite); if any rewritten file was
    * REMOVED concurrently (a re-land, overwrite, or second compaction),
    * the rewrite's output would resurrect deleted rows — that is a true
    * conflict and returns None (caller aborts and re-runs). Pure and
    * unit-tested; this is what keeps an optimistic compact from
    * silently discarding a concurrent append (lost update). */
  def mergeRewrite(rewritten: Seq[String], cur: Seq[String],
                   newFiles: Seq[String]): Option[Seq[String]] = {
    val rw = rewritten.toSet
    if (rw.subsetOf(cur.toSet)) Some(cur.filterNot(rw) ++ newFiles)
    else None
  }
}
