package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** How a batch lands in its target table — the reference's write
  * dispositions re-expressed for a parquet warehouse:
  *
  *   - [[SinkPolicy.Append]]: `WRITE_APPEND` + `ALLOW_FIELD_ADDITION`
  *     (`functions/utils/datasources.py:55-59,554-563,754-767,799-805`).
  *     New columns are allowed; the commit records the widened schema
  *     (inferred once, with `mergeSchema`) and readers plan with it.
  *   - [[SinkPolicy.Overwrite]]: truncate-replace (`WRITE_TRUNCATE`,
  *     `datasources.py:362-366,440-444`). The reference truncates twice
  *     (explicit `TRUNCATE TABLE` + `WRITE_TRUNCATE`, SURVEY §4.1) — here
  *     a single atomic manifest swap.
  *   - [[SinkPolicy.RelandByDate]]: delete-by-date idempotent re-land
  *     (`DELETE FROM t WHERE Date='{overwrite}'` then append,
  *     `datasources.py:50-53`). Implemented as dynamic partition
  *     replacement at the manifest level: only the partitions present in
  *     the incoming batch are swapped out of the file list, which is both
  *     the idempotency delete and the append in ONE atomic commit — and
  *     the only shape of this operation that scales (a predicate delete
  *     that rewrites a 100 TB unpartitioned table per re-land does not).
  */
object Warehouse {
  /** Default ceiling on how many data files one [[Warehouse.upsert]] may
    * rewrite: bounds BOTH the probe's driver-side path collect and the
    * copy-on-write rewrite volume. 100k files ≈ 10 MB of collected
    * paths — inside the metadata envelope [[TxnLog]] documents; a merge
    * wider than that should be an explicit overwrite or be preceded by
    * compaction. */
  val DefaultMaxRewriteFiles: Int = 100000
}

sealed trait SinkPolicy
object SinkPolicy {
  case object Append extends SinkPolicy
  case object Overwrite extends SinkPolicy
  /** @param dateCol partition column the re-land is keyed by */
  final case class RelandByDate(dateCol: String) extends SinkPolicy
}

/** One landed batch, for the pipeline run report. */
final case class LoadResult(source: String, action: String, rows: Long)

/** Crash-injection points for the exactly-once landing protocol's fault
  * evidence (StreamFaultDemo / StreamCrashSpec): [[Warehouse.load]]
  * invokes these at the two windows a driver death must be recoverable
  * from — after the transaction-directory DATA write but before the
  * MANIFEST commit (bytes on disk, nothing visible), and after the
  * commit but before the caller's streaming checkpoint advances (batch
  * visible, source will re-deliver it). Both default to no-ops and are
  * never set outside fault tests. */
private[graft] object CrashHooks {
  @volatile var beforeManifestCommit: String => Unit = _ => ()
  @volatile var afterCommit: String => Unit = _ => ()
  def reset(): Unit = { beforeManifestCommit = _ => (); afterCommit = _ => () }
}

/** One entry of a table's commit history ([[Warehouse.history]]). */
final case class CommitInfo(version: Long, committedAt: java.time.Instant,
                            nFiles: Int, txnId: Option[String])

/** A parquet warehouse rooted at `root`: land/read/catalog in one place,
  * with ATOMIC commits via a versioned-manifest log (see [[TxnLog]]).
  *
  * Every mutation — append, truncate-replace, re-land, compaction —
  * writes immutable txn-prefixed files (staged hidden, slotted into
  * partition dirs or `data/`) and then publishes one manifest; a reader
  * resolves the manifest once and is
  * pinned to that snapshot, so it sees the table before the commit or
  * after it, never a mix. This is the engine-side equivalent of the
  * reference's atomic BigQuery load jobs (`datasources.py:55-58`).
  *
  * Fixes two reference quirks deliberately (SURVEY §4.1): sink errors
  * SURFACE (the reference's idempotency `DELETE` was fire-and-forget with
  * no `.result()`, silently swallowing failures — here every write is
  * synchronous and throws, and a failed write never commits a manifest),
  * and the delete-by-date only ever fires for an explicitly re-landed
  * batch (the reference could issue `DELETE ... WHERE Date='None'` on
  * normal runs).
  */
final case class Warehouse(spark: SparkSession, root: String) {

  val catalog: Catalog = Catalog(root)

  private def tableDir(table: String): Path = Paths.get(root, table)

  /** Read the current committed snapshot of a table. The file list is
    * resolved ONCE, here — the returned DataFrame keeps answering from
    * this version even if commits land (or compaction rewrites files)
    * while it is being consumed. The version's recorded schema (see
    * [[TxnLog]]) carries column additions from later appends — the
    * read-side half of `ALLOW_FIELD_ADDITION` — so planning the read
    * starts no job. Tables written by pre-manifest layouts are still
    * readable (plain directory scan, schema inferred). */
  def read(table: String): DataFrame = {
    val dir = tableDir(table)
    TxnLog.current(dir) match {
      case Some(m) => readSnapshot(dir, table, m.version, m.files, schemaFor(m, m.files))
      case None =>
        // pre-manifest layout: read only files an external writer left —
        // never a crashed commit's txn-prefixed orphans (those are
        // uncommitted and must stay invisible until vacuum)
        val legacy = TxnLog.legacyFiles(dir)
        require(legacy.nonEmpty, s"no such table: $table (no committed "
          + s"manifest and no legacy parquet under $dir)")
        readSnapshot(dir, table, 0L, legacy)
    }
  }

  /** The data files (table-relative) of the current version — the unit
    * tests' and operators' window into what a snapshot contains. */
  def currentFiles(table: String): Seq[String] =
    TxnLog.current(tableDir(table)).map(_.files).getOrElse(Seq.empty)

  /** The current committed manifest version, if any — the snapshot
    * anchor incremental consumers pair with [[readVersion]] /
    * [[readAppendedBetween]] (one manifest stat, no data read). */
  def currentVersion(table: String): Option[Long] =
    TxnLog.current(tableDir(table)).map(_.version)

  /** TIME TRAVEL: read a specific committed version — free with the
    * manifest log (every version is just a file list), valid until
    * [[vacuum]] reclaims the files it references. The debugging/audit
    * primitive the reference's BigQuery tables got from snapshot decorators. */
  def readVersion(table: String, version: Long): DataFrame = {
    val dir = tableDir(table)
    val m = TxnLog.readVersion(dir, version)
    readSnapshot(dir, table, version, m.files, schemaFor(m, m.files))
  }

  /** ZONE-MAP pruned range read: resolve the current snapshot, drop every
    * file whose recorded [min, max] on the table's stats column cannot
    * intersect [lo, hi], scan only the survivors, and apply the exact
    * predicate as a residual filter. Files without stats (landed before
    * the stats column was declared, or all-NULL) are never pruned. This
    * is file skipping on a NON-partition column — at 100 TB a point/range
    * query on an append-ordered column (timestamps, monotonic ids) opens
    * a handful of files instead of the table. `lo`/`hi` are literal
    * strings cast to the column's type, exactly as the stats were
    * recorded (cast-to-string round-trips losslessly for numeric, date,
    * and timestamp types). */
  def readBetween(table: String, column: String,
                  lo: String, hi: String): DataFrame =
    readBox(table, Seq((column, lo, hi)))

  /** Multi-column zone-map read: a file survives only if EVERY
    * (column, lo, hi) range intersects its recorded [min, max] — the
    * compound-predicate payoff of declaring several `statsCols` (a
    * time-and-key box query opens the files in the intersection, not
    * the union). Pruning stays pure driver-side manifest arithmetic;
    * the probe file's schema is resolved ONCE for all columns.
    *
    * `parts` adds PARTITION-IDENTITY pruning: `(column, value)`
    * equalities on the table's partition columns, composed with the
    * zone maps in the SAME pruning pass (partition ∩ zone-map — the
    * survivors are the files inside the named partitions whose ranges
    * also intersect). Values are the `col=value` path-segment form the
    * writer produced. A file without the partition segment (landed
    * before the column partitioned the table) is never pruned — the
    * residual predicate still filters its rows. */
  def readBox(table: String,
              ranges: Seq[(String, String, String)],
              parts: Seq[(String, String)] = Nil): DataFrame = {
    require(ranges.nonEmpty || parts.nonEmpty,
      "readBox needs at least one (column, lo, hi) range or (column, value) partition")
    val dir = tableDir(table)
    val head = TxnLog.versions(dir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    distributedManifest(dir, head) match {
      case Some(meta) => readBoxDistributed(dir, table, head, meta, ranges, parts)
      case None       => readBoxDriver(dir, table, ranges, parts)
    }
  }

  /** Does `f`'s partition identity admit every `(column, value)`
    * equality? Missing segments admit anything (see [[readBox]]). */
  private def partMatches(f: String, parts: Seq[(String, String)]): Boolean =
    parts.forall { case (c, v) =>
      TxnLog.partitionSegments(f).find(_.startsWith(c + "="))
        .forall(_ == s"$c=$v")
    }

  /** Driver-side pruning (tables whose chain has no parquet checkpoint):
    * manifest-string comparison over the resolved text manifest. At
    * ~10^6 files this is the ~100 MB-envelope path the checkpoint form
    * exists to supersede; below that it is the cheaper one (no job). */
  private def readBoxDriver(dir: Path, table: String,
      ranges: Seq[(String, String, String)],
      parts: Seq[(String, String)]): DataFrame = {
    val m = TxnLog.current(dir).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    parts.foreach { case (c, _) =>
      require(m.partitionCols.contains(c),
        s"$table is not partitioned by $c (partition columns: ${m.partitionCols.mkString(",")})")
    }
    val pFiles = m.files.filter(partMatches(_, parts))
    val survivors =
      if (ranges.isEmpty) pFiles.toSet
      else {
        val schema = probeSchema(dir, table, m)
        ranges
          .map { case (c, lo, hi) =>
            prunedFiles(m, table, c, lo, hi, schema(c).dataType).toSet
          }
          .reduce(_ intersect _)
          .intersect(pFiles.toSet)
      }
    // pruning everything is a legitimate answer (query range outside every
    // file's [min,max]): the result is an EMPTY frame with the table
    // schema, not a failed read. The residual predicate is built from the
    // READ frame's schema — partition columns exist only there (they are
    // directory segments, not footer columns).
    val files = if (survivors.isEmpty) m.files else m.files.filter(survivors)
    val all = readSnapshot(dir, table, m.version, files, schemaFor(m, files))
    val out = if (survivors.isEmpty) all.limit(0) else all
    out.where(boxPartsPred(ranges, parts, out.schema))
  }

  /** DISTRIBUTED pruning: zone-map file skipping evaluated as a
    * DataFrame filter over the parquet checkpoint (+ folded deltas) in
    * executors — the driver materializes only the SURVIVING paths, never
    * the full file list or its stats. This is what keeps a box query's
    * metadata cost bounded at ~10^6-file tables. Same semantics as
    * [[readBoxDriver]]: a file without stats for a ranged column is
    * never pruned; comparisons are typed via cast (the stats strings are
    * the documented lossless round-trip forms). */
  private def readBoxDistributed(dir: Path, table: String, head: Long,
      meta: DataFrame, ranges: Seq[(String, String, String)],
      parts: Seq[(String, String)]): DataFrame = {
    val hdr = TxnLog.readHeader(dir, head)
    ranges.foreach { case (c, _, _) =>
      require(hdr.statsCols.contains(c),
        s"$table carries no zone map for $c (stats columns: ${hdr.statsCols.mkString(",")})")
    }
    parts.foreach { case (c, _) =>
      require(hdr.partitionCols.contains(c),
        s"$table is not partitioned by $c (partition columns: ${hdr.partitionCols.mkString(",")})")
    }
    val sub = schemaFor(hdr.partitionCols, hdr.schema, whole = false)
    // partition-identity pruning composes with the zone maps INSIDE the
    // same executor-side filter: the checkpoint row's `partition` map is
    // the file's col=value identity, and a partition equality becomes
    // one more conjunct next to the range intersections — one metadata
    // job either way
    val metaP =
      if (parts.isEmpty) meta
      else meta.filter(parts.map { case (c, v) =>
        val p = try_element_at(col("partition"), lit(c))
        p.isNull || p === lit(v)
      }.reduce(_ && _))
    // probe-file schema: a file carrying stats for every ranged column
    // certainly carries the columns themselves (schema-evolution-safe,
    // same rationale as [[probeSchema]])
    val withStats =
      if (ranges.isEmpty) lit(true)
      else ranges.map { case (c, _, _) =>
        map_contains_key(col("mins"), lit(c)) }.reduce(_ && _)
    metaP.filter(withStats).select("path")
      .head(1).headOption.map(_.getString(0)) match {
      case None =>
        // no partition survivor carries stats for the ranged columns —
        // zone pruning is impossible, but the partition prune still
        // holds; scan its survivors with the residual predicate
        val paths = metaP.select("path").collect().map(_.getString(0)).toSeq
        val out =
          if (paths.isEmpty) {
            val m = TxnLog.readVersion(dir, head)
            readSnapshot(dir, table, head, m.files, schemaFor(m, m.files)).limit(0)
          } else readSnapshot(dir, table, head, paths, sub)
        out.where(boxPartsPred(ranges, parts, out.schema))
      case Some(pf) =>
        val schema = readSnapshot(dir, table, head, Seq(pf), sub).schema
        val survive =
          if (ranges.isEmpty) lit(true)
          else ranges.map { case (c, lo, hi) =>
            val dt = schema(c).dataType
            val mn = try_element_at(col("mins"), lit(c)).cast(dt)
            val mx = try_element_at(col("maxs"), lit(c)).cast(dt)
            mn.isNull || (mn <= lit(hi).cast(dt) && mx >= lit(lo).cast(dt))
          }.reduce(_ && _)
        val survivors = metaP.filter(survive)
          .select("path").collect().map(_.getString(0)).toSeq
        val pred = boxPartsPred(ranges, parts, schema)
        if (survivors.isEmpty)
          readSnapshot(dir, table, head, Seq(pf), sub).limit(0).where(pred)
        else readSnapshot(dir, table, head, survivors, sub).where(pred)
    }
  }

  /** Surviving file paths of a box query, distributed when the chain has
    * a checkpoint — the introspection/benchmark window into the pruning
    * half of [[readBox]]. `types` preempts the probe-file schema read
    * when the caller already knows the ranged columns' types. */
  def pruneBox(table: String, ranges: Seq[(String, String, String)],
               types: Map[String, org.apache.spark.sql.types.DataType] =
                 Map.empty,
               parts: Seq[(String, String)] = Nil): Seq[String] = {
    require(ranges.nonEmpty || parts.nonEmpty,
      "pruneBox needs at least one (column, lo, hi) range or (column, value) partition")
    val dir = tableDir(table)
    val head = TxnLog.versions(dir).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    distributedManifest(dir, head) match {
      case Some(meta) =>
        val hdr = TxnLog.readHeader(dir, head)
        ranges.foreach { case (c, _, _) =>
          require(hdr.statsCols.contains(c),
            s"$table carries no zone map for $c (stats columns: ${hdr.statsCols.mkString(",")})")
        }
        parts.foreach { case (c, _) =>
          require(hdr.partitionCols.contains(c),
            s"$table is not partitioned by $c (partition columns: ${hdr.partitionCols.mkString(",")})")
        }
        // partition ∩ zone-map in ONE executor-side filter (see
        // readBoxDistributed)
        val metaP =
          if (parts.isEmpty) meta
          else meta.filter(parts.map { case (c, v) =>
            val p = try_element_at(col("partition"), lit(c))
            p.isNull || p === lit(v)
          }.reduce(_ && _))
        val needProbe = ranges.exists { case (c, _, _) => !types.contains(c) }
        val probedSchema =
          if (!needProbe) None
          else {
            val withStats = ranges.map { case (c, _, _) =>
              map_contains_key(col("mins"), lit(c)) }.reduce(_ && _)
            metaP.filter(withStats).select("path")
              .head(1).headOption.map(_.getString(0))
              .map(f => readSnapshot(dir, table, head, Seq(f),
                schemaFor(hdr.partitionCols, hdr.schema, whole = false)).schema)
          }
        if (needProbe && probedSchema.isEmpty)
          // no partition survivor carries stats for the ranged columns
          // (and the caller supplied no types): zone pruning is
          // impossible — the partition prune still applies
          metaP.select("path").collect().map(_.getString(0)).toSeq
        else {
          def dt(c: String) = types.getOrElse(c, probedSchema.get(c).dataType)
          val survive =
            if (ranges.isEmpty) lit(true)
            else ranges.map { case (c, lo, hi) =>
              val t = dt(c)
              val mn = try_element_at(col("mins"), lit(c)).cast(t)
              val mx = try_element_at(col("maxs"), lit(c)).cast(t)
              mn.isNull || (mn <= lit(hi).cast(t) && mx >= lit(lo).cast(t))
            }.reduce(_ && _)
          metaP.filter(survive).select("path").collect().map(_.getString(0)).toSeq
        }
      case None =>
        val m = TxnLog.current(dir).get
        parts.foreach { case (c, _) =>
          require(m.partitionCols.contains(c),
            s"$table is not partitioned by $c (partition columns: ${m.partitionCols.mkString(",")})")
        }
        val pFiles = m.files.filter(partMatches(_, parts))
        if (ranges.isEmpty) pFiles
        else {
          // the probe-file footer read only happens when the caller did
          // not already supply every ranged column's type
          lazy val schema = probeSchema(dir, table, m)
          val surviving = ranges.map { case (c, lo, hi) =>
            prunedFiles(m, table, c, lo, hi,
              types.getOrElse(c, schema(c).dataType)).toSet
          }.reduce(_ intersect _)
          pFiles.filter(surviving.contains)
        }
    }
  }

  /** Exact residual predicate of a box-and-partition read: range
    * conjuncts plus partition equalities, each typed via the read
    * frame's schema (partition columns only exist there — they are
    * directory segments, not footer columns). */
  private def boxPartsPred(ranges: Seq[(String, String, String)],
      parts: Seq[(String, String)],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column = {
    val rs = ranges.map { case (c, lo, hi) =>
      val dt = schema(c).dataType
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
    }
    val ps = parts.map { case (c, v) =>
      col(c) === lit(v).cast(schema(c).dataType)
    }
    (rs ++ ps).reduce(_ && _)
  }

  /** Resolve the head's file-level metadata as a DATAFRAME when its
    * delta chain bottoms out at a parquet checkpoint: checkpoint rows,
    * minus every path a delta removed, plus the delta adds — the fold
    * touches O(changed files) on the driver, never the full list. None
    * when no checkpoint anchors the chain (caller falls back to text
    * resolution). */
  private def distributedManifest(dir: Path, head: Long): Option[DataFrame] =
    TxnLog.deltaChainAbove(dir, head, TxnLog.hasCheckpoint(dir, _)).map {
      case (base, deltas) =>
        val ckpt = ManifestCheckpoint.read(spark, dir, base)
        if (deltas.isEmpty) ckpt
        else {
          import spark.implicits._
          // a path removed anywhere is excluded from the checkpoint; its
          // latest re-add (the stats-change encoding is remove+add) lives
          // in `state`; adds also shadow any same-named checkpoint row
          val excluded = scala.collection.mutable.HashSet.empty[String]
          val state = scala.collection.mutable.LinkedHashMap
            .empty[String, CheckpointEntry]
          deltas.foreach { d =>
            d.removes.foreach { r => excluded += r; state.remove(r) }
            ManifestCheckpoint.entriesOf(dir, d.statsCols, d.adds, d.addStats)
              .foreach { e => excluded += e.path; state.update(e.path, e) }
          }
          val kept =
            if (excluded.isEmpty) ckpt
            else ckpt.join(excluded.toSeq.toDF("path"), Seq("path"), "left_anti")
          if (state.isEmpty) kept
          else kept.unionByName(spark.createDataset(state.values.toSeq).toDF())
        }
    }

  /** The file-skipping half of [[readBetween]], exposed for plan/test
    * introspection: which files of `m` can contain a row with `column`
    * in [lo, hi]? Pure driver-side manifest-string comparison — pruning
    * must never itself launch a job over the files it exists to skip. */
  def prunedFiles(m: Manifest, table: String, column: String,
                  lo: String, hi: String): Seq[String] =
    prunedFiles(m, table, column, lo, hi,
      colType(tableDir(table), table, m, column))

  private def prunedFiles(m: Manifest, table: String, column: String,
                          lo: String, hi: String,
                          dt: org.apache.spark.sql.types.DataType): Seq[String] = {
    val idx = m.statsCols.indexOf(column)
    require(idx >= 0,
      s"$table carries no zone map for $column (stats columns: ${m.statsCols.mkString(",")})")
    import org.apache.spark.sql.types._
    // stats values are the per-type string casts; compare with the
    // type's own order (ISO date/timestamp strings order lexically)
    def cmp(a: String, b: String): Int = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        java.lang.Long.compare(a.toLong, b.toLong)
      case FloatType | DoubleType =>
        java.lang.Double.compare(a.toDouble, b.toDouble)
      case _: DecimalType =>
        new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
      case _ => a.compareTo(b) // DateType / TimestampType ISO forms
    }
    m.files.filter { f =>
      m.fileStats.get(f).flatMap(_.lift(idx)) match {
        case None           => true // unknown range: never prune
        case Some((mn, mx)) => !(cmp(mx, lo) < 0 || cmp(mn, hi) > 0)
      }
    }
  }

  /** SET-MEMBERSHIP zone-map read: scan only the files whose recorded
    * [min, max] on `column` (an INTEGRAL stats column) contains at least
    * one of `values`. The probe-side complement of [[readBetween]]'s
    * range form: a band/bucket store clustered on a hash column (see
    * [[compact]]'s `clusterBy`) is probed by a batch that knows exactly
    * which hash values it touches — a streaming dedup gate's band keys,
    * an index's cell ids — and a disjunction of points prunes where one
    * covering [lo, hi] range could not (the batch's min..max span
    * typically covers every file). Sorted-array binary search per file
    * keeps the prune pure driver-side manifest arithmetic at any
    * |values| or file count. Returns the SURVIVING FILES' rows — a
    * superset of the exact membership; callers that need row exactness
    * apply their own residual (an equi-join on the underlying key is
    * the usual one). An empty survivor set (or empty `values`) reads as
    * an empty frame with the table's schema. */
  def readInSet(table: String, column: String, values: Seq[Long]): DataFrame = {
    val dir = tableDir(table)
    val m = TxnLog.current(dir).getOrElse(
      sys.error(s"no such table: $table (no committed manifest)"))
    val survivors = prunedFilesInSet(m, table, column, values)
    val files = if (survivors.isEmpty) m.files.take(1) else survivors
    val out = readSnapshot(dir, table, m.version, files, schemaFor(m, files))
    if (survivors.isEmpty) out.limit(0) else out
  }

  /** The file-skipping half of [[readInSet]], exposed for plan/test
    * introspection (same contract as the range-form [[prunedFiles]]). */
  def prunedFilesInSet(m: Manifest, table: String, column: String,
                       values: Seq[Long]): Seq[String] = {
    val idx = m.statsCols.indexOf(column)
    require(idx >= 0,
      s"$table carries no zone map for $column (stats columns: ${m.statsCols.mkString(",")})")
    if (values.isEmpty) return Seq.empty
    val sorted = values.distinct.sorted.toArray
    // any probed value inside [mn, mx]? — smallest value ≥ mn, then ≤ mx
    def anyIn(mn: Long, mx: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, mn)
      val p = if (i >= 0) i else -i - 1
      p < sorted.length && sorted(p) <= mx
    }
    m.files.filter { f =>
      m.fileStats.get(f).flatMap(_.lift(idx)) match {
        case None => true // unknown range: never prune
        case Some((mn, mx)) =>
          // stats are string casts; a non-integral stats column fails
          // the parse and conservatively keeps the file
          try anyIn(mn.toLong, mx.toLong)
          catch { case _: NumberFormatException => true }
      }
    }
  }

  /** The current snapshot's declared zone-map columns (empty when the
    * table has none) — lets probe-side callers fall back to a full read
    * against a store that predates their stats declaration. */
  def statsColsOf(table: String): Seq[String] =
    TxnLog.current(tableDir(table)).map(_.statsCols).getOrElse(Seq.empty)

  /** Per-file [min, max] of an INTEGRAL zone-map column for the current
    * snapshot — pure driver-side manifest arithmetic, no file opens.
    * One entry per current file; `None` for a file without recorded (or
    * non-integral) stats, which the pruning reads never skip. Probe-side
    * callers use this to REASON about skipping efficiency — e.g.
    * [[graft.streaming.TextGate.expectedOpensPerBucket]]'s fragmentation
    * census, which decides when [[compact]] maintenance is due. */
  def fileSpans(table: String, column: String): Seq[Option[(Long, Long)]] =
    TxnLog.current(tableDir(table)) match {
      case None => Seq.empty
      case Some(m) =>
        val idx = m.statsCols.indexOf(column)
        require(idx >= 0,
          s"$table carries no zone map for $column (stats columns: " +
            s"${m.statsCols.mkString(",")})")
        m.files.map { f =>
          m.fileStats.get(f).flatMap(_.lift(idx)).flatMap {
            case (mn, mx) =>
              try Some((mn.toLong, mx.toLong))
              catch { case _: NumberFormatException => None }
          }
        }
    }

  /** Column type from ONE file's footer (+ partition discovery) — never
    * a schema-merge over the whole table just to learn a type. The probe
    * file is one that RECORDED STATS for the column: after schema
    * evolution the oldest file may predate the column entirely (and
    * `m.files` is sorted, so `take(1)` would hit exactly that file), but
    * a file with a zone-map entry certainly carries it. Only when no file
    * has stats (all-NULL table, or stats freshly declared) does this fall
    * back to the merged snapshot schema — the one case where pruning
    * retains everything anyway. */
  private def colType(dir: Path, table: String, m: Manifest,
                      column: String): org.apache.spark.sql.types.DataType =
    probeSchema(dir, table, m)(column).dataType

  /** One probe-file schema read serving every column of a pruning call. */
  private def probeSchema(dir: Path, table: String,
      m: Manifest): org.apache.spark.sql.types.StructType = {
    val probe = m.files.find(m.fileStats.contains)
      .map(Seq(_)).getOrElse(m.files)
    readSnapshot(dir, table, m.version, probe, schemaFor(m, probe)).schema
  }

  /** Per-file (min, max) of each of `columns` over freshly written
    * files — ONE aggregation pass over only the new data regardless of
    * column count, grouped by physical file. Values are stored as
    * strings (lossless round-trip casts). A file where ANY stats column
    * is all-NULL gets no entry at all and is therefore never pruned —
    * the conservative representation for the aligned-pairs format. */
  private def collectStats(dir: Path, files: Seq[String], written: StructType,
      columns: Seq[String]): Map[String, Seq[(String, String)]] = {
    val aggs = columns.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")))
    val rows = readSnapshot(dir, "<stats>", -1L, files, Some(written))
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.flatMap { r =>
      // input_file_name() is a URI — decode before matching the raw
      // relative path (a partition value with a space is %20 in the URI)
      val uri = r.getString(0)
      val path = try java.net.URI.create(uri).getPath
        catch { case _: IllegalArgumentException => uri }
      val rel = files.find(f => path.endsWith("/" + f))
      val pairs = columns.indices.map(i =>
        (Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))))
      (rel, pairs.forall(p => p._1.isDefined && p._2.isDefined)) match {
        case (Some(f), true) =>
          Some(f -> pairs.map(p => (p._1.get, p._2.get)))
        case _ => None
      }
    }.toMap
  }

  /** The one snapshot-reading code path (current read, time travel,
    * legacy fallback): an explicit pinned file list with `basePath` so
    * `col=value` dirs stay partition columns. With a `schema` (see
    * [[schemaFor]]) the read is planned from it — no footer read, no
    * job; without one, `mergeSchema` infers it from every footer (one
    * job), which is what field addition needs. */
  private def readSnapshot(dir: Path, table: String, version: Long,
                           files: Seq[String],
                           schema: Option[StructType] = None): DataFrame = {
    require(files.nonEmpty, s"$table v$version lists no files")
    def read(fs: Seq[String]): DataFrame =
      schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema(_))
        .option("basePath", dir.toString)
        .parquet(fs.map(f => dir.resolve(f).toString): _*)
    // MIXED-LAYOUT transition: a table that gained partition columns
    // mid-life lists both flat (pre-partitioning) and col=value files.
    // One basePath read over both fails partition discovery
    // ("conflicting directory structures"), so read each layout
    // separately and align by name — flat files that carry the column
    // as a DATA column keep their values; files lacking it entirely
    // read NULL. Residual predicates (readBox) then filter those rows
    // by value exactly as the zone-map docs promise.
    val (part, flat) = files.partition(TxnLog.partitionSegments(_).nonEmpty)
    if (part.isEmpty || flat.isEmpty) read(files)
    else read(part).unionByName(read(flat), allowMissingColumns = true)
  }

  private def mixedLayout(files: Seq[String]): Boolean = {
    val (part, flat) = files.partition(TxnLog.partitionSegments(_).nonEmpty)
    part.nonEmpty && flat.nonEmpty
  }

  /** The schema to plan a read of `files` — all or some of a version's
    * files — with, when the version's recorded schema vouches for them:
    * the whole list reads with the recorded schema; a subset of a
    * UNIFORM version reads with its data columns, the subset's partition
    * columns inferred from its paths exactly as a `mergeSchema` read of
    * it would. A subset of a merged version may predate a field
    * addition, so it keeps inferring (None). */
  private def schemaFor(partitionCols: Seq[String], recorded: Option[TableSchema],
                        whole: Boolean): Option[StructType] =
    recorded.collect {
      case TableSchema(s, _) if whole => s
      case TableSchema(s, true) =>
        StructType(s.filterNot(f => partitionCols.contains(f.name)))
    }

  private def schemaFor(m: Manifest, files: Seq[String]): Option[StructType] =
    schemaFor(m.partitionCols, m.schema, files.size == m.files.size)

  /** Read schema of freshly written `files`: `df`'s columns minus
    * `partCols` are the data columns, the partition columns come from
    * Spark's inference over the paths. No footer read, no job; a flat
    * write has no partition columns, so it needs no read resolution
    * either (~20 ms each). */
  private def writtenSchema(dir: Path, files: Seq[String], df: DataFrame,
                            partCols: Seq[String]): StructType = {
    val data = StructType(df.schema.filterNot(f => partCols.contains(f.name)))
    if (files.isEmpty) StructType(Nil) // nothing written: nothing to vouch for
    else if (partCols.isEmpty) org.apache.spark.sql.GraftExpr.nullable(data)
    else readSnapshot(dir, "<written>", -1L, files, Some(data)).schema
  }

  /** Infer ONCE, at commit: the `mergeSchema` read a reader would
    * otherwise run on every read. Mixed layouts record nothing (their
    * read is a per-layout union), and so does a failed inference
    * (incompatible files), so readers fail exactly as they would have. */
  private def inferredSchema(dir: Path, files: Seq[String]): Option[TableSchema] =
    if (mixedLayout(files)) None
    else try Some(TableSchema(readSnapshot(dir, "<schema>", -1L, files).schema,
      uniform = false))
    catch { case NonFatal(_) => None }

  /** The schema the next version records, derived against the racing
    * `head` (the rules are [[TxnLog]]'s "Recorded schema"): `files` is
    * the next version's list, `newFiles` this commit's share of it and
    * `written` their [[writtenSchema]]. */
  private def nextSchema(dir: Path, head: Option[Manifest],
                         partCols: Seq[String], files: Seq[String],
                         newFiles: Seq[String],
                         written: StructType): Option[TableSchema] = {
    def parts(s: StructType) = s.filter(f => partCols.contains(f.name))
    def data(s: StructType) = s.filterNot(f => partCols.contains(f.name))
    val fresh = newFiles.toSet
    // the paths must yield exactly the declared partition columns, or a
    // subset read could not split data from partition columns
    if (files.isEmpty) None
    else if (mixedLayout(files) ||
        written.fieldNames.toSeq.takeRight(partCols.size) != partCols)
      inferredSchema(dir, files)
    else if (files.forall(fresh)) Some(TableSchema(written, uniform = true))
    else head.flatMap { h =>
      val kept = files.toSet
      h.schema.filter(s => h.partitionCols == partCols &&
        data(s.read) == data(written) && parts(s.read) == parts(written) &&
        (s.uniform || h.files.forall(kept)))
    }.orElse(inferredSchema(dir, files))
  }

  /** The commit history of a table, oldest first: version, commit time,
    * file count, and the writer transaction id for streaming commits. */
  def history(table: String): Seq[CommitInfo] = {
    val dir = tableDir(table)
    TxnLog.versions(dir).map { v =>
      val m = TxnLog.readVersion(dir, v)
      CommitInfo(v, TxnLog.commitTime(dir, v), m.files.size, m.txnId)
    }
  }

  /** Has a writer transaction with this id already committed to `table`?
    * The replay guard [[load]]/[[upsert]] apply internally, exposed for
    * callers that must decide BEFORE handing the batch over — a
    * streaming `foreachBatch` re-delivering an already-landed batch
    * still has to CONSUME the DataFrame (Spark 4.1 validates that every
    * active state store commits each batch; an early return inside load
    * would skip the stateful operator's tasks and fail the query with
    * STATE_STORE_COMMIT_VALIDATION_FAILED — found by the kill -9 demo,
    * see Streams.drainInto). */
  def txnLanded(table: String, txnId: String): Boolean =
    TxnLog.txnCommitted(tableDir(table), txnId)

  /** Land `df` into `table` under `policy`. Returns what happened.
    *
    * Single-pass: the batch is streamed straight into the transaction
    * directory with an `observe` row-count piggybacked on the write — no
    * `cache()`/`count()` pre-materialization, so the sink does exactly
    * one read of the input plan at any scale. Empty batches (the
    * reference's `df.shape[0] > 0` guard, `datasources.py:756`) are
    * detected from the same observed metric and skipped: their
    * transaction directory is discarded and no manifest is committed.
    */
  def load(table: String, df: DataFrame, policy: SinkPolicy,
           txnId: Option[String] = None,
           statsCol: Option[String] = None,
           statsCols: Seq[String] = Seq.empty): LoadResult = {
    val dir = tableDir(table)
    adoptLegacyLayout(dir)
    // idempotent-writer replay guard: a micro-batch that already committed
    // (crash between sink commit and checkpoint advance) must not land twice
    if (txnId.exists(TxnLog.txnCommitted(dir, _)))
      return LoadResult(table, "skipped-duplicate-txn", 0L)
    // zone-map columns (`statsCol` is the single-column convenience form;
    // both compose, deduplicated — an overlapping declaration must not
    // write duplicate columns into the manifest, where it would break
    // the `_.statsCols == effStats` inheritance equality forever after):
    // explicit wins, else inherit the table's — so one load declaring
    // them makes every later append carry file stats too
    val declared = (statsCol.toSeq ++ statsCols).distinct
    val effStats =
      if (declared.nonEmpty) declared
      else TxnLog.current(dir).map(_.statsCols).getOrElse(Seq.empty)
    effStats.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType,
        s"zone-map column $c has type $dt — only numeric/date/timestamp " +
          "are supported (their cast-to-string forms are delimiter-free " +
          "and order-preserving; arbitrary strings could smuggle the " +
          "manifest's own delimiters)")
    }
    val partCols = policy match {
      case SinkPolicy.RelandByDate(c) =>
        val cur = TxnLog.current(dir).map(_.partitionCols)
        require(cur.forall(_ == Seq(c)),
          s"$table is partitioned by ${cur.get.mkString(",")}, cannot re-land by $c")
        Seq(c)
      case SinkPolicy.Append =>
        TxnLog.current(dir).map(_.partitionCols).getOrElse(Seq.empty)
      case SinkPolicy.Overwrite => Seq.empty
    }
    val (newFiles, n) = writeTxn(dir, df, partCols)
    if (n == 0) return LoadResult(table, "skipped-empty", 0L)
    val written = writtenSchema(dir, newFiles, df, partCols)
    val newStats =
      if (effStats.nonEmpty) collectStats(dir, newFiles, written, effStats)
      else Map.empty[String, Seq[(String, String)]]
    CrashHooks.beforeManifestCommit(table)
    val committed = TxnLog.commit(dir, txnId) { cur =>
      val old = cur.map(_.files).getOrElse(Seq.empty)
      val files = policy match {
        case SinkPolicy.Append    => old ++ newFiles
        case SinkPolicy.Overwrite => newFiles
        case SinkPolicy.RelandByDate(_) =>
          // dynamic partition replacement: drop every old file living in a
          // partition the new batch carries, keep the rest, add the batch
          val replaced = newFiles.flatMap(TxnLog.partitionSegments).toSet
          old.filterNot(f =>
            TxnLog.partitionSegments(f).exists(replaced.contains)) ++ newFiles
      }
      // inherited per-file stats are only valid if they were computed for
      // the SAME column list — after a stats-column switch, old files
      // simply carry no stats (never pruned) until rewritten
      val inherited = cur.filter(_.statsCols == effStats)
        .map(_.fileStats).getOrElse(Map.empty)
      ManifestData(partCols, files, effStats, inherited ++ newStats,
        nextSchema(dir, cur, partCols, files, newFiles, written))
    }
    maybeCheckpoint(dir, committed)
    CrashHooks.afterCommit(table)
    LoadResult(table, policy.toString, n)
  }

  /** Dedup-on-arrival: keep only rows of `df` not already present in
    * `table` (the reference's intended "new rows only" semantics,
    * `datasources.py:547-552` — implemented as the anti-join SURVEY §4.1
    * prescribes, not the literal `keep=False` symmetric difference).
    *
    * The match is NULL-SAFE (`<=>`): a plain equality anti-join treats
    * NULL as never-equal, so every NULL-bearing row would be re-ingested
    * as "new" on every run — accumulating exactly the duplicates this
    * dedup exists to prevent. Matching is on the columns both sides
    * share, so a batch widened by field addition still dedups on the
    * established columns instead of failing to resolve the new one. */
  def newRowsOnly(table: String, df: DataFrame): DataFrame =
    if (!catalog.tableExists(table)) df
    else {
      val existing = read(table)
      val shared = df.columns.filter(existing.columns.contains(_))
      require(shared.nonEmpty, s"no shared columns with $table")
      val cond = shared.map(c => df(c) <=> existing(c)).reduce(_ && _)
      df.join(existing.select(shared.map(existing(_)): _*), cond, "left_anti")
    }

  /** File-level diff between two committed versions: (added, removed)
    * table-relative paths. Free with the manifest log — no data read. */
  def changedFiles(table: String, fromVersion: Long,
                   toVersion: Long): (Seq[String], Seq[String]) = {
    val dir = tableDir(table)
    val a = TxnLog.readVersion(dir, fromVersion).files.toSet
    val b = TxnLog.readVersion(dir, toVersion).files.toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** CHANGE DATA CAPTURE for append-only history: the rows landed after
    * `fromVersion` up to and including `toVersion` — what an incremental
    * consumer (downstream table, search index, signature stage) reads
    * instead of re-scanning the table. Exact by construction: appended
    * rows live in appended files, so the diff of the two manifests IS the
    * change set, and no data outside the new files is touched.
    *
    * REFUSES non-additive history: if any file was removed between the
    * two versions (overwrite, re-land, upsert, compaction), file-level
    * diffing can no longer distinguish "new row" from "old row in a
    * rewritten file", and a silent answer would double-feed consumers.
    * Such tables need a consumer checkpoint on a key/timestamp column
    * instead — the caller learns that here rather than in production. */
  def readAppendedBetween(table: String, fromVersion: Long,
                          toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val (added, removed) = changedFiles(table, fromVersion, toVersion)
    require(removed.isEmpty,
      s"$table history v$fromVersion..v$toVersion is not append-only " +
        s"(${removed.size} file(s) were removed by overwrite/re-land/" +
        "upsert/compact); file-level CDC would be wrong — consume via a " +
        "key or timestamp checkpoint instead")
    if (added.isEmpty) {
      // schema from the current snapshot, zero rows
      read(table).limit(0)
    } else {
      val m = TxnLog.readVersion(tableDir(table), toVersion)
      readSnapshot(tableDir(table), table, toVersion, added, schemaFor(m, added))
    }
  }

  /** Keyed UPSERT — `MERGE INTO table USING df ON keys WHEN MATCHED
    * UPDATE WHEN NOT MATCHED INSERT`, latest-wins per key. The reference
    * never needed this (BigQuery WRITE_APPEND/WRITE_TRUNCATE only,
    * `datasources.py:55-58`) but every dimension/state table does.
    *
    * COPY-ON-WRITE AT FILE GRANULARITY: a key-probe pass (column-pruned —
    * only the key columns are read) finds which data files actually
    * contain a matched key; ONLY those files are rewritten (their
    * unmatched rows survive alongside the batch), every other file
    * carries over by reference in one atomic manifest commit. At 100 TB
    * a batch touching one partition's worth of keys rewrites that
    * partition's files, not the table. Time travel keeps the pre-merge
    * snapshot; readers see the merge all-or-nothing.
    *
    * Key matching is NULL-SAFE (`<=>`, same rationale as
    * [[newRowsOnly]]). Duplicate keys WITHIN the batch are refused, like
    * Delta's MERGE — "latest" is undefined inside one unordered batch.
    * SERIALIZABLE: any commit that lands between snapshot resolution and
    * publish aborts this merge (a concurrent append could carry matched
    * keys the rewrite would silently miss) — re-run on conflict. */
  def upsert(table: String, df: DataFrame, keyCols: Seq[String],
             txnId: Option[String] = None,
             maxRewriteFiles: Int = Warehouse.DefaultMaxRewriteFiles): LoadResult = {
    import spark.implicits._
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val dir = tableDir(table)
    adoptLegacyLayout(dir)
    // same idempotent-writer replay guard as [[load]]: a merge whose
    // commit landed but whose caller died before checkpointing must not
    // apply twice (it WOULD be value-idempotent, but each replay would
    // burn a version and rewrite files for nothing)
    if (txnId.exists(TxnLog.txnCommitted(dir, _)))
      return LoadResult(table, "skipped-duplicate-txn", 0L)
    val curOpt = TxnLog.current(dir)
    if (curOpt.isEmpty) return load(table, df, SinkPolicy.Append, txnId)
    val cur = curOpt.get
    val batch = df.persist() // read 4×: key census, probe, anti-join, land
    try {
      require(keyCols.forall(batch.columns.contains),
        s"batch lacks key column(s) ${keyCols.filterNot(batch.columns.contains).mkString(",")}")
      val batchKeys = batch.select(keyCols.map(col): _*)
      // ONE aggregate answers both the duplicate-key verdict (the largest
      // per-key count) and the merged-row count (their sum)
      val census = batchKeys.groupBy(keyCols.map(col): _*).count()
        .agg(max($"count"), sum($"count")).head()
      val mergedRows = if (census.isNullAt(1)) 0L else census.getLong(1)
      require(census.isNullAt(0) || census.getLong(0) <= 1,
        s"batch has duplicate keys on (${keyCols.mkString(",")}) — " +
          "latest-wins is undefined within one batch")
      val existing = read(table) // pinned to `cur`
      require(keyCols.forall(existing.columns.contains),
        s"$table lacks key column(s) ${keyCols.filterNot(existing.columns.contains).mkString(",")}")
      def keyCond(l: DataFrame, r: DataFrame) =
        keyCols.map(c => l(c) <=> r(c)).reduce(_ && _)
      // probe: which CURRENT files hold a matched key (reads keys only).
      // The collect is BOUNDED to maxRewriteFiles + 1 rows — the same
      // driver-envelope discipline as the manifest: a batch whose keys
      // touch more files than that is no longer a selective merge but a
      // table rewrite in disguise, and silently collecting ~10^6 paths
      // (then rewriting them all copy-on-write) is the wrong tool for it
      val probed = existing.select((keyCols.map(col) :+
        input_file_name().as("__file")): _*)
      val affectedAbs = probed
        .join(batchKeys, keyCond(probed, batchKeys), "left_semi")
        .select($"__file").distinct()
        .limit(maxRewriteFiles + 1).collect().map(_.getString(0))
      if (affectedAbs.length > maxRewriteFiles)
        throw new IllegalStateException(
          s"upsert batch matches keys in more than $maxRewriteFiles data " +
            s"files of $table — a copy-on-write merge at this width is a " +
            "near-full table rewrite; land it as load(Overwrite) built " +
            "from read(table) + the batch, raise maxRewriteFiles " +
            "explicitly, or compact the table first")
      val affectedRel = affectedAbs
        .map { abs =>
          val p = scala.util.Try(Paths.get(new java.net.URI(abs)))
            .getOrElse(Paths.get(abs))
          dir.relativize(p).toString
        }.toSeq
      // survivors: unmatched rows of ONLY the affected files
      val survivors =
        if (affectedRel.isEmpty) None
        else {
          val aff = readSnapshot(dir, table, cur.version, affectedRel,
            schemaFor(cur, affectedRel))
          Some(aff.join(batchKeys, keyCond(aff, batchKeys), "left_anti"))
        }
      val toWrite = survivors
        .map(_.unionByName(batch, allowMissingColumns = true))
        .getOrElse(batch)
      val (newFiles, n) = writeTxn(dir, toWrite, cur.partitionCols)
      if (n == 0) return LoadResult(table, "skipped-empty", 0L)
      val written = writtenSchema(dir, newFiles, toWrite, cur.partitionCols)
      val newStats =
        if (cur.statsCols.nonEmpty)
          collectStats(dir, newFiles, written, cur.statsCols)
        else Map.empty[String, Seq[(String, String)]]
      val committed = TxnLog.commit(dir, txnId) { now =>
        if (now.map(_.version) != Some(cur.version))
          throw new java.util.ConcurrentModificationException(
            s"$table changed during upsert (v${cur.version} -> " +
              s"v${now.map(_.version).getOrElse(0L)}); re-run")
        val files = TxnLog.mergeRewrite(affectedRel, cur.files, newFiles).get
        ManifestData(cur.partitionCols, files, cur.statsCols,
          (cur.fileStats -- affectedRel) ++ newStats,
          nextSchema(dir, now, cur.partitionCols, files, newFiles, written))
      }
      maybeCheckpoint(dir, committed)
      // rows = rows the CALLER merged (same contract as load's landed-row
      // count), not the rewrite volume — the carried-over survivors of
      // affected files are an implementation detail of copy-on-write
      LoadResult(table, s"upserted(rewrote=${affectedRel.size} files)",
        mergedRows)
    } finally batch.unpersist()
  }

  /** S2-style secret lookup: `SELECT API_KEY FROM <keysTable> WHERE
    * TBL_NM = '<forTable>'` (`functions/utils/pipeline.py:28-29`). */
  def secret(keysTable: String, forTable: String): Option[String] =
    if (!catalog.tableExists(keysTable)) None
    else read(keysTable).where(col("TBL_NM") === forTable)
      .select(col("API_KEY")).limit(1).collect()
      .headOption.map(_.getString(0))

  /** Land `df` as a BUCKETED catalog table: rows are hash-clustered (and
    * sorted) by `bucketCol` into `nBuckets` files per write. Two tables
    * bucketed the same way join with NO exchange and no sort — the
    * co-located join discipline for recurring large-table joins at 100 TB
    * (pay the clustering once at write, never shuffle at read). Requires
    * the session catalog (`saveAsTable`), so it lives beside the
    * manifest-committed sinks rather than inside [[load]]. */
  def loadBucketed(table: String, df: DataFrame, bucketCol: String,
                   nBuckets: Int): LoadResult = {
    val obs = Observation()
    // repartition to the bucket layout first: HashPartitioning matches
    // the bucket hash, so each task holds exactly one bucket → one file
    // per bucket. That both avoids small-file explosion and lets readers
    // trust the per-bucket sort order (multi-file buckets force a
    // re-sort).
    df.observe(obs, count(lit(1)).as("rows"))
      .repartition(nBuckets, col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path(table))
      .saveAsTable(table)
    LoadResult(table, s"bucketed($bucketCol,$nBuckets)", observedRows(obs))
  }

  /** Compaction — the small-file maintenance op every streaming/append
    * warehouse needs at scale: years of micro-batch appends leave
    * thousands of KB-sized part-files, and scan cost becomes file-open
    * dominated. Rewrites the current snapshot into ~`targetBytesPerFile`
    * files (floor of current on-disk size / target, min 1), preserving
    * the table's partition layout (flattening it would break RelandByDate
    * and partition pruning), then publishes the rewrite as one manifest
    * commit. Readers pinned to the old version keep their old files —
    * compaction is invisible to them until [[vacuum]] reclaims space.
    * Bucketed CATALOG tables are refused: their files carry bucket ids
    * the path-level rewrite cannot reproduce; re-land them with
    * [[loadBucketed]] instead. */
  def compact(table: String, targetBytesPerFile: Long = 128L << 20,
              clusterBy: Option[String] = None): LoadResult = {
    val (dir, cur, nFiles, snapshot) =
      resolveForRewrite(table, targetBytesPerFile)
    // clusterBy = Z-ORDER's 1-D case: range-partition + sort on the
    // column so each rewritten file covers a DISJOINT value range, which
    // is what turns the zone-map min/max stats from "every file
    // intersects every predicate" (append order interleaves values) into
    // real file skipping. Defaults to the table's stats column when one
    // is declared — compaction is exactly when clustering is cheap.
    // (with several stats columns, the FIRST is the clustering default —
    // declaration order is the "lead zone-map column" contract)
    val cluster = clusterBy.orElse(cur.statsCols.headOption)
    cluster.foreach(c => require(snapshot.columns.contains(c),
      s"cluster column $c not in $table"))
    val shaped =
      if (cur.partitionCols.nonEmpty) {
        val base = snapshot.repartition(cur.partitionCols.map(col): _*)
        cluster.map(c => base.sortWithinPartitions(
          (cur.partitionCols :+ c).map(col): _*)).getOrElse(base)
      } else cluster match {
        case Some(c) =>
          snapshot.repartitionByRange(nFiles, col(c)).sortWithinPartitions(col(c))
        case None => snapshot.repartition(nFiles)
      }
    publishRewrite(dir, table, cur, shaped,
      s"compacted(${if (cur.partitionCols.nonEmpty) "per-partition" else s"$nFiles files"})")
  }

  /** Z-ORDER compaction: rewrite the table clustered on the bit-
    * interleave of the given columns' QUANTILE-BUCKET ids, so every
    * rewritten file covers a small BOX in the multi-dimensional value
    * space — which is exactly what makes [[readBox]]'s per-column
    * zone-map intersection prune hard on compound predicates (Delta's
    * `OPTIMIZE ZORDER BY` + column stats, re-expressed). Quantile
    * buckets (16 per column, one `approxQuantile` pass for all columns)
    * keep cells equal-population under skew where equi-width bucketing
    * would collapse. Pruning never looks at z-values — files carry
    * ordinary per-column min/max stats, so correctness needs no
    * BIGMIN/LITMAX z-range arithmetic. Numeric columns only (quantile
    * bucketing; use a numeric surrogate for dates). */
  def compactZOrder(table: String, zCols: Seq[String],
                    targetBytesPerFile: Long = 128L << 20): LoadResult = {
    require(zCols.size >= 2, "z-order needs at least two columns")
    val (dir, cur, nFiles, snapshot) =
      resolveForRewrite(table, targetBytesPerFile)
    zCols.foreach(c => require(snapshot.columns.contains(c),
      s"z-order column $c not in $table"))
    // 15 interior quantiles per column -> 16 equal-population buckets
    // (4 bits); ONE stat job covers every column
    val probs = (1 to 15).map(_ / 16.0).toArray
    val bounds = snapshot.na.drop(zCols)
      .stat.approxQuantile(zCols.toArray, probs, 0.001)
    zCols.zip(bounds).foreach { case (c, bs) =>
      require(bs.nonEmpty,
        s"z-order column $c has no non-null values in $table — " +
          "backfill it (or drop it from zCols) before z-ordering")
    }
    def bucket(c: String, bs: Array[Double]) = bs.map(b =>
      when(col(c).cast("double") >= b, 1L).otherwise(0L)).reduce(_ + _)
    // interleave the 4 bucket bits of each column: bit b of column i
    // lands at position b * nCols + i — the classic Morton layout
    val n = zCols.size
    val z = zCols.zip(bounds).zipWithIndex.map { case ((c, bs), i) =>
      val bkt = bucket(c, bs)
      (0 until 4).map(b =>
        shiftleft(shiftright(bkt, b).bitwiseAND(lit(1L)), b * n + i))
        .reduce((a, x) => a.bitwiseOR(x))
    }.reduce((a, x) => a.bitwiseOR(x))
    val shaped =
      if (cur.partitionCols.nonEmpty)
        snapshot.withColumn("__z", z)
          .repartition(cur.partitionCols.map(col): _*)
          .sortWithinPartitions((cur.partitionCols :+ "__z").map(col): _*)
          .drop("__z")
      else
        snapshot.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
    publishRewrite(dir, table, cur, shaped,
      s"z-ordered(${zCols.mkString(",")},$nFiles files)")
  }

  /** The shared rewrite preamble of [[compact]]/[[compactZOrder]]:
    * refuse catalog (bucketed) tables whose bucket-id file names a
    * path-level rewrite cannot reproduce, resolve the pinned manifest,
    * and size the output file count from current on-disk bytes. */
  private def resolveForRewrite(table: String, targetBytesPerFile: Long)
      : (Path, Manifest, Int, DataFrame) = {
    require(!spark.catalog.tableExists(table),
      s"$table is a catalog table (possibly bucketed) — rewrite it with loadBucketed, not compact")
    val dir = tableDir(table)
    adoptLegacyLayout(dir)
    val cur = TxnLog.current(dir).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val bytes = cur.files.map(f => Files.size(dir.resolve(f))).sum
    val nFiles = math.max(1, (bytes / targetBytesPerFile).toInt)
    (dir, cur, nFiles, read(table)) // snapshot pinned to `cur`'s files
  }

  /** The shared rewrite-publish tail of [[compact]]/[[compactZOrder]]:
    * write the reshaped snapshot, recompute zone-map stats for the new
    * files, and merge against whatever committed while we rewrote —
    * concurrent APPENDS are kept alongside the rewrite; a concurrent
    * removal of a rewritten file (re-land/overwrite/second rewrite)
    * would make this rewrite resurrect deleted rows, so that aborts
    * instead of losing data (orphaned rewrite files go to vacuum). */
  private def publishRewrite(dir: Path, table: String, cur: Manifest,
                             shaped: DataFrame, label: String): LoadResult = {
    val (newFiles, n) = writeTxn(dir, shaped, cur.partitionCols)
    val written = writtenSchema(dir, newFiles, shaped, cur.partitionCols)
    val newStats =
      if (cur.statsCols.nonEmpty)
        collectStats(dir, newFiles, written, cur.statsCols)
      else Map.empty[String, Seq[(String, String)]]
    val committed = TxnLog.commit(dir) { now =>
      val head = now.map(_.files).getOrElse(Seq.empty)
      val merged = TxnLog.mergeRewrite(cur.files, head, newFiles).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"$table changed incompatibly during compaction " +
            "(a rewritten file was removed concurrently); re-run compact"))
      // the racing head's per-file stats are only meaningful if it still
      // records the SAME stats columns — a concurrent load that switched
      // them would otherwise have its pairs REINTERPRETED under our
      // column list and prune wrong files; dropping them (files become
      // unprunable until rewritten) is the conservative merge
      val inherited = now.filter(_.statsCols == cur.statsCols)
        .map(_.fileStats).getOrElse(Map.empty)
      ManifestData(cur.partitionCols, merged, cur.statsCols,
        inherited ++ newStats,
        nextSchema(dir, now, cur.partitionCols, merged, newFiles, written))
    }
    maybeCheckpoint(dir, committed)
    LoadResult(table, label, n)
  }

  /** Reclaim space. The retention window (same contract as Delta's
    * `VACUUM`) is keyed on the COMMIT LOG, which is what actually governs
    * visibility: a data file survives as long as any manifest committed
    * inside the window (or the current one) references it — so a reader
    * pinned to any retained version, a time-travel read, and a streaming
    * replay that must find its txn id all stay safe; a never-committed
    * file (crashed or in-flight writer) is reclaimed by its own age
    * instead, since no manifest will ever govern it. Size `retention` to
    * the deployment's longest reader/replay; `Duration.ZERO`
    * force-reclaims everything and is only safe with no concurrent
    * activity. Returns files deleted. */
  def vacuum(table: String,
             retention: java.time.Duration = java.time.Duration.ofHours(24)): Int = {
    import scala.jdk.CollectionConverters._
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return 0
    val cutoff = java.time.Instant.now().minus(retention)
    // a path that vanishes mid-sweep (a concurrent writer finalizing its
    // staging dir) is simply not ours to reclaim
    def oldEnough(p: Path): Boolean =
      try !Files.getLastModifiedTime(p).toInstant.isAfter(cutoff)
      catch { case _: java.io.IOException => false }
    var versions = TxnLog.versions(dir)
    // Manifest CHECKPOINT: if the head is a delta whose resolution chain
    // includes manifests this vacuum could otherwise prune, first commit
    // an equivalent self-contained snapshot (same files, same txn id for
    // replay detection) — then the whole old chain becomes reclaimable.
    // This is what lets a retention-zero vacuum always collapse the log
    // to a single manifest.
    versions.lastOption.foreach { head =>
      val chain = TxnLog.chainVersions(dir, head)
      val prunable = versions.dropRight(1)
        .filter(v => !TxnLog.commitTime(dir, v).isAfter(cutoff)).toSet
      if (chain.size > 1 && chain.init.exists(prunable)) {
        val cur = TxnLog.readVersion(dir, head)
        val ck = TxnLog.commit(dir, cur.txnId, forceSnapshot = true)(now =>
          // rebuilt against the latest head in case a writer races us —
          // checkpointing must never roll back a concurrent commit
          now.map(m => ManifestData(m.partitionCols, m.files, m.statsCols,
              m.fileStats, m.schema))
            .getOrElse(ManifestData(cur.partitionCols, cur.files,
              cur.statsCols, cur.fileStats, cur.schema)))
        // a vacuum checkpoint is exactly the log-collapse point: publish
        // the parquet form too, whatever the version's cadence position
        maybeCheckpoint(dir, ck, force = true)
        versions = TxnLog.versions(dir)
      }
    }
    // A manifest below the cutoff still survives if ANY retained
    // version's delta chain resolves through it.
    val chainNeeded = (versions.lastOption.toSeq ++
      versions.filter(v => TxnLog.commitTime(dir, v).isAfter(cutoff)))
      .flatMap(TxnLog.chainVersions(dir, _)).toSet
    // Retention is keyed on MANIFEST commit times, not data-file mtimes:
    // a file is reclaimable once NO manifest inside the retention window
    // (nor the current one) references it — that is when the last reader
    // able to resolve it through the log has aged out. A file's own mtime
    // only governs never-referenced artifacts (crashed or in-flight
    // writers), whose manifest hasn't appeared yet.
    val retained = versions.lastOption.toSet ++
      versions.filter(v => TxnLog.commitTime(dir, v).isAfter(cutoff))
    val referencedRetained = retained.toSeq
      .flatMap(v => TxnLog.readVersion(dir, v).files).toSet
    val everReferenced = versions
      .flatMap(v => TxnLog.readVersion(dir, v).files).toSet
    // On a table with NO commit history, only the commit protocol's own
    // leftovers are reclaimable — unreferenced plain-named parquet there
    // is pre-adoption legacy data, not garbage.
    val neverRefDeletable: String => Boolean =
      if (versions.isEmpty) TxnLog.isUncommittedArtifact else _ => true
    val doomed = scala.util.Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala.filter { p =>
        val rel = dir.relativize(p).toString
        Files.isRegularFile(p) &&
          !p.startsWith(TxnLog.logDir(dir)) &&
          !referencedRetained.contains(rel) &&
          (everReferenced.contains(rel) ||
            (neverRefDeletable(rel) && oldEnough(p)))
      }.toSeq
    }
    doomed.foreach(Files.deleteIfExists(_))
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) && p != TxnLog.logDir(dir))
        .foreach(pruneEmptyDirs(_, reclaimDotDirsBefore = Some(cutoff)))
    }
    versions.dropRight(1)
      .filter(v => !TxnLog.commitTime(dir, v).isAfter(cutoff))
      .filterNot(chainNeeded)
      .foreach(v => TxnLog.deleteVersion(dir, v))
    doomed.size
  }

  private def path(table: String): String = tableDir(table).toString

  /** Post-commit checkpoint cadence: every [[TxnLog.SnapshotEvery]]-th
    * version (the text-snapshot boundary) also publishes the parquet
    * checkpoint; `force` does so regardless (vacuum's log collapse). A
    * checkpoint is DERIVED state — its write failing must never fail an
    * already-durable commit, so errors degrade to the text-resolution
    * fallback instead of surfacing. */
  private def maybeCheckpoint(dir: Path, m: Manifest,
                              force: Boolean = false): Unit =
    if (force || m.version % TxnLog.SnapshotEvery == 0)
      try ManifestCheckpoint.write(spark, dir, m)
      catch { case scala.util.control.NonFatal(_) => () }

  /** Stream `df` into a hidden staging directory with the landed-row
    * count observed on the same pass, then slot the files into their
    * final immutable locations — Hive/Delta layout: `col=value` partition
    * dirs directly under the table root (Spark's partition discovery
    * requires this; nested per-txn dirs make it see conflicting base
    * paths), unpartitioned files under `data/`, every file name prefixed
    * with the txn id so writers never collide. The files stay INVISIBLE
    * until the caller commits a manifest referencing them. Returns the
    * new table-relative paths and the observed row count; a zero-row
    * batch leaves no trace. */
  private def writeTxn(dir: Path, df: DataFrame,
                       partCols: Seq[String]): (Seq[String], Long) = {
    val txn = java.util.UUID.randomUUID().toString.take(8)
    val staging = dir.resolve(s".staging-$txn")
    val obs = Observation()
    val counted = df.observe(obs, count(lit(1)).as("rows"))
    try {
      val w = counted.write.mode(SaveMode.ErrorIfExists)
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(staging.toString)
    } catch {
      case e: Throwable =>
        // a failed write must leave no trace: without this, the staging
        // dir makes a never-committed table look existent to the catalog.
        // Cleanup failures must not mask the real sink failure.
        try {
          org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
          pruneEmptyDirs(dir)
        } catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    val n = observedRows(obs)
    if (n == 0) {
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      pruneEmptyDirs(dir)
      return (Seq.empty, 0L)
    }
    val finals = TxnLog.listParquet(staging, staging).map { rel =>
      val slash = rel.lastIndexOf('/')
      val (parent, name) =
        if (slash < 0) ("data", rel) else (rel.take(slash), rel.drop(slash + 1))
      val target = s"$parent/$txn-$name"
      // The freshly-created partition dir can vanish between mkdir and
      // move: a concurrent vacuum's (or failed sibling writer's)
      // empty-dir sweep may reclaim it while still empty — re-create
      // and retry. Bounded: each sweep is a single pass, so repeated
      // collisions mean something else is wrong and the last error
      // propagates.
      var attempts = 0
      var moved = false
      while (!moved) {
        Files.createDirectories(dir.resolve(target).getParent)
        try { Files.move(staging.resolve(rel), dir.resolve(target)); moved = true }
        catch {
          case e: java.nio.file.NoSuchFileException =>
            attempts += 1
            if (attempts > 5 || !Files.exists(staging.resolve(rel))) throw e
        }
      }
      target
    }
    org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
    (finals, n)
  }

  private def observedRows(obs: Observation): Long =
    obs.get("rows") match {
      case l: Long          => l
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalStateException(s"bad rows metric: $other")
    }

  /** A table written by a pre-manifest layout (plain parquet dir, or an
    * external writer) is adopted on first touch: its existing files
    * become version 1, partition columns inferred from their `col=value`
    * directory chain, read schema inferred once (here, not per read).
    * Idempotent; no data moves. */
  private def adoptLegacyLayout(dir: Path): Unit =
    if (TxnLog.current(dir).isEmpty) {
      // txn-prefixed names and staging dirs are leftovers of a crashed
      // pre-commit write, not legacy data — never resurrect them
      val files = TxnLog.legacyFiles(dir)
      if (files.nonEmpty) {
        val cols = TxnLog.partitionSegments(files.head).map(_.split("=", 2)(0))
        TxnLog.commit(dir)(_ => ManifestData(cols, files,
          schema = inferredSchema(dir, files)))
      }
    }

  /** Remove empty directories bottom-up under `p` (including `p` itself
    * if it empties out) — keeps skipped/vacuumed tables from leaving
    * ghost entries in `listTables`.
    *
    * DOT-PREFIXED subtrees are a live writer's pre-commit scaffolding —
    * and between the Hadoop committer's job setup and its first task
    * file, a staging dir is NOTHING BUT empty directories
    * (`.staging-<txn>/_temporary/0`), indistinguishable from garbage by
    * shape alone. Round-9's concurrency suite caught this sweep deleting
    * exactly that skeleton out from under a racing appender (its write
    * died on `chmod …/_temporary/0: No such file or directory`), i.e. a
    * vacuum "never disturbs a concurrent commit" violation. Rule: an
    * empty dir on a dot-prefixed path is deleted only when
    * `reclaimDotDirsBefore` is supplied and the dir's mtime is at or
    * before it — vacuum's crashed-writer reclamation, same age key as
    * its never-committed-file rule; all other callers leave dot subtrees
    * alone. Deletion is best-effort: a dir that vanishes or refills
    * mid-sweep belongs to someone else — skip it. */
  private def pruneEmptyDirs(p: Path,
      reclaimDotDirsBefore: Option[java.time.Instant] = None): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      // age is judged on PRE-SWEEP mtimes: deleting a child updates the
      // parent's mtime, which would otherwise "freshen" an aged skeleton
      // from the inside and block its own bottom-up reclamation
      val snapshot = scala.util.Using.resource(Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.map { d =>
          val old = reclaimDotDirsBefore.exists { c =>
            try !Files.getLastModifiedTime(d).toInstant.isAfter(c)
            catch { case _: java.io.IOException => false }
          }
          (d, old)
        }
      }
      snapshot.sortBy(-_._1.getNameCount).foreach { case (d, old) =>
        val dotted = p.getFileName.toString.startsWith(".") ||
          p.relativize(d).iterator().asScala
            .exists(_.toString.startsWith("."))
        if ((!dotted || old) && Files.isDirectory(d) &&
            scala.util.Using.resource(Files.list(d))(s => !s.iterator().hasNext))
          try Files.delete(d)
          catch { case _: java.io.IOException => () }
      }
    }
  }
}
