package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftExpr, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.execution.datasources.GraftPartitions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.ops.DriverLocal

/** How a batch lands in its target table — the reference's write
  * dispositions re-expressed for a parquet warehouse:
  *
  *   - [[SinkPolicy.Append]]: `WRITE_APPEND` + `ALLOW_FIELD_ADDITION`
  *     (`functions/utils/datasources.py:55-59,554-563,754-767,799-805`).
  *     New columns are allowed; the commit records the widened schema
  *     (inferred once, with `mergeSchema`) and readers plan with it. A
  *     batch that changes a column's type is refused, as the reference's
  *     load job refuses it.
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
  * evidence (StreamFaultDemo / StreamCrashSpec): every [[Warehouse]]
  * write (load, upsert, compaction) invokes these at the two windows a
  * driver death must be recoverable from — after the
  * transaction-directory DATA write but before the
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
    * while it is being consumed. The read plans over a [[ManifestIndex]]
    * typed by the version's recorded schema (see [[TxnLog]]), which
    * carries column additions from later appends — the read-side half of
    * `ALLOW_FIELD_ADDITION` — so planning it starts no job. A filtered
    * read is `read(t).where(...)`: Spark pushes the predicate into the
    * index, which evaluates partition predicates exactly and skips every
    * file whose recorded zone-map [min, max] cannot hold a matching row.
    * A directory with no committed manifest is no table, whatever files
    * it holds: reading it throws `IllegalArgumentException`. */
  def read(table: String): DataFrame = {
    val dir = tableDir(table)
    val m = TxnLog.current(dir).getOrElse(throw new IllegalArgumentException(
      s"no such table: $table (no committed manifest under $dir)"))
    readPinned(dir, m, m.files)
  }

  /** The data files (table-relative) of the current version — the unit
    * tests' and operators' window into what a snapshot contains. */
  def currentFiles(table: String): Seq[String] =
    TxnLog.current(tableDir(table)).map(_.files).getOrElse(Seq.empty)

  /** TIME TRAVEL: read a specific committed version — free with the
    * manifest log (every version is just a file list), valid until
    * [[vacuum]] reclaims the files it references. The debugging/audit
    * primitive the reference's BigQuery tables got from snapshot decorators. */
  def readVersion(table: String, version: Long): DataFrame = {
    val dir = tableDir(table)
    val m = TxnLog.readVersion(dir, version)
    readPinned(dir, m, m.files)
  }

  /** Per-file [min, max] of an INTEGRAL zone-map column for the current
    * snapshot — pure driver-side manifest arithmetic, no file opens.
    * One entry per current file; `None` for a file without recorded (or
    * non-integral) stats, and for every file when `column` carries no
    * zone map — the files a filtered read never skips. Probe-side
    * callers use this to REASON about skipping efficiency — e.g.
    * [[graft.streaming.TextGate.expectedOpensPerBucket]]'s fragmentation
    * census, which decides when [[compact]] maintenance is due. */
  def fileSpans(table: String, column: String): Seq[Option[(Long, Long)]] =
    TxnLog.current(tableDir(table)).toSeq.flatMap { m =>
      val idx = m.statsCols.indexOf(column)
      m.files.map { f =>
        m.fileStats.get(f).flatMap(_.lift(idx)).flatMap {
          case (mn, mx) =>
            try Some((mn.toLong, mx.toLong))
            catch { case _: NumberFormatException => None }
        }
      }
    }

  /** Per-file (min, max) of each of `columns` over freshly written
    * files — ONE aggregation pass over only the new data regardless of
    * column count, grouped by physical file. Values are stored as
    * strings (lossless round-trip casts). A file where ANY stats column
    * is all-NULL gets no entry at all and is therefore never pruned —
    * the conservative representation for the aligned-pairs format. */
  private def collectStats(dir: Path, files: Seq[String], written: StructType,
      partCols: Seq[String],
      columns: Seq[String]): Map[String, Seq[(String, String)]] = {
    val aggs = columns.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"mn_$c"),
      max(col(c)).cast("string").as(s"mx_$c")))
    val rows = ManifestIndex.scan(spark, dir, files, written, partCols)
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

  /** A read of `files` — all or some of version `m`'s — typed as the
    * version reads: one relation over a [[ManifestIndex]] with the
    * recorded schema, so a subset's partition columns carry the
    * version's types (`d=1` reads as string where the version reads `d`
    * as string) and a subset older than a field addition reads the
    * added column as NULL. A version that records no schema was not
    * committed by this class and is refused. */
  private def readPinned(dir: Path, m: Manifest, files: Seq[String]): DataFrame = {
    val s = m.schema.getOrElse(throw new IllegalStateException(
      s"v${m.version} of $dir records no schema: not a table this warehouse committed"))
    ManifestIndex.scan(spark, dir, files, s.read, m.partitionCols, m.statsCols, m.fileStats)
  }

  /** Read schema of freshly written `files`: `df`'s columns minus
    * `partCols` are the data columns, and the partition columns are
    * typed from the files' `col=value` segments by Spark's own path
    * inference. No listing, no footer read, no job. */
  private def writtenSchema(dir: Path, files: Seq[String], df: DataFrame,
                            partCols: Seq[String]): StructType = {
    val data = GraftExpr.nullable(StructType(df.schema.filterNot(f => partCols.contains(f.name))))
    if (partCols.isEmpty) data
    else {
      val base = new HPath(dir.toString)
      val root = base.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(base)
      StructType(data ++ GraftPartitions.schema(root,
        files.map(f => new HPath(root, f).getParent).distinct, data))
    }
  }

  /** The schema the next version records, derived against the racing
    * `head` (the rules are [[TxnLog]]'s "Recorded schema"): `files` is
    * the next version's list, `newFiles` this commit's share of it and
    * `written` their [[writtenSchema]]. A shape change is inferred with
    * `mergeSchema` (one job), which throws when the files' types do not
    * merge — before anything is published. */
  private def nextSchema(dir: Path, head: Option[Manifest],
                         partCols: Seq[String], files: Seq[String],
                         newFiles: Seq[String],
                         written: StructType): TableSchema = {
    def parts(s: StructType) = s.filter(f => partCols.contains(f.name))
    def data(s: StructType) = s.filterNot(f => partCols.contains(f.name))
    val kept = files.toSet
    if (files.forall(newFiles.toSet)) TableSchema(written, uniform = true)
    else head.flatMap { h =>
      h.schema.filter(s => h.partitionCols == partCols &&
        data(s.read) == data(written) && parts(s.read) == parts(written) &&
        (s.uniform || h.files.forall(kept)))
    }.getOrElse(TableSchema(spark.read.option("mergeSchema", "true")
      .option("basePath", dir.toString)
      .parquet(files.map(f => dir.resolve(f).toString): _*).schema, uniform = false))
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
    // idempotent-writer replay guard: a micro-batch that already committed
    // (crash between sink commit and checkpoint advance) must not land twice
    if (txnId.exists(TxnLog.txnCommitted(dir, _)))
      return LoadResult(table, "skipped-duplicate-txn", 0L)
    val head = TxnLog.current(dir)
    // zone-map columns (`statsCol` is the single-column convenience form;
    // both compose, deduplicated — an overlapping declaration must not
    // write duplicate columns into the manifest, where it would break
    // the `_.statsCols == effStats` inheritance equality forever after):
    // explicit wins, else inherit the table's — so one load declaring
    // them makes every later append carry file stats too
    val declared = (statsCol.toSeq ++ statsCols).distinct
    val effStats =
      if (declared.nonEmpty) declared
      else head.map(_.statsCols).getOrElse(Seq.empty)
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
        val cur = head.map(_.partitionCols)
        require(cur.forall(_ == Seq(c)),
          s"$table is partitioned by ${cur.get.mkString(",")}, cannot re-land by $c")
        Seq(c)
      case SinkPolicy.Append => head.map(_.partitionCols).getOrElse(Seq.empty)
      case SinkPolicy.Overwrite => Seq.empty
    }
    val n = commitWrite(table, df, partCols, effStats, txnId) { (cur, newFiles) =>
      val old = cur.map(_.files).getOrElse(Seq.empty)
      policy match {
        case SinkPolicy.Append    => old ++ newFiles
        case SinkPolicy.Overwrite => newFiles
        case SinkPolicy.RelandByDate(_) =>
          // dynamic partition replacement: drop every old file living in a
          // partition the new batch carries, keep the rest, add the batch
          val replaced = newFiles.flatMap(TxnLog.partitionSegments).toSet
          old.filterNot(f =>
            TxnLog.partitionSegments(f).exists(replaced.contains)) ++ newFiles
      }
    }
    if (n == 0) LoadResult(table, "skipped-empty", 0L)
    else LoadResult(table, policy.toString, n)
  }

  /** The one commit path of every write ([[load]], [[upsertAt]],
    * [[publishRewrite]]): stream `df` into new files ([[writeTxn]]), type
    * them ([[writtenSchema]]), collect their zone-map stats on
    * `statsCols`, fire [[CrashHooks]] around the manifest commit, and
    * publish. Inside the commit's retry loop `nextFiles` gives the next
    * version's file list from the racing head and the new files (it may
    * throw to abort); the head's per-file stats carry over when it
    * records the same stats columns — after a switch, kept files carry
    * none (never pruned) until rewritten — and [[TxnLog.commit]] drops
    * the stats of files no longer listed. A write whose schema cannot be
    * derived throws before it publishes; its files stay unreferenced
    * until [[vacuum]]. Returns the rows written: 0 for an empty `df`,
    * which commits nothing. */
  private def commitWrite(table: String, df: DataFrame, partCols: Seq[String],
                          statsCols: Seq[String], txnId: Option[String])
                         (nextFiles: (Option[Manifest], Seq[String]) => Seq[String]): Long = {
    val dir = tableDir(table)
    val (newFiles, n) = writeTxn(dir, df, partCols)
    if (n > 0) {
      val written = writtenSchema(dir, newFiles, df, partCols)
      val newStats =
        if (statsCols.nonEmpty) collectStats(dir, newFiles, written, partCols, statsCols)
        else Map.empty[String, Seq[(String, String)]]
      CrashHooks.beforeManifestCommit(table)
      TxnLog.commit(dir, txnId) { cur =>
        val files = nextFiles(cur, newFiles)
        val inherited = cur.filter(_.statsCols == statsCols)
          .map(_.fileStats).getOrElse(Map.empty)
        ManifestData(partCols, files, statsCols, inherited ++ newStats,
          Some(nextSchema(dir, cur, partCols, files, newFiles, written)))
      }
      CrashHooks.afterCommit(table)
    }
    n
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
      readPinned(tableDir(table),
        TxnLog.readVersion(tableDir(table), toVersion), added)
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
             maxRewriteFiles: Int = Warehouse.DefaultMaxRewriteFiles): LoadResult =
    upsertAt(table, df, keyCols, txnId, maxRewriteFiles, DriverLocal.RowGate)

  /** [[upsert]] with the driver gate of its key bookkeeping as a
    * parameter ([[MergeKeys]]): a batch of at most `gate` keys is
    * counted, probed and filtered from one collect of its keys; a larger
    * one runs the distributed census and joins. */
  private[pipeline] def upsertAt(table: String, df: DataFrame,
                                 keyCols: Seq[String], txnId: Option[String],
                                 maxRewriteFiles: Int, gate: Long): LoadResult = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val dir = tableDir(table)
    // same idempotent-writer replay guard as [[load]]: a merge whose
    // commit landed but whose caller died before checkpointing must not
    // apply twice (it WOULD be value-idempotent, but each replay would
    // burn a version and rewrite files for nothing)
    if (txnId.exists(TxnLog.txnCommitted(dir, _)))
      return LoadResult(table, "skipped-duplicate-txn", 0L)
    val curOpt = TxnLog.current(dir)
    if (curOpt.isEmpty) return load(table, df, SinkPolicy.Append, txnId)
    val cur = curOpt.get
    // read twice under the gate (keys, land), four times past it (key
    // census, probe, anti-join, land)
    val batch = df.persist()
    try {
      require(keyCols.forall(batch.columns.contains),
        s"batch lacks key column(s) ${keyCols.filterNot(batch.columns.contains).mkString(",")}")
      val keys = new MergeKeys(batch.select(keyCols.map(col): _*), keyCols, gate)
      val mergedRows = keys.census()
      val existing = readPinned(dir, cur, cur.files)
      require(keyCols.forall(existing.columns.contains),
        s"$table lacks key column(s) ${keyCols.filterNot(existing.columns.contains).mkString(",")}")
      // probe: which CURRENT files hold a matched key (reads keys only).
      // The collect is BOUNDED to maxRewriteFiles + 1 files — the same
      // driver-envelope discipline as the manifest: a batch whose keys
      // touch more files than that is no longer a selective merge but a
      // table rewrite in disguise, and silently collecting ~10^6 paths
      // (then rewriting them all copy-on-write) is the wrong tool for it
      val affectedAbs = keys.files(existing.select((keyCols.map(col) :+
        input_file_name().as("__file")): _*), maxRewriteFiles)
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
        else Some(keys.matching(readPinned(dir, cur, affectedRel), hit = false))
      val toWrite = survivors
        .map(_.unionByName(batch, allowMissingColumns = true))
        .getOrElse(batch)
      val n = commitWrite(table, toWrite, cur.partitionCols, cur.statsCols, txnId) {
        (now, newFiles) =>
          if (now.map(_.version) != Some(cur.version))
            throw new java.util.ConcurrentModificationException(
              s"$table changed during upsert (v${cur.version} -> " +
                s"v${now.map(_.version).getOrElse(0L)}); re-run")
          TxnLog.mergeRewrite(affectedRel, cur.files, newFiles).get
      }
      if (n == 0) return LoadResult(table, "skipped-empty", 0L)
      // rows = rows the CALLER merged (same contract as load's landed-row
      // count), not the rewrite volume — the carried-over survivors of
      // affected files are an implementation detail of copy-on-write
      LoadResult(table, s"upserted(rewrote=${affectedRel.size} files)",
        mergedRows)
    } finally batch.unpersist()
  }

  /** An upsert batch's key columns as the merge matches them: NULL-SAFE
    * (`<=>` on every key column, Spark's grouping equality — nulls equal,
    * −0.0 = 0.0, NaN = NaN, binary by content). At most `gate` keys are
    * collected once ([[DriverLocal.rowsUpTo]]) and every question is
    * answered from those rows: the census counts them on the driver
    * ([[DriverLocal.groupingKey]]) and a frame's rows match by one
    * membership predicate over `struct(keys)` ([[inBatch]]), so no job
    * joins against the batch. Past the gate the census is an aggregate
    * and matching a semi/anti join, as at any scale. */
  private[pipeline] final class MergeKeys(batchKeys: DataFrame,
                                          keyCols: Seq[String], gate: Long) {
    private val local: Option[Array[Row]] = DriverLocal.rowsUpTo(batchKeys, gate)

    /** `struct(keys) INSET (<collected keys>)` over `df`'s key columns.
      * Each key column takes the type the analyzer would widen the two
      * sides to (a batch `bigint` key against an `int` column compares
      * as `bigint`), and the collected keys are cast to it once, here.
      * `InSet` orders structs field by field with nulls equal, −0.0 = 0.0
      * and NaN = NaN: `<=>` on every key column, for every key type. It
      * is built directly rather than as an `In` of key literals, whose
      * analysis and optimisation walk one expression per key — at the
      * gate's 16,384 keys that made the driver branch slower than the
      * joins. A struct set is never compiled into a per-batch `switch`:
      * its generated class is the same for every batch. */
    private def inBatch(df: DataFrame): Column = {
      val coercion = if (SQLConf.get.ansiEnabled) AnsiTypeCoercion else TypeCoercion
      val types = keyCols.map { c =>
        val (t, b) = (df.schema(c).dataType, batchKeys.schema(c).dataType)
        if (t == b) t else coercion.findWiderCommonType(Seq(t, b)).getOrElse(
          throw new IllegalArgumentException(
            s"upsert key $c: batch type ${b.sql} does not compare with ${t.sql}"))
      }
      val tz = Option(SQLConf.get.sessionLocalTimeZone)
      val casts = batchKeys.schema.fields.toSeq.zip(types).map { case (f, t) =>
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(f.dataType)
        (v: Any) =>
          if (f.dataType == t) toCatalyst(v)
          else Cast(Literal(toCatalyst(v), f.dataType), t, tz).eval()
      }
      val keyed = keyCols.zip(types).map { case (c, t) => col(c).cast(t).as(c) }
      GraftExpr.column(InSet(GraftExpr.expression(struct(keyed: _*)),
        local.get.iterator.map { r =>
          InternalRow.fromSeq(casts.indices.map(i => casts(i)(r.get(i))))
        }.toSet))
    }

    /** The batch's row count — the rows the caller merges; refuses a
      * batch with duplicate keys, like Delta's MERGE: "latest" is
      * undefined inside one unordered batch. */
    def census(): Long = {
      val (rows, dup) = local match {
        case Some(ks) =>
          (ks.length.toLong,
            ks.iterator.map(DriverLocal.groupingKey).toSet.size < ks.length)
        case None =>
          // ONE aggregate answers both the duplicate-key verdict (the
          // largest per-key count) and the merged-row count (their sum)
          val c = batchKeys.groupBy(keyCols.map(col): _*).count()
            .agg(max(col("count")), sum(col("count"))).head()
          (if (c.isNullAt(1)) 0L else c.getLong(1),
            !c.isNullAt(0) && c.getLong(0) > 1)
      }
      require(!dup, s"batch has duplicate keys on (${keyCols.mkString(",")}) — " +
        "latest-wins is undefined within one batch")
      rows
    }

    /** The rows of `df` whose key matches a batch key (`hit`), or the
      * rows whose key matches none. */
    def matching(df: DataFrame, hit: Boolean): DataFrame =
      if (local.isDefined) {
        val in = inBatch(df)
        df.where(if (hit) in else !in)
      } else df.join(batchKeys,
        keyCols.map(c => df(c) <=> batchKeys(c)).reduce(_ && _),
        if (hit) "left_semi" else "left_anti")

    /** The distinct `__file` values of the rows of `probed` that match a
      * batch key — at most `cap + 1` of them. Under the gate they come
      * from one gated collect, de-duplicated here; a probe matching
      * more rows than the gate, and every probe past it, runs the
      * distributed `distinct`. */
    def files(probed: DataFrame, cap: Int): Array[String] =
      if (local.exists(_.isEmpty)) Array.empty
      else {
        val hits = matching(probed, hit = true).select(col("__file"))
        local.flatMap(_ => DriverLocal.rowsUpTo(hits, gate))
          .map(_.map(_.getString(0)).distinct)
          .getOrElse(hits.distinct().limit(cap + 1).collect().map(_.getString(0)))
      }
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
    val (cur, nFiles, snapshot) = resolveForRewrite(table, targetBytesPerFile)
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
    publishRewrite(table, cur, shaped,
      s"compacted(${if (cur.partitionCols.nonEmpty) "per-partition" else s"$nFiles files"})")
  }

  /** Z-ORDER compaction: rewrite the table clustered on the bit-
    * interleave of the given columns' QUANTILE-BUCKET ids, so every
    * rewritten file covers a small BOX in the multi-dimensional value
    * space — which is exactly what makes a filtered [[read]]'s per-column
    * zone-map tests prune hard on compound predicates (Delta's
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
    val (cur, nFiles, snapshot) = resolveForRewrite(table, targetBytesPerFile)
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
    publishRewrite(table, cur, shaped,
      s"z-ordered(${zCols.mkString(",")},$nFiles files)")
  }

  /** The shared rewrite preamble of [[compact]]/[[compactZOrder]]:
    * refuse catalog (bucketed) tables whose bucket-id file names a
    * path-level rewrite cannot reproduce, resolve the pinned manifest,
    * and size the output file count from current on-disk bytes. */
  private def resolveForRewrite(table: String, targetBytesPerFile: Long)
      : (Manifest, Int, DataFrame) = {
    require(!spark.catalog.tableExists(table),
      s"$table is a catalog table (possibly bucketed) — rewrite it with loadBucketed, not compact")
    val dir = tableDir(table)
    val cur = TxnLog.current(dir).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    val bytes = cur.files.map(f => Files.size(dir.resolve(f))).sum
    val nFiles = math.max(1, (bytes / targetBytesPerFile).toInt)
    (cur, nFiles, readPinned(dir, cur, cur.files))
  }

  /** The shared rewrite-publish tail of [[compact]]/[[compactZOrder]]:
    * commit the reshaped snapshot, merged against whatever committed
    * while we rewrote — concurrent APPENDS are kept alongside the
    * rewrite; a concurrent removal of a rewritten file (re-land/
    * overwrite/second rewrite) would make this rewrite resurrect deleted
    * rows, so that aborts instead of losing data (orphaned rewrite files
    * go to vacuum). */
  private def publishRewrite(table: String, cur: Manifest,
                             shaped: DataFrame, label: String): LoadResult = {
    val n = commitWrite(table, shaped, cur.partitionCols, cur.statsCols, None) {
      (now, newFiles) =>
        TxnLog.mergeRewrite(cur.files, now.map(_.files).getOrElse(Seq.empty), newFiles)
          .getOrElse(throw new java.util.ConcurrentModificationException(
            s"$table changed incompatibly during compaction " +
              "(a rewritten file was removed concurrently); re-run compact"))
    }
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
        TxnLog.commit(dir, cur.txnId, forceSnapshot = true)(now =>
          // rebuilt against the latest head in case a writer races us —
          // checkpointing must never roll back a concurrent commit
          now.map(m => ManifestData(m.partitionCols, m.files, m.statsCols,
              m.fileStats, m.schema))
            .getOrElse(ManifestData(cur.partitionCols, cur.files,
              cur.statsCols, cur.fileStats, cur.schema)))
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
    // On a directory with NO commit history, only the commit protocol's
    // own leftovers are reclaimable — unreferenced plain-named parquet
    // there is someone else's data (it is no table, and never read), not
    // garbage.
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
