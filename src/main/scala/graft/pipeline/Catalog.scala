package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Catalog introspection over a parquet warehouse directory — the engine
  * analogue of the reference's `__TABLES__` metadata scans:
  *
  *   - table existence (S3): `SELECT table_id FROM __TABLES__` + membership
  *     test (`functions/utils/datasources.py:136-139,309-312,390-393`)
  *   - last-modified (S4): `DATE(TIMESTAMP_MILLIS(last_modified_time))`
  *     (`functions/utils/datasources.py:394-396`)
  *
  * A "table" is what [[Warehouse]] commits: a directory under the
  * warehouse root with a manifest log (see [[TxnLog]]). On a real cluster
  * these calls would go through `spark.catalog.tableExists` / Delta
  * history; here both answer from the log directory's LISTING alone —
  * no manifest is opened — so a polling orchestrator's per-check cost
  * is one directory list. Directory streams are closed eagerly (Using),
  * since GC-reclaimed handles would accumulate toward the fd ulimit.
  */
final case class Catalog(root: String) {

  private def tableDir(table: String): Path = Paths.get(root, table)

  /** S3: does the table exist, i.e. has any version been committed?
    * Files without a manifest — a crashed commit's orphans, an external
    * writer's parquet — do not make a table. */
  def tableExists(table: String): Boolean =
    TxnLog.versions(tableDir(table)).nonEmpty

  /** All table names present in the warehouse (the `__TABLES__` scan). */
  def listTables(): Seq[String] =
    if (!Files.isDirectory(Paths.get(root))) Seq.empty
    else Using.resource(Files.list(Paths.get(root))) { stream =>
      stream.iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
    }

  /** S4: last-modified instant of a table = commit time of its current
    * manifest — more faithful than a part-file mtime walk, since it marks
    * when the version became VISIBLE (and is O(1), not O(#files)). */
  def lastModified(table: String): Option[Instant] =
    TxnLog.lastCommitTime(tableDir(table))

  /** S4 as the reference consumes it: the last-modified *date*
    * (`DATE(TIMESTAMP_MILLIS(last_modified_time))`). */
  def lastModifiedDate(table: String): Option[LocalDate] =
    lastModified(table).map(_.atOffset(ZoneOffset.UTC).toLocalDate)
}
