package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's partition inference over known leaf directories — the call
  * `InMemoryFileIndex` makes after its listing
  * (`PartitioningAwareFileIndex.inferPartitioning`), without the
  * listing. `PartitioningUtils.parsePartitions` is `private[datasources]`
  * in Spark 4, so this one-file shim lives in its package, like
  * [[org.apache.spark.sql.GraftExpr]]. */
object GraftPartitions {

  /** The partition schema that a read of files in `leafDirs` under
    * `basePath` (both qualified) infers from their `col=value` segments,
    * under the session's type-inference, case-sensitivity, validation
    * and time-zone settings; `data` is the user-specified data schema. */
  def schema(basePath: Path, leafDirs: Seq[Path], data: StructType): StructType = {
    val conf = SQLConf.get
    PartitioningUtils.parsePartitions(leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(basePath),
      userSpecifiedSchema = Some(data),
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths).partitionColumns
  }
}
