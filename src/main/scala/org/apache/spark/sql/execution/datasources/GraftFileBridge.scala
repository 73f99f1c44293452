package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into the two `private` pieces of Spark's file-source read
  * that a log-backed file index reuses, so it types partitions and
  * merges schemas exactly as a directory read does. Lives in Spark's
  * package solely to re-export them.
  */
object GraftFileBridge {
  /** Partition values of `leafDirs`, parsed from their `k=v` segments
    * below `basePaths` and typed as `InMemoryFileIndex` types them,
    * with type conflicts resolved across all of them. A directory read
    * demands a single base path; here every generation root is one, so
    * that check is off (`ignoreInvalidPartitionPaths` guards only it).
    */
  def parsePartitions(leafDirs: Seq[Path], basePaths: Set[Path],
      conf: SQLConf): PartitionSpec =
    PartitioningUtils.parsePartitions(leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = basePaths,
      userSpecifiedSchema = None,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = true)

  /** The data schema a `mergeSchema` parquet read gives over files with
    * these schemas: Spark's `StructType.merge` rule (fields of the first
    * in order, then fields new in later ones; nested structs merge
    * recursively; incompatible types throw), every field nullable as in
    * any file-source read.
    */
  def mergedReadSchema(schemas: Seq[StructType], conf: SQLConf): StructType =
    schemas.distinct.reduce(_.merge(_, conf.caseSensitiveAnalysis)).asNullable
}
