package graft.storage

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, GraftFileBridge, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A Spark `FileIndex` over a fixed file list taken from the FactTable
  * log (the design of Delta's `TahoeFileIndex`): every file's path,
  * length and modification time come from its log entry and every
  * partition value was parsed from its path beforehand, so planning a
  * scan never lists a directory, stats a file, or submits a job.
  * Partition filters prune whole partitions at plan time, exactly as
  * Spark's own `InMemoryFileIndex` does.
  *
  * Equality is by file set and partition schema (Spark's
  * `InMemoryFileIndex` compares its root paths), so two reads of the
  * same snapshot plan as the same relation: cached frames match and
  * self-joins reuse exchanges.
  */
private[storage] final class LogFileIndex(
    override val rootPaths: Seq[Path],
    override val partitionSchema: StructType,
    partitions: Seq[PartitionDirectory]) extends FileIndex {

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      // the PartitioningAwareFileIndex.prunePartitions binding
      val pred = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform { case a: AttributeReference =>
          val i = partitionSchema.indexWhere(_.name == a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partitions.filter(p => pred.eval(p.values))
    }

  private lazy val files: Seq[FileStatusWithMetadata] = partitions.flatMap(_.files)
  private lazy val fileSet: Set[String] = inputFiles.toSet

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long = files.map(_.getLen).sum

  override def equals(o: Any): Boolean = o match {
    case l: LogFileIndex => l.partitionSchema == partitionSchema && l.fileSet == fileSet
    case _ => false
  }
  override def hashCode(): Int = fileSet.hashCode
}

private[storage] object LogFileIndex {
  /** Index `files` (log entries). With `partitioned`, each file's
    * hive-style `k=v` directory segments below its generation root (the
    * nearest ancestor that is not such a segment) become partition
    * values, typed by Spark's own partition inference as a directory
    * read would type them (`date=2024-03-01` is a DATE, `k=7` an INT).
    * Without it the index has no partition columns and directory names
    * are never parsed.
    */
  def apply(files: Seq[FactTable.FileEntry], partitioned: Boolean,
      conf: SQLConf): LogFileIndex = {
    val byDir = mutable.LinkedHashMap[Path, mutable.ArrayBuffer[FactTable.FileEntry]]()
    files.foreach(f => byDir.getOrElseUpdate(new Path(f.path).getParent,
      mutable.ArrayBuffer.empty) += f)
    val dirs = byDir.keys.toSeq
    def generationRoot(dir: Path): Path =
      if (dir.getParent != null && dir.getName.contains('=')) generationRoot(dir.getParent)
      else dir
    val roots = dirs.map(generationRoot).distinct
    val spec =
      if (!partitioned) PartitionSpec.emptySpec
      else GraftFileBridge.parsePartitions(dirs, roots.toSet, conf)
    val values = spec.partitions.map(p => p.path -> p.values).toMap
    val width = spec.partitionColumns.length
    new LogFileIndex(roots, spec.partitionColumns,
      byDir.toSeq.map { case (dir, fs) =>
        // no parsed values: the empty row of a flat index (or NULLs)
        PartitionDirectory(values.getOrElse(dir, new GenericInternalRow(width)),
          fs.toSeq.map(f => FileStatusWithMetadata(
            new FileStatus(f.bytes, false, 1, 0L, f.addedMs, new Path(f.path)))))
      })
  }
}
