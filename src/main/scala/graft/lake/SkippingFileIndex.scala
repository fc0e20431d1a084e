package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] that hides the data files file skipping ruled out,
  * by basename: data files are uuid-named, so a name never matches
  * another data file or a deletion-vector sidecar. Everything else —
  * root paths, partition schema and values, the listing itself —
  * comes from `base`, so a narrowed read keeps the full read's schema
  * and touches the file system no further.
  */
private[lake] final class SkippingFileIndex(base: FileIndex,
    skipped: Set[String]) extends FileIndex {
  override def rootPaths: Seq[Path] = base.rootPaths
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    base.listFiles(partitionFilters, dataFilters)
      .map(d => d.copy(files = d.files.filterNot(f => skipped(f.getPath.getName))))
      .filter(_.files.nonEmpty)
  override def inputFiles: Array[String] =
    base.inputFiles.filterNot(f => skipped(new Path(f).getName))
  override def refresh(): Unit = base.refresh()
  override def sizeInBytes: Long =
    listFiles(Nil, Nil).iterator.flatMap(_.files).map(_.getLen).sum
  override def partitionSchema: StructType = base.partitionSchema
}
