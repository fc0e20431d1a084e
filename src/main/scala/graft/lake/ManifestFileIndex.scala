package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, NoopCache,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The file listing of one manifest read: the leaf files are the
  * snapshot's entries under one `data/` dir and one layout, so
  * building and listing it makes no file-system call (Delta's
  * `TahoeFileIndex`). Partition values and their types come from
  * Spark's own hive-path parsing of those files' dirs, as a path-based
  * read would infer them.
  *
  * `listFiles` keeps the files `keep` admits for the pushed data
  * filters — the manifest's file-skipping kernel — so any filter
  * Catalyst pushes into the scan skips files: SQL, `read().filter`
  * and the DML scans alike. Every listed file carries its entry's
  * per-file scan constants ([[ManifestFileIndex.RidBase]]).
  *
  * @param base     the `data/` dir the files' partition paths start at
  * @param files    the files, with their lengths and scan constants
  * @param userSchema a known read schema, whose types partition
  *                 columns take (as `spark.read.schema(...)` does)
  * @param keep     the kernel: pushed data filters to a per-file test
  */
private[lake] final class ManifestFileIndex(spark: SparkSession, base: Path,
    files: Seq[FileStatusWithMetadata], userSchema: Option[StructType],
    keep: Seq[Expression] => Path => Boolean)
    extends PartitioningAwareFileIndex(spark, Map.empty, userSchema, NoopCache) {

  private val byPath: Map[Path, FileStatusWithMetadata] =
    files.map(f => f.getPath -> f).toMap

  override lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap.from(files.map(f => f.getPath -> f.fileStatus))

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.map(_.fileStatus).toArray.groupBy(_.getPath.getParent)

  override lazy val partitionSpec: PartitionSpec = inferPartitioning()

  override def rootPaths: Seq[Path] = Seq(base)

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = keep(dataFilters)
    super.listFiles(partitionFilters, dataFilters).map(d =>
      d.copy(files = d.files.collect { case f if kept(f.getPath) => byPath(f.getPath) }))
      .filter(_.files.nonEmpty)
  }
}

private[lake] object ManifestFileIndex {
  /** `_metadata` field holding a file's row-id base (the entry's
    * `#rid`; NULL for a file that predates row tracking). */
  val RidBase = "graft_rid_base"

  /** A listed file: its length and row-id base from the manifest. */
  def file(path: Path, length: Long, ridBase: Option[Long]): FileStatusWithMetadata =
    FileStatusWithMetadata(new FileStatus(length, false, 1, 128L << 20, 0L, path),
      ridBase.fold(Map.empty[String, Any])(b => Map(RidBase -> b)))
}

/** Parquet with one more file-constant `_metadata` field, the row-id
  * base each listed file carries ([[ManifestFileIndex.RidBase]]; Spark
  * reads a field no extractor names from the file's listed metadata):
  * a scan reads `_metadata.graft_rid_base + _metadata.row_index` as a
  * row's id, with no join against a table of bases.
  */
private[lake] class ManifestParquetFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields :+
      FileSourceConstantMetadataStructField(ManifestFileIndex.RidBase, LongType)
}
