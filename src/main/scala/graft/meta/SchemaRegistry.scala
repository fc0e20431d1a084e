package graft.meta

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}

/** Catalog schema governance (S6/S7, SURVEY.md §1.2) — Spark-native
  * equivalent of the Glue crawlers' SchemaChangePolicy
  * (`/root/reference/glue_infra.py:101-104`):
  *
  *  - UpdateBehavior UPDATE_IN_DATABASE → new columns are appended,
  *    type changes update in place;
  *  - DeleteBehavior DEPRECATE_IN_DATABASE → columns missing from a
  *    new inference are kept but flagged deprecated (soft delete).
  *
  * Schemas persist as Spark StructType JSON, one file per table,
  * committed via write-temp + atomic rename (same single-writer model
  * as the manifest log).
  */
class SchemaRegistry(spark: SparkSession, dir: String) {

  case class SchemaDiff(
      added: Seq[String],
      deprecated: Seq[String],
      retyped: Seq[(String, String, String)]) {
    def isNoop: Boolean = added.isEmpty && deprecated.isEmpty && retyped.isEmpty
  }

  // resolved once: every resolution copies the whole Hadoop and SQL conf
  private lazy val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
  private def pathOf(table: String) = new Path(dir, s"$table.schema.json")

  def schemaOf(table: String): Option[StructType] = {
    val p = pathOf(table)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(DataType.fromJson(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString).asInstanceOf[StructType])
      finally in.close()
    }
  }

  def isDeprecated(f: StructField): Boolean =
    f.metadata.contains("deprecated") && f.metadata.getBoolean("deprecated")

  private def deprecate(f: StructField): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putBoolean("deprecated", true).build())

  /** Replace the table's schema file rename-first
    * ([[graft.lake.ManifestTable.replaceFile]]). */
  private def save(table: String, schema: StructType): Unit = {
    fs.mkdirs(new Path(dir))
    graft.lake.ManifestTable.replaceFile(fs, pathOf(table))(
      _.write(schema.json.getBytes("UTF-8")))
  }

  /** Register a freshly inferred schema, applying the evolution policy
    * against the cataloged one. Returns the applied diff.
    */
  def register(table: String, inferred: StructType): SchemaDiff =
    schemaOf(table) match {
      case None =>
        save(table, inferred)
        SchemaDiff(inferred.fieldNames.toSeq, Nil, Nil)
      case Some(old) =>
        val inferredByName = inferred.fields.map(f => f.name -> f).toMap
        val evolvedExisting = old.fields.map { f =>
          inferredByName.get(f.name) match {
            case Some(nf) if nf.dataType != f.dataType =>
              // UPDATE_IN_DATABASE; a column present in the inference
              // is live regardless of its previous state — a
              // deprecated column re-appearing WITH a new type must
              // shed its deprecation flag like the same-type branch
              f.copy(dataType = nf.dataType,
                metadata = if (isDeprecated(f)) Metadata.empty else f.metadata)
            case Some(_) =>
              // column re-appeared: clear any deprecation flag
              if (isDeprecated(f)) f.copy(metadata = Metadata.empty) else f
            case None => deprecate(f) // DEPRECATE_IN_DATABASE
          }
        }
        val oldNames = old.fieldNames.toSet
        val addedFields = inferred.fields.filterNot(f => oldNames.contains(f.name))
        val evolved = StructType(evolvedExisting ++ addedFields)
        save(table, evolved)
        SchemaDiff(
          added = addedFields.map(_.name).toSeq,
          deprecated = old.fields.toSeq.collect {
            case f if !inferredByName.contains(f.name) && !isDeprecated(f) => f.name
          },
          retyped = old.fields.toSeq.collect {
            case f if inferredByName.get(f.name).exists(_.dataType != f.dataType) =>
              (f.name, f.dataType.simpleString,
                inferredByName(f.name).dataType.simpleString)
          })
    }

  def tables: Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".schema.json")).map(_.stripSuffix(".schema.json")).sorted
  }
}
