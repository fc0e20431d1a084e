package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}

/** Everything a table knows about itself besides its file set, as ONE
  * immutable record (Delta's metadata action, Iceberg's
  * `TableMetadata`). Records are published write-once as numbered
  * files `_graft_log/m<NNNNN>.metadata`; the highest number is the
  * current record, and every change publishes the next number (see
  * `ManifestTable.updateMetadata`). The fields apply to every version
  * of the table (readers key renames and drops on the record, not on
  * the snapshot).
  */
final case class TableMetadata(
    /** Partition/stats/bloom layout; None until the first commit. */
    config: Option[TableMetadata.Config] = None,
    /** CHECK constraints: name → SQL boolean expression. */
    constraints: Map[String, String] = Map.empty,
    /** Column renames: physical → logical name. */
    columnMapping: Map[String, String] = Map.empty,
    /** Dropped physical columns → their logical name at drop time. */
    dropped: Map[String, String] = Map.empty,
    /** Generated columns: name → SQL expression. */
    generated: Map[String, String] = Map.empty,
    /** Catalog-declared columns; DEFAULT and deprecation flags ride in
      * the field metadata. */
    declared: StructType = new StructType(),
    /** Identity columns: name → (start, step). */
    identity: Map[String, (Long, Long)] = Map.empty,
    /** Write-time change-data capture is on. */
    cdcEnabled: Boolean = false) {

  /** The physical storage name a logical column resolves to. */
  def physicalOf(logical: String): String =
    columnMapping.collectFirst { case (p, l) if l == logical => p }
      .getOrElse(logical)

  /** Declared columns carrying a DEFAULT, keyed by PHYSICAL name (the
    * name parquet files would hold) → the stored literal SQL.
    */
  def declaredDefaults: Map[String, String] =
    declared.fields.collect {
      case f if f.metadata.contains(ManifestTable.DefaultKey) =>
        physicalOf(f.name) -> f.metadata.getString(ManifestTable.DefaultKey)
    }.toMap
}

object TableMetadata {
  /** A table's declared layout: identity partition columns, partition
    * transform specs, zone-map columns and the bloom column with its
    * bit and hash counts.
    */
  final case class Config(partitionCols: Seq[String],
      partitionSpec: Seq[String], statsCols: Seq[String],
      bloomCol: Option[String], bloomBits: Int, bloomHashes: Int)

  val Empty: TableMetadata = TableMetadata()

  private val Header = "graft-table-metadata 1"

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** The on-disk text: a header line, then one tab-separated line per
    * fact, `<tag>[\t<field>]*`, every name, expression and JSON value
    * URL-encoded (so tabs, newlines and '%' inside them cannot break
    * the framing). Lines sort, so equal records encode equally.
    */
  def encode(m: TableMetadata): String = {
    def line(tag: String, fields: Seq[String]) = (tag +: fields).mkString("\t")
    def pairs(tag: String, kv: Map[String, String]) =
      kv.toSeq.sorted.map { case (k, v) => line(tag, Seq(enc(k), enc(v))) }
    val config = m.config.toSeq.flatMap { c =>
      Seq(line("config", Seq(c.bloomBits.toString, c.bloomHashes.toString)),
        line("partition_cols", c.partitionCols.map(enc)),
        line("partition_spec", c.partitionSpec.map(enc)),
        line("stats_cols", c.statsCols.map(enc))) ++
        c.bloomCol.map(b => line("bloom_col", Seq(enc(b))))
    }
    (Seq(Header) ++ config ++ (if (m.cdcEnabled) Seq("cdc") else Nil) ++
      pairs("constraint", m.constraints) ++
      pairs("column_mapping", m.columnMapping) ++
      pairs("dropped", m.dropped) ++
      pairs("generated", m.generated) ++
      m.identity.toSeq.sortBy(_._1).map { case (n, (s, k)) =>
        line("identity", Seq(enc(n), s.toString, k.toString))
      } ++
      (if (m.declared.isEmpty) Nil
       else Seq(line("declared", Seq(enc(m.declared.json))))))
      .mkString("", "\n", "\n")
  }

  def decode(text: String): TableMetadata = {
    val lines = text.split('\n').toSeq.filter(_.nonEmpty)
    require(lines.headOption.contains(Header),
      s"not a table metadata record (header ${lines.headOption.getOrElse("")})")
    val byTag = lines.tail.map(_.split("\t", -1).toSeq)
      .groupBy(_.head).map { case (t, ls) => t -> ls.map(_.tail) }
    def all(tag: String): Seq[Seq[String]] = byTag.getOrElse(tag, Nil)
    def one(tag: String): Option[Seq[String]] = all(tag).headOption
    def list(tag: String): Seq[String] = one(tag).getOrElse(Nil).map(dec)
    def pairs(tag: String): Map[String, String] =
      all(tag).map(f => dec(f(0)) -> dec(f(1))).toMap
    TableMetadata(
      config = one("config").map(f => Config(list("partition_cols"),
        list("partition_spec"), list("stats_cols"),
        one("bloom_col").map(b => dec(b.head)), f(0).toInt, f(1).toInt)),
      constraints = pairs("constraint"),
      columnMapping = pairs("column_mapping"),
      dropped = pairs("dropped"),
      generated = pairs("generated"),
      declared = one("declared")
        .map(f => DataType.fromJson(dec(f.head)).asInstanceOf[StructType])
        .getOrElse(new StructType()),
      identity = all("identity")
        .map(f => dec(f(0)) -> (f(1).toLong, f(2).toLong)).toMap,
      cdcEnabled = one("cdc").isDefined)
  }
}
