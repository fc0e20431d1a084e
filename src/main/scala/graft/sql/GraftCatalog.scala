package graft.sql

import java.util

import graft.lake.ManifestTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Name-based SQL over governed [[ManifestTable]]s — the Glue-catalog
  * surface of the reference (`glue_infra.py:146-153` lists
  * `retail_lakehouse_db` tables; Athena queries them BY NAME) as a
  * Spark DataSource V2 `TableCatalog`:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lakehouse",
  *     "graft.sql.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.lakehouse.root", "/lake")
  *   spark.sql("SELECT * FROM lakehouse.silver.orders")          // latest
  *   spark.sql("SELECT * FROM lakehouse.silver.orders VERSION AS OF 2")
  *   spark.sql("SHOW TABLES IN lakehouse.silver")
  * }}}
  *
  * Layout: a namespace is a directory under the configured root; a
  * table is a directory containing a `_graft_log` manifest. Reads go
  * through [[ManifestTable.read]], so every governed behavior —
  * deletion vectors, declared schema, hidden partitioning, time
  * travel — applies identically to path-based and name-based access.
  *
  * Scan path: the table's ScanBuilder takes DSv2 column pruning and
  * filter pushdown, applies both to the inner DataFrame, and hands
  * Spark a [[V1Scan]] over the optimized sub-plan — Catalyst compiles
  * that sub-plan with the same parquet pushdown/pruning as a direct
  * `read()`, so name-based access costs one extra Row conversion pass
  * and nothing else at the scan.
  *
  * Spark caches catalog plugin instances per session on first use
  * (standard CatalogManager behavior), so set the `.root` conf BEFORE
  * the first query that names the catalog; a later conf change does
  * not re-initialize an already-resolved catalog.
  *
  * SQL DML: `INSERT INTO` / `INSERT OVERWRITE` commit through the
  * same `ManifestTable.write` append/overwrite path (a V1Write
  * bridge), and `DELETE FROM ... WHERE` routes to the deletion-vector
  * `delete` — so CTAS, INSERT and DELETE are plain SQL. The richer
  * commit protocols (MERGE, WAP branches, optimistic-concurrency
  * retries) stay on the `CALL graft.*` / API surfaces where their
  * semantics are explicit; `alterTable` is likewise routed to the
  * declared-schema surface (L26). Time-travel-pinned tables
  * (VERSION/TIMESTAMP AS OF) refuse writes and deletes.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active
  // resolved once: every resolution copies the whole Hadoop and SQL conf
  private lazy val fs =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"GraftCatalog '$name' requires spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def dirOf(namespace: Array[String], leaf: String = ""): Path = {
    val segs = namespace.toSeq ++ (if (leaf.isEmpty) Nil else Seq(leaf))
    segs.foldLeft(new Path(root))((p, s) => new Path(p, s))
  }

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_graft_log"))

  /** No namespace segment may be a table directory — a table nested
    * inside a table would be invisible to SHOW NAMESPACES and read as
    * data by table maintenance. One walk, shared by every surface that
    * validates or creates namespace paths.
    */
  private def firstTableAncestor(
      namespace: Array[String]): Option[Array[String]] =
    namespace.indices
      .find(i => isTableDir(dirOf(namespace.take(i + 1))))
      .map(i => namespace.take(i + 1))

  private def requireNoTableAncestor(namespace: Array[String]): Unit =
    firstTableAncestor(namespace).foreach { prefix =>
      throw new IllegalArgumentException(
        s"'${prefix.mkString(".")}' is a table, not a namespace — " +
          "tables cannot nest inside tables")
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getName))
      .sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident.namespace(), ident.name())
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    new GraftSqlTable(ident, dir.toString, None, None)
  }

  /** `VERSION AS OF n` time travel — or `VERSION AS OF '<tag>'`: a
    * non-numeric version string resolves through the table's named
    * tags (L36, the Iceberg `VERSION AS OF 'tag'` surface).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    loadTable(ident) // existence check
    val dir = dirOf(ident.namespace(), ident.name()).toString
    // ASCII digits only ([0-9]+, not Character.isDigit — which admits
    // non-ASCII Unicode digits), parsed as Long with an Int range
    // check: an out-of-range numeric like '4294967296' must get the
    // friendly "integer or tag name" error, not a raw
    // NumberFormatException from toInt
    val asVersion =
      if (version.nonEmpty && version.forall(c => c >= '0' && c <= '9'))
        try Some(version.toLong).filter(_.isValidInt).map(_.toInt)
        catch { case _: NumberFormatException => None }
      else None
    asVersion match {
      case Some(n) => new GraftSqlTable(ident, dir, Some(n), None)
      case None => {
        val mt = graft.lake.ManifestTable.forRoot(spark, dir)
        mt.tagRef(version) match {
          case Some(v) => new GraftSqlTable(ident, dir, Some(v), None)
          // the Iceberg ref namespace: tags AND branches resolve by
          // name — `VERSION AS OF 'audit'` reads the staged WAP
          // branch's audit view (main ∪ staged), read-only
          case None if mt.branches.contains(version) =>
            new GraftSqlTable(ident, dir, None, None, Some(version))
          case None => throw new IllegalArgumentException(
            s"graft table version must be an integer, a tag name, or " +
              s"a staged branch name; no ref '$version' at $dir " +
              s"(tags: ${mt.tagRefs.map(_._1).mkString(", ")}; " +
              s"branches: ${mt.branches.mkString(", ")})")
        }
      }
    }
  }

  /** `TIMESTAMP AS OF ts` time travel (micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    loadTable(ident)
    new GraftSqlTable(ident, dirOf(ident.namespace(), ident.name()).toString,
      None, Some(timestamp / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (idCols, specs) = GraftCatalog.translatePartitioning(partitions)
    // reject — never silently drop — properties the catalog cannot
    // honor: tables live under <root>/<ns>/<name> (a LOCATION clause
    // would otherwise land data somewhere other than declared),
    // storage is always the governed parquet manifest layout, and
    // comments/TBLPROPERTIES have no manifest home yet. Spark itself
    // injects `owner`; that one is accepted.
    properties.forEach { (k, v) =>
      k match {
        case TableCatalog.PROP_OWNER => ()
        case TableCatalog.PROP_PROVIDER =>
          require(v == null || v.equalsIgnoreCase("parquet") ||
            v.equalsIgnoreCase("graft"),
            s"USING $v is not supported: graft tables are always the " +
              "governed parquet manifest layout")
        case _ => throw new UnsupportedOperationException(
          s"CREATE TABLE property '$k' is not supported by this " +
            "catalog (tables are managed under the catalog root; " +
            "LOCATION/EXTERNAL/COMMENT/TBLPROPERTIES would be " +
            "silently ignored, so they are refused)")
      }
    }
    requireNoTableAncestor(ident.namespace())
    // COLUMN comments have no declared-schema home either — the
    // null-fill read path drops field metadata, so an accepted comment
    // would silently vanish; refuse, matching the table-level policy
    schema.fields.foreach { f =>
      require(f.getComment().isEmpty,
        s"CREATE TABLE column '${f.name}': COMMENT is not supported " +
          "(it would be silently ignored, so it is refused)")
    }
    val dir = dirOf(ident.namespace(), ident.name())
    if (isTableDir(dir)) throw new TableAlreadyExistsException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    // a name must never be both a table and a view — whichever rule
    // resolved first would win silently (createView holds the mirror
    // guard)
    if (viewExistsPath(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(
          Identifier.of(catalogName +: ident.namespace(), ident.name()))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // the empty bootstrap write records the table's layout, so
    // every later writer (name-based INSERT, path-based forRoot) lays
    // data out by the declared partitioning; the schema declaration
    // makes the EMPTY table read (and accept INSERTs) with its full
    // schema — a partitioned empty write lands zero parquet files
    val boot = new ManifestTable(spark, dir.toString,
      partitionCols = idCols, partitionSpec = specs)
    boot.write(empty, "overwrite")
    // declared-schema policy mirrors truncateTable: declare ONLY when
    // partitioned (a partitioned empty overwrite lands zero parquet
    // files, so an undeclared new table would read back — and refuse
    // INSERTs — with zero columns). An unpartitioned empty overwrite
    // writes one schema-bearing footer, and declaring is one-way
    // (declared columns refuse RENAME COLUMN), so an unconditional
    // declaration would break ALTER TABLE RENAME COLUMN on every
    // SQL-created table for no benefit.
    if (idCols.nonEmpty || specs.nonEmpty) boot.declareSchema(schema)
    loadTable(ident)
  }

  /** ALTER TABLE by name, routed to the declared-schema surface
    * (L26/L23): ADD COLUMNS (metadata-only — typed NULL until data
    * arrives, then mergeSchema takes over), RENAME COLUMN (logical
    * mapping, no file rewrite), and DROP COLUMN (true metadata-only
    * drop via column mapping — the physical storage is hidden and a
    * re-add of the name mints a fresh physical id so old values never
    * resurrect; `CALL graft.deprecate_columns` remains the reference's
    * Glue DEPRECATE_IN_DATABASE soft delete).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident.namespace(), ident.name())
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    val mt = ManifestTable.forRoot(spark, dir.toString)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "ADD COLUMNS: nested columns are not supported")
        require(add.position() == null,
          "ADD COLUMNS: FIRST/AFTER positioning is not supported")
        require(add.isNullable,
          "ADD COLUMNS: a NOT NULL column cannot be added to existing " +
            "rows (no backfill value)")
        // same reject-never-silently-drop policy as CREATE TABLE: a
        // comment has no declared-schema home, so accepting it would
        // silently discard it
        require(add.comment() == null,
          "ADD COLUMNS: column COMMENT is not supported (it would be " +
            "silently ignored, so it is refused)")
        mt.addColumns(
          s"`${add.fieldNames().head}` ${add.dataType().sql}")
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "RENAME COLUMN: nested columns are not supported")
        mt.renameColumn(ren.fieldNames().head, ren.newName())
      case del: TableChange.DeleteColumn =>
        // true drop via column mapping (metadata-only; a re-add of the
        // name gets a fresh physical id). CALL graft.deprecate_columns
        // remains the Glue DEPRECATE_IN_DATABASE soft delete.
        require(del.fieldNames().length == 1,
          "DROP COLUMN: nested columns are not supported")
        mt.dropColumn(del.fieldNames().head)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported by this catalog")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident.namespace(), ident.name())
    isTableDir(dir) && fs.delete(dir, true)
  }

  /** Spark hands `RENAME TO`'s target identifier through unresolved —
    * `c.ns.t2` arrives as namespace ["c","ns"] — so strip a leading
    * catalog-name segment (a real namespace named like the catalog
    * would be ambiguous; don't do that).
    */
  private def stripCatalog(ident: Identifier): Identifier =
    if (ident.namespace().headOption.contains(catalogName))
      Identifier.of(ident.namespace().drop(1), ident.name())
    else ident

  override def renameTable(oldId: Identifier, newId: Identifier): Unit = {
    val oldIdent = stripCatalog(oldId)
    val newIdent = stripCatalog(newId)
    requireNoTableAncestor(newIdent.namespace())
    val from = dirOf(oldIdent.namespace(), oldIdent.name())
    if (!isTableDir(from)) throw new NoSuchTableException(
      (catalogName +: oldIdent.namespace().toSeq :+ oldIdent.name()))
    val to = dirOf(newIdent.namespace(), newIdent.name())
    if (isTableDir(to)) throw new TableAlreadyExistsException(
      (catalogName +: newIdent.namespace().toSeq :+ newIdent.name()))
    // the never-both-table-and-view guard on a TABLE rename's target —
    // the mirror of renameView's table check
    if (viewExistsPath(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(
          Identifier.of(catalogName +: newIdent.namespace(), newIdent.name()))
    fs.mkdirs(to.getParent)
    if (!fs.rename(from, to)) throw new IllegalStateException(
      s"rename $from -> $to failed")
  }

  // ---- namespaces: directories under the root ----

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(new Path(root))) Array.empty
    else fs.listStatus(new Path(root)).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableDir).filterNot(_.getName.startsWith("_"))
      .map(p => Array(p.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = dirOf(namespace)
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
        (catalogName +: namespace).toSeq)
      fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
        .filterNot(isTableDir).filterNot(_.getName.startsWith("_"))
        .map(p => namespace :+ p.getName).sortBy(_.mkString("."))
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(dirOf(namespace)) && firstTableAncestor(namespace).isEmpty)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    requireNoTableAncestor(namespace)
    fs.mkdirs(dirOf(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is immutable")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = dirOf(namespace)
    if (!fs.exists(dir)) return false
    // same guard as createNamespace/renameTable: a table directory (or
    // a path inside one) must never be deletable as a "namespace" — a
    // direct dropNamespace(tablePath, cascade = true) call would
    // otherwise remove a governed table. SQL DROP NAMESPACE happens to
    // be safe only because Spark checks namespaceExists first; the
    // catalog method itself must hold the invariant.
    requireNoTableAncestor(namespace)
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(dir, true)
  }

  // ---- persistent views: a `_graft_views` sidecar per namespace ----
  //
  // The DSv2 ViewCatalog surface: each view is one java.util.Properties
  // file (JDK-native escaping handles multi-line SQL) holding the view
  // text, the catalog/namespace it was defined under, the analyzed
  // output schema, and column metadata. The `_` prefix keeps the
  // sidecar out of SHOW NAMESPACES (same rule as _graft_log). Views
  // pin SEMANTICS at read time, not create time: the stored SQL is
  // re-resolved on every reference, so a view over a versioned table
  // tracks the table's latest version (an AS OF in the view text pins
  // explicitly) — the Athena/Glue behavior the reference's consumers
  // expect, and it survives sessions because the sidecar lives next to
  // the data.

  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}

  private def viewsDir(namespace: Array[String]): Path =
    new Path(dirOf(namespace), "_graft_views")

  private def viewPath(ident: Identifier): Path =
    new Path(viewsDir(ident.namespace()), ident.name() + ".properties")

  private def viewExistsPath(ident: Identifier): Boolean =
    fs.exists(viewPath(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(
      (catalogName +: ns).toSeq)
    val dir = viewsDir(ns)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".properties"))
      .map(n => Identifier.of(ns, n.stripSuffix(".properties")))
      .sortBy(_.name())
  }

  override def viewExists(ident: Identifier): Boolean =
    viewExistsPath(ident)

  override def loadView(ident: Identifier): View = {
    if (!viewExistsPath(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        Identifier.of(catalogName +: ident.namespace(), ident.name()))
    val props = new java.util.Properties()
    val in = fs.open(viewPath(ident))
    try props.load(new java.io.InputStreamReader(in, "UTF-8"))
    finally in.close()
    GraftView(ident, props)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    requireNoTableAncestor(ident.namespace())
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(
        (catalogName +: ident.namespace().toSeq))
    if (viewExistsPath(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(
          Identifier.of(catalogName +: ident.namespace(), ident.name()))
    if (isTableDir(dirOf(ident.namespace(), ident.name())))
      throw new TableAlreadyExistsException(
        (catalogName +: ident.namespace().toSeq :+ ident.name()))
    writeView(ident, GraftView.toProperties(info))
    loadView(ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    if (!viewExistsPath(ident) && !orCreate)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        Identifier.of(catalogName +: ident.namespace(), ident.name()))
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(
        (catalogName +: ident.namespace().toSeq))
    // same never-both-table-and-view guard as createView/createTable:
    // OR REPLACE must not shadow an existing table either
    if (isTableDir(dirOf(ident.namespace(), ident.name())))
      throw new TableAlreadyExistsException(
        (catalogName +: ident.namespace().toSeq :+ ident.name()))
    writeView(ident, GraftView.toProperties(info))
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident).asInstanceOf[GraftView]
    val props = v.props
    changes.foreach {
      case s: ViewChange.SetProperty =>
        props.setProperty("p." + s.property(), s.value())
      case r: ViewChange.RemoveProperty =>
        props.remove("p." + r.property())
      case other => throw new UnsupportedOperationException(
        s"unsupported view change: $other")
    }
    writeView(ident, props)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExistsPath(ident) && fs.delete(viewPath(ident), false)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = stripCatalog(oldIdent)
    val to = stripCatalog(newIdent)
    if (!viewExistsPath(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(
        Identifier.of(catalogName +: from.namespace(), from.name()))
    if (viewExistsPath(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(
          Identifier.of(catalogName +: to.namespace(), to.name()))
    // the never-both-table-and-view guard, on the rename TARGET too
    if (isTableDir(dirOf(to.namespace(), to.name())))
      throw new TableAlreadyExistsException(
        (catalogName +: to.namespace().toSeq :+ to.name()))
    if (!namespaceExists(to.namespace()))
      throw new NoSuchNamespaceException(
        (catalogName +: to.namespace().toSeq))
    fs.mkdirs(viewsDir(to.namespace()))
    if (!fs.rename(viewPath(from), viewPath(to)))
      throw new IllegalStateException(
        s"rename view ${from.name()} -> ${to.name()} failed")
  }

  /** Publish a view's file, replacing any old one rename-first
    * ([[ManifestTable.replaceFile]]). */
  private def writeView(ident: Identifier,
      props: java.util.Properties): Unit = {
    fs.mkdirs(viewsDir(ident.namespace()))
    ManifestTable.replaceFile(fs, viewPath(ident)) { out =>
      val w = new java.io.OutputStreamWriter(out, "UTF-8")
      props.store(w, s"graft view ${ident.name()}")
      w.flush()
    }
  }
}

/** A persisted view: thin accessor over its Properties file. Array
  * fields are NUL-joined with a count prefix so empty strings and
  * empty arrays round-trip unambiguously; user properties carry a
  * `p.` key prefix.
  */
private[sql] case class GraftView(ident: Identifier,
    props: java.util.Properties)
    extends org.apache.spark.sql.connector.catalog.View {

  private def arr(key: String): Array[String] = {
    val n = props.getProperty(key + ".n", "0").toInt
    if (n == 0) Array.empty
    else props.getProperty(key, "").split("\u0000", -1).ensuring(_.length == n)
      // elements are marker-prefixed ("n" = null, "v"+value) so a NULL
      // column comment round-trips as null, not the string "null"
      .map(e => if (e == "n") null else e.stripPrefix("v"))
  }

  override def name(): String = ident.name()
  override def query(): String = props.getProperty("sql")
  override def currentCatalog(): String = props.getProperty("currentCatalog")
  override def currentNamespace(): Array[String] = arr("currentNamespace")
  override def schema(): StructType =
    org.apache.spark.sql.types.DataType.fromJson(props.getProperty("schema"))
      .asInstanceOf[StructType]
  override def queryColumnNames(): Array[String] = arr("queryColumnNames")
  override def columnAliases(): Array[String] = arr("columnAliases")
  override def columnComments(): Array[String] = arr("columnComments")
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.stringPropertyNames().forEach { k =>
      if (k.startsWith("p.")) m.put(k.substring(2), props.getProperty(k))
    }
    m
  }
}

private[sql] object GraftView {
  def toProperties(
      info: org.apache.spark.sql.connector.catalog.ViewInfo): java.util.Properties = {
    val p = new java.util.Properties()
    def put(key: String, v: Array[String]): Unit = {
      val a = Option(v).getOrElse(Array.empty[String])
      p.setProperty(key + ".n", a.length.toString)
      if (a.nonEmpty) p.setProperty(key,
        // marker prefix: "n" = null element (column comments may be),
        // "v"+value otherwise — mkString would render null as "null"
        a.map(e => if (e == null) "n" else "v" + e).mkString("\u0000"))
    }
    p.setProperty("sql", info.sql())
    p.setProperty("currentCatalog", info.currentCatalog())
    put("currentNamespace", info.currentNamespace())
    p.setProperty("schema", info.schema().json)
    put("queryColumnNames", info.queryColumnNames())
    put("columnAliases", info.columnAliases())
    put("columnComments", info.columnComments())
    Option(info.properties()).foreach(_.forEach((k, v) =>
      p.setProperty("p." + k, v)))
    p
  }
}

object GraftCatalog {

  /** DSv2 `PARTITIONED BY` transforms → ManifestTable layout:
    * identity columns plus the transform-spec vocabulary
    * ([[graft.lake.PartitionTransform]] — days/months/years/hours/
    * bucket/truncate, the Iceberg hidden-partitioning set). Anything
    * else is refused loudly — a silently dropped transform would lay
    * data out flat while the user believes it partitioned. (The
    * transform case classes are `private[sql]`, so the pattern match
    * lives in the [[org.apache.spark.sql.graft.GraftSqlBridge]] shim.)
    */
  private[sql] def translatePartitioning(
      partitions: Array[Transform]): (Seq[String], Seq[String]) =
    org.apache.spark.sql.graft.GraftSqlBridge
      .translatePartitioning(partitions)

  /** The reverse mapping, for `Table.partitioning()` reporting. */
  private[sql] def reportPartitioning(idCols: Seq[String],
      specs: Seq[String]): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val Fn = """(\w+)\s*\(\s*([^)]*)\)""".r
    (idCols.map(Expressions.identity) ++ specs.map {
      case Fn(fn, args) =>
        val a = args.split(',').map(_.trim)
        fn.toLowerCase match {
          case "bucket" => Expressions.bucket(a(0).toInt, a(1))
          case "days" => Expressions.days(a(0))
          case "months" => Expressions.months(a(0))
          case "years" => Expressions.years(a(0))
          case "hours" => Expressions.hours(a(0))
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(a(0).toInt), Expressions.column(a(1)))
        }
    }).toArray
  }
}

/** A governed manifest table resolved by name: reads delegate to
  * [[ManifestTable.read]] (DV-aware, declared schema), optionally
  * pinned to a version or timestamp by the catalog's time-travel
  * loadTable.
  */
private[sql] class GraftSqlTable(ident: Identifier,
    private[sql] val root: String, version: Option[Int],
    asOfMs: Option[Long], branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** True when this handle is a VERSION/TIMESTAMP AS OF snapshot or a
    * staged WAP branch's audit view — DML (UPDATE/MERGE, like
    * INSERT/DELETE) must refuse it.
    */
  private[sql] def pinned: Boolean =
    version.nonEmpty || asOfMs.nonEmpty || branch.nonEmpty

  private def spark: SparkSession = SparkSession.active

  private lazy val mtable = ManifestTable.forRoot(spark, root)

  /** The ONE snapshot this handle serves, resolved at first access:
    * a user pin verbatim, a timestamp pin's resolved version, or —
    * for an unpinned handle — the latest version AT RESOLUTION TIME.
    * Everything the handle answers (scan, schema, and the metadata
    * COUNT(*) fast path) reads this same version, so a concurrent
    * commit between analysis and aggregate pushdown can never make
    * the pushed count disagree with the scan it replaced.
    */
  private lazy val snapshotVersion: Option[Int] = (version, asOfMs) match {
    case (Some(v), _) => Some(v)
    case (_, Some(ms)) => mtable.versionAtOrBefore(ms)
    case _ => mtable.latestVersion
  }

  /** The snapshot's frame, from ONE resolution of the pinned version
    * (a published version's entry list never changes). Filters a scan
    * applies to it skip files inside the frame's own scans.
    */
  private[sql] lazy val df: DataFrame =
    (branch, version, asOfMs) match {
      // the WAP audit view: main snapshot ∪ staged rows — what the
      // table WILL look like after publish
      case (Some(b), _, _) => mtable.readBranch(b)
      // a timestamp before the first commit: raise readAsOf's standard
      // error (snapshotVersion is None there); read(None) likewise
      // raises the standard no-versions error for an empty root
      case (_, _, Some(ms)) if snapshotVersion.isEmpty => mtable.readAsOf(ms)
      case _ => mtable.read(snapshotVersion)
    }

  override def name(): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def schema(): StructType = df.schema

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
    // MERGE INTO ... WITH SCHEMA EVOLUTION: Spark's analyzer
    // (ResolveMergeIntoSchemaEvolution) turns the source's new columns
    // into AddColumn TableChanges and routes them through
    // [[GraftCatalog.alterTable]] — i.e. the L26 declared-schema
    // add-column policy; existing rows read typed NULL. Type CHANGES
    // (a source column whose type widens the target's) surface as
    // UpdateColumnType, which alterTable refuses loudly — add-only, the
    // engine's never-mutate-written-data stance. A pinned snapshot is
    // read-only, so it does not advertise evolution.
    if (version.isEmpty && asOfMs.isEmpty)
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION): Unit
    caps
  }

  private def requireWritable(op: String): Unit =
    require(version.isEmpty && asOfMs.isEmpty,
      s"$op on a time-travel-pinned table snapshot is not allowed")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      requireWritable("INSERT")
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: DataFrame, overwriteFlag: Boolean) => {
            val mode =
              if (overwrite || overwriteFlag) "overwrite" else "append"
            ManifestTable.forRoot(data.sparkSession, root).write(data, mode)
            ()
          }
      }
    }

  /** DELETE FROM ... WHERE — deletion-vector deletes through the
    * governed path; predicates Spark can hand down as V1 filters and
    * we can translate become the delete condition (canDeleteWhere
    * refuses the rest, so Spark falls back to an error instead of a
    * wrong partial delete).
    */
  private lazy val topLevelNames: Set[String] = df.schema.fieldNames.toSet

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f =>
      GraftScanBuilder.toColumn(f, topLevelNames).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE")
    val cond = filters.toSeq
      .flatMap(GraftScanBuilder.toColumn(_, topLevelNames))
      .reduceOption(_ && _).getOrElse(lit(true))
    ManifestTable.forRoot(spark, root).delete(cond)
    ()
  }

  /** `TRUNCATE TABLE` — a governed overwrite with an empty frame: the
    * emptied state is one more VERSION, so the pre-truncate data stays
    * time-travelable (and RESTOREable), exactly like every other
    * mutation on a manifest table.
    */
  override def truncateTable(): Boolean = {
    requireWritable("TRUNCATE")
    val mt = ManifestTable.forRoot(spark, root)
    val cur = mt.read()
    // PARTITIONED tables only: their empty overwrite lands zero
    // parquet files, so a table whose schema only ever lived in data
    // files (created by the sink or CALL graft.write, which never
    // declare) would read back — and refuse INSERTs — with zero
    // columns; declaring BEFORE the write keeps it. An unpartitioned
    // empty overwrite writes one schema-bearing footer, so it is NOT
    // declared — declaring is one-way (declared columns refuse
    // rename_column), a cost worth paying only where the alternative
    // is an unreadable table.
    val (idCols, specs) = mt.declaredPartitioning
    if (idCols.nonEmpty || specs.nonEmpty) mt.declareSchema(cur.schema)
    mt.write(cur.limit(0), "overwrite")
    true
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put(TableCatalog.PROP_LOCATION, root)
    version.foreach(v => m.put("graft.versionAsOf", v.toString))
    asOfMs.foreach(ms => m.put("graft.timestampAsOfMs", ms.toString))
    m
  }

  override def partitioning(): Array[Transform] = {
    val (idCols, specs) =
      ManifestTable.forRoot(spark, root).declaredPartitioning
    GraftCatalog.reportPartitioning(idCols, specs)
  }

  /** Reader-option time travel (`spark.read.option("versionAsOf", 2)
    * .table("cat.ns.t")`, the Delta convention) needs NO handling
    * here: Spark recognizes the `versionAsOf`/`timestampAsOf` options
    * as a TimeTravelSpec and routes them through the catalog's
    * versioned `loadTable` — the same pinned handle as SQL
    * `VERSION AS OF` (GraftCatalogSpec proves the equivalence).
    */
  /** Manifest-metadata row count for THIS handle's pinned snapshot —
    * the same [[snapshotVersion]] `df` reads, never re-resolved at
    * pushdown time. Some only when every live file carries the
    * write-time `#n` count stat.
    */
  private[sql] def metaCount: Option[Long] =
    // a branch handle's rows = snapshot ∪ staged; the manifest count
    // alone would undercount — no fast path there
    if (branch.nonEmpty) None
    else snapshotVersion.flatMap(v => mtable.metadataRowCount(Some(v)))

  /** Manifest zone-map MIN/MAX for this handle's pinned snapshot —
    * logical-to-physical column mapping and the shared exactness
    * guards live in [[graft.lake.ManifestTable.metadataMinMax]]; the
    * type-aware PER-FILE bound guard rides in from here. DateType:
    * ISO strings order chronologically only for 4-digit years (a
    * year-10000 bound sorts BELOW '9999-…' and would corrupt the
    * fold), and `java.sql.Date.valueOf` shifts dates in the 1582
    * Gregorian transition — both refuse.
    */
  private[sql] def metaMinMax(c: String): Option[(String, String, String)] = {
    val boundOk: String => Boolean =
      df.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DateType) =>
          s => s.matches("""\d{4}-\d{2}-\d{2}""") && s >= "1583-01-01"
        case _ => _ => true
      }
    if (branch.nonEmpty) None // staged rows carry no snapshot zone maps
    else snapshotVersion.flatMap(v => mtable.metadataMinMax(c, Some(v), boundOk))
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(df, () => metaCount, metaMinMax)
}

/** DSv2 pruning/pushdown applied onto the inner DataFrame, compiled
  * through a [[V1Scan]]: the accepted filters and the pruned projection
  * become part of the sub-plan, where Catalyst pushes them into the
  * manifest scans — whose file index skips files by them — exactly as
  * on `read().filter(...)`.
  */
private[sql] class GraftScanBuilder(df: DataFrame,
    metaCount: () => Option[Long] = () => None,
    metaMinMax: String => Option[(String, String, String)] = _ => None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  import org.apache.spark.sql.types._

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = df.schema
  private val topLevel: Set[String] = df.schema.fieldNames.toSet
  private var pushedAgg: Option[(StructType, Row)] = None

  // resolved once per scan build: Spark probes supportCompletePushDown
  // and pushAggregation separately, and each metaCount() re-reads the
  // manifest log — cache so planning pays one resolution (it also
  // guarantees both probes see the same answer)
  private lazy val cachedMetaCount: Option[Long] = metaCount()
  private val cachedMinMax =
    scala.collection.mutable.Map.empty[String, Option[(String, String, String)]]
  private def minMaxOf(c: String): Option[(String, String, String)] =
    cachedMinMax.getOrElseUpdate(c, metaMinMax(c))

  /** COUNT(*)/MIN/MAX answered from manifest metadata — no data scan
    * at all (`SELECT count(*), min(k), max(k) FROM cat.ns.t` on a
    * 100 TB table reads the manifest, not the table: counts from the
    * write-time `#n` row stats, extrema from the zone maps). Pushed
    * only when EXACTLY answerable: a global (no GROUP BY) aggregate,
    * no accepted pushed filters, every term a CountStar (complete
    * `#n` coverage, DV marks subtracted) or a MIN/MAX over a column
    * whose zone maps cover every live file with no DVs present and
    * whose stat string parses back to the column's type losslessly.
    * Anything else refuses and Spark plans the ordinary scan-side
    * aggregate — never a wrong fast path.
    */
  private def exactAgg(agg: Aggregation): Option[(StructType, Row)] = {
    if (accepted.nonEmpty || !agg.groupByExpressions().isEmpty ||
      agg.aggregateExpressions().isEmpty) return None
    val terms = agg.aggregateExpressions().toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        cachedMetaCount.map(n =>
          (StructField(if (i == 0) "count(*)" else s"count(*)_$i",
            LongType, nullable = false), n: Any))
      case (m: Min, i) =>
        minMaxTerm(m.column, isMin = true, i)
      case (m: Max, i) =>
        minMaxTerm(m.column, isMin = false, i)
      case _ => None
    }
    if (terms.exists(_.isEmpty)) None
    else {
      val fields = terms.map(_.get._1)
      Some((StructType(fields), Row.fromSeq(terms.map(_.get._2))))
    }
  }

  /** One MIN/MAX term when exactly answerable: a plain top-level
    * column reference whose manifest extremum parses back to the
    * column's Spark type bit-losslessly ([[parseStat]]); None refuses
    * the whole pushdown.
    */
  private def minMaxTerm(ref: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean, i: Int): Option[(StructField, Any)] = {
    val name = ref match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    for {
      c <- name
      field <- df.schema.fields.find(_.name == c)
      (mn, mx, kind) <- minMaxOf(c)
      value <- parseStat(if (isMin) mn else mx, field.dataType, kind)
    } yield {
      val base = s"${if (isMin) "min" else "max"}($c)"
      (StructField(if (i == 0) base else s"${base}_$i",
        field.dataType, nullable = false), value)
    }
  }

  /** Stat string → typed value, ONLY where the round trip is exact:
    * integral/float/decimal types from numeric-kind stats (Spark's
    * cast-to-string is the shortest round-trip form), dates from
    * their ISO strings, strings as recorded (the manifest folds them
    * in UTF-8 byte order, Spark's own string order). Everything else
    * — timestamps (session-zone rendering), booleans from legacy
    * stats, nested types — refuses.
    */
  private def parseStat(s: String, dt: DataType, kind: String): Option[Any] =
    try dt match {
      case ByteType if kind == "N" => Some(s.toByte)
      case ShortType if kind == "N" => Some(s.toShort)
      case IntegerType if kind == "N" => Some(s.toInt)
      case LongType if kind == "N" => Some(s.toLong)
      case FloatType if kind == "N" => Some(s.toFloat)
      case DoubleType if kind == "N" => Some(s.toDouble)
      case d: DecimalType if kind == "N" =>
        Some(new java.math.BigDecimal(s).setScale(d.scale))
      case DateType if kind == "S" => Some(java.sql.Date.valueOf(s))
      case StringType if kind == "S" => Some(s)
      case _ => None
    } catch {
      // NumberFormatException/Date parse (IllegalArgument) and a
      // decimal setScale that would need rounding (Arithmetic) both
      // mean "not losslessly representable" — refuse, never coerce
      case _: IllegalArgumentException | _: ArithmeticException => None
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    exactAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    exactAgg(agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) =
      filters.partition(f => GraftScanBuilder.toColumn(f, topLevel).isDefined)
    accepted = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) =>
      // one literal row straight from the manifest stats; Spark
      // projects it as the final result (complete pushdown)
      val spark = df.sparkSession
      val prepared = spark.createDataFrame(
        java.util.Collections.singletonList(row), schema)
      new GraftV1Scan(prepared, schema)
    case None =>
      val filtered = accepted.flatMap(GraftScanBuilder.toColumn(_, topLevel))
        .foldLeft(df)(_.filter(_))
      val pruned = filtered.select(
        required.fields.map(f => GraftScanBuilder.quoted(f.name)).toSeq: _*)
      new GraftV1Scan(pruned, required)
  }
}

private[sql] object GraftScanBuilder {

  /** A physical column name as a single-identifier Column — see
    * [[graft.functions.Cols.quoted]] (plain `col(name)` would parse a
    * dotted name as struct-field access).
    */
  def quoted(name: String): Column = graft.functions.Cols.quoted(name)

  /** Translate a V1 source filter to a Column; None = not translatable
    * (the builder returns it as residual and Spark re-evaluates it
    * post-scan — always safe).
    *
    * `topLevel` is the table's top-level field-name set: an attribute
    * naming a physical column verbatim (even one containing dots)
    * resolves as a quoted single identifier; anything else — a
    * pre-quoted or genuinely nested reference — falls back to parsed
    * resolution, which is exactly what those forms need.
    */
  def toColumn(f: Filter, topLevel: Set[String]): Option[Column] = {
    def attr(name: String): Column =
      if (topLevel(name)) quoted(name) else col(name)
    f match {
      case sources.EqualTo(a, v) => Some(attr(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(attr(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(attr(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(attr(a) >= lit(v))
      case sources.LessThan(a, v) => Some(attr(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(attr(a) <= lit(v))
      case sources.In(a, vs) => Some(attr(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(attr(a).isNull)
      case sources.IsNotNull(a) => Some(attr(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(attr(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(attr(a).endsWith(v))
      case sources.StringContains(a, v) => Some(attr(a).contains(v))
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.And(l, r) =>
        for (lc <- toColumn(l, topLevel); rc <- toColumn(r, topLevel))
          yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toColumn(l, topLevel); rc <- toColumn(r, topLevel))
          yield lc || rc
      case sources.Not(c) => toColumn(c, topLevel).map(not)
      case _ => None
    }
  }
}

private[sql] class GraftV1Scan(prepared: DataFrame, schema: StructType)
    extends V1Scan {
  override def readSchema(): StructType = schema
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = prepared.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        prepared.rdd
    }.asInstanceOf[T]
}
