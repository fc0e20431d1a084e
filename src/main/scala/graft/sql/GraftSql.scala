package graft.sql

import graft.lake.ManifestTable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** SQL DML surface for manifest tables — the `CALL graft.<proc>(...)`
  * procedure style (the Iceberg stored-procedure surface; Delta ships
  * dedicated DML grammar, but a procedure namespace composes with the
  * stock parser instead of forking it). Injected by
  * [[graft.GraftExtensions]], so a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` drives the whole
  * medallion lifecycle from SQL:
  *
  * {{{
  *   CALL graft.merge('/lake/silver', 'updates_view', 'order_id')
  *   CALL graft.delete('/lake/silver', 'o_orderstatus = ''X''')
  *   CALL graft.update('/lake/silver', 'amt < 0', 'amt = 0.0')
  *   CALL graft.optimize('/lake/silver', 4)
  *   CALL graft.zorder('/lake/silver', 'ds,region', 8)
  *   CALL graft.vacuum('/lake/silver', 2)
  *   CALL graft.restore('/lake/silver', 3)
 *   CALL graft.tag('/lake/silver', 'audit_2024q2', 3)
 *   CALL graft.tags('/lake/silver')
 *   CALL graft.drop_tag('/lake/silver', 'audit_2024q2')
  *   CALL graft.describe_history('/lake/silver')
  *   CALL graft.describe_detail('/lake/silver')
  *   CALL graft.pq_build('/lake/emb_idx', 'embeddings_view', 'embedding')
  *   CALL graft.pq_refresh('/lake/emb_idx', '/lake/embeddings', 'vec_id', 'v')
  *   CALL graft.pq_query('/lake/emb_idx', 'corpus_view', 'probes_view', 'embedding')
  *   CALL graft.nsw_build('/lake/graph_idx', 'embeddings_view', 'embedding')
  *   CALL graft.nsw_refresh('/lake/graph_idx', '/lake/embeddings', 'vec_id', 'v')
  *   CALL graft.nsw_query('/lake/graph_idx', 'probes_view', 'embedding')
  *   CALL graft.bpe_train('docs_view', 'text', 16)
  *   CALL graft.bpe_save('/lake/tokenizer', 'docs_view', 'text', 16)
  *   CALL graft.bpe_merges('/lake/tokenizer', 0)
  *   CALL graft.unigram_save('/lake/uni_vocab', 'docs_view', 'text', 400)
  *   CALL graft.unigram_vocab('/lake/uni_vocab')
  *   CALL graft.unigram_bind('/lake/uni_vocab')
  *   -- then: SELECT graft_unigram_encode(text) FROM docs_view
  * }}}
  *
  * Tables are addressed by root path OR — same vocabulary as the
  * SELECT/DML surface — by registered-catalog name
  * (`CALL graft.optimize('lakehouse.silver.orders', 4)`), resolved
  * through [[GraftNames.resolveRoot]]. Configuration (partition tuple,
  * zone-map/bloom columns) comes from the table's metadata record
  * ([[graft.lake.TableMetadata]]) via [[ManifestTable.forRoot]], so a
  * merge issued from SQL behaves exactly like the Scala API.
  * Statements that don't match the CALL pattern delegate verbatim to
  * the stock parser — zero interference with regular Spark SQL.
  */
class GraftSqlParser(delegate: ParserInterface,
    session: org.apache.spark.sql.SparkSession = null) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSql.parseCall(sqlText).getOrElse {
      val plan = delegate.parsePlan(sqlText)
      // CREATE/DROP/SHOW VIEW targeting a graft catalog must divert
      // BEFORE analysis (ResolveSessionCatalog throws
      // MISSING_CATALOG_ABILITY for view commands on any non-session
      // catalog); everything else passes through untouched
      if (session == null) plan
      else GraftViewRules.interceptParsed(session, plan)
    }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSql {

  private val CallPattern =
    """(?is)^\s*CALL\s+graft\s*\.\s*(\w+)\s*\((.*)\)\s*;?\s*$""".r

  /** Some(plan) when `sqlText` is a graft procedure call; None lets
    * the stock parser handle everything else.
    */
  def parseCall(sqlText: String): Option[LogicalPlan] = sqlText match {
    case CallPattern(proc, argText) =>
      Some(GraftProcedureCommand(proc.toLowerCase, parseArgs(argText, sqlText)))
    case _ => None
  }

  /** Argument literals: 'single-quoted strings' (with '' escaping) and
    * integers, comma-separated. Procedures take paths, SQL fragments,
    * and counts — nothing needing a fuller grammar.
    */
  private[sql] def parseArgs(argText: String, stmt: String): Seq[Any] = {
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    val s = argText
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"graft CALL: $msg in: $stmt")
    while (i < s.length) {
      while (i < s.length && s(i).isWhitespace) i += 1
      if (i >= s.length) {
        if (out.nonEmpty) fail("trailing comma")
      } else if (s(i) == '\'') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < s.length && !closed) {
          if (s(i) == '\'' && i + 1 < s.length && s(i + 1) == '\'') {
            sb += '\''; i += 2
          } else if (s(i) == '\'') { closed = true; i += 1 }
          else { sb += s(i); i += 1 }
        }
        if (!closed) fail("unterminated string literal")
        out += sb.toString
      } else if (s(i).isDigit || s(i) == '-') {
        val start = i
        if (s(i) == '-') i += 1
        while (i < s.length && s(i).isDigit) i += 1
        out += s.substring(start, i).toLong
      } else fail(s"unexpected character '${s(i)}' at position $i")
      while (i < s.length && s(i).isWhitespace) i += 1
      if (i < s.length) {
        if (s(i) != ',') fail(s"expected ',' at position $i")
        i += 1
        // a comma must be followed by another argument
        var j = i
        while (j < s.length && s(j).isWhitespace) j += 1
        if (j >= s.length) fail("trailing comma")
      }
    }
    out.toSeq
  }

  /** Split `a = expr1, b = expr2` assignment lists on top-level commas
    * (quotes and parens respected — `coalesce(a, b)` is one expr).
    */
  private[sql] def splitAssignments(text: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    text.foreach { c =>
      if (inStr) { sb += c; if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true; sb += c
        case '(' => depth += 1; sb += c
        case ')' => depth -= 1; sb += c
        case ',' if depth == 0 => parts += sb.toString; sb.clear()
        case _ => sb += c
      }
    }
    if (sb.nonEmpty) parts += sb.toString
    parts.toSeq.map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"assignment '$p' must be 'column = expression'")
      (p.substring(0, i).trim, p.substring(i + 1).trim)
    }
  }
}

/** One eagerly-executed command per procedure call. Output schemas are
  * static per procedure (version row for DML, the DESCRIBE schemas for
  * the two describes, path rows for VACUUM).
  */
case class GraftProcedureCommand(proc: String, args: Seq[Any])
    extends LeafRunnableCommand {

  private def attr(name: String, dt: DataType): AttributeReference =
    AttributeReference(name, dt, nullable = true)()

  override val output: Seq[Attribute] = proc match {
    case "describe_history" => Seq(
      attr("version", IntegerType), attr("commit_ts", TimestampType),
      attr("num_files", LongType), attr("files_added", LongType),
      attr("files_removed", LongType), attr("dv_deleted_rows", LongType))
    case "describe_detail" => Seq(
      attr("location", StringType), attr("format", StringType),
      attr("version", IntegerType), attr("num_files", LongType),
      attr("size_bytes", LongType),
      attr("partition_columns", ArrayType(StringType)),
      attr("stats_columns", ArrayType(StringType)),
      attr("bloom_columns", ArrayType(StringType)),
      attr("num_dv_files", LongType), attr("num_constraints", LongType))
    case "vacuum" => Seq(attr("deleted_path", StringType))
    case "wap_branches" => Seq(attr("branch", StringType))
    case "tags" => Seq(
      attr("tag", StringType), attr("version", IntegerType))
    case "pq_query" | "nsw_query" => Seq(
      attr("q_id", LongType), attr("rn", IntegerType),
      attr("neighbor", LongType), attr("sim", DoubleType))
    case "describe_files" => Seq(
      attr("file", StringType), attr("size_bytes", LongType),
      attr("zone_maps", ArrayType(StructType(Seq(
        StructField("_1", StringType), StructField("_2", StringType),
        StructField("_3", StringType))))),
      attr("dv_sidecar", StringType))
    case "constraints" => Seq(
      attr("name", StringType), attr("expression", StringType))
    case "analyze" => Seq(
      attr("version", IntegerType), attr("rows", LongType),
      attr("size_bytes", LongType))
    case "describe_stats" => Seq(
      attr("column", StringType), attr("non_null", LongType),
      attr("ndv", LongType), attr("min", StringType),
      attr("max", StringType))
    case "describe_schema" => Seq(
      attr("column", StringType), attr("type", StringType),
      attr("source", StringType), attr("deprecated", BooleanType))
    case "schema_register" => Seq(
      attr("change", StringType), attr("column", StringType),
      attr("detail", StringType))
    case "bpe_train" | "bpe_merges" => Seq(
      attr("rank", IntegerType), attr("left", StringType),
      attr("right", StringType), attr("merged", StringType),
      attr("freq", LongType))
    case "unigram_train" | "unigram_vocab" => Seq(
      attr("piece", StringType), attr("count", LongType),
      attr("log_prob", DoubleType))
    case "unigram_bind" => Seq(
      attr("version", IntegerType), attr("bound_pieces", IntegerType))
    case "maintenance_plan" => Seq(
      attr("priority", IntegerType), attr("action", StringType),
      attr("reason", StringType), attr("command", StringType),
      attr("table", StringType))
    case _ => Seq(attr("version", IntegerType))
  }

  private def str(i: Int): String = args.lift(i) match {
    case Some(s: String) => s
    case other => throw new IllegalArgumentException(
      s"graft.$proc: argument ${i + 1} must be a string, got $other")
  }
  private def num(i: Int): Long = args.lift(i) match {
    case Some(n: Long) => n
    case other => throw new IllegalArgumentException(
      s"graft.$proc: argument ${i + 1} must be an integer, got $other")
  }
  private def optNum(i: Int, dflt: Long): Long =
    if (args.length > i) num(i) else dflt
  private def optExpr(i: Int): Option[Column] =
    if (args.length > i) Some(expr(str(i))) else None

  override def run(session: SparkSession): Seq[Row] = {
    // every procedure's table argument takes a path OR a catalog name
    // (`cat.ns.table`) — same vocabulary as SELECT/DML (GraftNames)
    def root0 = GraftNames.resolveRoot(session, str(0))
    def table = ManifestTable.forRoot(session, root0)
    def versionRow(v: Int) = Seq(Row(v))
    proc match {
      case "write" =>
        // write(root, sourceView, mode [, partitionColsCsv]) — the
        // ingest step; the partition tuple only configures a table
        // being CREATED. An existing table's recorded layout wins: a
        // conflicting spec must refuse, not silently write a second
        // hive layout into the same data dir (which leaves the table
        // unreadable under Spark partition discovery).
        val source = session.table(str(1))
        // a PRESENT 4th arg is an explicit tuple — even '' (meaning
        // "unpartitioned"), which must refuse against a partitioned
        // table, not silently defer to the recorded layout
        val mt =
          if (args.length > 3)
            ManifestTable.forRootWithPartitions(session, root0,
              Some(str(3).split(',').map(_.trim).filter(_.nonEmpty).toSeq))
          else table
        versionRow(mt.write(source, str(2)))
      case "merge" =>
        // merge(root, sourceView, keysCsv [, deleteCol])
        val source = session.table(str(1))
        val keys = str(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "graft.merge: empty key list")
        val deleteCol = if (args.length > 3) Some(str(3)) else None
        versionRow(table.merge(source, keys, deleteCol))
      case "delete" =>
        versionRow(table.delete(expr(str(1))))
      case "update" =>
        // update(root, predicate, 'a = expr, b = expr')
        val sets = GraftSql.splitAssignments(str(2))
          .map { case (c, e) => c -> expr(e) }.toMap
        versionRow(table.updateWhere(expr(str(1)), sets))
      case "optimize" =>
        // optimize(root [, targetFiles [, partition_predicate]]) —
        // with a predicate only the matching partitions' files rewrite
        versionRow(table.compact(optNum(1, 1).toInt, optExpr(2)))
      case "optimize_small" =>
        versionRow(table.compactSmall(num(1), optNum(2, 128L << 20), optExpr(3)))
      case "reorg" =>
        // reorg(root [, min_deleted_fraction [, partition_predicate]])
        versionRow(table.reorgPurge(
          if (args.length > 1) str(1).toDouble else 0.0, optExpr(2)))
      case "wap_stage" =>
        // wap_stage(root, sourceView, branch)
        table.stageBranch(str(2), session.table(str(1)))
        versionRow(-1) // staged, not committed
      case "wap_publish" =>
        versionRow(table.publishBranch(str(1)))
      case "wap_drop" =>
        table.dropBranch(str(1))
        versionRow(-1)
      case "wap_branches" =>
        table.branches.map(Row(_))
      case "zorder" =>
        // zorder(root, colsCsv [, targetFiles [, partition_predicate]])
        val cols = str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        versionRow(table.optimizeByZ(cols, optNum(2, 8).toInt, optExpr(3)))
      case "clone" =>
        // clone(root, destRoot) — shallow clone: dest gets its own log
        // referencing the source's data files (zero data movement)
        table.shallowClone(GraftNames.resolveRoot(session, str(1)))
        versionRow(0)
      case "backfill_row_ids" =>
        versionRow(table.backfillRowIds())
      case "vacuum" =>
        table.vacuum(optNum(1, 1).toInt,
          dryRun = false, minAgeMs = optNum(2, ManifestTable.DefaultVacuumMinAgeMs))
          .map(Row(_))
      case "restore" =>
        versionRow(table.restore(num(1).toInt))
      case "tag" =>
        // tag(root, name [, version]) — pin a version under an
        // immutable name (default: latest); vacuum retains it. SQL
        // integer literals arrive as Long: a bare toInt would WRAP an
        // out-of-range value into a valid wrong version
        versionRow(table.createTag(str(1),
          if (args.length > 2) {
            val v = num(2)
            require(v.isValidInt, s"graft.tag: $v is not a version number")
            Some(v.toInt)
          } else None))
      case "tags" =>
        table.tagRefs.map { case (n, v) => Row(n, v) }
      case "drop_tag" =>
        table.dropTag(str(1))
        versionRow(table.latestVersion.getOrElse(-1))
      case "enable_cdc" =>
        // enable_cdc(root) — write-time change capture from here on
        // (the Delta TBLPROPERTIES delta.enableChangeDataFeed role)
        table.enableCdc()
        versionRow(table.latestVersion.getOrElse(-1))
      case "disable_cdc" =>
        table.disableCdc()
        versionRow(table.latestVersion.getOrElse(-1))
      case "maintenance_plan" =>
        // maintenance_plan(root-or-sweep [, small_file_bytes]) —
        // ordered layout recommendations, read-only (the operator runs
        // the commands). A `cat.ns.*` / `/path/*` address sweeps every
        // table in the namespace: one plan for the lake, priority-
        // ordered across tables, each row naming its table
        GraftNames.resolveRoots(session, str(0)).flatMap { r =>
          ManifestTable.forRoot(session, r)
            .maintenancePlan(optNum(1, 32L << 20))
            .map { case (p, a, re, c) => (p, a, re, c, r) }
        }.sortBy(t => (t._1, t._5))
          .map { case (p, a, re, c, r) => Row(p, a, re, c, r) }
      case "describe_history" =>
        table.history().collect().toSeq
      case "describe_detail" =>
        table.describeDetail().collect().toSeq
      case "describe_files" =>
        // describe_files(root [, version])
        table.filesDf(if (args.length > 1) Some(num(1).toInt) else None)
          .collect().toSeq
      case "constraint_add" =>
        // constraint_add(root, name, checkSql) — validates existing
        // data first, like the Scala API
        val t = table
        t.addConstraint(str(1), str(2))
        versionRow(t.latestVersion.getOrElse(-1))
      case "constraint_drop" =>
        val t = table
        t.dropConstraint(str(1))
        versionRow(t.latestVersion.getOrElse(-1))
      case "constraints" =>
        table.constraints.toSeq.sortBy(_._1).map { case (n, e) => Row(n, e) }
      case "analyze" =>
        // analyze(root [, colsCsv]) — scan once, persist the stats
        // sidecar, report (version, rows, size_bytes)
        val t = table
        val cols = if (args.length > 1)
          str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        else Seq.empty
        t.analyze(cols)
        val (v, rows, bytes) = t.tableStats.get
        Seq(Row(v, rows, bytes))
      case "describe_stats" =>
        table.columnStats().collect().toSeq
      case "add_columns" =>
        // add_columns(root, 'c1 TYPE, c2 TYPE') — ALTER-style add:
        // metadata-only, columns surface on the next read (the
        // UPDATE_IN_DATABASE side of the schema-change policy).
        // add_columns(root, 'c TYPE', '<default sql>') — single-column
        // form with an L40 DEFAULT: rows predating the column read the
        // default instead of NULL
        val t = table
        if (args.length > 2) {
          val one = org.apache.spark.sql.types.StructType.fromDDL(str(1))
          require(one.length == 1, "graft.add_columns with a DEFAULT " +
            "takes exactly one column")
          t.addColumnWithDefault(one.head.name,
            one.head.dataType.sql, str(2))
        } else t.addColumns(str(1))
        versionRow(t.latestVersion.getOrElse(-1))
      case "deprecate_columns" =>
        // deprecate_columns(root, 'c1,c2') — soft delete: data kept,
        // flagged in describe_schema (DEPRECATE_IN_DATABASE)
        val t = table
        t.deprecateColumns(
          str(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        versionRow(t.latestVersion.getOrElse(-1))
      case "describe_schema" =>
        table.describeSchema().map { case (c, ty, src, dep) =>
          Row(c, ty, src, dep)
        }
      case "schema_register" =>
        // schema_register(root, registryDir [, tableName]) — push the
        // table's current logical schema through the SchemaRegistry
        // evolution policy (the crawler-refresh step); rows report the
        // applied diff
        val t = table
        // default name from the RESOLVED root, not the raw address —
        // 'cat.silver.orders' and '/lake/silver/orders' must register
        // the same table under the same name ('orders')
        val name =
          if (args.length > 2) str(2)
          else new org.apache.hadoop.fs.Path(root0).getName
        val reg = new graft.meta.SchemaRegistry(session, str(1))
        val diff = reg.register(name, t.read().schema)
        diff.added.map(Row("added", _, "")) ++
          diff.deprecated.map(Row("deprecated", _, "")) ++
          diff.retyped.map { case (c, from, to) =>
            Row("retyped", c, s"$from -> $to")
          }
      case "generated_add" =>
        // generated_add(root, name, sqlExpr)
        val t = table
        t.addGeneratedColumn(str(1), str(2))
        versionRow(t.latestVersion.getOrElse(-1))
      case "generated_drop" =>
        val t = table
        t.dropGeneratedColumn(str(1))
        versionRow(t.latestVersion.getOrElse(-1))
      case "identity_add" =>
        // identity_add(root, name [, start [, step]]) — GENERATED
        // ALWAYS AS IDENTITY riding the row-id allocator: unique +
        // monotonic across appends/merges/concurrent commits; sparse
        val t = table
        t.addIdentityColumn(str(1), optNum(2, 1L), optNum(3, 1L))
        versionRow(t.latestVersion.getOrElse(-1))
      case "identity_drop" =>
        val t = table
        t.dropIdentityColumn(str(1))
        versionRow(t.latestVersion.getOrElse(-1))
      case "drop_column" =>
        // drop_column(root, name) — TRUE drop via column mapping
        // (metadata-only; re-add mints a fresh physical id);
        // deprecate_columns remains the Glue-policy soft delete
        val t = table
        t.dropColumn(str(1))
        versionRow(t.latestVersion.getOrElse(-1))
      case "evolve_partition" =>
        // evolve_partition(root, identityColsCsv [, transformSpecsCsv])
        // — rewrite-migrate the layout; '' for no identity columns
        def csv(i: Int): Seq[String] =
          if (args.length > i) str(i).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          else Seq.empty
        val t = table.evolvePartitionSpec(csv(1), csv(2))
        versionRow(t.latestVersion.getOrElse(-1))
      case "set_partition_spec" =>
        // set_partition_spec(root, identityColsCsv [, transformSpecsCsv])
        // — LAZY spec change: config-only, zero data movement; old
        // files keep their layout and prune/scope by it, new commits
        // lay out by the new spec ('' for no identity columns)
        def specCsv(i: Int): Seq[String] =
          if (args.length > i) str(i).split(',').map(_.trim).filter(_.nonEmpty).toSeq
          else Seq.empty
        val t = table.setPartitionSpec(specCsv(1), specCsv(2))
        versionRow(t.latestVersion.getOrElse(-1))
      case "rename_column" =>
        // rename_column(root, old, new) — metadata-only, no rewrite
        val t = table
        t.renameColumn(str(1), str(2))
        versionRow(t.latestVersion.getOrElse(-1))
      case "pq_build" =>
        // pq_build(indexRoot, corpusView, vecCol [, lists, m, k]) —
        // corpus rows are (vec_id, <vecCol>) raw float/double arrays;
        // normalization happens here so SQL callers never hand-roll
        // it. Ids cast to long (the nsw_build contract): the codebook
        // train sample hashes vec_id, and xxhash64 is input-TYPE-
        // sensitive — an int-id corpus must build the same index its
        // bigint twin does
        val emb = graft.queries.Similarity.unitize(
          session.table(str(1))
            .select(col("vec_id").cast("long").as("vec_id"),
              col(str(2)).as("raw_v")))
        val idx = graft.operators.PqIndex.build(session, emb, str(0),
          lists = optNum(3, 16).toInt, m = optNum(4, 16).toInt,
          k = optNum(5, 32).toInt)
        versionRow(idx.table.latestVersion.getOrElse(-1))
      case "pq_refresh" =>
        // pq_refresh(indexRoot, sourceTableRoot, idCol, vecCol) —
        // catch the index up through the source's change feed; returns
        // the caught-up source version (the index cursor)
        val idx = graft.operators.PqIndex.load(session, str(0))
          .getOrElse(throw new IllegalArgumentException(
            s"no PQ index at ${str(0)}; run graft.pq_build first"))
        val refreshed = idx.refreshFrom(
          ManifestTable.forRoot(session,
            GraftNames.resolveRoot(session, str(1))), str(2), str(3))
        versionRow(refreshed.sourceVersion)
      case "pq_query" =>
        // pq_query(indexRoot, corpusView, probesView, vecCol
        //          [, nprobe, shortlist, topk]) — probes and corpus
        // are raw (vec_id, <vecCol>) views; corpus supplies the full
        // vectors for the exact re-rank
        val idx = graft.operators.PqIndex.load(session, str(0))
          .getOrElse(throw new IllegalArgumentException(
            s"no PQ index at ${str(0)}; run graft.pq_build first"))
        val emb = graft.queries.Similarity.unitize(
          session.table(str(1))
            .select(col("vec_id").cast("long").as("vec_id"),
              col(str(3)).as("raw_v")))
        val probes = graft.queries.Similarity.unitize(
          session.table(str(2))
            .select(col("vec_id").cast("long").as("vec_id"),
              col(str(3)).as("raw_v")))
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        idx.query(emb, probes, nprobe = optNum(4, 4).toInt,
          shortlist = optNum(5, 30).toInt, topK = optNum(6, 3).toInt)
          .select(col("q_id").cast("long"), col("rn").cast("int"),
            col("neighbor").cast("long"), col("sim").cast("double"))
          .collect().toSeq
      case "nsw_build" =>
        // nsw_build(indexRoot, corpusView, vecCol [, m, lists,
        // replicas]) — the graph-ANN twin of pq_build; lists <= 0
        // picks the ~max(n/256 ∧ √n) shard layout
        val emb = graft.queries.Similarity.unitize(
          session.table(str(1))
            .select(col("vec_id").cast("long").as("vec_id"),
              col(str(2)).as("raw_v")))
        val idx = graft.operators.NswIndex.build(session, emb, str(0),
          m = optNum(3, 8).toInt, lists = optNum(4, -1).toInt,
          replicas = optNum(5, 2).toInt)
        versionRow(idx.table.latestVersion.getOrElse(-1))
      case "nsw_refresh" =>
        // nsw_refresh(indexRoot, sourceTableRoot, idCol, vecCol) —
        // splice the source's change feed into affected shards;
        // returns the caught-up source version (the index cursor)
        val idx = graft.operators.NswIndex.load(session, str(0))
          .getOrElse(throw new IllegalArgumentException(
            s"no NSW index at ${str(0)}; run graft.nsw_build first"))
        val refreshed = idx.refreshFrom(
          ManifestTable.forRoot(session,
            GraftNames.resolveRoot(session, str(1))), str(2), str(3))
        versionRow(refreshed.sourceVersion)
      case "nsw_query" =>
        // nsw_query(indexRoot, probesView, vecCol [, topk, ef,
        // nprobe]) — serving needs no corpus view: shards carry their
        // full vectors, so scoring is exact in-shard
        val idx = graft.operators.NswIndex.load(session, str(0))
          .getOrElse(throw new IllegalArgumentException(
            s"no NSW index at ${str(0)}; run graft.nsw_build first"))
        val probes = graft.queries.Similarity.unitize(
          session.table(str(1))
            .select(col("vec_id").cast("long").as("vec_id"),
              col(str(2)).as("raw_v")))
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        idx.query(probes, topK = optNum(3, 3).toInt,
          ef = optNum(4, 64).toInt, nprobe = optNum(5, 4).toInt)
          .select(col("q_id").cast("long"), col("rn").cast("int"),
            col("neighbor").cast("long"), col("sim").cast("double"))
          .collect().toSeq
      case "bpe_train" =>
        // bpe_train(corpusView, textCol [, numMerges]) — learn BPE
        // merges from a view; rows out (bounded: numMerges). The
        // marker renders as '</w>' like the DataFrame surface.
        graft.operators.BpeTrainer
          .train(session.table(str(0)).select(col(str(1)).as("text")),
            optNum(2, 16).toInt)
          .map(m => Row(m.rank,
            m.left.replace(graft.functions.Bpe.W, "</w>"),
            m.right.replace(graft.functions.Bpe.W, "</w>"),
            (m.left + m.right).replace(graft.functions.Bpe.W, "</w>"),
            m.freq))
      case "bpe_save" =>
        // bpe_save(root, corpusView, textCol [, numMerges]) — train
        // and PERSIST the merge table as a versioned manifest table:
        // every retrain is an overwrite commit, so a tokenizer is
        // time-travelable like any other table (reproduce last
        // month's token counts against last month's merges).
        val df = graft.operators.BpeTrainer.trainDf(session,
          session.table(str(1)).select(col(str(2)).as("text")),
          optNum(3, 16).toInt)
        versionRow(table.write(df, "overwrite"))
      case "bpe_merges" =>
        // bpe_merges(root [, version]) — read a persisted tokenizer,
        // optionally time-traveled; rows out in rank order (bounded:
        // the merge count)
        val t = table
        val at = if (args.length > 1) Some(num(1).toInt) else None
        t.read(at)
          .select(col("rank").cast("int"), col("left"), col("right"),
            col("merged"), col("freq").cast("long"))
          .orderBy(col("rank").asc)
          .collect().toSeq
      case "unigram_train" =>
        // unigram_train(corpusView, textCol [, targetVocab]) — learn
        // a unigram-LM vocabulary; rows out (bounded: target + the
        // single-char coverage floor), (count desc, piece asc) order
        graft.operators.UnigramTrainer
          .train(session.table(str(0)).select(col(str(1)).as("text")),
            optNum(2, 400).toInt)
          .map(e => Row(e.piece, e.count,
            graft.operators.UnigramTrainer.roundLogProb(e.logProb)))
      case "unigram_save" =>
        // unigram_save(root, corpusView, textCol [, targetVocab]) —
        // train and PERSIST the vocabulary as a versioned manifest
        // table (the bpe_save contract: a retrain is an overwrite
        // commit, old vocabularies time-travel)
        val df = graft.operators.UnigramTrainer.trainDf(session,
          session.table(str(1)).select(col(str(2)).as("text")),
          optNum(3, 400).toInt, topN = Int.MaxValue)
        versionRow(table.write(df, "overwrite"))
      case "unigram_vocab" =>
        // unigram_vocab(root [, version]) — read a persisted
        // vocabulary, optionally time-traveled (bounded: vocab size)
        val t = table
        val at = if (args.length > 1) Some(num(1).toInt) else None
        // sort DRIVER-side with the API's own ordering: Spark's
        // col("piece").asc is UTF-8 code-point order while the Scala
        // surface ties-breaks with String.compareTo (UTF-16 units) —
        // the two disagree for supplementary-plane pieces (the same
        // U+FFFD-vs-U+10000 divergence the L32 fold guards against)
        t.read(at)
          .select(col("piece"), col("count").cast("long"),
            col("log_prob").cast("double"))
          .collect().sortBy(r => (-r.getLong(1), r.getString(0))).toSeq
      case "unigram_bind" =>
        // unigram_bind(root [, version]) — capture a PERSISTED
        // vocabulary in graft_unigram_encode(text)'s closure so
        // serving is plain SQL over any view. Log-probs are
        // recomputed from the integer counts (fixedVocab), not read
        // from the rounded log_prob column, so SQL encode ≡
        // encodeCounts exactly. Bounded: vocab-sized collect.
        val t = table
        val at =
          if (args.length > 1) Some(num(1).toInt) else t.latestVersion
        val counts = t.read(at)
          .select(col("piece"), col("count").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        val n = graft.functions.UnigramEncodeCount.bind(session, counts)
        Seq(Row(at.getOrElse(-1), n))
      case other =>
        throw new IllegalArgumentException(
          s"unknown procedure graft.$other; known: write, merge, delete, " +
            "update, optimize, optimize_small, reorg, zorder, vacuum, " +
            "restore, clone, backfill_row_ids, " +
            "tag, tags, drop_tag, " +
            "describe_history, describe_detail, describe_files, " +
            "constraint_add, constraint_drop, constraints, analyze, " +
            "describe_stats, rename_column, evolve_partition, " +
            "set_partition_spec, " +
            "add_columns, deprecate_columns, describe_schema, " +
            "schema_register, generated_add, generated_drop, " +
            "pq_build, pq_refresh, pq_query, " +
            "nsw_build, nsw_refresh, nsw_query, " +
            "bpe_train, bpe_save, bpe_merges, " +
            "unigram_train, unigram_save, unigram_vocab, unigram_bind")
    }
  }
}
