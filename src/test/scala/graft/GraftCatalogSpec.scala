package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.functions._

/** DSv2 TableCatalog surface (the Glue query-by-name contract): name
  * resolution, SHOW TABLES parity, VERSION/TIMESTAMP AS OF time
  * travel, DV-aware reads through the catalog, and pushdown through
  * the V1Scan bridge.
  */
class GraftCatalogSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private val lakeRoot =
    s"${sys.props("java.io.tmpdir")}/graft_cat_lake_${System.nanoTime()}"

  private def mt(path: String) = new ManifestTable(spark, path)

  override def withFixture(test: NoArgTest) = {
    spark.conf.set("spark.sql.catalog.gcat_spec", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat_spec.root", lakeRoot)
    super.withFixture(test)
  }

  private lazy val setup: Unit = {
    val orders = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0))
      .toDF("order_id", "status", "amount")
    val t = mt(s"$lakeRoot/silver/orders")
    t.write(orders, "overwrite") // v0
    t.write(Seq((4L, "C", 40.0)).toDF("order_id", "status", "amount"),
      "append") // v1
    val t2 = mt(s"$lakeRoot/silver/returns")
    t2.write(Seq((9L, "R")).toDF("order_id", "reason"), "overwrite")
  }

  test("name-based SELECT matches the path-based read") {
    setup
    val byName = spark.sql("SELECT * FROM gcat_spec.silver.orders")
    val byPath = mt(s"$lakeRoot/silver/orders").read()
    assert(byName.exceptAll(byPath).isEmpty && byPath.exceptAll(byName).isEmpty)
    assert(byName.count() === 4)
  }

  test("VERSION AS OF and TIMESTAMP AS OF match read(version)/readAsOf") {
    setup
    val v0 = spark.sql("SELECT * FROM gcat_spec.silver.orders VERSION AS OF 0")
    val want = mt(s"$lakeRoot/silver/orders").read(Some(0))
    assert(v0.exceptAll(want).isEmpty && want.exceptAll(v0).isEmpty)
    assert(v0.count() === 3)
    // a timestamp far in the future resolves to the latest version
    val ts = spark.sql(
      "SELECT * FROM gcat_spec.silver.orders TIMESTAMP AS OF '2100-01-01'")
    assert(ts.count() === 4)
  }

  test("VERSION AS OF '<tag>' resolves named tags; unknown tags refuse") {
    setup
    // gold namespace: the silver SHOW TABLES round-trip test pins
    // that namespace's exact table list
    val t = mt(s"$lakeRoot/gold/tagged")
    t.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), "overwrite") // v0
    t.createTag("baseline")
    t.write(Seq((3L, 30.0)).toDF("id", "amt"), "append") // v1
    val byTag = spark.sql(
      "SELECT * FROM gcat_spec.gold.tagged VERSION AS OF 'baseline'")
    assert(byTag.count() === 2)
    val want = t.read(Some(0))
    assert(byTag.exceptAll(want).isEmpty && want.exceptAll(byTag).isEmpty)
    // latest unaffected; unknown tag names the known ones in the error
    assert(spark.sql("SELECT * FROM gcat_spec.gold.tagged").count() === 3)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM gcat_spec.gold.tagged VERSION AS OF 'nope'").collect()
    }
    assert(messageChain(e).contains("no ref 'nope'"))
    assert(messageChain(e).contains("baseline"))
  }

  test("VERSION AS OF '<branch>' serves the staged WAP audit view; " +
      "DML on it refuses") {
    setup
    val t = mt(s"$lakeRoot/gold/wapread")
    t.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), "overwrite")
    t.stageBranch("audit", Seq((3L, 30.0)).toDF("id", "amt"))
    // main readers never see staged rows; the branch ref reads
    // main ∪ staged (what the table WILL be after publish)
    assert(spark.sql("SELECT * FROM gcat_spec.gold.wapread").count() === 2)
    val branch = spark.sql(
      "SELECT * FROM gcat_spec.gold.wapread VERSION AS OF 'audit'")
    assert(branch.count() === 3)
    val want = t.readBranch("audit")
    assert(branch.exceptAll(want).isEmpty && want.exceptAll(branch).isEmpty)
    // aggregates push safely (no stale metadata fast path on a branch)
    assert(spark.sql("SELECT count(*) AS n FROM gcat_spec.gold.wapread " +
      "VERSION AS OF 'audit'").first().getLong(0) === 3)
    val e = intercept[Exception] {
      spark.sql("DELETE FROM gcat_spec.gold.wapread VERSION AS OF 'audit' " +
        "WHERE id = 1")
    }
    assert(e != null) // pinned handles refuse DML (parser or table level)
    t.publishBranch("audit")
    assert(spark.sql("SELECT * FROM gcat_spec.gold.wapread").count() === 3)
  }

  test("SHOW TABLES round-trips the directory layout") {
    setup
    val names = spark.sql("SHOW TABLES IN gcat_spec.silver")
      .select("tableName").as[String].collect().sorted
    assert(names.toSeq === Seq("orders", "returns"))
    assert(spark.sql("SHOW NAMESPACES IN gcat_spec")
      .select("namespace").as[String].collect().contains("silver"))
  }

  test("deletion vectors apply through name-based reads") {
    setup
    val t = mt(s"$lakeRoot/silver/dv_orders")
    t.write(Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("id", "s"), "overwrite")
    t.delete(col("id") === 2L)
    val got = spark.sql("SELECT id FROM gcat_spec.silver.dv_orders ORDER BY id")
      .as[Long].collect()
    assert(got.toSeq === Seq(1L, 3L))
  }

  test("filter and projection push into the inner scan; aggregates work") {
    setup
    val n = spark.sql(
      "SELECT count(*) FROM gcat_spec.silver.orders WHERE status = 'A'")
      .as[Long].head()
    assert(n === 2L)
    val df = spark.sql(
      "SELECT order_id FROM gcat_spec.silver.orders WHERE amount > 15.0")
    assert(df.as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
    // the pushed filter reaches the scan: plan carries it below the
    // V1 relation (RowDataSourceScanExec shows PushedFilters)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("amount"), p)
  }

  test("joins between catalog tables and temp views") {
    setup
    Seq((1L, "x"), (4L, "y")).toDF("order_id", "tag")
      .createOrReplaceTempView("tags")
    val j = spark.sql(
      """SELECT o.order_id, t.tag FROM gcat_spec.silver.orders o
        |JOIN tags t USING (order_id) ORDER BY o.order_id""".stripMargin)
    assert(j.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x"), (4L, "y")))
  }

  test("CREATE / DROP / RENAME TABLE manage table directories") {
    setup
    spark.sql(
      "CREATE TABLE gcat_spec.silver.fresh (id BIGINT, v STRING)")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.fresh").count() === 0)
    // the created table is a real ManifestTable: API writes land in it
    mt(s"$lakeRoot/silver/fresh")
      .write(Seq((1L, "a")).toDF("id", "v"), "append")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.fresh").count() === 1)
    spark.sql(
      "ALTER TABLE gcat_spec.silver.fresh RENAME TO gcat_spec.silver.fresh2")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.fresh2").count() === 1)
    spark.sql("DROP TABLE gcat_spec.silver.fresh2")
    assert(!spark.catalog.tableExists("gcat_spec.silver.fresh2"))
  }

  test("CREATE TABLE PARTITIONED BY lays data out by the declared spec") {
    setup
    spark.sql(
      """CREATE TABLE gcat_spec.silver.pt
        |  (id BIGINT, status STRING, ts TIMESTAMP)
        |PARTITIONED BY (status, bucket(4, id), days(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO gcat_spec.silver.pt VALUES
        |  (1, 'A', TIMESTAMP '2024-06-01 10:00:00'),
        |  (2, 'B', TIMESTAMP '2024-06-02 11:00:00')""".stripMargin)
    assert(spark.sql("SELECT * FROM gcat_spec.silver.pt").count() === 2)
    // the bootstrap persisted the layout: hive dirs carry the identity
    // column AND the hidden transform columns
    val fs = new org.apache.hadoop.fs.Path(lakeRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = new org.apache.hadoop.fs.Path(s"$lakeRoot/silver/pt/data")
    val top = fs.listStatus(dataDir).map(_.getPath.getName).sorted
    assert(top.toSeq === Seq("status=A", "status=B"), top.toSeq)
    val under = fs.listStatus(
      new org.apache.hadoop.fs.Path(dataDir, "status=A"))
      .map(_.getPath.getName)
    assert(under.exists(_.startsWith("_graft_p_bucket4_id=")), under.toSeq)
    // partitioning() reports the declared layout back through DSv2
    val parts = spark.sessionState.catalogManager.catalog("gcat_spec")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("silver"), "pt")).partitioning().map(_.describe()).toSeq
    assert(parts.length === 3 && parts.contains("status"), parts)
    // an unsupported transform is refused, never silently dropped
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gcat_spec.silver.badpt (id BIGINT) " +
        "PARTITIONED BY (foo(id))")
    }
    assert(messageChain(e).toLowerCase.contains("not supported"), messageChain(e))
    assert(!spark.catalog.tableExists("gcat_spec.silver.badpt"))
  }

  test("reader options versionAsOf/timestampAsOf time-travel by name") {
    setup
    val byOpt = spark.read.option("versionAsOf", "0")
      .table("gcat_spec.silver.orders")
    val want = mt(s"$lakeRoot/silver/orders").read(Some(0))
    assert(byOpt.exceptAll(want).isEmpty && want.exceptAll(byOpt).isEmpty)
    val byTs = spark.read.option("timestampAsOf", "2100-01-01")
      .table("gcat_spec.silver.orders")
    assert(byTs.count() === 4) // far future = latest
    val both = intercept[Exception] {
      spark.read.option("versionAsOf", "0")
        .option("timestampAsOf", "2100-01-01")
        .table("gcat_spec.silver.orders").count()
    }
    assert(messageChain(both).toLowerCase.contains("both"),
      messageChain(both))
  }

  test("ALTER TABLE ADD COLUMNS / RENAME COLUMN route to declared schema") {
    setup
    val t = mt(s"$lakeRoot/silver/alt1")
    t.write(Seq((1L, 10.0)).toDF("id", "amount"), "overwrite")
    spark.sql(
      "ALTER TABLE gcat_spec.silver.alt1 ADD COLUMNS (note STRING)")
    val r = spark.sql(
      "SELECT id, note FROM gcat_spec.silver.alt1").first()
    assert(r.getLong(0) === 1L && r.isNullAt(1),
      "added column surfaces as typed NULL immediately")
    spark.sql(
      "ALTER TABLE gcat_spec.silver.alt1 RENAME COLUMN amount TO amt")
    assert(spark.sql("SELECT amt FROM gcat_spec.silver.alt1")
      .first().getDouble(0) === 10.0)
    // true DROP via column mapping: metadata-only, the column vanishes
    // from scans; a re-add of the name reads NULL, never the old values
    spark.sql("ALTER TABLE gcat_spec.silver.alt1 DROP COLUMN amt")
    assert(!spark.sql("SELECT * FROM gcat_spec.silver.alt1").columns
      .contains("amt"))
    val noCol = intercept[Exception] {
      spark.sql("SELECT amt FROM gcat_spec.silver.alt1").collect()
    }
    assert(messageChain(noCol).toLowerCase.contains("amt"))
    spark.sql(
      "ALTER TABLE gcat_spec.silver.alt1 ADD COLUMNS (amt DOUBLE)")
    val readd = spark.sql(
      "SELECT id, amt FROM gcat_spec.silver.alt1").first()
    assert(readd.isNullAt(1),
      "re-added column must read NULL, not the dropped values")
  }

  test("TRUNCATE TABLE empties by name; old data stays time-travelable") {
    setup
    val t = mt(s"$lakeRoot/silver/tr1")
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "overwrite")
    spark.sql("TRUNCATE TABLE gcat_spec.silver.tr1")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.tr1").count() === 0)
    // schema survives the empty state; the pre-truncate version reads
    assert(spark.sql("SELECT id FROM gcat_spec.silver.tr1").columns
      .toSeq === Seq("id"))
    assert(spark.sql(
      "SELECT * FROM gcat_spec.silver.tr1 VERSION AS OF 0").count() === 2)
  }

  test("CREATE TABLE refuses LOCATION/COMMENT/TBLPROPERTIES loudly") {
    setup
    // the catalog manages paths under its root: a LOCATION (or any
    // property it cannot persist) must be rejected, never silently
    // dropped with the data landing somewhere other than declared
    val loc = intercept[Exception] {
      spark.sql("CREATE TABLE gcat_spec.silver.elsewhere (id BIGINT) " +
        s"LOCATION '${sys.props("java.io.tmpdir")}/gcat_elsewhere'")
    }
    assert(messageChain(loc).contains("not supported"))
    val props = intercept[Exception] {
      spark.sql("CREATE TABLE gcat_spec.silver.withprops (id BIGINT) " +
        "TBLPROPERTIES ('k' = 'v')")
    }
    assert(messageChain(props).contains("not supported"))
    assert(!spark.catalog.tableExists("gcat_spec.silver.elsewhere"))
    assert(!spark.catalog.tableExists("gcat_spec.silver.withprops"))
    // USING the storage the engine actually provides is accepted
    spark.sql(
      "CREATE TABLE gcat_spec.silver.up (id BIGINT) USING parquet")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.up").count() === 0)
  }

  test("INSERT INTO / INSERT OVERWRITE / DELETE FROM / CTAS via SQL") {
    setup
    spark.sql("CREATE TABLE gcat_spec.silver.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gcat_spec.silver.dml VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gcat_spec.silver.dml VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.dml").count() === 3)
    spark.sql("DELETE FROM gcat_spec.silver.dml WHERE id = 2")
    assert(spark.sql("SELECT id FROM gcat_spec.silver.dml ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
    spark.sql("INSERT OVERWRITE gcat_spec.silver.dml VALUES (9, 'z')")
    assert(spark.sql("SELECT id FROM gcat_spec.silver.dml")
      .as[Long].collect().toSeq === Seq(9L))
    // the SQL commits are governed versions: time travel sees history
    assert(spark.sql(
      "SELECT * FROM gcat_spec.silver.dml VERSION AS OF 1").count() === 2)
    // CTAS: create + populate through the same write path
    spark.sql(
      """CREATE TABLE gcat_spec.silver.ctas AS
        |SELECT * FROM gcat_spec.silver.orders WHERE status = 'A'""".stripMargin)
    assert(spark.sql("SELECT * FROM gcat_spec.silver.ctas").count() === 2)
  }

  test("writes and deletes refuse on a time-travel-pinned snapshot") {
    setup
    val e = intercept[Exception] {
      spark.sql(
        "INSERT INTO gcat_spec.silver.orders VERSION AS OF 0 VALUES (7, 'X', 1.0)")
    }
    assert(e != null)
  }

  test("tables cannot nest inside tables") {
    setup
    // silver.orders is a TABLE: it must not act as a namespace
    val e = intercept[Exception] {
      spark.sql(
        "CREATE TABLE gcat_spec.silver.orders.inner (id BIGINT)")
    }
    assert(e.getMessage.contains("cannot nest") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    intercept[Exception] {
      spark.sql("CREATE NAMESPACE gcat_spec.silver.orders.ns")
    }
  }

  test("missing table and namespace raise the standard errors") {
    setup
    intercept[Exception] {
      spark.sql("SELECT * FROM gcat_spec.silver.nope").collect()
    }
    intercept[Exception] {
      spark.sql("SHOW TABLES IN gcat_spec.no_such_zone").collect()
    }
  }

  test("RENAME COLUMN works on a SQL-created (unpartitioned) table") {
    setup
    // createTable used to declare the schema unconditionally, and
    // declared columns refuse renameColumn — so ALTER TABLE RENAME
    // COLUMN failed on every table created via SQL CREATE TABLE even
    // though alterTable advertises rename support (fail-on-revert:
    // re-add the unconditional declareSchema and this test fails).
    // The unpartitioned empty overwrite writes a schema-bearing
    // footer, so no declaration is needed to keep the table readable.
    spark.sql("CREATE TABLE gcat_spec.silver.rc (id BIGINT, amount DOUBLE)")
    assert(spark.sql("SELECT * FROM gcat_spec.silver.rc").columns.toSeq ===
      Seq("id", "amount"), "empty SQL-created table reads its full schema")
    spark.sql("INSERT INTO gcat_spec.silver.rc VALUES (1, 10.0)")
    spark.sql("ALTER TABLE gcat_spec.silver.rc RENAME COLUMN amount TO amt")
    assert(spark.sql("SELECT amt FROM gcat_spec.silver.rc")
      .first().getDouble(0) === 10.0)
    // partitioned tables keep the declaration (a partitioned empty
    // overwrite lands zero files — without it the table is unreadable)
    // so their rename refuses with the declared-column policy error
    spark.sql("CREATE TABLE gcat_spec.silver.rcp (id BIGINT, s STRING) " +
      "PARTITIONED BY (s)")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcat_spec.silver.rcp RENAME COLUMN id TO i2")
    }
    assert(messageChain(e).contains("declared"), messageChain(e))
  }

  test("a column whose name contains a dot survives scan, pushdown, DML") {
    setup
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a.b", LongType),
      StructField("v", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "x"), Row(2L, "y"), Row(3L, "z"))), schema)
    mt(s"$lakeRoot/silver/dotted").write(df, "overwrite")
    // projection + pushed filter on the dotted name: col("a.b") would
    // parse as struct access on `a` and fail resolution
    val got = spark.sql(
      "SELECT `a.b` FROM gcat_spec.silver.dotted WHERE `a.b` >= 2 " +
        "ORDER BY `a.b`")
    assert(got.as[Long].collect().toSeq === Seq(2L, 3L))
    // DELETE translation goes through the same attribute resolution
    spark.sql("DELETE FROM gcat_spec.silver.dotted WHERE `a.b` = 2")
    assert(spark.sql("SELECT `a.b` FROM gcat_spec.silver.dotted ORDER BY `a.b`")
      .as[Long].collect().toSeq === Seq(1L, 3L))
  }

  test("COUNT(*) answers from manifest metadata, never a data scan") {
    setup
    val t = mt(s"$lakeRoot/silver/cnt")
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      "overwrite") // v0
    t.write(Seq((4L, "d")).toDF("id", "v"), "append") // v1
    t.delete(col("id") === 2L) // v2: DV marks must subtract
    val q = spark.sql("SELECT count(*) FROM gcat_spec.silver.cnt")
    assert(q.as[Long].head() === 3L)
    // the pushed count plans as a literal metadata row: the scan
    // reports the pushed aggregate and there is NO aggregate operator
    // (complete pushdown), hence no data scan at all
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    // version pins count at the pinned snapshot
    assert(spark.sql(
      "SELECT count(*) FROM gcat_spec.silver.cnt VERSION AS OF 0")
      .as[Long].head() === 3L)
    assert(spark.sql(
      "SELECT count(*) FROM gcat_spec.silver.cnt VERSION AS OF 1")
      .as[Long].head() === 4L)
    // anything the metadata cannot answer EXACTLY falls back to the
    // real scan: filtered count and grouped count stay correct
    val filtered = spark.sql(
      "SELECT count(*) FROM gcat_spec.silver.cnt WHERE id >= 3")
    assert(filtered.as[Long].head() === 2L)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("HashAggregate"), "filtered count must scan + aggregate")
    assert(spark.sql(
      "SELECT v, count(*) AS n FROM gcat_spec.silver.cnt GROUP BY v")
      .count() === 3L)
    // legacy snapshot (a manifest file written before the #n stat):
    // strip the count fields and the count falls back to the scan —
    // still correct, never a wrong fast path
    val fs = new org.apache.hadoop.fs.Path(lakeRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(s"$lakeRoot/silver/cnt/_graft_log")
    fs.listStatus(logDir).map(_.getPath)
      .filter(p => p.getName.endsWith(".manifest") || p.getName.endsWith(".delta"))
      .foreach { p =>
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val stripped = text.replaceAll("\t%23n=[^\t\n]*", "")
        fs.delete(new org.apache.hadoop.fs.Path(p.getParent,
          s".${p.getName}.crc"), false)
        val out = fs.create(p, true)
        try out.write(stripped.getBytes("UTF-8")) finally out.close()
      }
    val legacy = spark.sql("SELECT count(*) FROM gcat_spec.silver.cnt")
    assert(legacy.as[Long].head() === 3L)
    assert(legacy.queryExecution.executedPlan.toString
      .contains("HashAggregate"),
      "legacy snapshot without #n must fall back to scanning")
  }

  test("MIN/MAX answer from zone maps; anything inexact falls back") {
    setup
    val t = new ManifestTable(spark, s"$lakeRoot/silver/mm",
      statsCols = Seq("id", "price", "tag"))
    t.write(Seq((5L, 2.5, "b"), (1L, 9.75, "a"), (3L, 0.5, "c"))
      .toDF("id", "price", "tag"), "overwrite") // v0
    t.write(Seq((9L, -1.25, "d")).toDF("id", "price", "tag"), "append") // v1
    // long + double + ASCII string extrema and count, one statement,
    // answered entirely from the manifest: complete pushdown, no
    // aggregate operator, no data scan
    val q = spark.sql(
      "SELECT min(id), max(id), min(price), max(price), min(tag), " +
        "max(tag), count(*) FROM gcat_spec.silver.mm")
    assert(q.collect().toSeq.map(_.toSeq) ===
      Seq(Seq(1L, 9L, -1.25, 9.75, "a", "d", 4L)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    // version pin answers from the pinned snapshot's manifest
    assert(spark.sql(
      "SELECT max(id), min(price) FROM gcat_spec.silver.mm VERSION AS OF 0")
      .collect().toSeq.map(_.toSeq) === Seq(Seq(5L, 0.5)))
    // a filter makes the extremum non-metadata — falls back, stays right
    val filtered = spark.sql(
      "SELECT max(id) FROM gcat_spec.silver.mm WHERE price > 0")
    assert(filtered.as[Long].head() === 5L)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("HashAggregate"), "filtered extremum must scan")
    // a DV'd row could BE the extremum: after DELETE the pushdown
    // refuses (count alone would still push; the min term vetoes all)
    t.delete(col("id") === 9L)
    val afterDv = spark.sql(
      "SELECT min(id), max(id), count(*) FROM gcat_spec.silver.mm")
    assert(afterDv.collect().toSeq.map(_.toSeq) === Seq(Seq(1L, 5L, 3L)))
    assert(afterDv.queryExecution.executedPlan.toString
      .contains("HashAggregate"), "DV snapshot must scan for extrema")
    // non-ASCII string stats push down, folded in UTF-8 byte order:
    // U+FFFD sorts ABOVE U+10000 in UTF-16 code units (FFFD > D800)
    // but BELOW it in UTF-8 bytes (EF < F0) — two files so the
    // cross-file fold would pick the WRONG max in UTF-16 order
    val u = new ManifestTable(spark, s"$lakeRoot/silver/mm_uni",
      statsCols = Seq("s"))
    u.write(Seq(("�")).toDF("s"), "overwrite")
    u.write(Seq(("𐀀")).toDF("s"), "append")
    val uq = spark.sql("SELECT max(s) FROM gcat_spec.silver.mm_uni")
    assert(uq.as[String].head() === "𐀀",
      "Spark string max is UTF-8 byte order")
    assert(uq.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      "non-ASCII string stats answer from the manifest")
  }

  test("metadata MIN/MAX date guard: 5-digit years refuse, 4-digit push") {
    setup
    import java.time.LocalDate
    // ISO strings order chronologically only for 4-digit years: a
    // year-10000 stat ('+10000-…') sorts BELOW '9999-…', so the fold
    // would pick the wrong max — the guard must force a real scan
    val t = new ManifestTable(spark, s"$lakeRoot/silver/mm_dates",
      statsCols = Seq("d"))
    t.write(Seq(Tuple1(LocalDate.of(9999, 12, 31))).toDF("d"), "overwrite")
    t.write(Seq(Tuple1(LocalDate.of(10000, 1, 1))).toDF("d"), "append")
    // compare through a SQL cast: java.sql.Date.toString renders a
    // year-10000 date as '0000-01-01' (4-char year buffer)
    val q = spark.sql(
      "SELECT CAST(max(d) AS STRING) FROM gcat_spec.silver.mm_dates")
    assert(q.as[String].head() === "+10000-01-01")
    assert(q.queryExecution.executedPlan.toString.contains("Aggregate"),
      "5-digit-year date stats must scan")
    // ordinary dates answer from the manifest
    val t2 = new ManifestTable(spark, s"$lakeRoot/silver/mm_dates2",
      statsCols = Seq("d"))
    t2.write(Seq(Tuple1(LocalDate.of(2024, 1, 2)),
      Tuple1(LocalDate.of(2023, 5, 6))).toDF("d"), "overwrite")
    val q2 = spark.sql(
      "SELECT min(d), max(d) FROM gcat_spec.silver.mm_dates2")
    assert(q2.collect().head.toSeq.map(_.toString) ===
      Seq("2023-05-06", "2024-01-02"))
    assert(q2.queryExecution.executedPlan.toString
      .contains("PushedAggregates"), "4-digit-year dates must push")
  }

  test("dropNamespace refuses a table path even when called directly") {
    setup
    val t = mt(s"$lakeRoot/silver/guard_me")
    t.write(Seq((1L, "a")).toDF("id", "v"), "overwrite")
    val cat = spark.sessionState.catalogManager.catalog("gcat_spec")
      .asInstanceOf[graft.sql.GraftCatalog]
    // the SQL surface is safe only because Spark checks
    // namespaceExists first; the catalog method itself must refuse a
    // cascade-delete of a governed table addressed as a "namespace"
    val e = intercept[IllegalArgumentException] {
      cat.dropNamespace(Array("silver", "guard_me"), true)
    }
    assert(e.getMessage.contains("table"), e.getMessage)
    assert(spark.sql("SELECT * FROM gcat_spec.silver.guard_me").count() === 1)
  }
}
