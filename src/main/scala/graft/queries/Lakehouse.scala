package graft.queries

import graft.{Q, QueryModule}
import graft.lake.{ManifestTable, Merge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lakehouse table-format operators (SURVEY.md §2.9) surfaced as
  * oracle-checked queries. l1 runs the real Merge.upsert resolution;
  * l3 drives a real ManifestTable through write→merge→time-travel and
  * reads both versions back. L2/L4/L5 are side-effect-only and are
  * covered by LakeSpec instead.
  */
object Lakehouse extends QueryModule {

  /** Synthetic CDC feed over orders: price corrections on keys
    * divisible by 97, brand-new orders (key+10M) from keys divisible
    * by 503 — mirrors the reference's Updated.csv (changes + idempotent
    * rows), with inserts added to exercise the NOT MATCHED branch.
    */
  private def updatesFeed(orders: DataFrame): DataFrame = {
    val changed = orders
      .filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = orders
      .filter(col("o_orderkey") % 503 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("o_orderpriority", lit("0-NEW"))
    changed.unionByName(inserts)
  }

  private val updatesFeedSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |       o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 97 = 0
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, 'N',
      |       o_totalprice, o_orderdate, '0-NEW'
      |FROM orders WHERE o_orderkey % 503 = 0""".stripMargin

  /** L1: MERGE INTO semantics through Merge.upsert. */
  def l1Merge(spark: SparkSession, dir: String): DataFrame = {
    val orders = Q.t(spark, dir, "orders")
    Merge.upsert(orders, updatesFeed(orders), Seq("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy(col("o_orderkey").asc)
  }

  val l1Oracle: String =
    s"""WITH updates AS ($updatesFeedSql)
       |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
       |FROM orders t FULL OUTER JOIN updates s ON t.o_orderkey = s.o_orderkey
       |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L1b: MERGE with delete tombstones through Merge.applyCdc — the
    * three-clause Delta/Iceberg form (DELETE / UPDATE / INSERT) as a
    * broadcast-friendly anti-join + union (the target side is never
    * shuffled when the feed is small). Tombstoned keys (%101, disjoint
    * from the other clauses' keys) vanish; corrections and inserts
    * behave as l1. The DuckDB oracle keeps the textbook FULL OUTER
    * form — same rows, independently derived.
    */
  def l1MergeDelete(spark: SparkSession, dir: String): DataFrame = {
    val orders = Q.t(spark, dir, "orders")
    val feed = updatesFeed(orders).withColumn("_deleted", lit(false))
      .unionByName(orders
        .filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 97 =!= 0)
        .withColumn("_deleted", lit(true)))
    Merge.applyCdc(orders, feed, Seq("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy(col("o_orderkey").asc)
  }

  val l1MergeDeleteOracle: String =
    s"""WITH updates AS (
       |  SELECT *, FALSE AS _deleted FROM ($updatesFeedSql)
       |  UNION ALL
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority, TRUE
       |  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0)
       |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
       |  CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
       |FROM orders t FULL OUTER JOIN updates s ON t.o_orderkey = s.o_orderkey
       |WHERE NOT (s.o_orderkey IS NOT NULL AND s._deleted)
       |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L3: versioned reads — build a manifest table in scratch, commit
    * v0 (full orders), merge the price-correction feed (v1), then
    * time-travel both versions and fingerprint them.
    */
  def l3TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    // pid-unique scratch: Verify and Bench may run as separate
    // concurrent processes
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l3_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)

    val orders = Q.t(spark, dir, "orders")
    val mt = new ManifestTable(spark, scratch)
    mt.write(orders, "overwrite") // v0
    val changed = orders
      .filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    mt.merge(changed, Seq("o_orderkey")) // v1

    def fingerprint(v: Int): DataFrame =
      mt.read(Some(v)).agg(
        lit(v).as("version"),
        count(lit(1)).as("n"),
        Q.dsum(col("o_totalprice")).as("total"))
        .select("version", "n", "total")

    fingerprint(0).unionByName(fingerprint(1)).orderBy(col("version").asc)
  }

  val l3Oracle: String =
    s"""SELECT 0 AS version, COUNT(*) AS n, ${Q.sql.dsum("o_totalprice")} AS total
       |FROM orders
       |UNION ALL
       |SELECT 1, COUNT(*), ${Q.sql.dsum("p")}
       |FROM (SELECT CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
       |                  ELSE o_totalprice END AS p FROM orders)
       |ORDER BY version ASC NULLS FIRST""".stripMargin

  /** L28: name-based SQL through the DSv2 catalog
    * ([[graft.sql.GraftCatalog]]) — the Glue/Athena query-by-name
    * surface: write orders as a governed table, then run plain SQL
    * against `graft_cat.gold.orders` (current + `VERSION AS OF 0`)
    * with a name-based self-join. The oracle replays the same
    * arithmetic over the raw table, proving the catalog path reads
    * the identical governed snapshot.
    */
  def l28CatalogSelect(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l28_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", scratch)

    val orders = Q.t(spark, dir, "orders")
    val mt = new ManifestTable(spark, s"$scratch/gold/orders")
    mt.write(orders, "overwrite") // v0
    mt.write(orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L), "append") // v1

    spark.sql(
      """SELECT cur.o_orderpriority,
        |  COUNT(*) AS n_now,
        |  MIN(v0.n_before) AS n_before
        |FROM graft_cat.gold.orders cur
        |CROSS JOIN (
        |  SELECT o_orderpriority AS pri, COUNT(*) AS n_before
        |  FROM graft_cat.gold.orders VERSION AS OF 0
        |  GROUP BY 1) v0
        |WHERE cur.o_orderpriority = v0.pri
        |GROUP BY 1
        |ORDER BY 1 ASC NULLS FIRST""".stripMargin)
  }

  /** L31: metadata-only COUNT(*) — the manifest's write-time per-file
    * row counts (plus DV mark counts) answer a global count with ZERO
    * data IO, at the latest version and at time-travel pins alike
    * (the Delta/Iceberg metadata-count shortcut; plan-asserted
    * aggregate pushdown in GraftCatalogSpec). The oracle replays the
    * same overwrite→append→DV-delete arithmetic on the raw table, so
    * every counted path (base, appended slice, DV-subtracted rows)
    * is independently checked.
    */
  def l31MetaCount(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l31_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    // own catalog name: the session CACHES catalog instances per name
    // on first use, so reusing l28's graft_cat would pin l28's root
    spark.conf.set("spark.sql.catalog.graft_cat31", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat31.root", scratch)

    val orders = Q.t(spark, dir, "orders")
    val mt = new ManifestTable(spark, s"$scratch/gold/orders")
    mt.write(orders, "overwrite") // v0
    mt.write(orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L), "append") // v1
    mt.delete(col("o_orderkey") % 17 === 0) // v2: DV marks, no rewrite

    spark.sql(
      """SELECT
        |  (SELECT COUNT(*) FROM graft_cat31.gold.orders) AS n_now,
        |  (SELECT COUNT(*) FROM graft_cat31.gold.orders VERSION AS OF 1)
        |    AS n_v1,
        |  (SELECT COUNT(*) FROM graft_cat31.gold.orders VERSION AS OF 0)
        |    AS n_v0""".stripMargin)
  }

  /** L32: metadata-only MIN/MAX — the zone-map companion to l31's
    * metadata COUNT(*): global extrema of long, double and ASCII
    * string columns (and a VERSION AS OF pin) answered from the
    * manifest's per-file stats, zero data IO
    * ([[graft.lake.ManifestTable.metadataMinMax]]; plan shape and
    * every refusal path — filters, DVs, non-ASCII, legacy stats —
    * asserted in GraftCatalogSpec).
    */
  def l32MetaMinMax(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l32_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    spark.conf.set("spark.sql.catalog.graft_cat32", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat32.root", scratch)

    val orders = Q.t(spark, dir, "orders")
    val mt = new ManifestTable(spark, s"$scratch/gold/orders",
      statsCols = Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    mt.write(orders, "overwrite") // v0
    mt.write(orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L), "append") // v1

    spark.sql(
      """SELECT
        |  (SELECT MIN(o_orderkey) FROM graft_cat32.gold.orders) AS min_key,
        |  (SELECT MAX(o_orderkey) FROM graft_cat32.gold.orders) AS max_key,
        |  (SELECT MIN(o_totalprice) FROM graft_cat32.gold.orders)
        |    AS min_price,
        |  (SELECT MAX(o_totalprice) FROM graft_cat32.gold.orders)
        |    AS max_price,
        |  (SELECT MIN(o_orderpriority) FROM graft_cat32.gold.orders)
        |    AS min_prio,
        |  (SELECT MAX(o_orderpriority) FROM graft_cat32.gold.orders)
        |    AS max_prio,
        |  (SELECT MAX(o_orderkey) FROM graft_cat32.gold.orders
        |     VERSION AS OF 0) AS max_key_v0""".stripMargin)
  }

  val l32Oracle: String =
    """WITH appended AS (
      |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT
      |  (SELECT MIN(o_orderkey) FROM appended) AS min_key,
      |  (SELECT MAX(o_orderkey) FROM appended) AS max_key,
      |  (SELECT MIN(o_totalprice) FROM appended) AS min_price,
      |  (SELECT MAX(o_totalprice) FROM appended) AS max_price,
      |  (SELECT MIN(o_orderpriority) FROM appended) AS min_prio,
      |  (SELECT MAX(o_orderpriority) FROM appended) AS max_prio,
      |  (SELECT MAX(o_orderkey) FROM orders) AS max_key_v0
      |ORDER BY min_key ASC NULLS FIRST""".stripMargin

  val l31Oracle: String =
    """WITH appended AS (
      |  SELECT o_orderkey FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT
      |  (SELECT COUNT(*) FROM appended WHERE o_orderkey % 17 <> 0) AS n_now,
      |  (SELECT COUNT(*) FROM appended) AS n_v1,
      |  (SELECT COUNT(*) FROM orders) AS n_v0
      |ORDER BY n_now ASC NULLS FIRST""".stripMargin

  val l28Oracle: String =
    """WITH appended AS (
      |  SELECT o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT o_orderpriority FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT a.o_orderpriority,
      |  COUNT(*) AS n_now,
      |  MIN(b.n_before) AS n_before
      |FROM appended a
      |JOIN (SELECT o_orderpriority AS pri, COUNT(*) AS n_before
      |      FROM orders GROUP BY 1) b
      |  ON a.o_orderpriority = b.pri
      |GROUP BY 1
      |ORDER BY 1 ASC NULLS FIRST""".stripMargin

  /** A sibling session on the shared context with GraftExtensions —
    * the plain-SQL DML statements (UPDATE / MERGE INTO) need the
    * lowering rule injected at session build, and the driver's
    * Verify/Bench session is built without extensions. Cached: Bench
    * re-runs queries adaptively, and sessions are not free.
    */
  @volatile private var dmlSessionCache: SparkSession = _
  private def dmlSession(base: SparkSession): SparkSession = synchronized {
    if (dmlSessionCache == null) {
      val prevDefault = SparkSession.getDefaultSession
      val prevActive = SparkSession.getActiveSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try dmlSessionCache = SparkSession.builder()
        .config("spark.sql.shuffle.partitions",
          base.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      finally {
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    }
    dmlSessionCache
  }

  /** One catalog root shared by every DML query: Spark caches a
    * catalog plugin instance per session at FIRST use (root re-sets
    * are ignored), so per-query roots under one catalog name would
    * silently cross-wire — each query gets its own table directory
    * under the shared root instead.
    */
  private def dmlScratch(s: SparkSession, table: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_lake_dml_${ProcessHandle.current().pid()}"
    s.conf.set("spark.sql.catalog.graft_dml", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_dml.root", root)
    val tableDir = s"$root/gold/$table"
    val p = new org.apache.hadoop.fs.Path(tableDir)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    tableDir
  }

  /** L29: plain-SQL `UPDATE ... SET ... WHERE` on a catalog table —
    * the GraftDmlRules lowering onto the DV merge-on-read
    * updateWhere (no data file rewritten; the pre-update snapshot
    * stays readable). The oracle replays the assignment as a CASE
    * over the raw orders (doubling is exact in binary, so the
    * row-level compare is bit-exact).
    */
  def l29SqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    new ManifestTable(s, dmlScratch(s, "orders_l29"))
      .write(Q.t(s, dir, "orders"), "overwrite")
    s.sql(
      """UPDATE graft_dml.gold.orders_l29
        |SET o_totalprice = o_totalprice * 2, o_orderpriority = '1-URGENT'
        |WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 0""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM graft_dml.gold.orders_l29
        |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin)
  }

  val l29Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate,
      |  CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 0
      |       THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L30: plain-SQL three-sided `MERGE INTO` on a catalog table —
    * conditional DELETE / UPDATE matched arms (first-match-wins), a
    * conditional INSERT arm, and a NOT MATCHED BY SOURCE arm, lowered
    * onto ManifestTable.mergeInto: one DV commit, marks + appends,
    * O(matched + inserted). The oracle replays the same decision
    * table as three set-operation branches over the raw orders.
    */
  def l30SqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    new ManifestTable(s, dmlScratch(s, "orders_l30"))
      .write(Q.t(s, dir, "orders"), "overwrite")
    Q.t(s, dir, "orders").createOrReplaceTempView("l30_orders_raw")
    // the insert-branch keys shift past max(o_orderkey), derived from
    // the data: a fixed offset would collide with real keys at larger
    // scales (make_sf1 clones orders with +10M-per-clone key offsets),
    // turning intended inserts into matches and tripping the
    // cardinality check
    s.sql(
      """SELECT o_orderkey AS k, o_custkey AS s_cust,
        |       o_orderstatus AS s_status, o_totalprice * 2 AS s_price,
        |       o_orderdate AS s_date, o_orderpriority AS s_pri
        |FROM l30_orders_raw WHERE o_orderkey % 13 = 0
        |UNION ALL
        |SELECT o_orderkey + m.mx, o_custkey, o_orderstatus,
        |       o_totalprice, o_orderdate, o_orderpriority
        |FROM l30_orders_raw CROSS JOIN
        |  (SELECT max(o_orderkey) + 1 AS mx FROM l30_orders_raw) m
        |WHERE o_orderkey % 17 = 0""".stripMargin)
      .createOrReplaceTempView("l30_feed")
    s.sql(
      """MERGE INTO graft_dml.gold.orders_l30 t USING l30_feed s
        |ON t.o_orderkey = s.k
        |WHEN MATCHED AND s.s_status = 'F' THEN DELETE
        |WHEN MATCHED THEN UPDATE
        |  SET o_totalprice = s.s_price, o_orderpriority = '1-URGENT'
        |WHEN NOT MATCHED AND s.s_pri <> '5-LOW' THEN INSERT
        |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |   o_orderdate, o_orderpriority)
        |  VALUES (s.k, s.s_cust, s.s_status, s.s_price, s.s_date, s.s_pri)
        |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 1000 = 0 THEN
        |  UPDATE SET o_orderpriority = '9-RESIDUAL'""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM graft_dml.gold.orders_l30
        |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin)
  }

  val l30Oracle: String =
    """WITH feed AS (
      |  SELECT o_orderkey AS k, o_custkey AS s_cust,
      |         o_orderstatus AS s_status, o_totalprice * 2 AS s_price,
      |         o_orderdate AS s_date, o_orderpriority AS s_pri
      |  FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT o_orderkey + m.mx, o_custkey, o_orderstatus,
      |         o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders CROSS JOIN
      |    (SELECT max(o_orderkey) + 1 AS mx FROM orders) m
      |  WHERE o_orderkey % 17 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       o_orderdate, o_orderpriority FROM (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |         o_orderdate,
      |         CASE WHEN o_orderkey % 1000 = 0 THEN '9-RESIDUAL'
      |              ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey NOT IN (SELECT k FROM feed)
      |  UNION ALL
      |  SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, s.s_price,
      |         t.o_orderdate, '1-URGENT'
      |  FROM orders t JOIN feed s ON t.o_orderkey = s.k
      |  WHERE t.o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT s.k, s.s_cust, s.s_status, s.s_price, s.s_date, s.s_pri
      |  FROM feed s
      |  WHERE s.k NOT IN (SELECT o_orderkey FROM orders)
      |    AND s.s_pri <> '5-LOW')
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L38: `MERGE INTO ... WITH SCHEMA EVOLUTION` — Delta autoMerge
    * semantics via Spark's native ResolveMergeIntoSchemaEvolution
    * against the DSv2 catalog: the feed carries a column the target
    * lacks (`o_note`); the analyzer turns it into an AddColumn
    * TableChange routed through [[GraftCatalog.alterTable]] → the L26
    * declared-schema policy, then `UPDATE SET *` / `INSERT *` flow it.
    * Pre-existing rows read typed NULL. The oracle replays the
    * add-column-then-merge as a union over the raw orders.
    */
  def l38MergeEvolve(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    new ManifestTable(s, dmlScratch(s, "orders_l38"))
      .write(Q.t(s, dir, "orders"), "overwrite")
    Q.t(s, dir, "orders").createOrReplaceTempView("l38_orders_raw")
    // matched arm doubles the price and stamps o_note; insert keys
    // shift past max(o_orderkey) (same collision-proofing as l30)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       o_totalprice * 2 AS o_totalprice, o_orderdate,
        |       o_orderpriority,
        |       concat('upd-', o_orderkey) AS o_note
        |FROM l38_orders_raw WHERE o_orderkey % 11 = 0
        |UNION ALL
        |SELECT o_orderkey + m.mx, o_custkey, o_orderstatus,
        |       o_totalprice, o_orderdate, o_orderpriority,
        |       concat('ins-', o_orderkey) AS o_note
        |FROM l38_orders_raw CROSS JOIN
        |  (SELECT max(o_orderkey) + 1 AS mx FROM l38_orders_raw) m
        |WHERE o_orderkey % 19 = 0""".stripMargin)
      .createOrReplaceTempView("l38_feed")
    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_dml.gold.orders_l38 t
        |USING l38_feed s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_note
        |FROM graft_dml.gold.orders_l38
        |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin)
  }

  val l38Oracle: String =
    """WITH feed AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
      |         concat('upd-', o_orderkey) AS o_note
      |  FROM orders WHERE o_orderkey % 11 = 0
      |  UNION ALL
      |  SELECT o_orderkey + m.mx, o_custkey, o_totalprice,
      |         concat('ins-', o_orderkey) AS o_note
      |  FROM orders CROSS JOIN
      |    (SELECT max(o_orderkey) + 1 AS mx FROM orders) m
      |  WHERE o_orderkey % 19 = 0)
      |SELECT o_orderkey, o_custkey, o_totalprice, o_note FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |         CAST(NULL AS VARCHAR) AS o_note
      |  FROM orders WHERE o_orderkey % 11 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_note FROM feed)
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L39: row tracking (T16) — stable `_row_id`s make a NEVER-CDC
    * table keylessly diffable: updateWhere + delete commit in place
    * (DV marks + id-carrying copies), then the change feed replays
    * BOTH commits with `keys = None` — identity comes from the row
    * ids alone. The oracle replays the same two DML statements
    * relationally over the raw orders.
    */
  def l39RowIds(spark: SparkSession, dir: String): DataFrame = {
    val root = dmlScratch(spark, "orders_l39")
    val mt = new ManifestTable(spark, root)
    mt.write(Q.t(spark, dir, "orders"), "overwrite") // v0
    mt.updateWhere(col("o_orderkey") % 9 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 3))) // v1, no CDC
    mt.delete(col("o_orderkey") % 23 === 0) // v2, no CDC
    val feed = (1 to 2).map(v => mt.changesAt(v, None)
      .withColumn("_v", lit(v))).reduce(_ unionByName _)
    feed.select(col("_v"), col("_change_type"), col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      .orderBy(col("_v").asc, col("o_orderkey").asc_nulls_first,
        col("_change_type").asc_nulls_first)
  }

  val l39Oracle: String =
    """WITH upd AS (SELECT * FROM orders WHERE o_orderkey % 9 = 0),
      |post AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 3
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 1 AS _v, 'update_preimage' AS _change_type,
      |         o_orderkey, o_custkey, o_totalprice FROM upd
      |  UNION ALL
      |  SELECT 1, 'update_postimage', o_orderkey, o_custkey,
      |         o_totalprice * 3 FROM upd
      |  UNION ALL
      |  SELECT 2, 'delete', o_orderkey, o_custkey, o_totalprice
      |  FROM post WHERE o_orderkey % 23 = 0)
      |ORDER BY _v ASC, o_orderkey ASC NULLS FIRST,
      |         _change_type ASC NULLS FIRST""".stripMargin

  /** L40: DEFAULT values on evolved columns — `ALTER TABLE ADD COLUMN
    * ... DEFAULT`: rows in files PREDATING the column read the stored
    * default (Spark's parquet existence-default slot), rows written
    * after carry their own values — explicit NULLs included, the
    * distinction a read-time `coalesce` could never make. The oracle
    * replays the mixed old/new-file table relationally.
    */
  def l40DefaultEvolve(spark: SparkSession, dir: String): DataFrame = {
    val root = dmlScratch(spark, "orders_l40")
    val mt = new ManifestTable(spark, root)
    mt.write(Q.t(spark, dir, "orders"), "overwrite") // v0: no o_channel
    mt.addColumnWithDefault("o_channel", "STRING", "'web'")
    Q.t(spark, dir, "orders").createOrReplaceTempView("l40_orders_raw")
    // new-file rows carry explicit values INCLUDING NULLs (which must
    // stay NULL — only missing-from-file rows take the default); keys
    // shift past max like l30/l38
    mt.write(spark.sql(
      """SELECT o_orderkey + m.mx AS o_orderkey, o_custkey,
        |       o_orderstatus, o_totalprice, o_orderdate,
        |       o_orderpriority,
        |       CASE WHEN o_orderkey % 2 = 0 THEN 'store' END AS o_channel
        |FROM l40_orders_raw CROSS JOIN
        |  (SELECT max(o_orderkey) + 1 AS mx FROM l40_orders_raw) m
        |WHERE o_orderkey % 17 = 0""".stripMargin), "append")
    mt.read().select("o_orderkey", "o_totalprice", "o_channel")
      .orderBy(col("o_orderkey").asc_nulls_first)
  }

  val l40Oracle: String =
    """SELECT o_orderkey, o_totalprice, o_channel FROM (
      |  SELECT o_orderkey, o_totalprice, 'web' AS o_channel FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + m.mx, o_totalprice,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'store' END
      |  FROM orders CROSS JOIN
      |    (SELECT max(o_orderkey) + 1 AS mx FROM orders) m
      |  WHERE o_orderkey % 17 = 0)
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L41: GENERATED ALWAYS AS IDENTITY — identity values DERIVE from
    * the stable row id (`start + step * rid`), so the assignment is
    * deterministic for a single sorted write (rid = file base 0 + row
    * index) and SURVIVES an update rewrite (copies keep their rid, so
    * their uid). The oracle re-derives the assignment with
    * row_number() over the same sort and replays the update — a value
    * that shifted under the rewrite could not match.
    */
  def l41Identity(spark: SparkSession, dir: String): DataFrame = {
    val root = dmlScratch(spark, "orders_l41")
    val mt = new ManifestTable(spark, root)
    mt.write(Q.t(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartition(1).sortWithinPartitions("o_orderkey"), "overwrite")
    mt.addIdentityColumn("uid", start = 1000L, step = 3L)
    mt.updateWhere(col("o_orderkey") % 7 === 0,
      Map("o_totalprice" -> (col("o_totalprice") * 2))) // copies keep uid
    mt.read().select("o_orderkey", "o_totalprice", "uid")
      .orderBy(col("o_orderkey").asc_nulls_first)
  }

  val l41Oracle: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
      |            ELSE o_totalprice END AS o_totalprice,
      |       1000 + 3 * (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1)
      |         AS uid
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L33: persistent SQL views ([[graft.sql.GraftViewRule]] over the
    * ViewCatalog side of [[graft.sql.GraftCatalog]]) — `CREATE OR
    * REPLACE VIEW cat.ns.v (cols) AS SELECT …` persisted in the
    * `_graft_views` sidecar, read back BY NAME with read-time
    * semantics: the table is appended AFTER the view is created, and
    * the view must see the new rows (the Athena/Glue view contract;
    * session-survival and SHOW/DROP round-trips are spec-gated in
    * GraftViewSpec). The oracle replays the view text over the
    * append-unioned raw orders.
    */
  def l33SqlView(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    val root = dmlScratch(s, "orders_l33")
    val mt = new ManifestTable(s, root)
    mt.write(Q.t(s, dir, "orders"), "overwrite")
    s.sql(
      s"""CREATE OR REPLACE VIEW graft_dml.gold.prio_rollup_l33
         |  (pri, n, total) AS
         |SELECT o_orderpriority, COUNT(*),
         |       ${Q.sql.dsum("o_totalprice")}
         |FROM graft_dml.gold.orders_l33
         |WHERE o_orderkey % 3 = 0
         |GROUP BY o_orderpriority""".stripMargin)
    // mutate AFTER create — views resolve at read time, so the view
    // must reflect this append (×3 keys stay inside the view's filter)
    mt.write(Q.t(s, dir, "orders").filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") * 3), "append")
    s.sql(
      """SELECT pri, n, total FROM graft_dml.gold.prio_rollup_l33
        |ORDER BY pri ASC NULLS FIRST""".stripMargin)
  }

  val l33Oracle: String =
    s"""WITH appended AS (
       |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
       |  UNION ALL
       |  SELECT o_orderkey * 3, o_orderpriority, o_totalprice
       |  FROM orders WHERE o_orderkey % 101 = 0)
       |SELECT o_orderpriority AS pri, COUNT(*) AS n,
       |       ${Q.sql.dsum("o_totalprice")} AS total
       |FROM appended
       |WHERE o_orderkey % 3 = 0
       |GROUP BY 1
       |ORDER BY 1 ASC NULLS FIRST""".stripMargin

  /** L34: LAZY partition-spec evolution
    * ([[graft.lake.ManifestTable.setPartitionSpec]]) — the Iceberg
    * change-the-layout-without-rewriting headline, end to end on one
    * table: monthly layout → lazy switch to daily → append under the
    * new spec → a MERGE whose touched keys span BOTH layouts (scoped
    * per file by the file's OWN spec; its rewrites migrate to daily) →
    * a transform range read over the still-mixed snapshot, pruning old
    * files by `months` and new files by `days`. The oracle replays the
    * update arithmetic and the date window over raw orders — if any
    * layout path dropped, duplicated, or mis-pruned a file, the
    * aggregate could not match. File-level scoping/pruning assertions
    * are spec-gated in PartitionTransformSpec.
    */
  def l34SpecEvolution(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l34_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    fsPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(fsPath, true)

    // a ~90-DAY window of orders (was one year): the operator proof —
    // mixed-layout scoping + per-spec pruning — needs files under BOTH
    // specs and a merge/read spanning them, which 92 daily partitions
    // demonstrate exactly as well as 365 while minting 4× fewer files;
    // at bench scale the year form was 8.6% of total wall time, all of
    // it local-FS file churn, not query movement.
    val orders = Q.t(spark, dir, "orders")
      .filter(col("o_orderdate").between("1995-03-01", "1995-05-31"))
    val t0 = new ManifestTable(spark, s"$scratch/orders",
      partitionSpec = Seq("months(o_orderdate)"))
    t0.write(orders.filter(col("o_orderkey") % 2 === 0), "overwrite")
    val t1 = t0.setPartitionSpec(Nil, Seq("days(o_orderdate)"))
    t1.write(orders.filter(col("o_orderkey") % 2 =!= 0), "append")
    // touched keys live in old monthly AND new daily files; the date
    // window keeps the touched set narrow so the snapshot STAYS mixed
    // for the read below
    t1.merge(orders.filter(col("o_orderkey") % 91 === 0
        && col("o_orderdate").between("1995-04-01", "1995-04-30"))
      .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey"))
    t1.read(where = col("o_orderdate").between("1995-03-15", "1995-05-15"))
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("pri").asc)
  }

  val l34Oracle: String =
    s"""SELECT o_orderpriority AS pri, COUNT(*) AS n,
       |       ${Q.sql.dsum("p")} AS total
       |FROM (
       |  SELECT o_orderpriority, o_orderdate,
       |         CASE WHEN o_orderkey % 91 = 0
       |                AND o_orderdate BETWEEN DATE '1995-04-01'
       |                                    AND DATE '1995-04-30'
       |              THEN o_totalprice * 2 ELSE o_totalprice END AS p
       |  FROM orders
       |  WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-05-31')
       |WHERE o_orderdate BETWEEN DATE '1995-03-15' AND DATE '1995-05-15'
       |GROUP BY 1
       |ORDER BY 1 ASC NULLS FIRST""".stripMargin

  /** L35: BATCH change-data-feed through the SQL table function —
    * `SELECT … FROM graft_table_changes(root, 1, 3, keys)` (Delta's
    * `table_changes` TVF; the reader-option spelling and
    * TVF ≡ changesBetween-replay equalities are spec-gated in
    * StreamingSpec). The table takes a MERGE (corrections + inserts,
    * v1), a DV UPDATE (v2) and a DV DELETE (v3); the mid-history range
    * [1, 3] — a start t13's from-zero replay never exercises — must
    * emit exactly those commits' keyed diffs, each version's rows read
    * from that commit's changed files only. The oracle reconstructs
    * the three versions' change rows from raw orders.
    */
  def l35CdfBatch(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    val root = dmlScratch(s, "orders_l35")
    val orders = Q.t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mt = new ManifestTable(s, root)
    mt.write(orders, "overwrite") // v0
    val feed = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(orders.filter(col("o_orderkey") % 503 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_orderstatus", lit("N")))
    mt.merge(feed, Seq("o_orderkey")) // v1
    mt.updateWhere(col("o_orderstatus") === "P",
      Map("o_totalprice" -> (col("o_totalprice") + 10.0))) // v2 (DV+append)
    mt.delete(col("o_orderkey") % 15 === 0) // v3 (DV marks)
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
         |       _change_type, _commit_version
         |FROM graft_table_changes('$root', 1, 3, 'o_orderkey')
         |ORDER BY o_orderkey ASC NULLS FIRST,
         |  _commit_version ASC NULLS FIRST,
         |  _change_type ASC NULLS FIRST""".stripMargin)
  }

  /** The change history [1, 3] must contain: v1 = the merge's update
    * pairs (%97 keys, +1000) and fresh inserts (%503 keys shifted
    * +10M, status 'N'); v2 = the DV update's pairs for status-'P' rows
    * at the v1 state (pre carries +1000 when also %97); v3 = deletes
    * of keys %15 = 0 at the v2 state — original keys carry their
    * possibly-twice-updated price, and a shifted insert dies when
    * (k+10000000) % 15 = 0, i.e. k % 15 = 5 (never 'P', so never
    * updated). The double-add chains parenthesize exactly as the
    * engine computed them: (x + 1000.0) + 10.0.
    */
  val l35Oracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |       _change_type, _commit_version FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         'update_preimage' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0,
      |         'update_postimage', 1
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'insert', 1
      |  FROM orders WHERE o_orderkey % 503 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END, 'update_preimage', 2
      |  FROM orders WHERE o_orderstatus = 'P'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         (CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
      |               ELSE o_totalprice END) + 10.0, 'update_postimage', 2
      |  FROM orders WHERE o_orderstatus = 'P'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderstatus = 'P'
      |              THEN (CASE WHEN o_orderkey % 97 = 0
      |                         THEN o_totalprice + 1000.0
      |                         ELSE o_totalprice END) + 10.0
      |              ELSE (CASE WHEN o_orderkey % 97 = 0
      |                         THEN o_totalprice + 1000.0
      |                         ELSE o_totalprice END) END,
      |         'delete', 3
      |  FROM orders WHERE o_orderkey % 15 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'N', o_totalprice, 'delete', 3
      |  FROM orders WHERE o_orderkey % 503 = 0 AND o_orderkey % 15 = 5)
      |ORDER BY o_orderkey ASC NULLS FIRST, _commit_version ASC NULLS FIRST,
      |  _change_type ASC NULLS FIRST""".stripMargin

  /** L36: named immutable tags ([[ManifestTable.createTag]], the
    * Iceberg `CREATE TAG` surface) with VACUUM retention, end to end:
    * v0 is tagged `baseline` through `CALL graft.tag`, the table then
    * takes a MERGE and a DV delete (both mark v0's files), a compaction
    * rewrites every file, and `vacuum(retain = 1)` runs — WITHOUT tag
    * retention v0's files are unreferenced by the latest version and
    * die, and the tag read below would lose their rows. The read
    * goes through the batch reader's `tagAsOf` pin and must equal the
    * raw orders, byte for byte.
    */
  def l36TagRead(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    val root = dmlScratch(s, "orders_l36")
    val orders = Q.t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mt = new ManifestTable(s, root)
    mt.write(orders.repartition(4), "overwrite") // v0, several files
    s.sql(s"CALL graft.tag('$root', 'baseline')")
    mt.merge(orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
      Seq("o_orderkey")) // v1: marks the touched v0 files
    mt.delete(col("o_orderkey") % 15 === 0) // v2
    mt.compact() // v3: v0's files leave the latest version
    mt.vacuum(retain = 1, minAgeMs = 0)
    s.read.format(classOf[graft.streaming.GraftTableSourceProvider].getName)
      .option("root", root)
      .option("tagAsOf", "baseline")
      .load()
      .orderBy(col("o_orderkey").asc)
  }

  val l36Oracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L37/T15: WRITE-TIME CDC capture ([[ManifestTable.enableCdc]], the
    * Delta `_change_data` model) — the change feed read KEYLESSLY
    * through the 3-arg `graft_table_changes` TVF: after enablement,
    * every DML commit persisted its exact change rows in a
    * `_graft_cdc/` sidecar at commit time, so replay needs no row
    * identity and costs O(recorded change rows), never a per-version
    * diff join. The history: a DV UPDATE (v1), a DV DELETE (v2), a
    * three-armed MERGE INTO — conditional delete, unconditional
    * update, fresh inserts (v3) — and a compaction whose zero-change
    * stamp must replay as NOTHING (v4). The oracle reconstructs all
    * four commits' change rows from raw orders, replaying the
    * double arithmetic in the engine's exact op order. The no-keys
    * streaming read, sidecar ≡ keyed-diff equality, and the pre-CDC
    * refusal lattice are spec-gated in StreamingSpec.
    */
  def l37CdcWrite(spark: SparkSession, dir: String): DataFrame = {
    val s = dmlSession(spark)
    val root = dmlScratch(s, "orders_l37")
    val orders = Q.t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mt = new ManifestTable(s, root)
    mt.write(orders, "overwrite") // v0 (pre-CDC; excluded from the range)
    mt.enableCdc()
    mt.updateWhere(col("o_orderstatus") === "P",
      Map("o_totalprice" -> (col("o_totalprice") + 10.0))) // v1: sidecar pre/post
    mt.delete(col("o_orderkey") % 15 === 0) // v2: sidecar deletes
    val src = orders.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("s_key"),
        (col("o_totalprice") * 2).as("s_price"))
      // shift well above ANY key the bench datasets mint (sf1's
      // replicas offset keys by 10M — a +10M shift would collide there
      // and duplicate MERGE source keys)
      .unionByName(orders.filter(col("o_orderkey") % 503 === 0)
        .select((col("o_orderkey") + 10000000000L).as("s_key"),
          col("o_totalprice").as("s_price")))
    mt.mergeInto(src, col("o_orderkey") === col("s_key"),
      matched = Seq(
        graft.lake.MergeDeleteClause(Some(col("s_key") % 485 === 0)),
        graft.lake.MergeUpdateClause(None,
          Map("o_totalprice" -> col("s_price")))),
      notMatched = Seq(graft.lake.MergeInsertClause(None, Map(
        "o_orderkey" -> col("s_key"),
        "o_orderstatus" -> lit("N"),
        "o_totalprice" -> col("s_price"))))) // v3: sidecar, all three arms
    mt.compact() // v4: zero-change stamp — replays as empty
    s.sql(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
         |       _change_type, _commit_version
         |FROM graft_table_changes('$root', 1, 4)
         |ORDER BY o_orderkey ASC NULLS FIRST,
         |  _commit_version ASC NULLS FIRST,
         |  _change_type ASC NULLS FIRST""".stripMargin)
  }

  /** v1 = pre/post pairs for status-'P' rows (+10.0); v2 = deletes of
    * %15 keys at the v1 state; v3 = for matched %97 keys still alive
    * (%15 ≠ 0): a delete when %485 = 0 (first-match-wins), else an
    * update pair whose postimage is the RAW price doubled (the source
    * derives from the input table, not the current state) — plus
    * inserts of the %503 keys shifted +10¹⁰ AND of the %97 keys the v2
    * delete killed (a dead key fed to MERGE is NOT MATCHED and
    * re-inserts: standard upsert resurrection, status 'N', doubled
    * price); v4 = nothing (compaction moves rows verbatim).
    */
  val l37Oracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |       _change_type, _commit_version FROM (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         'update_preimage' AS _change_type,
      |         CAST(1 AS BIGINT) AS _commit_version
      |  FROM orders WHERE o_orderstatus = 'P'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0,
      |         'update_postimage', 1
      |  FROM orders WHERE o_orderstatus = 'P'
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 10.0
      |              ELSE o_totalprice END,
      |         'delete', 2
      |  FROM orders WHERE o_orderkey % 15 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 10.0
      |              ELSE o_totalprice END,
      |         'delete', 3
      |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 15 <> 0
      |    AND o_orderkey % 485 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 10.0
      |              ELSE o_totalprice END,
      |         'update_preimage', 3
      |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 15 <> 0
      |    AND o_orderkey % 485 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2,
      |         'update_postimage', 3
      |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 15 <> 0
      |    AND o_orderkey % 485 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000000, 'N', o_totalprice, 'insert', 3
      |  FROM orders WHERE o_orderkey % 503 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'N', o_totalprice * 2, 'insert', 3
      |  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 15 = 0)
      |ORDER BY o_orderkey ASC NULLS FIRST,
      |  _commit_version ASC NULLS FIRST,
      |  _change_type ASC NULLS FIRST""".stripMargin

  /** L22b: storage-partitioned join — write orders and lineitem as
    * `bucket(8, key)` tables, then join through
    * [[ManifestTable.readBucketed]]: both scans report their
    * HashPartitioning, so the fact⋈fact join plans with NO exchange
    * on either side (BucketedJoinSpec asserts the plan; this row
    * proves the RESULT against the plain-join oracle). The recurring
    * orders⋈order_items edge of the reference star, shuffled zero
    * times per run instead of twice.
    */
  def l22bBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l22b_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)

    val o = Q.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Q.t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ta = new ManifestTable(spark, s"$scratch/orders",
      partitionSpec = Seq("bucket(8,o_orderkey)"))
    val tb = new ManifestTable(spark, s"$scratch/lineitem",
      partitionSpec = Seq("bucket(8,l_orderkey)"))
    // the two table loads are INDEPENDENT commits to different roots —
    // overlap them (guide §2.6) instead of idling the cluster through
    // each write's tail
    val fa = ManifestTable.async(ta.write(o, "overwrite"))
    val fb = ManifestTable.async(tb.write(li, "overwrite"))
    ManifestTable.await(fa); ManifestTable.await(fb): Unit

    ta.readBucketed("o_orderkey")
      .join(tb.readBucketed("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), Q.dsum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderpriority").asc)
  }

  val l22bOracle: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${Q.sql.dsum("l_quantity")} AS qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1
       |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin

  /** L6: exact dedup — keep the first doc per (lang, source). NOT a
    * `row_number() = 1` window: (lang, source) is low-cardinality, so
    * that window sorts the dominant cell's whole corpus share in ONE
    * task at scale. "First per key" is just an argmin — `min_by` with
    * map-side partial aggregation, one bounded shuffle of one row per
    * (key, map task), no sort anywhere.
    */
  def l6ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Q.t(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      // ordering key wrapped in a struct: min_by SKIPS rows whose
      // ordering expression is NULL, but the oracle's ROW_NUMBER uses
      // NULLS FIRST — (isnotnull, doc_id) restores that order (false
      // sorts before true) while the struct itself is never null
      .agg(min_by(struct(col("doc_id"), col("n_chars")),
        struct(col("doc_id").isNotNull.as("nn"), col("doc_id").as("k")))
        .as("first"))
      .select(col("first.doc_id").as("doc_id"), col("lang"),
        col("source"), col("first.n_chars").as("n_chars"))
      .orderBy(col("doc_id").asc)

  val l6Oracle: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM (SELECT doc_id, lang, source, n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY lang, source
      |          ORDER BY doc_id ASC NULLS FIRST) AS rn
      |      FROM documents)
      |WHERE rn = 1
      |ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  /** L8: change data feed between two live versions — v0 (full orders)
    * to v1 (price corrections + inserts): every correction emits a
    * pre/post image pair, every new key an insert. The oracle derives
    * the same rows from the feed definition.
    */
  def l8ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l8_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    val orders = Q.t(spark, dir, "orders")
    val mt = new ManifestTable(spark, scratch)
    mt.write(orders, "overwrite") // v0
    mt.merge(updatesFeed(orders), Seq("o_orderkey")) // v1
    mt.changesBetween(0, 1, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("_change_type"))
      .orderBy(col("o_orderkey").asc, col("_change_type").asc)
  }

  val l8Oracle: String =
    """SELECT o_orderkey, o_totalprice, _change_type FROM (
      |  SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 1000.0, 'update_postimage'
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_totalprice, 'insert'
      |  FROM orders WHERE o_orderkey % 503 = 0)
      |ORDER BY o_orderkey ASC NULLS FIRST, _change_type ASC NULLS FIRST""".stripMargin

  /** L15/L16: deletion-vector DELETE then UPDATE on a live table —
    * both merge-on-read (no data file rewritten; the spec asserts
    * that), read back through the DV-applying scan. The oracle is the
    * equivalent row-level SQL over the source table.
    */
  def l15DvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l15_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    val orders = Q.t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val mt = new ManifestTable(spark, scratch)
    mt.write(orders.repartition(4), "overwrite") // v0, several files
    mt.delete(col("o_orderkey") % 13 === 0) // v1: DV marks only
    mt.updateWhere(col("o_orderstatus") === "F",
      Map("o_totalprice" -> (col("o_totalprice") + 1000.0))) // v2: DV + append
    mt.read()
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy(col("o_orderkey").asc)
  }

  val l15Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderkey % 13 <> 0
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L18: multi-column partitioning end-to-end — a (status, bucket)-
    * partitioned table takes a keyed merge (DV marks + copies) and a
    * DV delete scoped inside ONE sub-partition, then reads back
    * through the partition-restoring scan. The oracle is the
    * equivalent row-level SQL; tuple-scoping/carry-forward mechanics
    * are asserted file-level in MultiPartitionSpec.
    */
  def l18Multipart(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l18_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    val orders = Q.t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("pbucket", (col("o_orderkey") % 3).cast("string"))
    val mt = new ManifestTable(spark, scratch,
      partitionCols = Seq("o_orderstatus", "pbucket"))
    mt.write(orders, "overwrite") // v0: two-level hive layout
    val corrections = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    mt.merge(corrections, Seq("o_orderkey")) // v1: marks + copies
    mt.delete(col("o_orderstatus") === "F" && col("pbucket") === "1"
      && col("o_orderkey") % 5 === 0) // v2: DV inside one sub-partition
    mt.read()
      // partition-value inference restores pbucket from the path; pin
      // the string type the oracle compares against
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("pbucket").cast("string").as("pbucket"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc)
  }

  val l18Oracle: String =
    """SELECT o_orderkey, o_orderstatus, pbucket, o_totalprice FROM (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_orderkey % 3 AS VARCHAR) AS pbucket,
      |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |WHERE NOT (o_orderstatus = 'F' AND pbucket = '1' AND o_orderkey % 5 = 0)
      |ORDER BY o_orderkey ASC NULLS FIRST""".stripMargin

  /** L19: hidden-partitioning roundtrip — events written through a
    * days(ts) transform (derived hive layout, no materialized date
    * column), then a RANGE read through the transform: dirs pruned by
    * the recomputed derived value, residual applied on the raw ts.
    * The oracle sees only the plain filter — hidden partitioning must
    * be value-invisible end-to-end.
    */
  def l19HiddenPart(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"${sys.props("java.io.tmpdir")}/graft_lake_l19_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(fsPath, true)
    val events = Q.t(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val mt = new ManifestTable(spark, scratch, partitionSpec = Seq("days(ts)"))
    mt.write(events, "overwrite")
    mt.read(where = col("ts").between("2024-01-02 00:00:00", "2024-01-03 12:00:00"))
      .select(col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("value"))
      .orderBy(col("event_id").asc)
  }

  val l19Oracle: String =
    """SELECT event_id, ts, user_id, value FROM events
      |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
      |  AND ts <= TIMESTAMP '2024-01-03 12:00:00'
      |ORDER BY event_id ASC NULLS FIRST""".stripMargin

  /** L20: order-independent table checksum — the cross-engine /
    * cross-replica data-validation primitive: per table, a row count
    * and an XOR fold of a 60-bit md5-derived row hash. XOR is
    * commutative and overflow-free, so the checksum is independent of
    * row order, partitioning, and engine — two replicas (or a table
    * before/after a migration) agree iff their row MULTISETs agree
    * up to duplicate parity, with count catching the rest. Only
    * string/int/date columns feed the hash (float formatting is not
    * portable across engines).
    *
    * Scale: a single map-side-combined agg per table — the cheapest
    * possible full-table pass, no shuffle beyond one row per partition.
    */
  def l20Checksum(spark: SparkSession, dir: String): DataFrame = {
    def sig(table: String, keyExpr: String): DataFrame =
      Q.t(spark, dir, table).selectExpr(
        s"'$table' AS table_name",
        "1L AS one",
        s"conv(substring(md5(cast($keyExpr AS binary)), 1, 15), 16, 10) AS h")
        .selectExpr("table_name", "one", "cast(h AS bigint) AS h")
        .groupBy(col("table_name"))
        .agg(count(col("one")).as("n_rows"),
          expr("bit_xor(h)").as("checksum"))
    sig("orders",
      "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, cast(o_orderdate as string))")
      .unionByName(sig("customer",
        "concat_ws('|', c_custkey, c_name, c_nationkey)"))
      .unionByName(sig("nation",
        "concat_ws('|', n_nationkey, n_name, n_regionkey)"))
      .orderBy(col("table_name").asc)
  }

  val l20Oracle: String =
    """WITH sigs AS (
      |  SELECT 'orders' AS table_name,
      |    CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus, CAST(o_orderdate AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      |  FROM orders
      |  UNION ALL
      |  SELECT 'customer',
      |    CAST(('0x' || substr(md5(concat_ws('|', c_custkey, c_name, c_nationkey)), 1, 15)) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'nation',
      |    CAST(('0x' || substr(md5(concat_ws('|', n_nationkey, n_name, n_regionkey)), 1, 15)) AS BIGINT)
      |  FROM nation)
      |SELECT table_name, COUNT(*) AS n_rows, bit_xor(h) AS checksum
      |FROM sigs GROUP BY table_name
      |ORDER BY table_name ASC NULLS FIRST""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l20_checksum" -> l20Checksum,
    "l1_merge" -> l1Merge,
    "l18_multipart" -> l18Multipart,
    "l19_hidden_part" -> l19HiddenPart,
    "l8_change_feed" -> l8ChangeFeed,
    "l1_merge_delete" -> l1MergeDelete,
    "l3_time_travel" -> l3TimeTravel,
    "l15_dv_roundtrip" -> l15DvRoundtrip,
    "l28_catalog_select" -> l28CatalogSelect,
    "l31_meta_count" -> l31MetaCount,
    "l32_meta_minmax" -> l32MetaMinMax,
    "l22b_bucketed_join" -> l22bBucketedJoin,
    "l29_sql_update" -> l29SqlUpdate,
    "l30_sql_merge" -> l30SqlMerge,
    "l33_sql_view" -> l33SqlView,
    "l34_spec_evolution" -> l34SpecEvolution,
    "l35_cdf_batch" -> l35CdfBatch,
    "l36_tag_read" -> l36TagRead,
    "l37_cdc_write" -> l37CdcWrite,
    "l38_merge_evolve" -> l38MergeEvolve,
    "l39_row_ids" -> l39RowIds,
    "l40_default_evolve" -> l40DefaultEvolve,
    "l41_identity" -> l41Identity,
    "l6_exact_dedup" -> l6ExactDedup)

  override def oracles: Map[String, String] = Map(
    "l20_checksum" -> l20Oracle,
    "l1_merge" -> l1Oracle,
    "l18_multipart" -> l18Oracle,
    "l19_hidden_part" -> l19Oracle,
    "l8_change_feed" -> l8Oracle,
    "l1_merge_delete" -> l1MergeDeleteOracle,
    "l3_time_travel" -> l3Oracle,
    "l28_catalog_select" -> l28Oracle,
    "l31_meta_count" -> l31Oracle,
    "l32_meta_minmax" -> l32Oracle,
    "l22b_bucketed_join" -> l22bOracle,
    "l29_sql_update" -> l29Oracle,
    "l30_sql_merge" -> l30Oracle,
    "l33_sql_view" -> l33Oracle,
    "l34_spec_evolution" -> l34Oracle,
    "l35_cdf_batch" -> l35Oracle,
    "l36_tag_read" -> l36Oracle,
    "l37_cdc_write" -> l37Oracle,
    "l38_merge_evolve" -> l38Oracle,
    "l39_row_ids" -> l39Oracle,
    "l40_default_evolve" -> l40Oracle,
    "l41_identity" -> l41Oracle,
    "l15_dv_roundtrip" -> l15Oracle,
    "l6_exact_dedup" -> l6Oracle)
}
