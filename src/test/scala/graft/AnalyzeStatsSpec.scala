package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** ANALYZE TABLE statistics + the stats-driven broadcast decision:
  * counts exact, NDV within HLL tolerance, min/max right, stats
  * pinned to their analyzed version (and DV-aware), read()
  * broadcasts small tables and leaves big ones alone, and the SQL
  * procedures expose the same numbers.
  */
class AnalyzeStatsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_analyze_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  /** Names of the temp files left in a table's log dir. */
  private def logTemps(root: String): Seq[String] = {
    val log = new org.apache.hadoop.fs.Path(root, "_graft_log")
    log.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(log)
      .map(_.getPath.getName).filter(_.startsWith(".tmp-")).toSeq
  }

  test("re-analyzing and re-tagging one version replace in place, no temp file left") {
    import spark.implicits._
    val root = scratch("reanalyze")
    val t = new ManifestTable(spark, root)
    t.write((1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name"), "overwrite")
    val v = t.analyze(Seq("id"))
    assert(t.columnStats().collect().map(_.getString(0)).toSeq === Seq("id"))
    assert(t.analyze(Seq("id", "name")) === v)
    assert(t.columnStats().collect().map(_.getString(0)).toSet === Set("id", "name"))
    t.putVersionTag(v, "k", "first")
    t.putVersionTag(v, "k", "second")
    assert(t.versionTag(v, "k") === Some("second"))
    assert(logTemps(root).isEmpty, logTemps(root))
  }

  test("stats and tags replace where rename never overwrites; a failed rename throws") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.refusing.impl",
      classOf[RefusingLocalFs].getName)
    val root = "refusing://" + scratch("refusing")
    val t = new ManifestTable(spark, root)
    t.write((1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name"), "overwrite")
    val v = t.analyze(Seq("id"))
    assert(t.analyze(Seq("id", "name")) === v)
    assert(t.columnStats().collect().map(_.getString(0)).toSet === Set("id", "name"))
    t.putVersionTag(v, "k", "first")
    t.putVersionTag(v, "k", "second")
    assert(t.versionTag(v, "k") === Some("second"))
    RefusingLocalFs.refused = Some("stats_v")
    try intercept[IllegalStateException](t.analyze())
    finally RefusingLocalFs.refused = None
    assert(logTemps(root).isEmpty, logTemps(root))
  }

  test("views and schemas replace rename-first; a refused publish throws and keeps the old file") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.sparkContext.hadoopConfiguration.set("fs.refusing.impl",
      classOf[RefusingLocalFs].getName)
    val base = "refusing://" + scratch("replace")
    def temps(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
        .map(_.getPath.getName).filter(_.startsWith(".")).toSeq
    }

    val reg = new graft.meta.SchemaRegistry(spark, s"$base/registry")
    val one = StructType(Seq(StructField("id", LongType)))
    val two = one.add(StructField("name", StringType))
    reg.register("t", one)
    reg.register("t", two) // replaces where rename never overwrites
    assert(reg.schemaOf("t") === Some(two))
    assert(temps(s"$base/registry").isEmpty, temps(s"$base/registry"))

    val s = extensionsSession("graft-replace-views")
    s.conf.set("spark.sql.catalog.rview", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.rview.root", s"$base/lake")
    s.sql("CREATE NAMESPACE rview.ns")
    s.sql("CREATE VIEW rview.ns.v AS SELECT 1 AS x")
    s.sql("CREATE OR REPLACE VIEW rview.ns.v AS SELECT 2 AS x")
    assert(s.sql("SELECT x FROM rview.ns.v").head().getInt(0) === 2)
    val views = s"$base/lake/ns/_graft_views"
    assert(temps(views).isEmpty, temps(views))

    // the new file cannot be renamed in at all: each replace throws,
    // and the old view and schema stay readable as they were
    RefusingLocalFs.refusedFrom = Some(".tmp-")
    try {
      intercept[IllegalStateException](
        reg.register("t", two.add(StructField("extra", LongType))))
      intercept[Exception](s.sql("CREATE OR REPLACE VIEW rview.ns.v AS SELECT 3 AS x"))
    } finally RefusingLocalFs.refusedFrom = None
    assert(reg.schemaOf("t") === Some(two))
    assert(s.sql("SELECT x FROM rview.ns.v").head().getInt(0) === 2)
    assert(temps(s"$base/registry").isEmpty, temps(s"$base/registry"))
    assert(temps(views).isEmpty, temps(views))
  }

  test("analyze: exact rows/non-null/min-max, NDV within tolerance, version pinning, DV-awareness") {
    import spark.implicits._
    val root = scratch("basic")
    val t = new ManifestTable(spark, root)
    val df = (1 to 1000)
      .map(i => (i.toLong, s"name_${i % 137}", if (i % 10 == 0) null else s"g${i % 7}"))
      .toDF("id", "name", "grp")
    t.write(df, "overwrite")
    val v = t.analyze()
    assert(v === t.latestVersion.get)

    val (sv, rows, bytes) = t.tableStats.get
    assert(sv === v && rows === 1000L && bytes > 0L)

    val cs = t.columnStats().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(cs("id")._1 === 1000L)
    assert(cs("grp")._1 === 900L) // 100 nulls
    assert(cs("id")._3 === "1" && cs("id")._4 === "1000")
    // HLL ±~5% on 137/7 distinct
    assert(math.abs(cs("name")._2 - 137L) <= 7)
    assert(cs("grp")._2 === 7L || math.abs(cs("grp")._2 - 7L) <= 1)

    // stats stay pinned: append more rows, tableStats still reports v
    t.write(df.withColumn("id", col("id") + 10000L), "append")
    assert(t.tableStats.get._1 === v)
    assert(t.tableStats.get._2 === 1000L)

    // re-analyze after a DV delete: live rows only
    t.delete(col("id") <= 100L)
    val v2 = t.analyze()
    assert(v2 > v)
    assert(t.tableStats.get._2 === 1900L) // 2000 - 100 deleted
    val cs2 = t.columnStats().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cs2("id") === 1900L)
  }

  test("analyze: restricted column list and non-atomic rejection") {
    import spark.implicits._
    val root = scratch("cols")
    val t = new ManifestTable(spark, root)
    t.write(Seq((1L, Seq(1.0, 2.0), "x")).toDF("id", "vec", "s"), "overwrite")
    t.analyze(Seq("id"))
    assert(t.columnStats().collect().map(_.getString(0)).toSeq === Seq("id"))
    // arrays can't be analyzed; asking for one must refuse loudly
    intercept[IllegalArgumentException] { t.analyze(Seq("vec")) }
    // default skips them silently
    t.analyze()
    assert(!t.columnStats().collect().map(_.getString(0)).contains("vec"))
  }

  test("read(): a small dim broadcasts under the default threshold, none at -1") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val root = scratch("join")
    val dim = new ManifestTable(spark, root)
    dim.write((1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "label"), "overwrite")
    val fact = (1 to 5000).map(i => ((i % 50 + 1).toLong, i.toLong)).toDF("k", "x")
    // the scan's size is the manifest's file lengths (`#b`), the
    // compressed bytes autoBroadcastJoinThreshold compares against
    def dimBroadcasts(threshold: String): Boolean = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, threshold)
      try {
        val joined = fact.join(dim.read(), Seq("k"))
        assert(joined.count() === 5000)
        collectWithSubqueries(joined.queryExecution.executedPlan) {
          case b: BroadcastHashJoinExec =>
            collect(if (b.buildSide == BuildRight) b.right else b.left) {
              case s: FileSourceScanExec => s }.nonEmpty
        }.contains(true)
      } finally spark.conf.set(key, prev)
    }
    assert(dimBroadcasts("10485760"), "the small dim must be the broadcast side")
    assert(!dimBroadcasts("-1"), "no broadcast with the threshold off")
  }

  test("SQL surface: CALL graft.analyze / describe_stats report the same numbers") {
    import spark.implicits._
    val root = scratch("sql")
    val t = new ManifestTable(spark, root)
    t.write((1 to 300).map(i => (i.toLong, s"v${i % 13}")).toDF("id", "tag"), "overwrite")

    val sqlSpark: SparkSession = extensionsSession("graft-analyze-sql")
    val row = sqlSpark.sql(s"CALL graft.analyze('$root')").first()
    assert(row.getInt(0) === t.latestVersion.get)
    assert(row.getLong(1) === 300L)
    val stats = sqlSpark.sql(s"CALL graft.describe_stats('$root')").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(stats.contains("id") && stats.contains("tag"))
    assert(math.abs(stats("tag") - 13L) <= 1)
    // restricted column list via SQL
    sqlSpark.sql(s"CALL graft.analyze('$root', 'id')")
    assert(sqlSpark.sql(s"CALL graft.describe_stats('$root')").count() === 1)
  }
}

/** The local file system under the `refusing` scheme, with HDFS's
  * rename: it never replaces an existing file. While `refused` holds a
  * name prefix, every rename onto a file of that name fails too; while
  * `refusedFrom` holds one, every rename of a file of that name fails.
  */
class RefusingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("refusing:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (exists(dst) || RefusingLocalFs.refused.exists(dst.getName.startsWith) ||
      RefusingLocalFs.refusedFrom.exists(src.getName.startsWith)) false
    else super.rename(src, dst)
}

object RefusingLocalFs {
  @volatile var refused: Option[String] = None
  @volatile var refusedFrom: Option[String] = None
}
