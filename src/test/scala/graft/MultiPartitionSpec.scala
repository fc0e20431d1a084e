package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-column hive partitioning — (date, region)-style tables:
  * partitioned merge touches only the changed tuples, a delete
  * covering a full tuple drops its files (and may append their
  * replacement in the same commit), DV deletes scope to one
  * sub-partition without rewriting files, and untouched partitions
  * always carry forward by reference.
  */
class MultiPartitionSpec extends SparkTestBase {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_mp_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  /** 2 dates × 3 regions × 50 rows — every (date, region) tuple has a
    * deterministic slice of orders.
    */
  private def base: DataFrame =
    Q.t(spark, sf, "orders")
      .limit(300)
      .withColumn("ds", when(col("o_orderkey") % 2 === 0, "2024-06-01")
        .otherwise("2024-06-02"))
      .withColumn("region", element_at(
        array(lit("emea"), lit("amer"), lit("apac")),
        (col("o_orderkey") % 3 + 1).cast("int")))
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("amt"),
        col("ds"), col("region"))

  private def mk(name: String): (ManifestTable, DataFrame) = {
    val mt = new ManifestTable(spark, scratch(name),
      partitionCols = Seq("ds", "region"))
    val df = base
    mt.write(df, "overwrite")
    (mt, df)
  }

  test("write lays out ds=/region= dirs; read restores both columns") {
    val (mt, df) = mk("layout")
    val files = mt.filesOf(0)
    assert(files.forall(f => f.contains("/ds=") && f.contains("/region=")),
      s"expected two-level hive layout: ${files.take(2)}")
    assert(mt.read().count() === df.count())
    // partition columns round-trip through the path restore
    val distinct = mt.read().select("ds", "region").distinct().count()
    assert(distinct === 6)
  }

  test("merge rewrites ONLY the touched (ds, region) tuples") {
    val (mt, df) = mk("merge")
    val before = mt.filesOf(mt.latestVersion.get).toSet
    // feed: bump amt for 5 keys, all in (2024-06-01, emea)
    val feed = df.filter(col("ds") === "2024-06-01" && col("region") === "emea")
      .limit(5).withColumn("amt", col("amt") + 1)
    mt.merge(feed, Seq("id"))
    val after = mt.filesOf(mt.latestVersion.get).toSet
    val kept = before intersect after
    // every untouched tuple's files carry forward by reference
    assert(kept.nonEmpty)
    assert((before -- after).forall(f =>
      f.contains("ds=2024-06-01") && f.contains("region=emea")),
      "only the touched tuple's files may be replaced")
    assert((after -- before).forall(f =>
      f.contains("ds=2024-06-01") && f.contains("region=emea")),
      "new files must land in the touched tuple only")
    // and the data is right
    val expect = df.withColumn("amt",
      when(col("id").isin(feed.select("id").collect().map(_.get(0)): _*),
        col("amt") + 1).otherwise(col("amt")))
    assert(mt.read().exceptAll(expect).count() === 0)
    assert(mt.read().count() === expect.count())
  }

  test("merge moving a key across tuples rewrites both, leaves no stale copy") {
    val (mt, df) = mk("move")
    val moved = df.filter(col("ds") === "2024-06-01" && col("region") === "amer")
      .limit(3).withColumn("region", lit("apac"))
    mt.merge(moved, Seq("id"))
    val ids = moved.select("id").collect().map(_.get(0))
    val got = mt.read().filter(col("id").isin(ids: _*))
    assert(got.count() === 3)
    assert(got.filter(col("region") =!= "apac").count() === 0,
      "moved keys must exist ONLY in their new partition")
    assert(mt.read().count() === df.count())
  }

  test("delete(tuple, thenAppend) replaces exactly one tuple") {
    val (mt, df) = mk("ovw")
    val replacement = df
      .filter(col("ds") === "2024-06-02" && col("region") === "apac")
      .limit(2).withColumn("amt", lit(java.math.BigDecimal.ZERO).cast(df.schema("amt").dataType))
    val files0 = mt.filesOf(mt.latestVersion.get).toSet
    mt.delete(col("ds") === "2024-06-02" && col("region") === "apac",
      thenAppend = Seq(replacement))
    val files1 = mt.filesOf(mt.latestVersion.get).toSet
    // the tuple's files go by reference: no deletion vector, and every
    // other tuple's files carry forward untouched
    assert(mt.describeDetail().first().getAs[Long]("num_dv_files") === 0L)
    assert((files0 -- files1).nonEmpty &&
      (files0 -- files1).forall(_.contains("/ds=2024-06-02/region=apac/")))
    val now = mt.read()
    assert(now.filter(col("ds") === "2024-06-02" && col("region") === "apac")
      .count() === 2)
    // every other tuple untouched
    val others = df.filter(!(col("ds") === "2024-06-02" && col("region") === "apac"))
    assert(now.filter(!(col("ds") === "2024-06-02" && col("region") === "apac"))
      .exceptAll(others).count() === 0)
  }

  test("DV delete inside one sub-partition rewrites nothing") {
    val (mt, df) = mk("dv")
    val files0 = mt.filesOf(mt.latestVersion.get).toSet
    mt.delete(col("ds") === "2024-06-01" && col("region") === "emea"
      && col("id") % 2 === 0)
    val files1 = mt.filesOf(mt.latestVersion.get).toSet
    assert(files1 === files0, "DV delete must not rewrite any data file")
    val expect = df.filter(!(col("ds") === "2024-06-01"
      && col("region") === "emea" && col("id") % 2 === 0))
    assert(mt.read().count() === expect.count())
    assert(mt.read().exceptAll(expect).count() === 0)
    // compaction afterwards re-clusters by the full tuple
    mt.compact(2)
    assert(mt.read().count() === expect.count())
    assert(mt.filesOf(mt.latestVersion.get)
      .forall(f => f.contains("/ds=") && f.contains("/region=")))
  }

  test("shallow clone preserves the partition spec") {
    val (mt, df) = mk("clone")
    val clone = mt.shallowClone(scratch("clone_dest"))
    assert(clone.read().count() === df.count())
    // a merge into the clone scopes by tuple (partition spec inherited)
    val feed = df.filter(col("ds") === "2024-06-01" && col("region") === "apac")
      .limit(2).withColumn("amt", col("amt") + 5)
    clone.merge(feed, Seq("id"))
    assert(clone.read().count() === df.count())
    assert(mt.read().exceptAll(df).count() === 0, "source untouched")
  }

  test("legacy single-column tables keep their exact behavior") {
    val dir = scratch("legacy")
    val mt = new ManifestTable(spark, dir, partitionCol = Some("ds"))
    mt.write(base, "overwrite")
    assert(mt.filesOf(0).forall(f =>
      f.contains("/ds=") && !f.contains("/region=")))
    mt.delete(col("ds") === "2024-06-01",
      thenAppend = Seq(base.filter(col("ds") === "2024-06-01").limit(3)))
    assert(mt.read().filter(col("ds") === "2024-06-01").count() === 3)
  }
}
