package graft

import graft.ingest.RawIngest
import graft.lake.{ManifestTable, Merge}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L1–L5 semantics on the reference CSVs: the Updated.csv CDC feed must
  * change exactly 8 rows, idempotently; versions are immutable;
  * compaction and vacuum preserve the latest state.
  */
class LakeSpec extends SparkTestBase {
  quiet()

  val fixtures: String = getClass.getResource("/datasets").getPath

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def orders: DataFrame =
    RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-06.csv")
  private def updated: DataFrame =
    RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-06-Updated.csv")

  test("L1: CDC feed has exactly 8 effective changes of 47 rows") {
    assert(updated.count() === 47)
    assert(updated.exceptAll(orders).count() === 8)
  }

  test("L1: merge applies 8 updates, inserts 0, preserves the rest") {
    val merged = Merge.upsert(orders, updated, Seq("order_id"))
    assert(merged.count() === orders.count()) // no inserts
    // exactly the 8 corrected rows differ from the base
    assert(merged.exceptAll(orders).count() === 8)
    // and only total_amount changed
    val changedCols = merged.as("m")
      .join(orders.as("o"), col("m.order_id") === col("o.order_id"))
      .filter(col("m.total_amount") =!= col("o.total_amount"))
    assert(changedCols.count() === 8)
  }

  test("L1: strict merge rejects a feed with several rows per key") {
    val dupFeed = updated.unionByName(updated.limit(1))
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(orders, dupFeed, Seq("order_id"), strict = true)
    }
    assert(e.getMessage.contains("multiple rows per key"))
    // non-strict keeps the documented (quiet) behavior: both rows land
    assert(Merge.upsert(orders, dupFeed, Seq("order_id")).count() ===
      orders.count() + 1)
    // a clean feed passes the strict check unchanged
    assert(Merge.upsert(orders, updated, Seq("order_id"), strict = true)
      .count() === orders.count())
  }

  test("L1: merge is idempotent (re-apply is a no-op)") {
    val once = Merge.upsert(orders, updated, Seq("order_id"))
    val twice = Merge.upsert(once, updated, Seq("order_id"))
    assert(twice.exceptAll(once).count() === 0)
  }

  test("L1/L3: manifest merge commits a version; re-apply commits nothing") {
    val mt = new ManifestTable(spark, scratch("merge"))
    mt.write(orders, "overwrite")
    assert(mt.latestVersion.contains(0))
    val v1 = mt.merge(updated, Seq("order_id"))
    assert(v1 === 1)
    // idempotent: no new version for an already-applied feed
    assert(mt.merge(updated, Seq("order_id")) === 1)
    assert(mt.versions === Seq(0, 1))
    // time travel: v0 is the pre-merge state
    assert(mt.read(Some(0)).exceptAll(orders).count() === 0)
    assert(mt.read(Some(1)).exceptAll(mt.read(Some(0))).count() === 8)
  }

  test("L1: partitioned merge rewrites only touched partitions") {
    val root = scratch("pmerge")
    val mt = new ManifestTable(spark, root, partitionCol = Some("date"))
    val twoDays = RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-0[67].csv")
    mt.write(twoDays, "overwrite")
    val v0Files = mt.filesDf(Some(0)).collect().map(_.getString(0))
    mt.merge(updated, Seq("order_id")) // updates touch only 2024-06-06
    val dvs = mt.filesDf(Some(1)).collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    // only the files holding one of the 8 changed keys gain a deletion
    // vector; every other v0 file is still referenced without one
    val changedKeys = updated.exceptAll(orders).select("order_id")
    val (hit, rest) = v0Files.partition(f =>
      !spark.read.parquet(s"$root/$f").join(changedKeys, "order_id").isEmpty)
    assert(hit.nonEmpty && hit.forall(_.contains("date=2024-06-06")))
    assert(hit.forall(f => dvs(f).isDefined))
    assert(rest.exists(_.contains("date=2024-06-07")))
    assert(rest.forall(f => dvs.get(f).contains(None)))
    assert(mt.read().count() === twoDays.count())
  }

  test("L1: manifest merge refuses two feed rows for one existing key") {
    import spark.implicits._
    val mt = new ManifestTable(spark, scratch("mergedup"))
    mt.write(Seq((1, 10.0), (2, 20.0)).toDF("id", "amt"), "overwrite")
    val e = intercept[IllegalArgumentException] {
      mt.merge(Seq((2, 1.0), (2, 2.0)).toDF("id", "amt"), Seq("id"))
    }
    assert(e.getMessage.contains("cardinality violation"))
    // nothing committed
    assert(mt.versions === Seq(0))
    assert(mt.read().as[(Int, Double)].collect().sorted.toSeq ===
      Seq((1, 10.0), (2, 20.0)))
  }

  test("L2: partition overwrite replaces one day atomically") {
    val root = scratch("povr")
    val mt = new ManifestTable(spark, root, partitionCol = Some("date"))
    val twoDays = RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-0[67].csv")
    mt.write(twoDays, "overwrite")
    val day6 = twoDays.filter(col("date") === "2024-06-06").limit(100)
    mt.delete(col("date") === "2024-06-06", thenAppend = Seq(day6))
    val after = mt.read()
    assert(after.filter(col("date") === "2024-06-06").count() === 100)
    assert(after.filter(col("date") === "2024-06-07").count() === 2222)
  }

  test("L5: compaction preserves state and reduces file count") {
    val root = scratch("compact")
    val mt = new ManifestTable(spark, root)
    // many small appends → many files
    (1 to 4).foreach(_ => mt.write(orders.limit(50), "append"))
    val before = mt.read()
    val nFilesBefore = mt.filesOf(mt.latestVersion.get).size
    mt.compact(1)
    assert(mt.filesOf(mt.latestVersion.get).size < nFilesBefore)
    assert(mt.read().exceptAll(before).count() === 0)
    assert(before.exceptAll(mt.read()).count() === 0)
  }

  test("L1: partition-moving update rewrites BOTH partitions, no stale row") {
    val root = scratch("pmove")
    val mt = new ManifestTable(spark, root, partitionCol = Some("date"))
    val twoDays = RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-0[67].csv")
    mt.write(twoDays, "overwrite")
    // move one 06-06 order to 06-07 (a corrected order date)
    val moved = twoDays.filter(col("order_id") === 868660)
      .withColumn("date", to_date(lit("2024-06-07")))
      .withColumn("order_timestamp",
        col("order_timestamp") + expr("INTERVAL 1 DAY"))
    mt.merge(moved, Seq("order_id"))
    val after = mt.read()
    // exactly one row for the key, in the NEW partition
    val rows = after.filter(col("order_id") === 868660).collect()
    assert(rows.length === 1, s"stale copy left behind: ${rows.toSeq}")
    assert(rows.head.getAs[java.sql.Date]("date").toString === "2024-06-07")
    assert(after.count() === twoDays.count())
  }

  test("L1: tombstone merge deletes matched keys through the manifest") {
    val root = scratch("pdel")
    val mt = new ManifestTable(spark, root, partitionCol = Some("date"))
    val twoDays = RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-0[67].csv")
    mt.write(twoDays, "overwrite")
    val delRows = twoDays.orderBy(col("order_id").asc).limit(5)
    val feed = updated.withColumn("_deleted", lit(false))
      .unionByName(delRows.withColumn("_deleted", lit(true)))
    val delKeys = delRows.select(col("order_id").cast("long"))
      .collect().map(_.getLong(0))
    mt.merge(feed, Seq("order_id"), deleteCol = Some("_deleted"))
    val after = mt.read()
    assert(after.filter(col("order_id").isin(delKeys: _*)).count() === 0)
    assert(after.count() === twoDays.count() - 5)
    // idempotent: re-applying the same feed commits nothing
    val v = mt.latestVersion.get
    assert(mt.merge(feed, Seq("order_id"), deleteCol = Some("_deleted")) === v)
  }

  test("L3: readAsOf picks the version committed at or before a timestamp") {
    val root = scratch("asof")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    val t0 = mt.commitTimeOf(0)
    Thread.sleep(1100) // fs mtime granularity is a full second
    mt.merge(updated, Seq("order_id")) // v1
    val t1 = mt.commitTimeOf(1)
    assert(t0 < t1)
    assert(mt.readAsOf(t0).exceptAll(orders).count() === 0)
    assert(mt.readAsOf((t0 + t1) / 2).exceptAll(orders).count() === 0)
    assert(mt.readAsOf(t1).exceptAll(mt.read(Some(1))).count() === 0)
    assert(mt.readAsOf(System.currentTimeMillis() + 60000)
      .exceptAll(mt.read(Some(1))).count() === 0)
    intercept[IllegalArgumentException](mt.readAsOf(t0 - 60000))
  }

  test("L2: partition values needing hive escaping prune correctly") {
    val root = scratch("pesc")
    val mt = new ManifestTable(spark, root, partitionCol = Some("tag"))
    import spark.implicits._
    // ':' and ' ' are hive-escaped to %3A / %20 in directory names
    val base = Seq((1L, "a:1 x"), (2L, "a:1 x"), (3L, "b:2 y"))
      .toDF("id", "tag")
    mt.write(base, "overwrite")
    mt.delete(col("tag") === "a:1 x",
      thenAppend = Seq(Seq((9L, "a:1 x")).toDF("id", "tag")))
    val after = mt.read()
    assert(after.filter(col("tag") === "a:1 x").count() === 1)
    assert(after.filter(col("tag") === "b:2 y").count() === 1)
    // merge path: update a row in the escaped partition
    mt.merge(Seq((9L, "b:2 y")).toDF("id", "tag"), Seq("id"))
    val moved = mt.read()
    assert(moved.filter(col("id") === 9L).count() === 1)
    assert(moved.filter(col("tag") === "a:1 x").count() === 0)
  }

  test("L7: manifest min/max stats skip files outside the queried range") {
    val root = scratch("skip")
    val mt = new ManifestTable(spark, root, statsCol = Some("o_orderkey"))
    val orders10 = Q.t(spark, sf, "orders")
    // range-cluster on the stats column so files have narrow, disjoint
    // key ranges — the layout OPTIMIZE ZORDER/sort would produce
    mt.write(orders10.repartitionByRange(8, col("o_orderkey")), "overwrite")
    val all = mt.filesOf(0)
    assert(all.size >= 4, s"expected several files, got ${all.size}")
    val total = orders10.count()
    val expected = orders10.filter(col("o_orderkey") >= 100 && col("o_orderkey") <= 500)

    val range = col("o_orderkey").between(100L, 500L)
    val pruned = mt.filesFor(range)
    assert(pruned.size < all.size,
      s"no files skipped (${pruned.size} of ${all.size})")
    val got = mt.read(where = range)
    assert(expected.count() > 0 && got.count() === expected.count())
    assert(got.select("o_orderkey").exceptAll(expected.select("o_orderkey")).count() === 0)

    // stats survive a carried-forward commit: append an out-of-range
    // slice — its new files must be skipped, carried files keep stats
    val slice = orders10.filter(col("o_orderkey").between(1000, 1200))
    assert(slice.count() > 0, "fixture slice empty; pick an in-data range")
    mt.write(slice, "append")
    assert(mt.filesFor(range).size === pruned.size)
    assert(mt.read(where = range).count() === expected.count())

    // full-range query touches everything and loses nothing
    assert(mt.read(where = col("o_orderkey").between(0L, Long.MaxValue)).count() ===
      total + slice.count())
  }

  test("L5b/L7: optimizeBy clusters files so range reads skip most of them") {
    val root = scratch("optby")
    val mt = new ManifestTable(spark, root, statsCol = Some("o_orderkey"))
    // hash layout: every file spans ~the full key range → nothing skips
    mt.write(Q.t(spark, sf, "orders").repartition(8), "overwrite")
    val allBefore = mt.filesOf(mt.latestVersion.get).size
    val range = col("o_orderkey").between(100L, 500L)
    val prunedBefore = mt.filesFor(range).size
    assert(prunedBefore === allBefore, "hash layout shouldn't be skippable")

    mt.optimizeByZ(Seq("o_orderkey"), targetFiles = 8)
    val allAfter = mt.filesOf(mt.latestVersion.get).size
    val prunedAfter = mt.filesFor(range).size
    assert(prunedAfter < allAfter,
      s"clustered layout skipped nothing ($prunedAfter of $allAfter)")
    // same data, same range answer
    val expected = Q.t(spark, sf, "orders")
      .filter(col("o_orderkey").between(100, 500)).count()
    assert(mt.read(where = range).count() === expected)
  }

  test("L5c/L7: z-order clustering skips files on BOTH dimensions") {
    val root = scratch("zorder")
    val mt = new ManifestTable(spark, root,
      statsCols = Seq("o_orderkey", "o_custkey"))
    val base = Q.t(spark, sf, "orders")
    // hash layout: every file spans both domains → nothing skippable
    mt.write(base.repartition(16), "overwrite")
    val all0 = mt.filesOf(0).size
    def range(c: String) = col(c).between(100L, 200L)
    assert(mt.filesFor(range("o_orderkey")).size === all0)
    assert(mt.filesFor(range("o_custkey")).size === all0)

    mt.optimizeByZ(Seq("o_orderkey", "o_custkey"), targetFiles = 16)
    val v = mt.latestVersion.get
    val all = mt.filesOf(v).size
    val pk = mt.filesFor(range("o_orderkey")).size
    val pc = mt.filesFor(range("o_custkey")).size
    assert(pk < all, s"orderkey range skipped nothing ($pk of $all)")
    assert(pc < all, s"custkey range skipped nothing ($pc of $all)")

    // exactness on both dimensions (skipping must never lose rows)
    val ek = base.filter(col("o_orderkey").between(100, 200)).count()
    val ec = base.filter(col("o_custkey").between(100, 200)).count()
    assert(mt.read(where = range("o_orderkey")).count() === ek)
    assert(mt.read(where = range("o_custkey")).count() === ec)
    assert(ek > 0 && ec > 0, "fixture ranges must be non-empty")
  }

  test("S7/L: appended column survives read (mergeSchema), null for old files") {
    val root = scratch("evolve")
    val mt = new ManifestTable(spark, root)
    import spark.implicits._
    mt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "overwrite")
    mt.write(Seq((3L, "c", 9.5)).toDF("id", "v", "score"), "append")
    val df = mt.read()
    assert(df.columns.toSet === Set("id", "v", "score"))
    assert(df.filter(col("score").isNotNull).count() === 1)
    assert(df.count() === 3)
  }

  test("commit refuses to clobber a version written by another writer") {
    val root = scratch("clobber")
    val mt = new ManifestTable(spark, root)
    mt.write(orders.limit(10), "overwrite") // v0
    // another writer publishes v1 behind our back
    val foreign = new org.apache.hadoop.fs.Path(root, "_graft_log/v00001.manifest")
    val fs = foreign.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(foreign, false)
    out.write("data/foreign.parquet\n".getBytes("UTF-8")); out.close()
    // our next commit targets v2 (sees v1 in the log) — the atomic
    // rename contract is per-version; colliding versions must fail,
    // sequential ones succeed
    val v = mt.write(orders.limit(5), "append")
    assert(v === 2)
    // and a direct collision (simulated stale writer) is rejected: the
    // rename-onto-existing path cannot silently replace a manifest
    val tmp = new org.apache.hadoop.fs.Path(root, "_graft_log/.tmp-race")
    val out2 = fs.create(tmp, false)
    out2.write("data/other.parquet\n".getBytes("UTF-8")); out2.close()
    assert(!fs.rename(tmp, foreign),
      "filesystem rename must not clobber an existing manifest")
  }

  test("L7: string statsCol prunes lexicographically — no silent row loss") {
    // Spark's min/max on a STRING column is lexicographic: a file with
    // {"9","10"} records min="10", max="9". Numeric comparison at prune
    // time would skip it for range ["1","2"] and lose row "10", which
    // the residual lexicographic filter keeps. The manifest records the
    // stats ordering so pruning compares in the same domain.
    val root = scratch("strstats")
    val mt = new ManifestTable(spark, root, statsCol = Some("k"))
    import spark.implicits._
    mt.write(Seq("9", "10").toDF("k").coalesce(1), "overwrite")
    mt.write(Seq("5", "7").toDF("k").coalesce(1), "append")
    val got = mt.read(where = col("k").between("1", "2")).as[String].collect().toSet
    assert(got === Set("10"), s"lexicographic range ['1','2'] lost rows: $got")
    // and numeric columns still prune numerically
    val nt = new ManifestTable(spark, scratch("numstats"), statsCol = Some("k"))
    nt.write(Seq(9L, 10L).toDF("k").coalesce(1), "overwrite")
    nt.write(Seq(100L, 200L).toDF("k").coalesce(1), "append")
    assert(nt.filesFor(col("k").between(1L, 20L)).size === 1)
    assert(nt.read(where = col("k").between(1L, 20L)).count() === 2)
  }

  test("L1: unchanged-heavy feed rewrites only the changed partition") {
    // feed = entire current table (no-ops) + one real change in a single
    // partition: only that partition may be rewritten; every other
    // partition's files must carry forward BY REFERENCE (same paths)
    val root = scratch("noamp")
    val mt = new ManifestTable(spark, root, partitionCol = Some("date"))
    mt.write(RawIngest.withFilenamePartition(orders), "overwrite")
    val mt2 = new ManifestTable(spark, scratch("noamp2"), partitionCol = Some("date"))
    mt2.write(
      RawIngest.withFilenamePartition(orders).unionByName(
        RawIngest.withFilenamePartition(
          RawIngest.readCsvInferred(spark, s"$fixtures/orders_2024-06-07.csv"))),
      "overwrite")
    val v0Files = mt2.filesOf(0)
    val otherDay = v0Files.filter(_.contains("date=2024-06-07"))
    assert(otherDay.nonEmpty)
    // feed: all 06-06 rows unchanged except one amount bump
    val someId = orders.select(min(col("order_id"))).first().get(0)
    val feed = RawIngest.withFilenamePartition(orders)
      .withColumn("total_amount",
        when(col("order_id") === lit(someId), col("total_amount") + 1)
          .otherwise(col("total_amount")))
    mt2.merge(feed, Seq("order_id"))
    val v1Files = mt2.filesOf(1)
    assert(otherDay.forall(v1Files.contains),
      "untouched partition was rewritten by a no-op-heavy feed")
    val dvs = mt2.filesDf(Some(1)).collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    val v0Rels = mt2.filesDf(Some(0)).collect().map(_.getString(0))
    assert(v0Rels.filter(_.contains("date=2024-06-07"))
      .forall(f => dvs.get(f).contains(None)),
      "untouched partition was marked by a no-op-heavy feed")
    assert(v0Rels.filter(_.contains("date=2024-06-06"))
      .forall(f => dvs(f).isDefined), "changed partition not marked")
    // exactly the one changed row is dead; the no-op rows are untouched
    assert(mt2.history().filter(col("version") === 1)
      .select("dv_deleted_rows").head().getLong(0) === 1L)
  }

  test("L7 property: a range read(where) equals full-scan filter on arbitrary ranges") {
    val root = scratch("skipprop")
    val mt = new ManifestTable(spark, root, statsCol = Some("o_orderkey"))
    val base = Q.t(spark, sf, "orders")
    mt.write(base.repartitionByRange(6, col("o_orderkey")), "overwrite")
    // seeded ranges incl. degenerate (empty, single-point, all)
    val ranges = Seq((0L, 10L), (700L, 701L), (1499L, 1600L), (5L, 1400L),
      (2000L, 3000L), (0L, Long.MaxValue))
    ranges.foreach { case (lo, hi) =>
      val expected = base.filter(col("o_orderkey").between(lo, hi))
      val got = mt.read(where = col("o_orderkey").between(lo, hi))
      assert(got.count() === expected.count(), s"range [$lo,$hi]")
      assert(got.exceptAll(expected).count() === 0, s"range [$lo,$hi] extras")
    }
  }

  test("L1: merge handles NULL partition values (hive default partition)") {
    import spark.implicits._
    val root = scratch("nullpart")
    val mt = new ManifestTable(spark, root, partitionCol = Some("p"))
    mt.write(Seq((1L, "a", 10), (2L, null.asInstanceOf[String], 20))
      .toDF("k", "p", "v"), "overwrite")
    // update the null-partition row, insert a new null-partition row,
    // and move a key INTO the null partition
    val feed = Seq((2L, null.asInstanceOf[String], 25),
      (3L, null.asInstanceOf[String], 30),
      (1L, null.asInstanceOf[String], 11)).toDF("k", "p", "v")
    mt.merge(feed, Seq("k"))
    val got = mt.read().select(col("k"), col("p"), col("v"))
      .as[(Long, Option[String], Int)].collect().toSet
    assert(got === Set((1L, None, 11), (2L, None, 25), (3L, None, 30)),
      s"null-partition merge lost or stranded rows: $got")
  }

  test("L2: delete(isNull, thenAppend) replaces the null partition, not deletes it") {
    import spark.implicits._
    val root = scratch("nullow")
    val mt = new ManifestTable(spark, root, partitionCol = Some("p"))
    mt.write(Seq((1L, "a", 10), (2L, null.asInstanceOf[String], 20))
      .toDF("k", "p", "v"), "overwrite")
    mt.delete(col("p").isNull,
      thenAppend = Seq(Seq((3L, null.asInstanceOf[String], 30)).toDF("k", "p", "v")))
    val got = mt.read().select(col("k"), col("v")).as[(Long, Int)].collect().toSet
    assert(got === Set((1L, 10), (3L, 30)),
      s"null partition should hold exactly the replacement row: $got")
  }

  test("L11: RESTORE rolls back by reference, preserving history") {
    val root = scratch("restore")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    mt.merge(updated, Seq("order_id")) // v1: 8 corrections applied
    assert(mt.read().exceptAll(orders).count() === 8)
    val v2 = mt.restore(0)
    assert(v2 === 2)
    // rolled back content == v0, bit for bit, and nothing was rewritten
    assert(mt.read().exceptAll(mt.read(Some(0))).count() === 0)
    assert(mt.filesOf(2) === mt.filesOf(0))
    // history intact: the bad version is still readable for forensics
    assert(mt.versions === Seq(0, 1, 2))
    assert(mt.read(Some(1)).exceptAll(orders).count() === 8)
  }

  test("L12: SHALLOW CLONE shares files, then diverges independently") {
    val src = new ManifestTable(spark, scratch("clone_src"))
    src.write(orders, "overwrite")
    val clone = src.shallowClone(scratch("clone_dst"))
    // same content, zero data copied (clone references source files)
    assert(clone.read().exceptAll(src.read()).count() === 0)
    def qualified(fs: Seq[String]) = {
      val hc = spark.sessionState.newHadoopConf()
      fs.map(f => { val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hc).makeQualified(p).toString })
    }
    assert(qualified(clone.filesOf(0)) ===
      qualified(src.filesOf(src.latestVersion.get)))
    // clone writes diverge without touching the source
    clone.merge(updated, Seq("order_id"))
    assert(clone.read().exceptAll(orders).count() === 8)
    assert(src.read().exceptAll(orders).count() === 0)
    // and source writes don't leak into the clone
    src.write(orders.limit(5), "overwrite")
    assert(clone.read().count() === orders.count())
  }

  test("L10: incremental view maintenance equals full recompute") {
    import graft.lake.IncrementalView
    val root = scratch("ivm")
    val mt = new ManifestTable(spark, root)
    // decimal measure → incremental sums are bit-exact vs recompute
    val base = Q.t(spark, sf, "orders").limit(2000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(graft.Q.Dec).as("price"))
    mt.write(base, "overwrite") // v0
    def recompute(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(sum(col("price")).as("price"), count(lit(1)).as("n"))
    val view0 = recompute(mt.read()).localCheckpoint(true)

    // feed: price updates, group-moving status updates, deletes, inserts
    val feed = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("price", col("price") + lit(BigDecimal(1)).cast(graft.Q.Dec))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 21 === 0, lit("Z")).otherwise(col("o_orderstatus")))
      .withColumn("_deleted", col("o_orderkey") % 35 === 0)
      .unionByName(base.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 5000000L)
        .withColumn("_deleted", lit(false)))
    mt.merge(feed, Seq("o_orderkey"), deleteCol = Some("_deleted")) // v1

    val incr = IncrementalView.refresh(mt, 0, 1, view0,
      rowKeys = Seq("o_orderkey"), groupKeys = Seq("o_orderstatus"),
      sumCols = Seq("price"))
    val full = recompute(mt.read())
    assert(incr.exceptAll(full).count() === 0)
    assert(full.exceptAll(incr).count() === 0)
    // the Z group was born from a group-moving update
    assert(incr.filter(col("o_orderstatus") === "Z").count() === 1)
  }

  test("L5c: three-column z-order skips files on every dimension") {
    val root = scratch("zorder3")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val mt = new ManifestTable(spark, root, statsCols = cols)
    val base = Q.t(spark, sf, "orders")
    mt.write(base.repartition(16), "overwrite")
    mt.optimizeByZ(cols, targetFiles = 16)
    val all = mt.filesOf(mt.latestVersion.get).size
    // a narrow range on EACH dimension must skip files and stay exact
    val ranges = Map(
      "o_orderkey" -> ("100", "200"),
      "o_custkey" -> ("100", "200"),
      "o_totalprice" -> ("10000", "30000"))
    cols.foreach { c =>
      val (lo, hi) = ranges(c)
      val range = col(c).between(lit(lo).cast(base.schema(c).dataType),
        lit(hi).cast(base.schema(c).dataType))
      val pruned = mt.filesFor(range).size
      assert(pruned < all, s"$c skipped nothing ($pruned of $all)")
      val expected = base.filter(
        col(c) >= lit(lo).cast("double") && col(c) <= lit(hi).cast("double")).count()
      assert(mt.read(where = range).count() === expected, c)
    }
  }

  test("L5c property: z-order range reads exact on both dims, arbitrary ranges") {
    val root = scratch("zprop")
    val mt = new ManifestTable(spark, root,
      statsCols = Seq("o_orderkey", "o_custkey"))
    val base = Q.t(spark, sf, "orders")
    mt.write(base.repartition(8), "overwrite")
    mt.optimizeByZ(Seq("o_orderkey", "o_custkey"), targetFiles = 16)
    val ranges = Seq((0L, 10L), (700L, 701L), (1499L, 1600L), (5L, 1400L),
      (2000L, 3000L), (0L, Long.MaxValue))
    for (c <- Seq("o_orderkey", "o_custkey"); (lo, hi) <- ranges) {
      val expected = base.filter(col(c).between(lo, hi))
      val got = mt.read(where = col(c).between(lo, hi))
      assert(got.count() === expected.count(), s"$c range [$lo,$hi]")
      assert(got.exceptAll(expected).count() === 0, s"$c range [$lo,$hi] extras")
    }
  }

  test("L8: change feed emits delete rows for tombstoned keys") {
    val root = scratch("cdf")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    val delRows = orders.orderBy(col("order_id").asc).limit(3)
    val feed = updated.withColumn("_deleted", lit(false))
      .unionByName(delRows.withColumn("_deleted", lit(true)))
    mt.merge(feed, Seq("order_id"), deleteCol = Some("_deleted")) // v1
    val cdf = mt.changesBetween(0, 1, Seq("order_id")).cache()
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("delete", 0L) === 3)
    assert(byType.getOrElse("update_preimage", 0L) === 8) // Updated.csv changes
    assert(byType.getOrElse("update_postimage", 0L) === 8)
    assert(byType.getOrElse("insert", 0L) === 0)
    // applying the feed to v0 reproduces v1: post-images ∪ untouched
    val v1 = mt.read(Some(1))
    val deletes = cdf.filter(col("_change_type") === "delete").drop("_change_type")
    val posts = cdf.filter(col("_change_type") === "update_postimage").drop("_change_type")
    val pres = cdf.filter(col("_change_type") === "update_preimage").drop("_change_type")
    val replayed = mt.read(Some(0))
      .exceptAll(deletes).exceptAll(pres).unionByName(posts)
    assert(replayed.exceptAll(v1).count() === 0)
    assert(v1.exceptAll(replayed).count() === 0)
    cdf.unpersist(): Unit
  }

  test("L4: vacuum deletes unreferenced files, latest stays readable") {
    val root = scratch("vacuum")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite")
    mt.write(orders.limit(10), "overwrite") // v1 orphans v0's files
    // dry run: reports the orphans, touches nothing
    val wouldDelete = mt.vacuum(retain = 1, dryRun = true, minAgeMs = 0)
    assert(wouldDelete.nonEmpty)
    assert(mt.versions === Seq(0, 1))
    assert(mt.read(Some(0)).count() === orders.count(), "dry run must not delete")
    val deleted = mt.vacuum(retain = 1, minAgeMs = 0)
    assert(deleted.toSet === wouldDelete.toSet, "dry run must predict the deletion")
    assert(mt.versions === Seq(1))
    assert(mt.read().count() === 10)
  }

  test("L36: named tags pin versions and retain them through vacuum") {
    val root = scratch("tags")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    assert(mt.createTag("baseline") === 0) // default: latest
    // immutable refs: re-tag, bad name, missing version all refuse
    intercept[IllegalArgumentException] { mt.createTag("baseline") }
    intercept[IllegalArgumentException] { mt.createTag("bad name") }
    intercept[IllegalArgumentException] { mt.createTag("v9", Some(9)) }
    mt.delete(col("order_id") % 5 === 0) // v1 (DV marks — delta commit)
    val v1Count = mt.read().count()
    assert(mt.createTag("post_delete", Some(1)) === 1)
    mt.write(orders.limit(3), "overwrite") // v2 orphans both islands
    assert(mt.tagRefs === Seq("baseline" -> 0, "post_delete" -> 1))
    // vacuum(retain=1) would reap v0/v1 without tag retention; both
    // tagged islands must survive — files, DV sidecars, and a
    // standalone manifest for the delta-only tagged version
    mt.vacuum(retain = 1, minAgeMs = 0)
    assert(mt.readTagged("baseline").count() === orders.count())
    assert(mt.readTagged("post_delete").count() === v1Count,
      "the tagged DV version must keep its sidecar through vacuum")
    assert(mt.read().count() === 3)
    // the batch reader's tagAsOf pin resolves the same snapshot
    val viaReader = spark.read
      .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
      .option("root", root).option("tagAsOf", "baseline").load()
    assert(viaReader.count() === orders.count())
    // pins are mutually exclusive
    val mixed = intercept[IllegalArgumentException] {
      spark.read
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("root", root).option("tagAsOf", "baseline")
        .option("versionAsOf", "0").load()
    }
    assert(messageChain(mixed).contains("mutually exclusive"))
    // drop → the versions become vacuum-eligible again
    mt.dropTag("baseline")
    mt.dropTag("post_delete")
    intercept[IllegalArgumentException] { mt.dropTag("baseline") }
    mt.vacuum(retain = 1, minAgeMs = 0)
    assert(mt.read().count() === 3)
    assert(mt.tagRefs.isEmpty)
    intercept[IllegalArgumentException] { mt.readTagged("baseline") }
  }

  test("vacuum checkpoints only chain-broken kept versions; the delta log stays delta") {
    val root = scratch("vac_min")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0 (full manifest)
    (1 to 4).foreach(i => mt.write(orders.limit(i), "append")) // v1..v4
    val log = new org.apache.hadoop.fs.Path(root, "_graft_log")
    val lfs = log.getFileSystem(spark.sessionState.newHadoopConf())
    def hasManifest(v: Int) =
      lfs.exists(new org.apache.hadoop.fs.Path(log, f"v$v%05d.manifest"))
    assert(!hasManifest(2) && !hasManifest(3) && !hasManifest(4),
      "appends are delta commits")
    mt.vacuum(retain = 3, minAgeMs = 0) // drops v0, v1
    assert(hasManifest(2),
      "the chain-broken oldest kept version is checkpointed")
    // one vacuum must write ONE checkpoint, not retain-many: kept
    // versions resolving through a kept predecessor stay delta-only
    assert(!hasManifest(3) && !hasManifest(4),
      "kept versions above an intact chain must not be materialized")
    assert(mt.read(Some(2)).count() === orders.count() + 1 + 2)
    assert(mt.read().count() === orders.count() + 1 + 2 + 3 + 4)
  }

  test("WAP: staged branch invisible on main, audit view complete, publish rebases over concurrent appends") {
    import spark.implicits._
    val dir = scratch("wap")
    val mt = new graft.lake.ManifestTable(spark, dir)
    mt.write((1 to 10).map(i => (i.toLong, s"base$i")).toDF("id", "v"), "overwrite")
    val staged = (11 to 15).map(i => (i.toLong, s"new$i")).toDF("id", "v")
    mt.stageBranch("audit1", staged)
    assert(mt.branches === Seq("audit1"))
    // main sees nothing; the audit view sees base ∪ staged
    assert(mt.read().count() === 10)
    assert(mt.readBranch("audit1").count() === 15)
    // a concurrent main append lands between stage and publish
    mt.write(Seq((100L, "concurrent")).toDF("id", "v"), "append")
    assert(mt.read().count() === 11)
    // publish rebases: all three row sets present, branch gone
    mt.publishBranch("audit1")
    assert(mt.read().count() === 16)
    assert(mt.branches.isEmpty)
    intercept[Exception] { mt.publishBranch("audit1") }
    // staged files survive vacuum while staged; reaped after drop
    mt.stageBranch("audit2", Seq((200L, "x")).toDF("id", "v"))
    val spared = mt.vacuum(retain = 1, minAgeMs = 0)
    assert(mt.readBranch("audit2").count() === 17, s"vacuum ate staged files: $spared")
    mt.dropBranch("audit2")
    mt.vacuum(retain = 1, minAgeMs = 0)
    assert(mt.read().count() === 16) // main untouched throughout
  }

  test("WAP: CHECK constraints enforce at stage time") {
    import spark.implicits._
    val dir = scratch("wap_check")
    val mt = new graft.lake.ManifestTable(spark, dir)
    mt.write(Seq((1L, 5.0)).toDF("id", "amt"), "overwrite")
    mt.addConstraint("amt_pos", "amt > 0")
    intercept[Exception] {
      mt.stageBranch("bad", Seq((2L, -1.0)).toDF("id", "amt"))
    }
    assert(mt.branches.isEmpty, "failed stage must not leave a branch marker")
  }

  test("metadataRowCount: exact across append, DV delete, time travel") {
    import spark.implicits._
    val dir = scratch("meta_count")
    val mt = new graft.lake.ManifestTable(spark, dir)
    mt.write((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      "overwrite") // v0
    assert(mt.metadataRowCount() === Some(10L))
    mt.write((11L to 13L).map(i => (i, s"v$i")).toDF("id", "v"),
      "append") // v1
    assert(mt.metadataRowCount() === Some(13L))
    mt.delete(col("id") <= 4L) // v2: DV marks, no file rewrite
    assert(mt.metadataRowCount() === Some(9L))
    assert(mt.metadataRowCount() === Some(mt.read().count()),
      "metadata count must equal the scanned count exactly")
    // pinned versions see their own snapshots
    assert(mt.metadataRowCount(Some(0)) === Some(10L))
    assert(mt.metadataRowCount(Some(1)) === Some(13L))
    // compaction / purge keep counts consistent (files rewritten,
    // footer counts re-recorded)
    mt.reorgPurge()
    assert(mt.metadataRowCount() === Some(9L))
    // asOf far future = latest; before the first commit = None
    def countAsOf(ts: Long): Option[Long] =
      mt.versionAtOrBefore(ts).flatMap(v => mt.metadataRowCount(Some(v)))
    assert(countAsOf(System.currentTimeMillis() + 1000000L) === Some(9L))
    assert(countAsOf(0L) === None)
  }
}
