package graft

import graft.lake.{ManifestTable, PartitionTransform}
import org.apache.spark.sql.functions._

/** Hidden partitioning (Iceberg-style partition transforms): derived
  * hive layout, scans without hidden columns, transform-aware point
  * and range pruning, merge scoping on derived tuples, and config
  * round-trip through forRoot.
  */
class PartitionTransformSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ptrans_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def ts(s: String) = lit(s).cast("timestamp")

  private def eventsDf = (0 until 300).map { i =>
    (i.toLong, (i % 24).toLong,
      java.sql.Timestamp.valueOf(f"2024-01-${i % 3 + 1}%02d ${i % 24}%02d:15:00"),
      s"v$i")
  }.toDF("event_id", "user_id", "ts", "payload")

  test("days+bucket layout: derived dirs on disk, hidden in scans, exact reads") {
    val root = scratch("daysbucket")
    val t = new ManifestTable(spark, root,
      partitionSpec = Seq("days(ts)", "bucket(8,user_id)"))
    t.write(eventsDf, "overwrite")

    // dirs: hidden hive columns with derived values
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dayDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .map(_.getPath.getName).filter(_.startsWith("_graft_p_days_ts=")).sorted
    assert(dayDirs.toSeq === Seq(
      "_graft_p_days_ts=2024-01-01",
      "_graft_p_days_ts=2024-01-02",
      "_graft_p_days_ts=2024-01-03"))

    // scans never surface hidden columns; row set is exact
    val out = t.read()
    assert(out.columns.sorted.toSeq === Seq("event_id", "payload", "ts", "user_id"))
    assert(out.count() === 300)
    assert(out.exceptAll(eventsDf).count() === 0)

    // point lookup through the bucket transform: exact + actually pruned
    val want = eventsDf.filter(col("user_id") === 7L)
    val got = t.read(where = col("user_id") === 7L)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    val all = t.filesDf().count()
    val pruned = t.filesFor(col("user_id") === 7L).size
    assert(pruned < all, s"expected pruning: $pruned vs $all files")

    // range through the days transform: exact incl. boundaries
    val wantR = eventsDf.filter(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp")
        && col("ts") <= lit("2024-01-03 23:59:59").cast("timestamp"))
    val range = col("ts").between("2024-01-02 00:00:00", "2024-01-03 23:59:59")
    val gotR = t.read(where = range)
    assert(gotR.exceptAll(wantR).count() === 0)
    assert(wantR.exceptAll(gotR).count() === 0)
    assert(t.filesFor(range).size < all)

    // a bucket range cannot prune (hashing destroys ordering), nor can
    // a column with no transform or stats: such reads scan every file
    // and stay exact
    val bucketRange = col("user_id").between(1L, 5L)
    assert(t.filesFor(bucketRange).size === all)
    assert(t.read(where = bucketRange).count() ===
      eventsDf.filter(bucketRange).count())
    assert(t.filesFor(col("payload") === "v7").size === all)
    assert(t.read(where = col("payload") === "v7").count() === 1)
  }

  test("merge on a days-partitioned table rewrites only the touched day") {
    val root = scratch("merge")
    val t = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t.write(eventsDf, "overwrite")
    val before = t.filesDf().collect().map(_.getString(0)).toSet

    // update one event on day 2 only
    val upd = eventsDf.filter(col("event_id") === 100L)
      .withColumn("payload", lit("UPDATED"))
    t.merge(upd, Seq("event_id"))

    val dvs = t.filesDf().collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    val day2 = "_graft_p_days_ts=2024-01-02"
    // every file outside day 2 is still referenced, with no deletion
    // vector
    assert(before.filterNot(_.contains(day2))
      .forall(f => dvs.get(f).contains(None)))
    // the one day-2 file (it holds event 100) gained a deletion vector
    val day2Files = before.filter(_.contains(day2))
    assert(day2Files.size === 1 && dvs(day2Files.head).isDefined)
    // content correct
    val want = eventsDf.withColumn("payload",
      when(col("event_id") === 100L, "UPDATED").otherwise(col("payload")))
    assert(t.read().exceptAll(want).count() === 0)
    assert(want.exceptAll(t.read()).count() === 0)
  }

  test("forRoot round-trips the partition spec; appends land derived dirs") {
    val root = scratch("roundtrip")
    new ManifestTable(spark, root, partitionSpec = Seq("days(ts)", "bucket(8,user_id)"))
      .write(eventsDf.filter(col("event_id") < 100L), "overwrite")
    val again = ManifestTable.forRoot(spark, root)
    again.write(eventsDf.filter(col("event_id") >= 100L), "append")
    assert(again.read().count() === 300)
    assert(again.read().exceptAll(eventsDf).count() === 0)
    // pruning still works through the reloaded instance
    val got = again.read(where = col("user_id") === 3L)
    val want = eventsDf.filter(col("user_id") === 3L)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("truncate transform: int bins and string prefixes, range-prunable") {
    val root = scratch("trunc")
    val t = new ManifestTable(spark, root, partitionSpec = Seq("truncate(100,event_id)"))
    val df = (0 until 500).map(i => (i.toLong, s"r$i")).toDF("event_id", "x")
    t.write(df, "overwrite")
    val want = df.filter(col("event_id").between(150L, 260L))
    val got = t.read(where = col("event_id").between(150L, 260L))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // pruned: bins 0 and 300/400 skipped → fewer files than total
    assert(t.filesFor(col("event_id").between(150L, 260L)).size < t.filesDf().count())
    assert(t.filesFor(col("event_id") === 42L).size < t.filesDf().count())

    val root2 = scratch("truncs")
    val t2 = new ManifestTable(spark, root2, partitionSpec = Seq("truncate(2,code)"))
    val df2 = Seq("aa1", "aa2", "ab1", "ba9", "bb0").zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("id", "code")
    t2.write(df2, "overwrite")
    val gotS = t2.read(where = col("code") === "ab1")
    assert(gotS.collect().map(_.getString(1)).toSeq === Seq("ab1"))
    val gotR = t2.read(where = col("code").between("aa0", "ab9"))
    assert(gotR.collect().map(_.getString(1)).sorted.toSeq === Seq("aa1", "aa2", "ab1"))
  }

  test("evolvePartitionSpec migrates the layout in one commit; history keeps the old one") {
    val root = scratch("evolve")
    val t0 = new ManifestTable(spark, root) // unpartitioned
    t0.write(eventsDf, "overwrite")
    val v0 = t0.latestVersion.get

    val t1 = t0.evolvePartitionSpec(Nil, Seq("days(ts)"))
    // data identical, layout migrated
    assert(t1.read().count() === 300)
    assert(t1.read().exceptAll(eventsDf).count() === 0)
    assert(t1.filesDf().collect().map(_.getString(0))
      .forall(_.contains("_graft_p_days_ts=")), "all files under the new layout")
    // transform pruning works through the evolved instance
    val want = eventsDf.filter(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp")
        && col("ts") <= lit("2024-01-02 23:59:59").cast("timestamp"))
    val got = t1.read(where = col("ts").between("2024-01-02 00:00:00", "2024-01-02 23:59:59"))
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    // time travel to the pre-evolution version still serves the old files
    assert(t1.read(Some(v0)).count() === 300)
    // forRoot picks up the evolved spec (appends land derived dirs)
    val t2 = ManifestTable.forRoot(spark, root)
    t2.write(eventsDf.withColumn("event_id", col("event_id") + 1000L), "append")
    assert(t2.read().count() === 600)

    // second evolution: add a bucket level
    val t3 = t2.evolvePartitionSpec(Nil, Seq("days(ts)", "bucket(4,user_id)"))
    assert(t3.read(where = col("user_id") === 7L).count() ===
      t3.read().filter(col("user_id") === 7L).count())

    // refusals: unknown column, renamed column
    intercept[IllegalArgumentException] {
      t3.evolvePartitionSpec(Seq("nope"))
    }
    t3.renameColumn("payload", "body")
    intercept[IllegalArgumentException] {
      ManifestTable.forRoot(spark, root).evolvePartitionSpec(Seq("body"))
    }
  }

  test("time travel across a transform CHANGE keeps old hidden columns hidden") {
    val root = scratch("evolvehist")
    val t0 = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t0.write(eventsDf, "overwrite")
    val v0 = t0.latestVersion.get
    // change the transform SET (days -> months): pre-evolution files
    // still carry _graft_p_days_ts in their hive paths; a time-travel
    // read must hide it exactly like the current layout's column
    val t1 = t0.evolvePartitionSpec(Nil, Seq("months(ts)"))
    val hist = t1.read(Some(v0))
    assert(!hist.columns.exists(_.startsWith(PartitionTransform.Prefix)),
      s"old hidden layout column leaked: ${hist.columns.mkString(", ")}")
    assert(hist.count() === 300)
    assert(!t1.read().columns.exists(_.startsWith(PartitionTransform.Prefix)))
  }

  test("setPartitionSpec: lazy daily→hourly — old and new files each prune by their OWN spec") {
    val root = scratch("lazyevolve")
    val old = eventsDf.filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val fresh = eventsDf.filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
    val t0 = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t0.write(old, "overwrite")
    val filesBefore = t0.filesDf().collect().map(_.getString(0)).toSet

    // config-only: zero data movement, no new version
    val t1 = t0.setPartitionSpec(Nil, Seq("hours(ts)"))
    assert(t1.latestVersion === t0.latestVersion)
    assert(t1.filesDf().collect().map(_.getString(0)).toSet === filesBefore)

    // new commits land the NEW layout; old files keep the old one
    t1.write(fresh, "append")
    val files = t1.filesDf().collect().map(_.getString(0))
    assert(files.exists(_.contains("_graft_p_days_ts=")), "old layout kept")
    assert(files.exists(_.contains("_graft_p_hours_ts=")), "new layout used")

    // mixed-layout scan: exact, hidden columns stay hidden
    val out = t1.read()
    assert(!out.columns.exists(_.startsWith(PartitionTransform.Prefix)))
    assert(out.count() === 300)
    assert(out.exceptAll(eventsDf).count() === 0)
    assert(eventsDf.exceptAll(out).count() === 0)

    // a day-1 lookup prunes NEW hourly files entirely (their hour can't
    // match) and old daily files down to day 1
    val day1 = t1.filesFor(col("ts") === ts("2024-01-01 06:15:00"))
    assert(day1.nonEmpty &&
      day1.forall(_.contains("_graft_p_days_ts=2024-01-01")),
      s"day-1 lookup scanned: ${day1.mkString(", ")}")
    // a day-3 lookup prunes old daily files entirely (days 1-2 only)
    // and hourly files down to the ONE matching hour
    val hour = t1.filesFor(col("ts") === ts("2024-01-03 08:15:00"))
    assert(hour.nonEmpty &&
      hour.forall(_.contains("_graft_p_hours_ts=2024-01-03-08")),
      s"day-3 lookup scanned: ${hour.mkString(", ")}")

    // point + range reads stay exact across the spec boundary
    val gotEq = t1.read(where = col("ts") === ts("2024-01-03 08:15:00"))
    val wantEq = eventsDf.filter(col("ts") === lit("2024-01-03 08:15:00").cast("timestamp"))
    assert(gotEq.exceptAll(wantEq).count() === 0 && wantEq.exceptAll(gotEq).count() === 0)
    val wantR = eventsDf.filter(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp")
        && col("ts") <= lit("2024-01-03 05:59:59").cast("timestamp"))
    val gotR = t1.read(where = col("ts").between("2024-01-02 00:00:00", "2024-01-03 05:59:59"))
    assert(gotR.exceptAll(wantR).count() === 0 && wantR.exceptAll(gotR).count() === 0)

    // forRoot round-trips the lazy spec
    val (idc, specs) = ManifestTable.forRoot(spark, root).declaredPartitioning
    assert(idc.isEmpty && specs === Seq("hours(ts)"))
  }

  test("merge on a mixed-layout table scopes each file by its own spec and migrates rewrites") {
    val root = scratch("lazymerge")
    val old = eventsDf.filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val fresh = eventsDf.filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
    val t0 = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t0.write(old, "overwrite")
    val t1 = t0.setPartitionSpec(Nil, Seq("hours(ts)"))
    t1.write(fresh, "append")
    val before = t1.filesDf().collect().map(_.getString(0)).toSet

    // event 0 lives on day 1 (old daily file); event 2 on day 3 hour 2
    // (new hourly file) — the merge must mark exactly the day-1 daily
    // file and the hour-2 hourly file
    val upd = eventsDf.filter(col("event_id").isin(0L, 2L))
      .withColumn("payload", lit("UPDATED"))
    t1.merge(upd, Seq("event_id"))
    val dvs = t1.filesDf().collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    val after = dvs.keySet

    val day1Seg = "_graft_p_days_ts=2024-01-01"
    val hourSeg = "_graft_p_hours_ts=2024-01-03-02"
    val touched = before.filter(f => f.contains(day1Seg) || f.contains(hourSeg))
    assert(touched.size === 2 && touched.forall(f => dvs(f).isDefined),
      "the old-spec day-1 file and the new-spec hour-2 file gain a " +
        s"deletion vector: $touched")
    assert(before.diff(touched).forall(f => dvs.get(f).contains(None)),
      "every other file is still referenced without a deletion vector")
    // the updated copies land under the CURRENT spec — progressive
    // migration
    assert(after.diff(before).nonEmpty &&
      after.diff(before).forall(_.contains("_graft_p_hours_ts=")),
      s"copies not migrated: ${after.diff(before).mkString(", ")}")

    val want = eventsDf.withColumn("payload",
      when(col("event_id").isin(0L, 2L), "UPDATED").otherwise(col("payload")))
    assert(t1.read().exceptAll(want).count() === 0)
    assert(want.exceptAll(t1.read()).count() === 0)
  }

  test("a replace across mixed layouts is exact; compaction migrates it") {
    val root = scratch("lazycompact")
    val old = eventsDf.filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val fresh = eventsDf.filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
    val t0 = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t0.write(old, "overwrite")
    val t1 = t0.setPartitionSpec(Nil, Seq("hours(ts)"))
    t1.write(fresh, "append")

    // a delete-then-append spanning both layouts (old daily files and
    // new hourly ones) replaces exactly the matching rows
    val span = col("ts") >= ts("2024-01-02 12:00:00") &&
      col("ts") < ts("2024-01-03 03:00:00")
    t1.delete(span, thenAppend = Seq(
      eventsDf.filter(span).withColumn("payload", lit("MIXED"))))
    val want = eventsDf.withColumn("payload",
      when(span, lit("MIXED")).otherwise(col("payload")))
    assert(eventsDf.filter(span).count() > 0)
    assert(t1.read().exceptAll(want).count() === 0)
    assert(want.exceptAll(t1.read()).count() === 0)

    // compact() rewrites everything under the current spec
    t1.compact(targetFiles = 4)
    val files = t1.filesDf().collect().map(_.getString(0))
    assert(files.forall(_.contains("_graft_p_hours_ts=")),
      s"unmigrated files: ${files.filterNot(_.contains("_graft_p_hours_ts=")).mkString(", ")}")
    assert(t1.read().count() === 300)
    assert(t1.read().exceptAll(want).count() === 0)
    // homogeneous again: hourly pruning applies to every file
    val hour = t1.filesFor(col("ts") === ts("2024-01-01 06:15:00"))
    assert(hour.nonEmpty &&
      hour.forall(_.contains("_graft_p_hours_ts=2024-01-01-06")))
    // and a one-hour replace works on the migrated layout
    val oneHour = col("ts") === ts("2024-01-03 02:15:00")
    t1.delete(oneHour, thenAppend = Seq(
      eventsDf.filter(oneHour).withColumn("payload", lit("REPLACED"))))
    assert(t1.read().filter(col("payload") === "REPLACED").count() ===
      eventsDf.filter(oneHour).count())
    assert(t1.read().count() === 300)
  }

  test("insert-only merge into a fresh partition removes nothing and keeps the schema") {
    val root = scratch("insertonly")
    val t = new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
    t.write(eventsDf.filter(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp")),
      "overwrite")
    val before = t.filesDf().collect().map(_.getString(0)).toSet
    // feed = ONLY new keys, all landing on a day with no existing files:
    // the merge's removed set is empty, and the rewrite frame must keep
    // the table schema (a bare empty readEntries would lose it)
    val fresh = eventsDf.filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
      .withColumn("event_id", col("event_id") + 5000L)
    t.merge(fresh, Seq("event_id"))
    val after = t.filesDf().collect().map(_.getString(0)).toSet
    assert(before.subsetOf(after), "no existing file rewritten")
    assert(t.read().count() === 300)
    assert(t.read().filter(col("event_id") >= 5000L).count() === fresh.count())
  }

  test("SQL surface: CALL graft.set_partition_spec is config-only; refusals mirror the API") {
    val root = scratch("lazysql")
    new ManifestTable(spark, root, partitionSpec = Seq("days(ts)"))
      .write(eventsDf, "overwrite")
    val sqlSpark: org.apache.spark.sql.SparkSession =
      extensionsSession("graft-lazy-spec-sql")
    val v = sqlSpark.sql(s"CALL graft.set_partition_spec('$root', '', 'months(ts)')")
      .first().getInt(0)
    assert(v === ManifestTable.forRoot(spark, root).latestVersion.get,
      "lazy spec change commits no new version")
    val (_, specs) = ManifestTable.forRoot(spark, root).declaredPartitioning
    assert(specs === Seq("months(ts)"))
    // unknown column refuses
    val err = intercept[Exception] {
      sqlSpark.sql(s"CALL graft.set_partition_spec('$root', '', 'days(nope)')").collect()
    }
    assert(messageChain(err).contains("not in table"))
  }

  test("transform name round-trips through fromName (the per-file spec identity)") {
    val specs = Seq("days(ts)", "months(event_ts)", "years(ts)", "hours(ts)",
      "bucket(16,user_id)", "truncate(4,name)")
    specs.foreach { s =>
      val t = PartitionTransform.parse(s)
      assert(PartitionTransform.fromName(t.name) === Some(t), s"round-trip of $s")
    }
    assert(PartitionTransform.fromName("region") === None)
    assert(PartitionTransform.fromName("_graft_p_zap_x") === None)
  }

  test("transform parsing round-trips; malformed specs refuse") {
    val specs = Seq("days(ts)", "months(ts)", "hours(ts)",
      "bucket(16,id)", "truncate(4,name)")
    specs.foreach(s => assert(PartitionTransform.parse(s).spec === s))
    intercept[IllegalArgumentException] { PartitionTransform.parse("zap(ts)") }
    intercept[IllegalArgumentException] { PartitionTransform.parse("ts") }
    intercept[IllegalArgumentException] { PartitionTransform.parse("bucket(0,x)") }
  }
}
