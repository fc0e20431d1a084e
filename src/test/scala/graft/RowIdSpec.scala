package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.functions._

/** T16 row tracking (the Delta row-id design): stable `_row_id`s
  * allotted at commit (entry `#rid` base + parquet row index),
  * materialized physically when rewrites move rows — so identity
  * survives DV deletes, update copies, MERGE rewrites, compaction,
  * purge, restore and clone — and the keyless change feed that rides
  * on them for tables that never enabled CDC.
  */
class RowIdSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_rowid_${name}_${System.nanoTime()}"

  private def freshTable(name: String, n: Int = 100): ManifestTable = {
    val mt = new ManifestTable(spark, scratch(name))
    mt.write(spark.range(n)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "overwrite")
    mt
  }

  private def ids(mt: ManifestTable): Map[Long, Long] =
    mt.readWithRowId().select(col("id"), col(ManifestTable.RowIdCol))
      .as[(Long, Long)].collect().toMap

  test("ids are unique, non-null, and stable across an append") {
    val mt = freshTable("uniq")
    val first = ids(mt)
    assert(first.size === 100 && first.values.toSet.size === 100)
    mt.write(spark.range(100, 150)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "append")
    val second = ids(mt)
    assert(second.size === 150 && second.values.toSet.size === 150)
    first.foreach { case (id, rid) =>
      assert(second(id) === rid, s"append moved the id of row $id")
    }
  }

  test("read() never surfaces _row_id or the physical rid column") {
    val mt = freshTable("hidden")
    mt.updateWhere(col("id") === 5L, Map("s" -> lit("x"))) // physical copy
    assert(!mt.read().columns.contains(ManifestTable.RowIdCol))
    assert(!mt.read().columns.exists(_ == "_graft_rid"))
  }

  test("DV delete keeps survivors' ids; updateWhere keeps the row's id") {
    val mt = freshTable("dml")
    val before = ids(mt)
    mt.delete(col("id") % 10 === 0L) // v1: DV marks, files untouched
    val afterDelete = ids(mt)
    assert(afterDelete.size === 90)
    afterDelete.foreach { case (id, rid) => assert(before(id) === rid) }
    mt.updateWhere(col("id") === 7L, Map("s" -> lit("seven!"))) // v2: copy
    val afterUpdate = ids(mt)
    assert(afterUpdate(7L) === before(7L),
      "an UPDATE changes values, not identity")
    assert(mt.read().filter(col("s") === "seven!").count() === 1)
  }

  test("mergeInto update arm keeps ids; insert arm draws fresh ones") {
    val mt = freshTable("minto")
    val before = ids(mt)
    mt.mergeInto(
      Seq((7L, "merged"), (1000L, "new")).toDF("sid", "sval"),
      col("id") === col("sid"),
      matched = Seq(graft.lake.MergeUpdateClause(None,
        Map("s" -> col("sval")))),
      notMatched = Seq(graft.lake.MergeInsertClause(None,
        Map("id" -> col("sid"), "k" -> lit(0L), "s" -> col("sval")))))
    val after = ids(mt)
    assert(after(7L) === before(7L))
    assert(!before.values.toSet.contains(after(1000L)),
      "insert must not reuse a live id")
  }

  test("keyed merge (partition rewrite) preserves carried AND updated ids") {
    val mt = new ManifestTable(spark, scratch("kmerge"),
      partitionCol = Some("k"))
    mt.write(spark.range(100)
      .select(col("id"), (col("id") % 4).as("k"),
        concat(lit("v"), col("id")).as("s")), "overwrite")
    val before = ids(mt)
    mt.merge(Seq((3L, 3L % 4, "upd"), (500L, 500L % 4, "ins"))
      .toDF("id", "k", "s"), Seq("id"))
    val after = ids(mt)
    assert(after(3L) === before(3L), "upserted row keeps its id")
    assert(after.size === 101)
    before.foreach { case (id, rid) => assert(after(id) === rid,
      s"carried row $id changed id in the partition rewrite") }
  }

  test("compactSmall / reorgPurge / compact preserve every id") {
    val mt = freshTable("compact")
    mt.write(spark.range(100, 120)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "append")
    mt.delete(col("id") % 9 === 0L) // leave DVs for purge to chew on
    val before = ids(mt)
    mt.reorgPurge()
    val afterPurge = ids(mt)
    assert(afterPurge === before, "REORG PURGE moved ids")
    mt.compactSmall(minFileBytes = Long.MaxValue) // pack everything
    assert(ids(mt) === before, "bin-pack moved ids")
    mt.compact(targetFiles = 1)
    assert(ids(mt) === before, "full compaction moved ids")
    val evolved = mt.evolvePartitionSpec(Seq("k"))
    assert(ids(evolved) === before, "eager spec evolution moved ids")
  }

  test("restore and clone-then-append keep ids collision-free") {
    val mt = freshTable("restore")
    val v0 = mt.latestVersion.get
    val before = ids(mt)
    mt.updateWhere(col("id") === 1L, Map("s" -> lit("x")))
    mt.restore(v0)
    assert(ids(mt) === before, "RESTORE changed ids")
    val clone = mt.shallowClone(scratch("clone"))
    assert(ids(clone) === before, "clone rebased ids")
    clone.write(spark.range(200, 260)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "append")
    val all = ids(clone)
    assert(all.size === 160 && all.values.toSet.size === 160,
      "clone append collided with carried ids")
  }

  test("keyed merge with DUPLICATE target keys: no row multiplication, " +
      "no shared ids (review finding: un-deduplicated id projection)") {
    val mt = new ManifestTable(spark, scratch("dupkeys"))
    // two rows per key — nothing enforces target-key uniqueness
    mt.write(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "s"),
      "overwrite")
    mt.merge(Seq((2L, "c2"), (9L, "new")).toDF("id", "s"), Seq("id"))
    val rows = mt.read().as[(Long, String)].collect().sorted.toSeq
    assert(rows === Seq((1L, "a"), (1L, "b"), (2L, "c2"), (9L, "new")),
      "duplicate-key targets must round-trip without multiplication")
    val allIds = mt.readWithRowId()
      .select(col(ManifestTable.RowIdCol)).as[Long].collect()
    assert(allIds.length === allIds.toSet.size,
      "ambiguous keys must draw fresh ids, never share one")
  }

  test("restore of a pre-row-tracking snapshot does not invalidate its " +
      "file-diff replay (review finding: stamping carried entries)") {
    val root = scratch("legacy_restore")
    val mt = new ManifestTable(spark, root)
    mt.write(spark.range(10).toDF("id"), "overwrite") // v0
    // simulate a legacy table: strip #rid from the v0 manifest
    val logDir = new org.apache.hadoop.fs.Path(s"$root/_graft_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val m = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).head
    val lines = {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val stripped = lines.map(_.split('\t')
      .filterNot(_.startsWith("%23rid=")).mkString("\t"))
    fs.delete(m, false)
    val out = fs.create(m, true)
    try out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    mt.write(spark.range(10, 15).toDF("id"), "append") // v1
    mt.restore(0) // v2: carried entries must commit UNCHANGED
    val ch = mt.changesAt(2, None) // file-diff replay, not a refusal
    assert(ch.filter(col("_change_type") === "delete").count() === 5)
    assert(ch.filter(col("_change_type") === "insert").count() === 0)
  }

  test("the physical rid column name is reserved at the write surfaces") {
    val mt = new ManifestTable(spark, scratch("reserved"))
    val e = intercept[IllegalArgumentException] {
      mt.write(spark.range(3).toDF("id")
        .withColumn("_graft_rid", col("id")), "overwrite")
    }
    assert(e.getMessage.contains("reserved"))
    mt.write(spark.range(3).toDF("id"), "overwrite")
    val e2 = intercept[IllegalArgumentException] {
      mt.merge(spark.range(1).toDF("id")
        .withColumn("_row_id", lit(1L)), Seq("id"))
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("clone → overwrite → restore → append never re-allots a dropped " +
      "range (review finding: persisted watermark)") {
    val src = freshTable("wm_src")
    // push the source's version (and so its bases) well above the
    // clone's own version numbers
    (1 to 3).foreach(i => src.write(spark.range(100L * i, 100L * i + 5)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "append"))
    val clone = src.shallowClone(scratch("wm_clone"))
    val v0Ids = ids(clone).values.toSet
    clone.write(spark.range(1000, 1010)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "overwrite") // v1: hwm spill
    val v1Ids = clone.readWithRowId()
      .select(col(ManifestTable.RowIdCol)).as[Long].collect().toSet
    clone.restore(0) // v2: rewind
    clone.write(spark.range(2000, 2010)
      .select(col("id"), (col("id") % 7).as("k"),
        concat(lit("v"), col("id")).as("s")), "append") // v3
    val v3New = clone.readWithRowId()
      .select(col(ManifestTable.RowIdCol)).as[Long].collect().toSet -- v0Ids
    assert(v3New.intersect(v1Ids).isEmpty,
      "the rewound append re-used v1's (dropped but time-travelable) " +
        "id range")
  }

  test("keyless change feed on a never-CDC table: update replays " +
      "exactly (the pre-CDC refusal case, flipped)") {
    val mt = freshTable("keyless")
    mt.updateWhere(col("id") % 10 === 3L,
      Map("s" -> concat(col("s"), lit("!")))) // v1, CDC never enabled
    val v = mt.latestVersion.get
    val keyless = mt.changesAt(v, None)
    val keyed = mt.changesAt(v, Seq("id"))
    assert(keyless.columns.sorted === keyed.columns.sorted)
    val k1 = keyless.select(keyed.columns.map(col): _*)
    assert(k1.exceptAll(keyed).count() === 0)
    assert(keyed.exceptAll(k1).count() === 0)
    assert(keyless.filter(col("_change_type") === "update_preimage")
      .count() === 10)
  }

  test("keyless feed: DV delete and keyed-merge commits replay; a " +
      "pre-row-tracking file still refuses by name") {
    val mt = new ManifestTable(spark, scratch("kfeed"),
      partitionCol = Some("k"))
    mt.write(spark.range(60)
      .select(col("id"), (col("id") % 3).as("k"),
        concat(lit("v"), col("id")).as("s")), "overwrite")
    mt.delete(col("id") % 5 === 0L) // v1
    mt.merge(Seq((7L, 7L % 3, "upd")).toDF("id", "k", "s"), Seq("id")) // v2
    (1 to 2).foreach { v =>
      val keyless = mt.changesAt(v, None)
      val keyed = mt.changesAt(v, Seq("id"))
        .select(keyless.columns.map(col): _*)
      assert(keyless.exceptAll(keyed).count() === 0, s"v$v mismatch")
      assert(keyed.exceptAll(keyless).count() === 0, s"v$v mismatch")
    }
    // a file with NO #rid stamp and NO physical ids (simulated legacy
    // write) makes the keyless read refuse with every fix named
    val legacyRoot = scratch("legacy")
    val legacy = new ManifestTable(spark, legacyRoot)
    legacy.write(spark.range(10).toDF("id"), "overwrite")
    // strip the stamp by rewriting the manifest without #rid
    val logDir = new org.apache.hadoop.fs.Path(s"$legacyRoot/_graft_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val m = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).head
    val lines = {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val stripped = lines.map(_.split('\t')
      .filterNot(_.startsWith("%23rid=")).mkString("\t"))
    fs.delete(m, false)
    val out = fs.create(m, true)
    try out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    legacy.delete(col("id") === 1L) // in-place commit on unstamped file
    val e = intercept[IllegalArgumentException] {
      legacy.changesAt(legacy.latestVersion.get, None).collect()
    }
    assert(messageChain(e).contains("row tracking"))
    assert(messageChain(e).contains("pass keys"))
  }

  test("backfillRowIds adopts tracking on a legacy table: refusal " +
      "flips, ids are total and unique, the feed sees nothing") {
    val root = scratch("backfill")
    val mt = new ManifestTable(spark, root)
    mt.write(spark.range(20)
      .select(col("id"), concat(lit("v"), col("id")).as("s")), "overwrite")
    // simulate legacy: strip #rid from the v0 manifest
    val logDir = new org.apache.hadoop.fs.Path(s"$root/_graft_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val m = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).head
    val lines = {
      val in = fs.open(m)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    fs.delete(m, false)
    val out = fs.create(m, true)
    try out.write((lines.map(_.split('\t')
      .filterNot(_.startsWith("%23rid=")).mkString("\t"))
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    mt.delete(col("id") === 3L) // a DV on the unstamped file
    // mixed table: one legacy file (NULL ids) + one stamped append
    mt.write(spark.range(20, 25)
      .select(col("id"), concat(lit("v"), col("id")).as("s")), "append")
    // rows in still-unstamped files read NULL ids (the DV re-point
    // above re-stamped ITS file, so the exact count varies with the
    // fixture's file split — some NULLs must remain is the contract)
    assert(mt.readWithRowId()
      .filter(col(ManifestTable.RowIdCol).isNull).count() > 0)
    val vBefore = mt.latestVersion.get
    val bf = mt.backfillRowIds()
    assert(bf === vBefore + 1)
    assert(mt.backfillRowIds() === bf, "fully tracked: no-op")
    // total + unique ids; the DV'd row stays dead; data unchanged
    val ids = mt.readWithRowId().select(col(ManifestTable.RowIdCol))
      .as[Long].collect()
    assert(ids.length === 24 && ids.toSet.size === 24)
    assert(mt.read().select("id", "s").collect().toSet ===
      mt.read(Some(vBefore)).select("id", "s").collect().toSet)
    // the feed is silent for the backfill commit, and keyless replay
    // works for every LATER commit (the refusal class is gone)
    assert(mt.changesAt(bf, None).count() === 0)
    mt.updateWhere(col("id") === 7L, Map("s" -> lit("upd"))) // post-adopt
    val v = mt.latestVersion.get
    val keyless = mt.changesAt(v, None)
    val keyed = mt.changesAt(v, Seq("id"))
      .select(keyless.columns.map(col): _*)
    assert(keyless.exceptAll(keyed).count() === 0)
    assert(keyed.exceptAll(keyless).count() === 0)
  }
}
