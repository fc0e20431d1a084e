package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** RENAME COLUMN without rewrite (column mapping): metadata-only
  * renames, logical names on every read/write path, physical stats
  * keys translated at the API boundary, restrictions on partition
  * columns, and the SQL procedure.
  */
class ColumnMappingSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_colmap_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  test("rename: no data rewrite, logical reads, writes through the new name") {
    val root = scratch("basic")
    val t = new ManifestTable(spark, root)
    val df = (1 to 100).map(i => (i.toLong, s"u$i", i * 2.0)).toDF("id", "uname", "amt")
    t.write(df, "overwrite")
    val filesBefore = t.filesDf().collect().map(_.getString(0)).toSet

    t.renameColumn("uname", "user_name")

    // metadata only: same files, same version
    assert(t.filesDf().collect().map(_.getString(0)).toSet === filesBefore)
    // read shows the logical name with the same data
    val out = t.read()
    assert(out.columns.sorted.toSeq === Seq("amt", "id", "user_name"))
    assert(out.agg(sum("id")).head().getLong(0) === 5050L)

    // append THROUGH the new name: lands physical, reads logical
    t.write(Seq((101L, "u101", 202.0)).toDF("id", "user_name", "amt"), "append")
    assert(t.read().count() === 101)
    assert(t.read().filter(col("user_name") === "u101").count() === 1)

    // merge keyed through renamed world
    t.merge(Seq((101L, "u101x", 999.0)).toDF("id", "user_name", "amt"), Seq("id"))
    assert(t.read().filter(col("user_name") === "u101x").count() === 1)

    // delete with a predicate over the logical name
    t.delete(col("user_name") === "u101x")
    assert(t.read().count() === 100)

    // chained rename (uses the original physical key under the hood)
    t.renameColumn("user_name", "member_name")
    assert(t.read().columns.contains("member_name"))
    assert(t.read().filter(col("member_name") === "u50").count() === 1)
  }

  test("stats and bloom pruning survive a rename (physical keys translated)") {
    val root = scratch("stats")
    val t = new ManifestTable(spark, root,
      statsCol = Some("ts_val"), bloomCol = Some("key"))
    val df = (1 to 400).map(i => (i.toLong, s"k$i", s"r$i")).toDF("ts_val", "key", "x")
    // several files so pruning is observable
    t.write(df.repartition(8), "overwrite")

    t.renameColumn("ts_val", "event_time")
    t.renameColumn("key", "event_key")

    // range read through the NEW name: exact + pruned
    val range = col("event_time").between(100L, 150L)
    val got = t.read(where = range)
    assert(got.count() === 51)
    assert(got.columns.contains("event_time"))
    // eq read through the new bloom name
    val eq = t.readEq("event_key", "k250")
    assert(eq.count() === 1)
    // delete through the new name
    t.delete(col("event_key") === "k250")
    assert(t.read().count() === 399)
    // old names now refuse
    intercept[IllegalArgumentException] { t.readRangesBy("ts_val", Seq(("1", "2"))) }
  }

  test("restrictions: partition columns refuse; collisions refuse") {
    val root = scratch("restrict")
    val t = new ManifestTable(spark, root,
      partitionCols = Seq("region"), partitionSpec = Seq("days(ts)"))
    val df = Seq((1L, "eu", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      .toDF("id", "region", "ts", "x")
    t.write(df, "overwrite")
    intercept[IllegalArgumentException] { t.renameColumn("region", "zone") }
    intercept[IllegalArgumentException] { t.renameColumn("ts", "event_ts") }
    intercept[IllegalArgumentException] { t.renameColumn("id", "x") } // collision
    intercept[IllegalArgumentException] { t.renameColumn("nope", "y") }
    // non-partition columns still rename fine on this table
    t.renameColumn("x", "payload")
    assert(t.read().columns.contains("payload"))
  }

  test("a column referenced by a CHECK constraint refuses to rename") {
    val root = scratch("constraint")
    val t = new ManifestTable(spark, root)
    t.write(Seq((1L, 5.0)).toDF("id", "amt"), "overwrite")
    t.addConstraint("amt_pos", "amt >= 0")
    val ex = intercept[IllegalArgumentException] { t.renameColumn("amt", "amount") }
    assert(ex.getMessage.contains("amt_pos"))
    // dropping the constraint unblocks the rename
    t.dropConstraint("amt_pos")
    t.renameColumn("amt", "amount")
    assert(t.read().columns.contains("amount"))
    // and a constraint over the NEW name enforces on writes
    t.addConstraint("amount_pos", "amount >= 0")
    intercept[Exception] {
      t.write(Seq((2L, -1.0)).toDF("id", "amount"), "append")
    }
    assert(t.read().count() === 1)
  }

  test("generated columns pin names: source and generated column refuse to rename") {
    val root = scratch("genrename")
    val t = new ManifestTable(spark, root)
    t.write(Seq((1L, 10.0)).toDF("id", "amt"), "overwrite")
    t.addGeneratedColumn("amt_cents", "CAST(round(amt * 100) AS BIGINT)")
    t.write(Seq((2L, 20.0)).toDF("id", "amt"), "append") // materialize it
    // renaming the SOURCE would break every later write's resolution
    // of the stored expression
    val exSrc = intercept[IllegalArgumentException] {
      t.renameColumn("amt", "amount")
    }
    assert(exSrc.getMessage.contains("amt_cents"))
    // renaming the GENERATED column would re-add the old name on write
    // (duplicate physical column)
    val exGen = intercept[IllegalArgumentException] {
      t.renameColumn("amt_cents", "cents")
    }
    assert(exGen.getMessage.contains("generated"))
    // unaffected columns still rename; dropping the generated column
    // unblocks its source
    t.renameColumn("id", "row_id")
    t.dropGeneratedColumn("amt_cents")
    t.renameColumn("amt", "amount")
    assert(t.read().columns.toSet === Set("row_id", "amount", "amt_cents"))
  }

  test("generated columns: computed when absent, validated when present, backfilled on rewrite") {
    val root = scratch("generated")
    val t = new ManifestTable(spark, root)
    // pre-registration data: lacks the column entirely
    t.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), "overwrite")
    t.addGeneratedColumn("amt_cents", "CAST(round(amt * 100) AS BIGINT)")

    // absent → computed
    t.write(Seq((3L, 30.5)).toDF("id", "amt"), "append")
    val r3 = t.read().filter(col("id") === 3L).head()
    assert(r3.getAs[Long]("amt_cents") === 3050L)
    // old rows null-fill on read (their files predate the column)
    assert(t.read().filter(col("id") === 1L).head().isNullAt(2))

    // present and correct → accepted
    t.write(Seq((4L, 40.0, 4000L)).toDF("id", "amt", "amt_cents"), "append")
    // present and WRONG → the write fails, table untouched
    val before = t.latestVersion.get
    intercept[Exception] {
      t.write(Seq((5L, 50.0, 999L)).toDF("id", "amt", "amt_cents"), "append")
    }
    assert(t.latestVersion.get === before)

    // a rewrite (compaction) backfills the old rows' NULLs
    t.compact(1)
    assert(t.read().filter(col("id") === 1L).head().getAs[Long]("amt_cents") === 1000L)

    // merge computes it for merged rows too
    t.merge(Seq((2L, 25.0)).toDF("id", "amt"), Seq("id"))
    assert(t.read().filter(col("id") === 2L).head().getAs[Long]("amt_cents") === 2500L)

    // drop → writes stop carrying enforcement (absent column stays absent)
    t.dropGeneratedColumn("amt_cents")
    t.write(Seq((6L, 60.0, 42L)).toDF("id", "amt", "amt_cents"), "append")
    assert(t.read().filter(col("id") === 6L).head().getAs[Long]("amt_cents") === 42L)
  }

  test("SQL surface: CALL graft.rename_column; forRoot instances see the mapping") {
    val root = scratch("sql")
    new ManifestTable(spark, root)
      .write(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), "overwrite")
    val sqlSpark: SparkSession = extensionsSession("graft-colmap-sql")
    sqlSpark.sql(s"CALL graft.rename_column('$root', 'tag', 'label')").collect()
    // an independent instance (fresh read of the sidecar) sees it
    val t2 = ManifestTable.forRoot(spark, root)
    assert(t2.read().columns.sorted.toSeq === Seq("id", "label"))
    assert(t2.columnMapping === Map("tag" -> "label"))
  }

  test("DROP COLUMN: metadata-only, scans hide it, time travel too") {
    val root = scratch("drop_basic")
    val t = new ManifestTable(spark, root)
    t.write((1 to 50).map(i => (i.toLong, s"u$i", i * 2.0))
      .toDF("id", "uname", "amt"), "overwrite")
    val filesBefore = t.filesDf().collect().map(_.getString(0)).toSet
    val vBefore = t.latestVersion

    t.dropColumn("amt")

    // metadata only: same files, same version — no rewrite, no commit
    assert(t.filesDf().collect().map(_.getString(0)).toSet === filesBefore)
    assert(t.latestVersion === vBefore)
    assert(t.read().columns.sorted.toSeq === Seq("id", "uname"))
    // sidecars are table-global (the rename semantics): time travel
    // hides it too
    assert(t.read(Some(0)).columns.sorted.toSeq === Seq("id", "uname"))
    // DML over the remaining columns is unaffected
    t.delete(col("id") === 1L)
    assert(t.read().count() === 49)
    // a fresh forRoot instance sees the drop
    assert(ManifestTable.forRoot(spark, root).read().columns.sorted
      .toSeq === Seq("id", "uname"))
  }

  test("DROP COLUMN: writes onto dropped storage refuse; ADD COLUMNS " +
    "re-adds under a fresh physical id — old values never resurrect") {
    val root = scratch("drop_readd")
    val t = new ManifestTable(spark, root)
    t.write((1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "amt"),
      "overwrite")
    t.dropColumn("amt")

    // writing a column named like the dropped storage refuses loudly
    val clash = intercept[IllegalArgumentException] {
      t.write(Seq((21L, 9.9)).toDF("id", "amt"), "append")
    }
    assert(clash.getMessage.contains("dropped columns' physical storage"))

    // re-add mints a fresh physical id: declared NULL for all old rows
    t.addColumns("amt DOUBLE")
    assert(t.read().filter(col("amt").isNotNull).count() === 0,
      "re-added column must read NULL, never the dropped values")
    // and the mapping records a fresh physical name for it
    val phys = t.columnMapping.collectFirst {
      case (p, l) if l == "amt" => p
    }
    assert(phys.exists(p => p != "amt" && p.startsWith("amt_")))

    // writes now land under the fresh physical id and read back
    t.write(Seq((21L, 9.9)).toDF("id", "amt"), "append")
    assert(t.read().filter(col("amt") === 9.9).count() === 1)
    assert(t.read().filter(col("amt").isNotNull).count() === 1)
    // merge through the re-added name too
    t.merge(Seq((21L, 11.0)).toDF("id", "amt"), Seq("id"))
    assert(t.read().filter(col("amt") === 11.0).count() === 1)
  }

  test("DROP COLUMN: a renamed column drops its ORIGINAL physical " +
    "storage; DEFAULT re-add fills old rows with the default") {
    val root = scratch("drop_renamed")
    val t = new ManifestTable(spark, root)
    t.write((1 to 10).map(i => (i.toLong, s"x$i")).toDF("id", "tag"),
      "overwrite")
    t.renameColumn("tag", "label")
    t.dropColumn("label")
    assert(t.read().columns.toSeq === Seq("id"))
    assert(t.droppedColumns === Map("tag" -> "label"))
    assert(t.columnMapping === Map.empty, "the rename entry goes with it")

    // DEFAULT re-add of the same logical name: old rows read the
    // default (existence-default), never the dropped 'tag' values
    t.addColumnWithDefault("label", "STRING", "'unset'")
    assert(t.read().filter(col("label") === "unset").count() === 10)
    t.write(Seq((11L, "fresh")).toDF("id", "label"), "append")
    assert(t.read().filter(col("label") === "fresh").count() === 1)
    assert(t.read().filter(col("label") === "unset").count() === 10)
  }

  test("DROP COLUMN: refusal lattice — partition source, constraint, " +
    "generated, stats column, last column") {
    val root = scratch("drop_refuse")
    val t = new ManifestTable(spark, root, partitionCol = Some("day"),
      statsCol = Some("amt"))
    t.write(Seq((1L, "2024-01-01", 5.0), (2L, "2024-01-02", 6.0))
      .toDF("id", "day", "amt"), "overwrite")
    assert(intercept[IllegalArgumentException](t.dropColumn("day"))
      .getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](t.dropColumn("amt"))
      .getMessage.contains("stats"))
    t.addConstraint("id_pos", "id > 0")
    assert(intercept[IllegalArgumentException](t.dropColumn("id"))
      .getMessage.contains("CHECK constraint"))

    val root2 = scratch("drop_refuse2")
    val t2 = new ManifestTable(spark, root2)
    t2.write(Seq((1L, 2.0)).toDF("id", "v"), "overwrite")
    t2.addGeneratedColumn("v2", "v * 2")
    assert(intercept[IllegalArgumentException](t2.dropColumn("v"))
      .getMessage.contains("generated"))
    assert(intercept[IllegalArgumentException](t2.dropColumn("v2"))
      .getMessage.contains("generated"))
    t2.dropGeneratedColumn("v2")
    t2.dropColumn("v")
    assert(intercept[IllegalArgumentException](t2.dropColumn("id"))
      .getMessage.contains("last visible column"))
    assert(intercept[IllegalArgumentException](t2.dropColumn("nope"))
      .getMessage.contains("no column"))
  }

  test("DROP COLUMN: DV deletes and stats pruning unaffected; rewrites " +
    "physically shed the dropped column") {
    val root = scratch("drop_dv")
    val t = new ManifestTable(spark, root, statsCol = Some("id"))
    t.write((1 to 100).map(i => (i.toLong, s"u$i", i * 2.0))
      .toDF("id", "uname", "amt"), "overwrite")
    t.delete(col("id") % 10 === 0) // DV marks before the drop
    t.dropColumn("amt")
    assert(t.read().count() === 90)
    assert(t.read().filter(col("id") <= 10).count() === 9)
    // a post-drop DV delete still works (positions key on file+index)
    t.delete(col("id") === 1L)
    assert(t.read().count() === 89)
    // compaction rewrites copy only VISIBLE columns — the dropped
    // storage is physically gone from the rewritten files
    t.compact()
    assert(t.read().columns.sorted.toSeq === Seq("id", "uname"))
    assert(t.read().count() === 89)
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(t.filesDf().collect() // filesDf paths are table-relative
        .map(r => s"$root/${r.getString(0)}").toIndexedSeq: _*)
    assert(!raw.columns.contains("amt"),
      "post-compaction files must not carry the dropped storage")
  }
}
