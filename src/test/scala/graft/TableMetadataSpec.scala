package graft

import graft.lake.{ManifestTable, TableMetadata}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The write-once table metadata record: concurrent updates all land,
  * a crash's stranded temp file is inert until vacuum sweeps it, and
  * the text codec round-trips every record.
  */
class TableMetadataSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_meta_$name"
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def logOf(root: String) = new Path(root, "_graft_log")
  private def fsOf(root: String) =
    logOf(root).getFileSystem(spark.sessionState.newHadoopConf())
  private def records(root: String): Seq[Path] =
    fsOf(root).listStatus(logOf(root)).map(_.getPath).toSeq
      .filter(_.getName.matches("m\\d+\\.metadata")).sortBy(_.getName)

  private val base = Seq((1L, "a", 1, 2), (2L, "b", 3, 4)).toDF("k", "v", "a", "b")

  test("concurrent updates from two instances on one root all land") {
    (1 to 2).foreach { round =>
      val root = scratch(s"race$round")
      new ManifestTable(spark, root).write(base, "overwrite")
      val handles = Seq(new ManifestTable(spark, root), ManifestTable.forRoot(spark, root))
      val ops: Seq[ManifestTable => Unit] = Seq(
        _.addConstraint("c_k", "k >= 0"),
        _.declareSchema(new StructType().add("y1", LongType)),
        _.addColumns("x1 INT"),
        _.addGeneratedColumn("g1", "k * 2"),
        _.declareSchema(new StructType().add("y2", StringType)),
        _.addColumns("x2 STRING"),
        _.addIdentityColumn("id1", 10L, 2L),
        _.declareSchema(new StructType().add("y3", DoubleType)),
        _.addColumns("x3 DOUBLE"),
        _.renameColumn("v", "v2"),
        _.addConstraint("c_a", "a >= 0"),
        _.enableCdc(),
        _.addGeneratedColumn("g2", "a + 1"),
        _.declareSchema(new StructType().add("y4", IntegerType)))
      val start = new java.util.concurrent.CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          start.await()
          ops.indices.filter(_ % 4 == t).foreach { i =>
            try ops(i)(handles(i % 2))
            catch { case e: Throwable => errors.add(e): Unit }
          }
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString("; ")}")
      val after = new ManifestTable(spark, root)
      assert(after.constraints === Map("c_k" -> "k >= 0", "c_a" -> "a >= 0"))
      assert(after.generatedColumns === Map("g1" -> "k * 2", "g2" -> "a + 1"))
      assert(after.declaredColumns.fieldNames.toSet ===
        Set("x1", "x2", "x3", "y1", "y2", "y3", "y4"), s"round $round")
      assert(after.identityColumns === Map("id1" -> (10L, 2L)))
      assert(after.columnMapping === Map("v" -> "v2"))
      assert(after.cdcEnabled)
      assert(after.read().columns.toSet ===
        Set("k", "v2", "a", "b", "x1", "x2", "x3", "y1", "y2", "y3", "y4", "id1"))
    }
  }

  test("a stranded temp record is inert; vacuum sweeps it and superseded records") {
    val root = scratch("crash")
    val mt = new ManifestTable(spark, root)
    mt.write(base, "overwrite") // record 0: the layout
    mt.addConstraint("c1", "k >= 0") // record 1
    assert(records(root).size === 2)
    // a writer that died between writing its temp record and the rename
    val fs = fsOf(root)
    val stranded = new Path(logOf(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(stranded, false)
    try out.write(TableMetadata.encode(TableMetadata(
      constraints = Map("bogus" -> "k < 0"), cdcEnabled = true)).getBytes("UTF-8"))
    finally out.close()
    assert(mt.constraints === Map("c1" -> "k >= 0") && !mt.cdcEnabled)
    assert(mt.read().count() === 2L)
    mt.addGeneratedColumn("g", "k + 1") // record 2, over record 1 only
    assert(mt.constraints === Map("c1" -> "k >= 0"))
    assert(mt.generatedColumns === Map("g" -> "k + 1") && !mt.cdcEnabled)
    val Seq(r0, r1, r2) = records(root)
    // record 0 was superseded long ago, record 1 only just (its
    // successor is younger than the horizon); the temp file is young
    val now = System.currentTimeMillis()
    Seq(r0 -> 120000L, r1 -> 90000L, r2 -> 10000L, stranded -> 5000L)
      .foreach { case (p, age) => fs.setTimes(p, now - age, -1) }
    def names(deleted: Seq[String]) = deleted.map(new Path(_).getName).toSet
    val horizon = names(mt.vacuum(minAgeMs = 30000L))
    assert(horizon.contains(r0.getName))
    assert(!horizon.contains(r1.getName) && !horizon.contains(stranded.getName))
    assert(records(root) === Seq(r1, r2))
    val dry = names(mt.vacuum(dryRun = true, minAgeMs = 0))
    assert(dry.contains(r1.getName) && dry.contains(stranded.getName))
    assert(!dry.contains(r2.getName))
    assert(records(root) === Seq(r1, r2) && fs.exists(stranded), "dryRun deletes nothing")
    val swept = names(mt.vacuum(minAgeMs = 0))
    assert(swept.contains(r1.getName) && swept.contains(stranded.getName))
    assert(records(root) === Seq(r2) && !fs.exists(stranded))
    val fresh = ManifestTable.forRoot(spark, root)
    assert(fresh.constraints === Map("c1" -> "k >= 0"))
    assert(fresh.generatedColumns === Map("g" -> "k + 1"))
    assert(fresh.read().count() === 2L)
  }

  test("dropColumn and a re-add each publish one record") {
    val root = scratch("drop")
    val mt = new ManifestTable(spark, root)
    mt.write(base, "overwrite")
    mt.renameColumn("b", "b2")
    mt.deprecateColumns(Seq("b2"))
    val n = records(root).size
    // hide the storage, forget the rename, drop the declared marker
    mt.dropColumn("b2")
    assert(records(root).size === n + 1)
    assert(mt.droppedColumns === Map("b" -> "b2"))
    assert(mt.columnMapping.isEmpty && mt.declaredColumns.isEmpty)
    mt.dropColumn("a")
    // re-add: the declared column and its fresh physical id together
    mt.addColumns("a INT")
    assert(records(root).size === n + 3)
    assert(mt.columnMapping.values.toSeq === Seq("a"))
    assert(mt.declaredColumns.fieldNames.toSeq === Seq("a"))
    assert(mt.read().collect().map(r => (r.getLong(0), r.isNullAt(2))).toSeq.sorted ===
      Seq((1L, true), (2L, true)))
  }

  test("property: the record codec round-trips") {
    val chars = Gen.oneOf("a", "Z", "_", " ", "+", "\t", "\n", "=", "%", ",",
      ":", "#", "\"", "\\", "é", "日", "𐀀")
    val str = Gen.listOf(chars).map(_.mkString)
    val sql = Gen.oneOf(str, Gen.const("k >= 0 AND s <> 'a\tb'"),
      Gen.const("concat(s, '%2C=,')"))
    val strMap = Gen.mapOf(Gen.zip(str, sql))
    val field = for {
      name <- str
      dt <- Gen.oneOf[DataType](LongType, StringType, DoubleType,
        DecimalType(10, 2), DateType, ArrayType(StringType))
      default <- Gen.option(sql)
      deprecated <- Gen.oneOf(true, false)
    } yield {
      val md = new MetadataBuilder()
      default.foreach(md.putString("default", _)) // a column DEFAULT
      if (deprecated) md.putBoolean("deprecated", true)
      StructField(name, dt, nullable = true, md.build())
    }
    val declared = Gen.choose(0, 3).flatMap(Gen.listOfN(_, field))
      .map(fs => StructType(fs.groupBy(_.name).values.map(_.head).toSeq))
    val config = for {
      idCols <- Gen.listOf(str)
      spec <- Gen.listOf(Gen.oneOf(Gen.const("days(ts)"),
        Gen.const("bucket(16, id)"), Gen.const("truncate(4, c)"), str))
      stats <- Gen.listOf(str)
      bloom <- Gen.option(str)
      bits <- Gen.choose(8, 1 << 20)
      hashes <- Gen.choose(1, 12)
    } yield TableMetadata.Config(idCols, spec, stats, bloom, bits, hashes)
    val record = for {
      cfg <- Gen.option(config)
      cons <- strMap
      mapping <- Gen.mapOf(Gen.zip(str, str))
      dropped <- Gen.mapOf(Gen.zip(str, str))
      gen <- strMap
      decl <- declared
      ids <- Gen.mapOf(Gen.zip(str, Gen.zip(Gen.long, Gen.long)))
      cdc <- Gen.oneOf(true, false)
    } yield TableMetadata(cfg, cons, mapping, dropped, gen, decl, ids, cdc)
    assert(TableMetadata.decode(TableMetadata.encode(TableMetadata.Empty)) ===
      TableMetadata.Empty)
    (1 to 300).foreach { i =>
      val m = record.pureApply(Gen.Parameters.default.withSize(6), Seed(i.toLong))
      assert(TableMetadata.decode(TableMetadata.encode(m)) === m, s"seed $i: $m")
    }
  }
}
