package graft

import graft.lake.ManifestTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The one predicate-to-file-skipping path: skip counts for `=`,
  * ranges, `IN` and `IS NULL` through SQL over a catalog name and the
  * Scala API, stats edge cases that must never skip a matching file,
  * and a property that a pruned read always equals the unpruned one.
  */
class FileSkippingSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_skip_$name"
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("a numeric zone-map bound that does not parse never skips its file") {
    val mt = new ManifestTable(spark, scratch("inf"), statsCols = Seq("x"))
    // min "-Infinity": as a string it sorts above "-5"
    mt.write(Seq(Double.NegativeInfinity, -10.0).toDF("x").coalesce(1), "overwrite")
    mt.write(Seq(1.0, 2.0).toDF("x").coalesce(1), "append")
    assert(mt.readRangesBy("x", Seq(("-20", "-5"))).as[Double].collect().toSeq ===
      Seq(-10.0))
    assert(mt.filesFor(col("x").between(-20.0, -5.0)).size === 1)
  }

  test("string zone maps compare in UTF-8 byte order, as Spark recorded them") {
    // U+FF5E sorts below U+1F600 in UTF-8 but above its UTF-16
    // surrogates, so the file records min "～", max "😀"
    val mt = new ManifestTable(spark, scratch("utf8"), statsCols = Seq("s"))
    mt.write(Seq("～", "😀").toDF("s").coalesce(1), "overwrite")
    mt.write(Seq("a", "b").toDF("s").coalesce(1), "append")
    assert(mt.readRangesBy("s", Seq(("～", "～"))).as[String].collect().toSeq ===
      Seq("～"))
    assert(mt.filesFor(col("s") === "～").size === 1)
    mt.deleteKeys("s", Seq("～"))
    assert(mt.read().as[String].collect().toSet === Set("😀", "a", "b"))
  }

  test("hit and miss lookups both return read()'s schema") {
    val mt = new ManifestTable(spark, scratch("schema"),
      statsCols = Seq("k"), bloomCol = Some("k"))
    mt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), "overwrite")
    mt.write(Seq((10L, "c")).toDF("k", "v").coalesce(1), "append")
    mt.addColumnWithDefault("note", "STRING", "'n/a'")
    mt.addIdentityColumn("row_no")
    val full = mt.read()
    val reads = Seq(
      "readEq hit" -> mt.readEq("k", "1"),
      "readEq miss" -> mt.readEq("k", "99"),
      "readRangesBy hit" -> mt.readRangesBy("k", Seq(("1", "1"))),
      "readRangesBy miss" -> mt.readRangesBy("k", Seq(("50", "60"))),
      "read(where) hit" -> mt.read(where = col("k") === 1L),
      "read(where) miss" -> mt.read(where = col("k") === 99L))
    reads.foreach { case (what, d) => assert(d.schema === full.schema, what) }
    assert(sorted(mt.readEq("k", "1").collect()) ===
      sorted(full.filter(col("k") === 1L).collect()))
  }

  // ---- skip counts: `=`, range, IN, IS NULL ------------------------ //

  private val lakeRoot = scratch("cat")

  /** 8 files range-clustered on k (0..799), a nullable n. */
  private lazy val clustered: ManifestTable = {
    val mt = new ManifestTable(spark, s"$lakeRoot/ns/t", statsCols = Seq("k", "n"))
    mt.write(spark.range(800).select(col("id").as("k"),
        when(col("id") % 10 =!= 0, col("id") * 2).as("n"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"), "overwrite")
    assert(mt.filesOf(0).size === 8)
    mt
  }

  private val shapes: Seq[(String, String, Column)] = Seq(
    ("=", "k = 250", col("k") === 250L),
    ("range", "k BETWEEN 250 AND 260", col("k").between(250L, 260L)),
    ("IN", "k IN (5, 250, 700)", col("k").isin(5L, 250L, 700L)),
    ("IS NULL", "n IS NULL", col("n").isNull))

  /** Files holding a matching row: on dense clustered keys, exactly
    * the files zone maps can keep. */
  private def holders(c: Column): Long =
    clustered.read().filter(c).select(input_file_name()).distinct().count()

  test("Scala API: skip counts for =, range, IN and IS NULL") {
    val all = clustered.filesOf(0).size
    shapes.foreach { case (shape, _, c) =>
      val kept = clustered.filesFor(c).size
      if (shape == "IS NULL") assert(kept === all, shape) // never prunes
      else assert(kept === holders(c) && kept < all, s"$shape kept $kept of $all")
      assert(sorted(clustered.read(where = c).collect()) ===
        sorted(clustered.read().filter(c).collect()), shape)
    }
  }

  test("SQL over a catalog name scans only the files the kernel keeps") {
    spark.conf.set("spark.sql.catalog.skipcat", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.skipcat.root", lakeRoot)
    val all = clustered.filesOf(0)
    shapes.foreach { case (shape, sql, c) =>
      val want = sorted(clustered.read().filter(c).collect())
      val skipped = all.diff(clustered.filesFor(c))
      if (shape == "IS NULL") assert(skipped.isEmpty, shape)
      else assert(skipped.size === all.size - holders(c), shape)
      // overwrite every skipped file with garbage: opening one fails
      // the query, so a correct answer proves the scan skipped them
      val moved = skipped.map { f =>
        val p = java.nio.file.Paths.get(new Path(f).toUri.getPath)
        val bak = p.resolveSibling(p.getFileName.toString + ".bak")
        java.nio.file.Files.move(p, bak)
        java.nio.file.Files.write(p, "not parquet".getBytes("UTF-8"))
        (p, bak)
      }
      try {
        val got = spark.sql(s"SELECT * FROM skipcat.ns.t WHERE $sql").collect()
        assert(sorted(got) === want, shape)
      } finally moved.foreach { case (p, bak) =>
        java.nio.file.Files.move(bak, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  // ---- property: pruning never changes a result -------------------- //

  private val strs = Seq("a", "b", "m", "z", "é", "ß", "～", "😀", "日本", "")

  /** Zone maps on k, s and x (x renamed to xv after writing), a bloom
    * on s, a truncate(50, k) partition transform, non-ASCII strings,
    * NaN/±Infinity doubles, NULLs, and deletion vectors.
    */
  private lazy val mixed: ManifestTable = {
    val mt = new ManifestTable(spark, scratch("prop"), statsCols = Seq("k", "s", "x"),
      bloomCol = Some("s"), partitionSpec = Seq("truncate(50,k)"))
    def batch(lo: Int, hi: Int) = (lo until hi).map { i =>
      val x: java.lang.Double = i % 17 match {
        case 0 => null
        case 1 => Double.NaN
        case 2 => Double.PositiveInfinity
        case 3 => Double.NegativeInfinity
        case _ => (i - 100) * 1.25
      }
      (i.toLong, if (i % 13 == 0) null else strs(i % strs.size), x)
    }.toDF("k", "s", "x")
    mt.write(batch(0, 120).repartition(3), "overwrite")
    mt.write(batch(120, 200), "append")
    mt.delete(col("k") % 7 === 3)
    mt.renameColumn("x", "xv")
    mt
  }

  private val predGen: Gen[Column] = {
    val kLit = Gen.choose(-10L, 210L)
    val sLit = Gen.oneOf(strs :+ "zz")
    val xLit = Gen.oneOf(-200.0, -5.5, 0.0, 3.75, 60.0, 1e9,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val colLit: Gen[(String, Gen[Any])] =
      Gen.oneOf(("k", kLit), ("s", sLit), ("xv", xLit))
    val atom: Gen[Column] = colLit.flatMap { case (c, v) =>
      Gen.oneOf(
        v.map(col(c) === _),
        v.map(col(c) > _), v.map(col(c) >= _),
        v.map(col(c) < _), v.map(col(c) <= _),
        Gen.zip(v, v).map { case (a, b) => col(c).between(a, b) },
        Gen.listOfN(3, v).map(vs => col(c).isin(vs: _*)),
        Gen.const(col(c).isNull))
    }
    def pred(depth: Int): Gen[Column] =
      if (depth == 0) atom
      else Gen.frequency(
        2 -> atom,
        1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a && b },
        1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a || b },
        1 -> pred(depth - 1).map(not))
    pred(2)
  }

  test("property: a pruned read equals the unpruned read for random predicates") {
    val full = mixed.read()
    val all = mixed.filesOf(mixed.latestVersion.get).size
    var pruned = 0
    (1 to 30).foreach { i =>
      val p = predGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      assert(sorted(mixed.read(where = p).collect()) === sorted(full.filter(p).collect()),
        s"seed $i: $p")
      if (mixed.filesFor(p).size < all) pruned += 1
    }
    // not vacuous: a fair share of the predicates did skip files
    assert(pruned >= 5, s"only $pruned of 30 predicates skipped any file")
  }
}
