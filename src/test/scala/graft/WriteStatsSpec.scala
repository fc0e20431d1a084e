package graft

import graft.lake.{ManifestTable, MergeInsertClause, MergeUpdateClause}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bloom bitset as one aggregate over bit positions builds it: the
  * reference for the bits write tasks set.
  */
class ReferenceBloomAgg(bits: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      java.lang.Integer, Array[Byte], String] {
  override def zero: Array[Byte] = new Array[Byte]((bits + 7) / 8)
  override def reduce(b: Array[Byte], p: java.lang.Integer): Array[Byte] = {
    if (p != null) b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte
    b
  }
  override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    x.indices.foreach(i => x(i) = (x(i) | y(i)).toByte)
    x
  }
  override def finish(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  override def outputEncoder: org.apache.spark.sql.Encoder[String] =
    org.apache.spark.sql.Encoders.STRING
}

/** Write-time file stats: what the write tasks record for each file
  * equals what one aggregate over the written files computes (the
  * reference here is the read-back the engine ran before the stats
  * moved into the write tasks), and every data write's jobs carry
  * their operation and table as the job description.
  */
class WriteStatsSpec extends SparkTestBase {
  quiet()

  private type Stats = Map[String, (String, String, String)]

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_writestats_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  /** Version `v`'s manifest entries: file name → stat key → (min, max, kind). */
  private def recorded(root: String, v: Int): Map[String, Stats] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val p = new org.apache.hadoop.fs.Path(root, f"_graft_log/v$v%05d.manifest")
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val fields = l.split('\t')
      new org.apache.hadoop.fs.Path(fields(0)).getName -> fields.tail.map { f =>
        val Array(c, rest) = f.split('=')
        val Array(mn, mx, k) = rest.split(':')
        dec(c) -> ((dec(mn), dec(mx), k))
      }.toMap
    }.toMap
  }

  /** The reference stats of `files`: one aggregate grouped by file over
    * the files read back (partition columns from their dirs), each row
    * exploded into its bloom positions; `#n` of a file with no rows
    * from its parquet footer; `#b` from the file system.
    */
  private def reference(root: String, files: Seq[String], statsCols: Seq[String],
      bloomCol: Option[String], bits: Int, hashes: Int): Map[String, Stats] = {
    val sdf = spark.read.option("basePath", s"$root/data").parquet(files: _*)
    val present = statsCols.filter(sdf.columns.contains)
    val bloom = bloomCol.filter(sdf.columns.contains)
    def kind(c: String) = sdf.schema(c).dataType match {
      case _: NumericType => "N"
      case _ => "S"
    }
    def positions(c: Column): Column = {
      val s = c.cast("string")
      val m = lit(bits.toLong)
      val h1 = pmod(xxhash64(s), m)
      val h2 = pmod(xxhash64(lit("graft_bloom"), s), m)
      transform(sequence(lit(0), lit(hashes - 1)),
        i => pmod(h1 + i.cast("long") * h2, m).cast("int"))
    }
    val rows = bloom match {
      case Some(b) => sdf.withColumn("_f", input_file_name())
        .select(col("*"), posexplode_outer(positions(col(b))).as(Seq("_bi", "_bp")))
      case None => sdf.withColumn("_f", input_file_name())
        .withColumn("_bi", lit(0)).withColumn("_bp", lit(null).cast("int"))
    }
    val packBits = udaf(new ReferenceBloomAgg(bits), org.apache.spark.sql.Encoders.INT)
    val aggs = present.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"mn_$c"), max(col(c)).cast("string").as(s"mx_$c"))) ++
      Seq(count(when(col("_bi").isNull || col("_bi") === 0, 1)).as("_cnt")) ++
      bloom.map(_ => packBits(col("_bp")).as("_bloom"))
    val grouped = rows.groupBy(col("_f")).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val zone = present.flatMap { c =>
          (Option(r.getAs[String](s"mn_$c")), Option(r.getAs[String](s"mx_$c"))) match {
            case (Some(mn), Some(mx)) => Some(c -> ((mn, mx, kind(c))))
            case _ => None
          }
        }
        val n = r.getAs[Long]("_cnt").toString
        new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
          (zone.toMap + ("#n" -> ((n, n, "C"))) ++ bloom.map(b =>
            s"$b#bloom" -> ((r.getAs[String]("_bloom"), s"$bits,$hashes", "B"))))
      }.toMap
    files.map { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val name = path.getName
      // `#b` is the file's real length: readers seek to its footer by it
      val len = path.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(path).getLen.toString
      name -> (grouped.getOrElse(name, {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try r.getRecordCount.toString finally r.close()
        Map("#n" -> ((n, n, "C")))
      }) + ("#b" -> ((len, len, "L"))))
    }.toMap
  }

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DecimalType(10, 2)), StructField("x", DoubleType),
    StructField("s", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("none", LongType),
    StructField("p", StringType)))
  private val statsCols = Seq("l", "i", "d", "x", "s", "dt", "ts", "none", "p")

  /** `n` seeded rows: every column takes nulls, `x` takes NaN and both
    * zeros, `s` non-ASCII text, `none` only nulls, and `p` (the
    * partition column) 20 values — more than a write's 8 tasks, so
    * some task writes one file name into several partition dirs.
    */
  private def rows(seed: Long, n: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    def maybe[T](v: => T): Any = if (rng.nextInt(8) == 0) null else v
    val words = IndexedSeq("a", "é", "日本", "Zz", "ß", "", "🙂x")
    val data = (0 until n).map { _ =>
      Row(maybe(rng.nextLong()), maybe(rng.nextInt(2000) - 1000),
        maybe(new java.math.BigDecimal(BigInt(rng.nextInt(1000000)).bigInteger, 2)),
        maybe(IndexedSeq(Double.NaN, 0.0, -0.0, rng.nextGaussian(),
          Double.PositiveInfinity)(rng.nextInt(5))),
        maybe(words(rng.nextInt(words.size)) + rng.nextInt(50)),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rng.nextInt(40000)))),
        maybe(new java.sql.Timestamp(math.abs(rng.nextLong() % 4000000000000L))),
        null,
        maybe(s"p${rng.nextInt(20)}"))
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def check(root: String, mt: ManifestTable, df: DataFrame,
      bloomCol: String): Unit = {
    mt.write(df, "overwrite")
    val files = mt.filesOf(0)
    val want = reference(root, files, statsCols, Some(bloomCol), 1 << 12, 3)
    // `#rid` is the commit's row-id stamp, not a write stat
    val got = recorded(root, 0).map { case (f, st) => f -> (st - "#rid") }
    assert(got.keySet === want.keySet)
    want.foreach { case (f, w) =>
      assert(got(f) === w, s"file $f")
    }
  }

  test("write-task stats equal the reference aggregate over the written files") {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    // timestamps render in the writer's session time zone
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      Seq(11L, 12L, 13L).foreach { seed =>
        val part = scratch(s"part_$seed")
        check(part, new ManifestTable(spark, part, statsCols = statsCols,
          bloomCol = Some("s"), bloomBits = 1 << 12, bloomHashes = 3,
          partitionCols = Seq("p")), rows(seed, 400), "s")
        assert(recorded(part, 0).values.count(_.contains("p")) === 20,
          "the partition column is zone-mapped in every non-null partition")
        val flat = scratch(s"flat_$seed")
        check(flat, new ManifestTable(spark, flat, statsCols = statsCols,
          bloomCol = Some("l"), bloomBits = 1 << 12, bloomHashes = 3),
          rows(seed, 400).repartition(3), "l")
      }
      // -0.0 and 0.0 tie: min and max keep the first one written
      val zeros = scratch("zeros")
      check(zeros, new ManifestTable(spark, zeros, statsCols = statsCols,
        bloomCol = Some("x"), bloomBits = 1 << 12, bloomHashes = 3),
        rows(21, 50).coalesce(1).withColumn("x",
          when(col("i") % 2 === 0, lit(-0.0)).otherwise(lit(0.0))), "x")
      // an empty write: one zero-row file, `#n` = 0 and its length
      val empty = scratch("empty")
      check(empty, new ManifestTable(spark, empty, statsCols = statsCols,
        bloomCol = Some("s"), bloomBits = 1 << 12, bloomHashes = 3),
        rows(1, 0), "s")
      assert(recorded(empty, 0).values.map(_ - "#rid" - "#b").toSeq ===
        Seq(Map("#n" -> (("0", "0", "C")))))
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("metadataRowCount is exact on a table with no stats columns") {
    import spark.implicits._
    val root = scratch("count")
    val mt = new ManifestTable(spark, root, partitionCol = Some("k"))
    mt.write((0 until 500).map(i => (i.toLong, i % 7)).toDF("id", "k"), "overwrite")
    mt.write((500 until 530).map(i => (i.toLong, i % 3)).toDF("id", "k"), "append")
    mt.write(Seq.empty[(Long, Int)].toDF("id", "k"), "append")
    mt.delete(col("id") < 40)
    assert(mt.metadataRowCount() === Some(490L))
    assert(mt.read().count() === 490L)
  }

  test("a data write's jobs are described by its operation and table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val root = scratch("labels")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val mt = new ManifestTable(spark, root)
    mt.write((0 until 50).map(i => (i.toLong, i)).toDF("id", "v"), "overwrite")
    spark.sparkContext.addSparkListener(listener)
    try {
      mt.write((50 until 60).map(i => (i.toLong, i)).toDF("id", "v"), "append")
      // mergeInto writes its inserts from a commit-pool thread
      val src = (55 until 70).map(i => (i.toLong, -i)).toDF("sid", "sv")
      mt.mergeInto(src, col("id") === col("sid"),
        matched = Seq(MergeUpdateClause(None, Map("v" -> col("sv")))),
        notMatched = Seq(MergeInsertClause(None, Map("id" -> col("sid"), "v" -> col("sv")))))
      mt.compact(1)
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val labels = seen.asScala.toSet
    Seq("append", "mergeInto", "compact").foreach { op =>
      assert(labels.contains(s"graft $op $root"), s"$op: $labels")
    }
    assert(spark.sparkContext.getLocalProperty("spark.job.description") === null,
      "the caller's description is restored")
  }
}
