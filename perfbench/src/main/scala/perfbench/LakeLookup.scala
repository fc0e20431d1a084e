package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.lake.ManifestTable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `lake_lookup`: selective reads of a `ManifestTable` of `lineitem`,
  * clustered on `l_orderkey` into 8 files, plus three appended versions.
  * Each cycle issues a point `=`, a short `BETWEEN` and a small `IN`
  * predicate through each of three surfaces: SQL over a `GraftCatalog`
  * name (a new table handle per query), `read().filter` on a held handle,
  * and the specialised `readEq` / `readRangesBy`. Every result is checked
  * after the loop against the same predicate over the plain source
  * parquet, without skipping.
  */
object LakeLookup {
  val Surfaces = Seq("sql", "filter", "pruned")
  val Shapes = Seq("eq", "between", "in")
  private val K = "l_orderkey"

  /** A predicate as the key intervals it selects. */
  final case class Pred(shape: String, ranges: Seq[(Long, Long)]) {
    def sql: String = shape match {
      case "eq" => s"$K = ${ranges.head._1}"
      case "between" => s"$K BETWEEN ${ranges.head._1} AND ${ranges.head._2}"
      case "in" => ranges.map(_._1).mkString(s"$K IN (", ", ", ")")
    }
    def column: Column = shape match {
      case "eq" => col(K) === ranges.head._1
      case "between" => col(K).between(ranges.head._1, ranges.head._2)
      case "in" => col(K).isin(ranges.map(_._1): _*)
    }
    def keys: Seq[Long] = ranges.flatMap { case (lo, hi) => lo to hi }.distinct
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val rng = new scala.util.Random(h.seed)
    val source = spark.read.parquet(h.table("lineitem"))
    val schema = source.schema
    val cols = schema.fieldNames.toSeq
    val maxKey = source.agg(max(K)).first().getLong(0)

    // three appended batches of new orders' lines, kept as plain parquet too
    val plainDir = s"${h.workDir}/lookup/plain"
    val appendKeys = 300
    (0 until 3).foreach { b =>
      val rows = (0 until 600).map { i =>
        val key = maxKey + 1 + b * (appendKeys / 3) + rng.nextInt(appendKeys / 3)
        Row(key, rng.nextInt(20000).toLong, rng.nextInt(1000).toLong, i % 7 + 1,
          (1 + rng.nextInt(50)).toDouble, (90000 + rng.nextInt(9910000)) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)),
          Seq("F", "O")(rng.nextInt(2)), java.time.LocalDateTime.of(2001, 1, 1, 0, 0)
            .plusDays(rng.nextInt(300).toLong))
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$plainDir/batch$b")
    }
    val keySpace = maxKey + 1 + appendKeys
    h.phase("batches")

    def build(catalog: String, rows: DataFrame): ManifestTable = {
      spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sql.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$catalog.root", s"${h.workDir}/lookup/$catalog")
      val t = new ManifestTable(spark, s"${h.workDir}/lookup/$catalog/bench/lineitem",
        statsCols = Seq(K), bloomCol = Some(K))
      t.write(rows.repartitionByRange(8, col(K)).sortWithinPartitions(K), "overwrite")
      (0 until 3).foreach(b =>
        t.write(spark.read.parquet(s"$plainDir/batch$b"), "append"))
      t
    }
    def pred(shape: String): Pred = {
      def key = (rng.nextDouble() * keySpace).toLong
      shape match {
        case "eq" => val k = key; Pred(shape, Seq(k -> k))
        case "between" => val lo = key; Pred(shape, Seq(lo -> (lo + 19)))
        case "in" => Pred(shape, Seq.fill(5)(key).distinct.sorted.map(k => k -> k))
      }
    }
    val results = ArrayBuffer.empty[(Int, Pred, (Long, BigInt))]
    /** One lookup of each shape through each surface; results of
      * `checked` cycles are checked after the loop.
      */
    def cycle(catalog: String, mt: ManifestTable, checked: Boolean): Unit =
      for (shape <- Shapes; surface <- Surfaces) {
        val p = pred(shape)
        val rows = h.op(p.shape, "read", surface) {
          val d = surface match {
            case "sql" =>
              val q = s"SELECT * FROM $catalog.bench.lineitem WHERE ${p.sql}"
              val df = h.call("sql", "analyze")(spark.sql(q))
              h.call("sql", "plan")(df.queryExecution.executedPlan)
              df
            case "filter" => h.call("lake", "read_build")(mt.read().filter(p.column))
            case "pruned" => h.call("lake", "read_build")(p.shape match {
              case "eq" => mt.readEq(K, p.ranges.head._1.toString)
              case _ => mt.readRangesBy(K, p.ranges.map { case (a, b) => (a.toString, b.toString) })
            })
          }
          h.call(if (surface == "sql") "sql" else "spark",
            if (surface == "sql") "exec" else "collect")(d.collect())
        }
        h.returned(rows.length)
        if (checked) results += ((results.size, p, RowHash.digest(rows, schema, cols)))
      }

    val (catalog, mt) = h.setup(4) { r => (s"lake$r", build(s"lake$r", source)) }
    h.extra("files_live") = mt.filesOf(mt.latestVersion.get).size
    // lookups are short, so the JIT needs a few cycles to settle
    (0 until 3).foreach(_ => cycle(catalog, mt, checked = false))
    h.phase("warm-up")
    h.loop(cycleSeconds = 1.25, traceCycles = 8) { _ => cycle(catalog, mt, checked = true) }

    // every result against the same predicate over the plain parquet
    import spark.implicits._
    val wanted = results.toSeq.flatMap { case (i, p, _) => p.keys.map(k => (i, k)) }
      .toDF("q", K)
    val plain = spark.read.parquet(h.table("lineitem") +:
      (0 until 3).map(b => s"$plainDir/batch$b"): _*)
    val expect = wanted.join(plain, K).groupBy("q")
      .agg(count(lit(1)), RowHash.sumExpr(cols)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))).toMap
    results.foreach { case (i, p, got) =>
      val want = expect.getOrElse(i, (0L, BigInt(0)))
      h.check(got == want, s"lookup $i (${p.sql}) returned ${got._1} rows, want ${want._1}")
    }
    h.extra("results_checked") = results.size
  }
}
