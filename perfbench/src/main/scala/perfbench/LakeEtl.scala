package perfbench

import scala.collection.mutable

import graft.lake.{ManifestTable, MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lake_etl`: small commits beside reads on one CDC-enabled
  * `ManifestTable` of `orders`, identity-partitioned on
  * `o_orderpriority`. Each step commits one seeded batch, then one
  * consumer op reads a latest-snapshot aggregate and pulls the commit's
  * change feed, as a downstream consumer would. An in-memory model of the table, built from
  * the same parquet and batches, checks every read, every change pull and
  * the final snapshot.
  */
object LakeEtl {
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Steps = Seq("append", "merge", "mergeInto", "delete", "updateWhere",
    "append", "compact")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Seq("F", "O", "P")
  private val Key = Seq("o_orderkey")

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      date: Any, prio: String) {
    def values: Seq[Any] = Seq(key, cust, status, price, date, prio)
  }

  /** Live rows by key, with running digests: whole table (count, hash
    * sum) and per priority (count, exact money sum).
    */
  final class Model(types: Seq[DataType]) {
    val rows = mutable.HashMap.empty[Long, Order]
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    var count = 0L
    var hashSum = BigInt(0)
    val byPrio = mutable.HashMap.empty[String, (Long, BigDecimal)]
      .withDefaultValue((0L, BigDecimal(0)))
    var nextKey = 0L

    private def money(d: Double) =
      BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def hash(o: Order): Long = RowHash.hash(o.values, types)

    def put(o: Order): Unit = {
      rows.get(o.key).foreach(remove)
      rows(o.key) = o
      pos(o.key) = keys.size
      keys += o.key
      count += 1
      hashSum += hash(o)
      val (n, s) = byPrio(o.prio)
      byPrio(o.prio) = (n + 1, s + money(o.price))
      nextKey = math.max(nextKey, o.key + 1)
    }
    def remove(o: Order): Unit = {
      rows.remove(o.key)
      val p = pos.remove(o.key).get
      val last = keys.remove(keys.size - 1)
      if (last != o.key) { keys(p) = last; pos(last) = p }
      count -= 1
      hashSum -= hash(o)
      val (n, s) = byPrio(o.prio)
      byPrio(o.prio) = (n - 1, s - money(o.price))
    }
    def randomLive(rng: scala.util.Random): Order = rows(keys(rng.nextInt(keys.size)))
    def liveIn(lo: Long, hi: Long): Seq[Order] = (lo to hi).flatMap(rows.get)
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val base = spark.read.parquet(h.table("orders")).select(Cols.map(col): _*)
    val rng = new scala.util.Random(h.seed)
    def table(root: String, rows: DataFrame): ManifestTable = {
      val t = new ManifestTable(spark, root,
        partitionCols = Seq("o_orderpriority"), statsCols = Seq("o_orderkey"))
      t.enableCdc()
      t.write(rows, "overwrite")
      t
    }

    // warm-up: one cycle on a throwaway table of a twentieth of the rows
    val few = base.filter(col("o_orderkey") % 20 === 0)
    val warm = new Pipeline(h, table(s"${h.workDir}/etl/warm/orders", few),
      modelOf(few), base.schema, rng)
    h.phase("warm table")
    Steps.foreach(warm.step)
    h.phase("warm-up")

    val (mt, root) = h.setup(5) { r =>
      val root = s"${h.workDir}/etl/rep$r/orders"
      (table(root, base), root)
    }
    val p = new Pipeline(h, mt, modelOf(base), base.schema, rng)
    h.phase("model")
    h.loop(cycleSeconds = 10, traceCycles = 2) { _ => Steps.foreach(p.step) }
    val model = p.model

    // final snapshot against the model, by count and hash
    val fin = mt.read().agg(count(lit(1)), RowHash.sumExpr(Cols)).first()
    h.check(fin.getLong(0) == model.count &&
      BigInt(fin.getDecimal(1).toBigInteger) == model.hashSum,
      s"final snapshot ${fin.getLong(0)} rows != model ${model.count}")
    val plain = s"${h.workDir}/etl/plain"
    mt.read().coalesce(1).write.parquet(plain)
    h.extra("space_amp") = Main.bytesUnder(root).toDouble / Main.bytesUnder(plain)
    h.extra("files_live") = mt.filesOf(p.version).size
    h.extra("versions") = mt.versions.size
    h.extra("plain_bytes_per_row") = Main.bytesUnder(plain).toDouble / model.count
  }

  /** A model of the rows of `rows`. */
  def modelOf(rows: DataFrame): Model = {
    val m = new Model(rows.schema.map(_.dataType))
    rows.collect().foreach { r =>
      m.put(Order(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.get(4), r.getString(5)))
    }
    m
  }

  /** One pipeline: seeded commits to one table, each followed by a
    * consumer op whose reads are checked against `model`.
    */
  final class Pipeline(h: Harness, mt: ManifestTable, val model: Model,
      schema: StructType, rng: scala.util.Random) {
    private val spark = h.spark
    var version = mt.latestVersion.get

    def df(rows: Seq[Row], st: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
    def newOrder(prio: String): Order = {
      val like = model.randomLive(rng)
      Order(model.nextKey, rng.nextInt(15000).toLong, Statuses(rng.nextInt(3)),
        (100000 + rng.nextInt(49900000)) / 100.0, like.date, prio)
    }
    def repriced(o: Order): Order =
      o.copy(price = (math.round(o.price * 100) + 1 + rng.nextInt(5000)) / 100.0,
        status = Statuses(rng.nextInt(3)))
    /** Distinct live orders, optionally of one priority. */
    def pick(n: Int, prio: Option[String] = None): Seq[Order] = {
      val got = mutable.LinkedHashMap.empty[Long, Order]
      while (got.size < n) {
        val o = model.randomLive(rng)
        if (prio.forall(_ == o.prio)) got(o.key) = o
      }
      got.values.toSeq
    }
    def fresh(n: Int, prio: => String): Seq[Order] = (0 until n).map { _ =>
      val o = newOrder(prio); model.nextKey += 1; o
    }

    /** One step: a commit of `kind`, then the consumer's op. */
    def step(kind: String): Unit = {
      val before = (model.count, model.hashSum)
      val (commitFn, apply, userRows): (() => Int, () => Unit, Int) = kind match {
        case "append" =>
          val os = fresh(1000, Priorities(rng.nextInt(5)))
          val d = df(os.map(o => Row(o.values: _*)), schema)
          (() => h.call("lake", "write")(mt.write(d, "append")), () => os.foreach(model.put),
            os.size)
        case "merge" =>
          val p = Priorities(rng.nextInt(5))
          val olds = pick(275, Some(p))
          val ups = olds.take(250).map(repriced)
          val dels = olds.drop(250)
          val ins = fresh(25, p)
          val st = schema.add("_delete", BooleanType)
          val d = df(ups.map(o => Row(o.values :+ false: _*)) ++
            dels.map(o => Row(o.values :+ true: _*)) ++
            ins.map(o => Row(o.values :+ false: _*)), st)
          (() => h.call("lake", "merge")(mt.merge(d, Key, Some("_delete"))),
            () => { dels.foreach(model.remove); (ups ++ ins).foreach(model.put) },
            olds.size + ins.size)
        case "mergeInto" =>
          val olds = pick(200)
          val ups = olds.take(150).map(repriced)
          val dels = olds.drop(150)
          val ins = fresh(100, Priorities(rng.nextInt(5)))
          val st = StructType(schema.map(f => f.copy(name = "s" + f.name.drop(1))))
            .add("s_op", StringType)
          val d = df(ups.map(o => Row(o.values :+ "U": _*)) ++
            dels.map(o => Row(o.values :+ "D": _*)) ++
            ins.map(o => Row(o.values :+ "I": _*)), st)
          val src = Cols.map(c => c -> col("s" + c.drop(1))).toMap
          (() => h.call("lake", "mergeInto")(mt.mergeInto(d,
            col("o_orderkey") === col("s_orderkey"),
            matched = Seq(MergeDeleteClause(Some(col("s_op") === "D")),
              MergeUpdateClause(Some(col("s_op") === "U"),
                Map("o_totalprice" -> col("s_totalprice"),
                  "o_orderstatus" -> col("s_orderstatus")))),
            notMatched = Seq(MergeInsertClause(Some(col("s_op") === "I"), src)))),
            () => { dels.foreach(model.remove); (ups ++ ins).foreach(model.put) },
            olds.size + ins.size)
        case "delete" =>
          val lo = model.randomLive(rng).key
          val hit = model.liveIn(lo, lo + 59)
          (() => h.call("lake", "delete")(
            mt.delete(col("o_orderkey").between(lo, lo + 59))),
            () => hit.foreach(model.remove), hit.size)
        case "updateWhere" =>
          val lo = model.randomLive(rng).key
          val hit = model.liveIn(lo, lo + 99)
          (() => h.call("lake", "updateWhere")(mt.updateWhere(
            col("o_orderkey").between(lo, lo + 99),
            Map("o_totalprice" -> (col("o_totalprice") + 1.25),
              "o_orderstatus" -> lit("F")))),
            () => hit.foreach(o => model.put(o.copy(price = o.price + 1.25, status = "F"))),
            hit.size)
        case "compact" =>
          (() => h.call("lake", "compact")(mt.compact(5)), () => (), 0)
      }
      val v = h.op(kind, "write", userRows = userRows)(commitFn())
      apply()
      h.check(v == version + 1, s"$kind committed version $v after $version")
      version = v

      // the consumer, one op: latest-snapshot aggregate, then this
      // commit's changes
      val (agg, ch) = h.op("consume", "read") {
        val d = h.call("lake", "read_build")(mt.read())
        val agg = h.call("spark", "collect")(d.groupBy("o_orderpriority")
          .agg(count(lit(1)), sum(col("o_totalprice").cast(DecimalType(12, 2))))
          .collect())
        val c = h.call("lake", "changes")(mt.changesAt(v, Key))
        (agg, h.call("spark", "collect")(c.groupBy("_change_type")
          .agg(count(lit(1)), RowHash.sumExpr(Cols)).collect()))
      }
      h.returned(agg.length + ch.length)
      val got = agg.map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      val want = model.byPrio.filter(_._2._1 > 0).toMap
      h.check(got == want, s"read after $kind v$v: $got != $want")
      var (n, s) = before
      ch.foreach { r =>
        val (cn, cs) = (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))
        r.getString(0) match {
          case "insert" | "update_postimage" => n += cn; s += cs
          case "delete" | "update_preimage" => n -= cn; s -= cs
          case other => h.check(false, s"unknown change type $other")
        }
      }
      h.check(n == model.count && s == model.hashSum,
        s"changes of $kind v$v do not replay onto the previous state")
    }
  }
}
