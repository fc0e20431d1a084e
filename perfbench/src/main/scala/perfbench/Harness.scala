package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One timed op of a workload's closed loop. `cls` is "write" or "read";
  * `userRows` is the rows a commit asked to change; `bytesWritten` the
  * bytes the local file system wrote during a traced op.
  */
final case class OpRec(i: Int, cycle: Int, kind: String, cls: String,
    surface: String, ms: Double, traced: Boolean, t0: Double, t1: Double,
    userRows: Long, bytesWritten: Long, gcMs: Long, rows: Long = 0)

/** State shared by every workload: the op log, output-check failures and
  * extra figures, all written out at the end by [[Main]].
  */
final class Harness(val spark: SparkSession, val seed: Long,
    val seconds: Int, val trace: Boolean, val dataDir: String,
    val workDir: String) {
  val ops = ArrayBuffer.empty[OpRec]
  val failures = ArrayBuffer.empty[String]
  val setupSec = ArrayBuffer.empty[Double]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Seconds from JVM start to the end of each phase of the run, and
    * seconds of garbage collection by then.
    */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Ops of the current cycle are recorded (false during warm-up). */
  private var recording = false
  private var cycle = -1

  def phase(name: String): Unit = phases(name) = Seq(Harness.uptimeSec, Harness.gcMs / 1e3)

  def table(name: String): String = s"$dataDir/$name.parquet"

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what

  /** Time one op; spans and counters inside it carry its index. */
  def op[T](kind: String, cls: String, surface: String = "",
      userRows: Long = 0)(body: => T): T = {
    val i = if (recording) ops.size else -1
    val b0 = Harness.bytesWritten
    val g0 = Harness.gcMs
    Trace.currentOp = i
    val t0 = Trace.nowMs
    val n0 = System.nanoTime()
    val r = try Trace.span(i, "op", kind)(body) finally Trace.currentOp = -1
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = Trace.nowMs
    if (recording) ops += OpRec(i, cycle, kind, cls, surface, ms,
      Trace.enabled, t0, t1, userRows, Harness.bytesWritten - b0, Harness.gcMs - g0)
    r
  }

  /** Record the rows the last op returned to its caller. */
  def returned(n: Long): Unit =
    if (recording && ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(rows = n)

  /** A call into one layer, inside the current op. */
  def call[T](layer: String, name: String)(body: => T): T =
    Trace.span(Trace.currentOp, layer, name)(body)

  /** Set up `reps` times and keep the last result; each set-up's time is
    * one `setup_s` sample. `setup_s` is their median, which a slow first
    * set-up on a cold JVM does not move.
    */
  def setup[T](reps: Int)(body: Int => T): T = {
    var last: Option[T] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      last = Some(body(r))
      setupSec += (System.nanoTime() - t0) / 1e9
    }
    phase("set-up")
    last.get
  }

  /** The closed loop: a fixed number of timed cycles, `seconds /
    * cycleSeconds` rounded (at least one), where `cycleSeconds` is the
    * cycle's nominal length. The count depends only on `seconds`, never
    * on how fast the machine runs, so every run times the same ops. A
    * traced run instead times `traceCycles` cycles, probes on in cycles 0
    * and 3 of every 4 (so traced and untraced cycles see the same table
    * states on average).
    */
  def loop(cycleSeconds: Double, traceCycles: Int)(runCycle: Int => Unit): Unit = {
    recording = true
    val cycles = if (trace) traceCycles
      else math.max(1, math.round(seconds / cycleSeconds).toInt)
    val start = System.nanoTime()
    (0 until cycles).foreach { c =>
      cycle = c
      Trace.enabled = trace && (c % 4 == 0 || c % 4 == 3)
      try runCycle(c) finally Trace.enabled = false
    }
    extra("timed_s") = (System.nanoTime() - start) / 1e9
    extra("cycles") = cycles
    recording = false
    phase("timed")
  }
}

object Harness {
  import scala.jdk.CollectionConverters._
  def uptimeSec: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes written through the local file system so far (all threads). */
  def bytesWritten: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Order-insensitive row digests that match Spark's `xxhash64` over the
  * same columns: a row's hash is the xxhash64 fold of its values, and a
  * set of rows digests to (count, sum of hashes).
  */
object RowHash {
  private def internal(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (s: String, _) => UTF8String.fromString(s)
    case (d: java.time.LocalDateTime, _) => DateTimeUtils.localDateTimeToMicros(d)
    case (d: java.sql.Timestamp, _) => DateTimeUtils.fromJavaTimestamp(d)
    case (d: java.time.Instant, _) => DateTimeUtils.instantToMicros(d)
    case (d: java.sql.Date, _) => DateTimeUtils.fromJavaDate(d)
    case (d: java.time.LocalDate, _) => DateTimeUtils.localDateToDays(d)
    case (d: java.math.BigDecimal, dt: DecimalType) => Decimal(d, dt.precision, dt.scale)
    case (x, _) => x
  }

  def hash(values: Seq[Any], types: Seq[DataType]): Long =
    values.zip(types).foldLeft(42L) { case (h, (v, t)) =>
      XxHash64Function.hash(internal(v, t), t, h)
    }

  def hashRow(r: Row, schema: StructType, cols: Seq[String]): Long =
    hash(cols.map(c => r.get(r.fieldIndex(c))), cols.map(c => schema(c).dataType))

  /** (count, sum of hashes) of rows. */
  def digest(rows: Iterable[Row], schema: StructType, cols: Seq[String]): (Long, BigInt) =
    rows.foldLeft((0L, BigInt(0))) { case ((n, s), r) =>
      (n + 1, s + hashRow(r, schema, cols))
    }

  /** Spark-side sum of `xxhash64(cols)`, exact as decimal(38,0). */
  def sumExpr(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    sum(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)))
  }
}
