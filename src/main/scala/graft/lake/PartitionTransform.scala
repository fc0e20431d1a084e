package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-style partition transforms — HIDDEN partitioning (Iceberg
  * spec §Partitioning; the headline difference from hive layout):
  * the table declares `days(ts)` / `bucket(16, id)` / `truncate(4, c)`
  * and the engine derives the partition value at WRITE time and prunes
  * with it at READ time, while queries keep filtering on the raw
  * source column. Users never materialize (or mis-maintain) a
  * redundant date column, and repartitioning the query author can't
  * see can't be wrong.
  *
  * Derived values land as ordinary hive dirs under a reserved hidden
  * column name (`_graft_p_<kind>_<src>`), so every existing
  * partition-tuple mechanism — scoped merge, partition overwrite,
  * tuple-local compaction, DV scoping — works on transformed tables
  * unchanged. The derived column exists only in the layout: scans drop
  * it, and writers re-derive it from the source column (deterministic,
  * so a rewrite can never disagree with the original placement).
  */
sealed trait PartitionTransform {
  /** Source (user-visible) column the value derives from. */
  def src: String
  /** Hidden hive column carrying the derived value. */
  def name: String
  /** Round-trippable declaration, e.g. `days(ts)` — what the table
    * metadata record ([[TableMetadata]]) persists. */
  def spec: String
  /** Whether the transform preserves source ordering (range-prunable);
    * hash buckets are equality-only. */
  def monotonic: Boolean
  /** Derived value for a source expression of type `dt`. */
  def derive(c: Column, dt: DataType): Column
}

object PartitionTransform {

  val Prefix = "_graft_p_"

  case class DaysOf(src: String) extends PartitionTransform {
    val name = s"${Prefix}days_$src"
    val spec = s"days($src)"
    val monotonic = true
    def derive(c: Column, dt: DataType): Column = to_date(c)
  }

  case class MonthsOf(src: String) extends PartitionTransform {
    val name = s"${Prefix}months_$src"
    val spec = s"months($src)"
    val monotonic = true
    def derive(c: Column, dt: DataType): Column = trunc(to_date(c), "month")
  }

  case class YearsOf(src: String) extends PartitionTransform {
    val name = s"${Prefix}years_$src"
    val spec = s"years($src)"
    val monotonic = true
    def derive(c: Column, dt: DataType): Column = trunc(to_date(c), "year")
  }

  case class HoursOf(src: String) extends PartitionTransform {
    val name = s"${Prefix}hours_$src"
    val spec = s"hours($src)"
    val monotonic = true
    def derive(c: Column, dt: DataType): Column =
      date_format(date_trunc("hour", c), "yyyy-MM-dd-HH")
  }

  /** Murmur3 bucket — Spark's `hash` (the engine's own stable hash;
    * derivation at read time uses the identical expression, so a
    * pruned lookup can never miss its bucket).
    */
  case class BucketOf(n: Int, src: String) extends PartitionTransform {
    require(n > 0, s"bucket($n, $src): bucket count must be positive")
    val name = s"${Prefix}bucket${n}_$src"
    val spec = s"bucket($n,$src)"
    val monotonic = false
    def derive(c: Column, dt: DataType): Column = pmod(hash(c), lit(n))
  }

  /** Width truncation: strings keep their first `w` chars (prefix
    * ranges stay prunable); integral types floor to the containing
    * `w`-wide bin (negative values floor DOWN, keeping monotonicity).
    */
  case class TruncateOf(w: Int, src: String) extends PartitionTransform {
    require(w > 0, s"truncate($w, $src): width must be positive")
    val name = s"${Prefix}trunc${w}_$src"
    val spec = s"truncate($w,$src)"
    val monotonic = true
    def derive(c: Column, dt: DataType): Column = dt match {
      case StringType => substring(c, 1, w)
      case ByteType | ShortType | IntegerType | LongType =>
        c - pmod(c, lit(w.toLong))
      case other => throw new IllegalArgumentException(
        s"truncate($w, $src): unsupported source type $other")
    }
  }

  private val Fn = """(\w+)\s*\(\s*([^)]*)\)""".r

  private val CalName = s"^$Prefix(days|months|years|hours)_(.+)$$".r
  private val BucketName = s"^${Prefix}bucket(\\d+)_(.+)$$".r
  private val TruncName = s"^${Prefix}trunc(\\d+)_(.+)$$".r

  /** Reverse of [[PartitionTransform.name]]: parse a hidden hive
    * column back to its transform. The derived column name embeds the
    * transform kind and source, so a file's own path IS its partition
    * spec — after a lazy [[graft.lake.ManifestTable.setPartitionSpec]]
    * the pruning and scoping paths recover each file's spec from here
    * instead of assuming the table's current one (the Iceberg
    * per-file spec-id, carried by the layout rather than a manifest
    * field). None for a name that is not a derived layout column.
    */
  def fromName(hiveCol: String): Option[PartitionTransform] = hiveCol match {
    case BucketName(n, src) => Some(BucketOf(n.toInt, src))
    case TruncName(w, src) => Some(TruncateOf(w.toInt, src))
    case CalName("days", src) => Some(DaysOf(src))
    case CalName("months", src) => Some(MonthsOf(src))
    case CalName("years", src) => Some(YearsOf(src))
    case CalName("hours", src) => Some(HoursOf(src))
    case _ => None
  }

  /** Parse a declaration: `days(ts)`, `months(ts)`, `hours(ts)`,
    * `bucket(16,id)`, `truncate(4,name)`. A bare column name is NOT a
    * transform — identity partitioning uses `partitionCols` directly.
    */
  def parse(s: String): PartitionTransform = s.trim match {
    case Fn(fn, args) =>
      val parts = args.split(',').map(_.trim).filter(_.nonEmpty)
      (fn.toLowerCase, parts) match {
        case ("days", Array(c)) => DaysOf(c)
        case ("months", Array(c)) => MonthsOf(c)
        case ("years", Array(c)) => YearsOf(c)
        case ("hours", Array(c)) => HoursOf(c)
        case ("bucket", Array(n, c)) => BucketOf(n.toInt, c)
        case ("truncate", Array(w, c)) => TruncateOf(w.toInt, c)
        case _ => throw new IllegalArgumentException(
          s"unknown partition transform: $s (supported: days(c), " +
            "months(c), years(c), hours(c), bucket(n,c), truncate(w,c))")
      }
    case other => throw new IllegalArgumentException(
      s"malformed partition transform: '$other' — expected fn(args)")
  }
}
