package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, JoinedRow, Literal, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Write-time file stats, collected inside the write tasks (the hook
  * Spark's `BasicWriteJobStatsTracker` and Delta's statistics tracker
  * use): per file, the row count, the byte length, the min/max of
  * every tracked column and the bloom bitset of the bloom column — one
  * pass over the rows the task writes anyway, nothing read back. The
  * length is the closed file's own (one stat in the task, as Spark's
  * basic tracker takes it): readers seek to the footer with it.
  *
  * Min/max compare under Spark's ordering for the type (the one the
  * `min`/`max` aggregates use: NaN is the largest double, a tie keeps
  * the earlier value) and render through `Cast` to string in the
  * writer's session time zone. Bloom bits come from [[rawHashes]] of
  * the value's string cast — the function the reader probes with.
  * Results reach the driver only from committed tasks
  * ([[processStats]]).
  *
  * @param dataSchema      the columns of each row a task writes
  * @param partitionSchema the hive partition columns, outermost first
  * @param hadoopConf      the write's Hadoop configuration, to stat
  *                        each closed file with
  */
private[lake] class FileStatsTracker(dataSchema: StructType,
    partitionSchema: StructType, statsCols: Seq[String],
    bloomCol: Option[String], bloomBits: Int, bloomHashes: Int,
    timeZoneId: String, hadoopConf: SerializableConfiguration)
    extends WriteJobStatsTracker {
  import FileStatsTracker._

  @transient private lazy val collected =
    scala.collection.mutable.ArrayBuffer.empty[FileStats]

  /** Stats of every file the committed tasks wrote. */
  def files: Seq[FileStats] = collected.toSeq

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  /** Called once, on the driver thread that runs the write. */
  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    stats.foreach(s => collected ++= s.asInstanceOf[TaskStats].files)

  /** A column of the joined (data row, partition values) row. */
  private def ref(c: String): BoundReference = {
    val i = dataSchema.fieldNames.indexOf(c)
    if (i >= 0) BoundReference(i, dataSchema(i).dataType, nullable = true)
    else {
      val j = partitionSchema.fieldNames.indexOf(c)
      BoundReference(dataSchema.size + j, partitionSchema(j).dataType,
        nullable = true)
    }
  }

  private class Task extends WriteTaskStatsTracker {
    private val cols = statsCols.map(ref).toArray
    private val ords = cols.map(c => TypeUtils.getInterpretedOrdering(c.dataType))
    private val bloomStr = bloomCol.map(c => Cast(ref(c), StringType, Some(timeZoneId)))
    private val joined = new JoinedRow
    private var partition: InternalRow = InternalRow.empty
    private val open = scala.collection.mutable.HashMap.empty[String, File]
    private val done = scala.collection.mutable.ArrayBuffer.empty[FileStats]

    private final class File(part: InternalRow) {
      var rows = 0L
      val mins = new Array[Any](cols.length)
      val maxs = new Array[Any](cols.length)
      val bits = bloomStr.map(_ => new Array[Byte]((bloomBits + 7) / 8))

      def add(row: InternalRow): Unit = {
        rows += 1
        joined(row, part)
        var i = 0
        while (i < cols.length) {
          val v = cols(i).eval(joined)
          if (v != null) {
            val lower = mins(i) == null || ords(i).lt(v, mins(i))
            val higher = maxs(i) == null || ords(i).gt(v, maxs(i))
            if (lower || higher) {
              val kept = v match { // rows reuse their buffers
                case s: UTF8String => s.copy()
                case a: ArrayData => a.copy()
                case r: InternalRow => r.copy()
                case o => o
              }
              if (lower) mins(i) = kept
              if (higher) maxs(i) = kept
            }
          }
          i += 1
        }
        bits.foreach(b => setBits(b, bloomBits, bloomHashes,
          rawHashes(bloomStr.get.eval(joined).asInstanceOf[UTF8String])))
      }

      def finish(key: String, bytes: Long): FileStats = {
        def render(v: Any, dt: DataType): String =
          Cast(Literal(v, dt), StringType, Some(timeZoneId)).eval().toString
        val bounds = statsCols.indices.collect {
          case i if mins(i) != null => statsCols(i) ->
            (render(mins(i), cols(i).dataType), render(maxs(i), cols(i).dataType))
        }.toMap
        FileStats(key, rows, bytes, bounds, bits)
      }
    }

    override def newPartition(values: InternalRow): Unit =
      partition = values.copy()
    override def newFile(path: String): Unit =
      open(path) = new File(partition)
    override def newRow(path: String, row: InternalRow): Unit =
      open(path).add(row)
    override def closeFile(path: String): Unit =
      open.remove(path).foreach { f =>
        val p = new Path(path)
        done += f.finish(keyOf(path),
          p.getFileSystem(hadoopConf.value).getFileStatus(p).getLen)
      }
    // Spark closes every file before it asks for the final stats
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskStats(done.toSeq)

    /** The file's path under the write's output dir: its partition
      * dirs and name (one task names its files alike in every
      * partition dir, so the name alone is ambiguous).
      */
    private def keyOf(path: String): String =
      path.split('/').takeRight(partitionSchema.size + 1).mkString("/")
  }
}

private[lake] object FileStatsTracker {
  /** One written file: its path under the output dir, its row count,
    * its length in bytes, (min, max) per tracked column holding a
    * non-null value, and the bloom bitset when a bloom column is
    * tracked.
    */
  case class FileStats(key: String, rows: Long, bytes: Long,
      bounds: Map[String, (String, String)], bloom: Option[Array[Byte]])

  private case class TaskStats(files: Seq[FileStats]) extends WriteTaskStats

  /** The salt's own xxhash64 — the seed of every value's second bloom
    * hash. Constant per process; computed once.
    */
  private lazy val saltSeed: Long =
    XxHash64Function.hash(UTF8String.fromString(ManifestTable.BloomSalt),
      StringType, 42L)

  /** The bloom's raw (pre-mod) hash pair of a value's string rendering:
    * Spark's `xxhash64(v)` and `xxhash64(salt, v)`. A NULL hashes as
    * the seeds alone, as those expressions do.
    */
  def rawHashes(v: UTF8String): (Long, Long) =
    if (v == null) (42L, saltSeed)
    else (XxHash64Function.hash(v, StringType, 42L),
      XxHash64Function.hash(v, StringType, saltSeed))

  /** The k bit positions of a raw-hash pair in an m-bit filter: double
    * hashing (h1 + i·h2) mod m over the hashes reduced mod m first.
    */
  def positions(raw: (Long, Long), m: Int, k: Int): Iterator[Int] = {
    val h1 = java.lang.Math.floorMod(raw._1, m.toLong)
    val h2 = java.lang.Math.floorMod(raw._2, m.toLong)
    Iterator.range(0, k).map(i => ((h1 + i * h2) % m).toInt)
  }

  private def setBits(bits: Array[Byte], m: Int, k: Int, raw: (Long, Long)): Unit =
    positions(raw, m, k).foreach(p => bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte)

  /** Whether every position of `raw` is set in a packed bitset. */
  def mightContain(bits: Array[Byte], m: Int, k: Int, raw: (Long, Long)): Boolean =
    positions(raw, m, k).forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)
}
