package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own calls, or one Spark job.
  * Spans of one op share `op`; `parent` is the enclosing span's id.
  * Times are milliseconds on one clock ([[Trace.nowMs]]).
  */
final case class Span(id: Long, parent: Long, op: Int, layer: String,
    name: String, t0: Double, t1: Double)

/** Outside-in probes: spans around the benchmark's calls into each layer,
  * Spark jobs from a listener, and file-system calls from
  * [[CountingFileSystem]]. Probes only record while [[enabled]] is set,
  * so a traced run can alternate traced and untraced cycles. The loop is
  * closed with one client, so whatever happens while an op is open
  * belongs to that op.
  */
object Trace {
  /** Wall clock in ms with sub-ms resolution. Spark stamps its events with
    * the same clock, so a job's start compares with an op's interval
    * without drift between two clocks.
    */
  def nowMs: Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }

  @volatile var enabled = false
  /** Op currently running, or -1 between ops. */
  @volatile var currentOp: Int = -1
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = ArrayBuffer.empty[Span]

  /** Time `body` as a span of `layer`/`name`, nested in the caller's span. */
  def span[T](op: Int, layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack.set(stack.get.tail)
      spans.synchronized(spans += Span(id, parent, op, layer, name, t0, t1))
    }
  }

  // ---- file-system call counts: (op, side, kind) -> n -------------------
  val fsCalls = new ConcurrentHashMap[(Int, String, String), AtomicLong]()
  /** Task-side opens of table data files, per op. */
  val dataFileOpens = new ConcurrentHashMap[Int, AtomicLong]()

  private def isTaskThread: Boolean =
    Thread.currentThread().getName.startsWith("Executor task launch worker")

  private[perfbench] def countFs(kind: String, path: Path): Unit = {
    if (!enabled) return
    val op = currentOp
    val side = if (isTaskThread) "task" else "driver"
    fsCalls.computeIfAbsent((op, side, kind), _ => new AtomicLong()).incrementAndGet()
    if (kind == "open" && side == "task" && isDataFile(path))
      dataFileOpens.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
  }

  /** A table data file: a parquet file outside the table's log and sidecar
    * directories (whose names start with `_`).
    */
  def isDataFile(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.endsWith(".parquet") && !s.split('/').exists(_.startsWith("_"))
  }

  // ---- Spark jobs ---------------------------------------------------------
  final class JobRec(val id: Int, val t0: Double) {
    var t1: Double = t0
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  /** Listener that records every job with its stage and task totals.
    * Events arrive late on Spark's listener thread, so it records jobs
    * whether or not probes are on; jobs are kept for an op by start time.
    */
  class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = new JobRec(e.jobId, e.time.toDouble)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(r => r.synchronized(r.m("stages") += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (r <- job(e.stageId); tm <- Option(e.taskMetrics)) r.synchronized {
        val m = r.m
        val info = e.taskInfo
        m("tasks") += 1
        m("executor_run_ms") += tm.executorRunTime
        m("executor_cpu_ms") += tm.executorCpuTime / 1e6
        m("scheduler_delay_ms") += math.max(0L, info.duration - tm.executorRunTime -
          tm.executorDeserializeTime - tm.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        m("shuffle_read_bytes") += tm.shuffleReadMetrics.totalBytesRead
        m("shuffle_write_bytes") += tm.shuffleWriteMetrics.bytesWritten
        m("spill_bytes") += tm.memoryBytesSpilled + tm.diskBytesSpilled
        m("input_bytes") += tm.inputMetrics.bytesRead
        m("input_records") += tm.inputMetrics.recordsRead
      }
    private def job(stage: Int): Option[JobRec] =
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
  }
}

/** The local file system with every metadata and data call counted by
  * kind ([[Trace.countFs]]). Only the outermost call of a thread counts,
  * so `exists` implemented through `getFileStatus` is one call.
  * Registered through `fs.file.impl` in traced runs.
  */
class CountingFileSystem extends LocalFileSystem {
  private val depth = new ThreadLocal[Int] { override def initialValue() = 0 }
  private def counted[T](kind: String, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) Trace.countFs(kind, p)
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def exists(f: Path): Boolean = counted("exists", f)(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("getFileStatus", f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    counted("listStatus", f)(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted("listStatus", f)(super.listStatus(f, filter))
  override def listLocatedStatus(f: Path) =
    counted("listStatus", f)(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) =
    counted("listStatus", f)(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] =
    counted("listStatus", p)(super.globStatus(p))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs", f)(super.mkdirs(f, permission))
}
