package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One benchmark run inside a fresh work directory:
  *
  *   perfbench.Main --workload <lake_etl|lake_lookup|query_suite> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  *
  * Writes the raw record of the run (op latencies, set-up times, output
  * check failures and, when traced, spans, jobs and file-system calls) as
  * JSON to `--out`; `perfbench/run.py` turns it into metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val trace = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath

    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      // drop any file system cached before the session's configuration
      FileSystem.closeAll()
      val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem], s"file system is ${fs.getClass}")
      spark.sparkContext.addSparkListener(new Trace.JobListener)
    }
    val sessionS = Harness.uptimeSec

    val h = new Harness(spark, args("seed").toLong, args("seconds").toInt, trace,
      new File(args("data")).getAbsolutePath, work)
    h.phase("session")
    workload match {
      case "lake_etl" => LakeEtl.run(h)
      case "lake_lookup" => LakeLookup.run(h)
      case "query_suite" => QuerySuite.run(h)
    }
    // full collections with pauses between them, so Spark's cleaner can
    // drop the blocks of collected broadcasts and shuffles
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(150) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    h.phase("checks")

    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "trace" -> trace,
      "session_s" -> sessionS,
      "setup_s" -> h.setupSec.toSeq,
      "heap_live_mb" -> heapMb,
      "phases" -> h.phases,
      "failures" -> h.failures.toSeq,
      "extra" -> h.extra.toMap,
      "ops" -> h.ops.toSeq.map(o => Seq(o.i, o.cycle, o.kind, o.cls, o.surface,
        o.ms, o.traced, o.userRows, o.bytesWritten, o.gcMs, o.rows, o.t0, o.t1)))
    if (trace) {
      rec("spans") = Trace.spans.toSeq.map(s =>
        Seq(s.id, s.parent, s.op, s.layer, s.name, s.t0, s.t1))
      rec("jobs") = Trace.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Seq(j.id, j.t0, j.t1, j.m.toMap))
      rec("fs") = Trace.fsCalls.asScala.toSeq.map { case ((op, side, kind), n) =>
        Seq(op, side, kind, n.get) }
      rec("data_file_opens") = Trace.dataFileOpens.asScala.toSeq.map { case (op, n) =>
        Seq(op, n.get) }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), Json.render(rec))
    spark.stop()
  }

  /** Total size of the files under a directory. */
  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => bytesUnder(c.getPath)).sum
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
