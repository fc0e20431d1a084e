package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` call a V1 streaming Source needs: batch
  * DataFrames returned from `Source.getBatch` must carry the
  * `isStreaming` flag or the incremental planner rejects them —
  * exactly what Spark's own FileStreamSource does via
  * `internalCreateDataFrame(..., isStreaming = true)`, reachable only
  * from inside the `org.apache.spark.sql` namespace (the same shim
  * pattern early external connectors used).
  */
object GraftSqlBridge {
  def streamingDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse direction: a V1 `Sink.addBatch` receives a
    * streaming-flagged DataFrame that batch writers reject — rewrap its
    * physical rows as a plain batch frame (what Spark's own
    * FileStreamSink does before handing off to FileFormatWriter).
    */
  def batchDataFrame(spark: SparkSession, data: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(data.queryExecution.toRdd, data.schema,
        isStreaming = false)

  /** Write `df` as parquet under `dir` (hive dirs for `partitionCols`)
    * through Spark's own file writer, with `tracker` beside Spark's
    * basic stats tracker in every write task — the hook a
    * `DataFrameWriter` does not offer (Delta's transactional write
    * calls the same writer for the same reason). The write is one SQL
    * execution named `name`, and `name` describes its jobs in the
    * calling thread (the caller's description is restored after).
    * `options` go to the Hadoop job and the parquet writer.
    */
  def writeParquet(df: DataFrame, dir: String, partitionCols: Seq[String],
      options: Map[String, String],
      tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker,
      name: String): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(org.apache.spark.SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(name)
    try SQLExecution.withNewExecutionId(ds.queryExecution, Some(name)) {
      val plan = ds.queryExecution.executedPlan
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      val basic = new BasicWriteJobStatsTracker(
        new org.apache.spark.util.SerializableConfiguration(conf),
        BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(spark, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        org.apache.spark.internal.io.FileCommitProtocol.instantiate(
          spark.sessionState.conf.fileCommitProtocolClass,
          java.util.UUID.randomUUID().toString, dir),
        FileFormatWriter.OutputSpec(dir, Map.empty, plan.output), conf,
        partitionCols.map(c => plan.output.find(_.name == c).get),
        bucketSpec = None, statsTrackers = Seq(basic, tracker), options = options): Unit
    } finally sc.setJobDescription(prior)
  }

  /** The local property key StreamExecution sets on the driver for the
    * duration of a streaming query — the stable per-checkpoint query id
    * the sink uses as its transaction app id.
    */
  def streamingQueryIdKey: String =
    org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY

  /** Wrap a custom LogicalPlan (e.g. graft.plans.BucketedTableScan) as
    * a DataFrame — `Dataset.ofRows` is `private[sql]`, same shim
    * rationale as above.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DSv2 `PARTITIONED BY` transforms → (identity columns, graft
    * transform specs). The transform case classes (IdentityTransform,
    * BucketTransform, …) are `private[sql]`, hence the shim home.
    * Unsupported shapes are refused loudly — a silently dropped
    * transform would lay data out flat while the user believes it
    * partitioned.
    */
  def translatePartitioning(
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform])
      : (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.connector.expressions._
    def one(refs: Seq[NamedReference], what: String): String = {
      require(refs.length == 1, s"$what: exactly one column expected")
      val parts = refs.head.fieldNames()
      require(parts.length == 1,
        s"$what: nested partition column ${parts.mkString(".")} is not supported")
      parts.head
    }
    val idCols = Seq.newBuilder[String]
    val specs = Seq.newBuilder[String]
    partitions.foreach {
      case IdentityTransform(ref) =>
        idCols += one(Seq(ref), "PARTITIONED BY")
      case BucketTransform(n, cols, sorted) =>
        require(sorted.isEmpty,
          "SORTED BY bucket transforms are not supported")
        specs += s"bucket($n,${one(cols, "bucket")})"
      case DaysTransform(ref) => specs += s"days(${one(Seq(ref), "days")})"
      case MonthsTransform(ref) =>
        specs += s"months(${one(Seq(ref), "months")})"
      case YearsTransform(ref) =>
        specs += s"years(${one(Seq(ref), "years")})"
      case HoursTransform(ref) =>
        specs += s"hours(${one(Seq(ref), "hours")})"
      case t: ApplyTransform if t.name.equalsIgnoreCase("truncate") =>
        t.args.toSeq match {
          case scala.collection.Seq(lit: Literal[_], ref: NamedReference) =>
            specs += s"truncate(${lit.value()},${one(Seq(ref), "truncate")})"
          case scala.collection.Seq(ref: NamedReference, lit: Literal[_]) =>
            specs += s"truncate(${lit.value()},${one(Seq(ref), "truncate")})"
          case other => throw new UnsupportedOperationException(
            s"truncate transform with args $other is not supported")
        }
      case other => throw new UnsupportedOperationException(
        s"PARTITIONED BY ${other.describe()} is not supported " +
          "(supported: identity columns, bucket(n,c), days/months/" +
          "years/hours(c), truncate(w,c))")
    }
    (idCols.result(), specs.result())
  }

  /** A resolved predicate as a V1 source filter (top-level columns
    * only) — `DataSourceStrategy.translateFilter` is `protected[sql]`;
    * the lake's file skipping reads predicates in this form.
    */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** Wrap a catalyst Expression as a user-facing Column —
    * `ExpressionUtils.column` is `private[sql]`; the DML lowering rule
    * (graft.sql.GraftDmlRules) uses it to carry rebound UPDATE/MERGE
    * clause expressions into DataFrame operations.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
