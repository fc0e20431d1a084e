package graft.streaming

import graft.lake.ManifestTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (T1–T6, SURVEY.md §2.10) — the
  * Spark-native equivalent of the reference's batch-incremental "new
  * dated files arrive, crawlers re-run" flow
  * (`/root/reference/glue_infra.py:114-120`).
  *
  * Scale notes: file-source streams list only new files per trigger
  * (checkpointed log); windowed state is keyed by (window, key) and
  * bounded by the watermark — late rows beyond it are dropped, so
  * state never grows unboundedly. The foreachBatch MERGE sink applies
  * each micro-batch through the same partition-pruned merge as batch
  * CDC (T5 = continuous L1).
  */
object Streams {

  /** T1: exactly-once bronze ingest — file-source stream over an inbox
    * directory into a parquet sink with checkpoint. AvailableNow
    * processes the backlog then stops (deterministic for tests and
    * backfills; swap the trigger for continuous operation).
    */
  def fileIngest(spark: SparkSession, schema: StructType, inbox: String,
      sink: String, checkpoint: String, format: String = "parquet"): StreamingQuery = {
    val src = spark.readStream.schema(schema).format(format).load(inbox)
    src.writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** T2: tumbling-window aggregate with watermark. Emits
    * (window_start, window_end, key?, n, value_sum).
    */
  def tumblingAgg(events: DataFrame, tsCol: String, watermark: String,
      window: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("value_sum"))

  /** T3a: sliding-window aggregate (each row lands in
    * windowLen/slide windows).
    */
  def slidingAgg(events: DataFrame, tsCol: String, watermark: String,
      windowLen: String, slide: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"))

  /** T3b: session windows — gap-based activity sessions per key. */
  def sessionAgg(events: DataFrame, tsCol: String, watermark: String,
      gap: String, key: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col(key), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** T4: streaming dedup of replayed events within the watermark. */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      idCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** T5: continuous CDC — apply each micro-batch as a keyed MERGE into
    * a manifest table (streaming L1). The merge itself is the batch
    * [[ManifestTable.merge]], which marks only the changed rows dead
    * and appends their new copies; checkpointing makes the sink
    * effectively exactly-once (a replayed batch is a no-op merge).
    */
  def mergeSink(stream: DataFrame, table: ManifestTable, keys: Seq[String],
      checkpoint: String, orderCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // a micro-batch can buffer several changes per key; compact
          // to the newest (by orderCol) before the keyed merge
          val compacted = orderCol
            .map(c => graft.lake.Merge.latestPerKey(batch, keys, c))
            .getOrElse(batch)
          table.merge(compacted, keys): Unit
        }
      }
      .trigger(Trigger.AvailableNow())

  /** T11: stream-static dimension enrichment with PER-BATCH dimension
    * refresh — each micro-batch LEFT-joins against a FRESH snapshot of
    * the dimension ManifestTable (broadcast; dims are broadcast-sized
    * by definition), so slowly-changing-dimension updates committed
    * between triggers are visible to the next batch — where a plain
    * `stream.join(staticDf)` pins the dimension at plan time forever.
    * Left join: an event with no dimension row flows through with
    * NULLs (a fact must never be dropped by late dimension data).
    * Results append to `out` — replayed batches re-append; downstream
    * exactly-once comes from keyed merge if needed.
    */
  def enrichSink(stream: DataFrame, dim: ManifestTable, keys: Seq[String],
      out: ManifestTable,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val snapshot = dim.read() // fresh per trigger
          out.write(
            batch.join(org.apache.spark.sql.functions.broadcast(snapshot),
              keys, "left"),
            "append"): Unit
        }
      }
      .trigger(Trigger.AvailableNow())

  /** T5c: streaming erasure sink (the GDPR/right-to-be-forgotten
    * pipeline): a stream of deletion requests — rows carrying the key
    * value to erase in `keyCol` — applies to the table as ONE
    * deletion-vector commit per micro-batch ([[ManifestTable
    * .deleteKeys]]): bloom-pruned candidate scan, no data file
    * rewritten, O(matching rows) per batch on any table size.
    * Checkpointing makes it effectively exactly-once: a replayed
    * batch re-marks already-dead positions, which commits nothing
    * (the no-op delete path). The keys are collected to the driver —
    * bounded by the batch, which an erasure queue always is.
    */
  def eraseSink(requests: DataFrame, table: ManifestTable, keyCol: String,
      tableCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // NULL request keys are dropped EXPLICITLY: a NULL never equals
        // any stored value under SQL semantics, so it cannot name a row
        // to erase — passing it on would only vanish silently inside
        // the IN predicate
        val keys = batch.select(col(keyCol).cast("string"))
          .filter(col(keyCol).isNotNull)
          .distinct().collect().map(_.getString(0)).toSeq // bounded: one batch
        if (keys.nonEmpty) table.deleteKeys(tableCol, keys): Unit
      }
      .trigger(Trigger.AvailableNow())

  /** T5d: continuous vector-index maintenance — each micro-batch of
    * embedding rows MERGEs into the source table, then catches the
    * persisted [[graft.operators.PqIndex]] up through the change feed:
    * new/updated vectors encode with the FROZEN codebook and append,
    * deleted ids DV out — O(batch) per trigger, never a rebuild. The
    * same crash-replay contract as [[ivmSink]]: a replayed batch
    * re-merges as a no-op and the index cursor (persisted in the index
    * meta) still advances over any missed delta.
    */
  def pqIndexSink(stream: DataFrame, source: ManifestTable,
      keys: Seq[String], indexRoot: String, idCol: String, vecCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          source.merge(batch, keys)
          graft.operators.PqIndex.load(batch.sparkSession, indexRoot)
            .foreach(_.refreshFrom(source, idCol, vecCol)): Unit
        }
      }
      .trigger(Trigger.AvailableNow())

  /** T5e: continuous GRAPH-ANN index maintenance — the
    * [[pqIndexSink]] contract over the IVF-sharded
    * [[graft.operators.NswIndex]]: each micro-batch MERGEs into the
    * source table, then the change feed splices new vectors into their
    * affected shards (frozen routing seeds, exact top-m links, 2m
    * prune) and DV-deletes dead ids — O(batch + affected shards) per
    * trigger, never a graph rebuild. Same crash-replay contract: a
    * replayed batch re-merges as a no-op and the cursor still advances
    * over any missed delta.
    */
  def nswIndexSink(stream: DataFrame, source: ManifestTable,
      keys: Seq[String], indexRoot: String, idCol: String, vecCol: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          source.merge(batch, keys)
          graft.operators.NswIndex.load(batch.sparkSession, indexRoot)
            .foreach(_.refreshFrom(source, idCol, vecCol)): Unit
        }
      }
      .trigger(Trigger.AvailableNow())

  /** T5b: continuous gold maintenance — each micro-batch MERGEs into
    * the base table, then catches the incremental view up to the
    * table's latest version (merge → changesBetween → signed delta
    * apply). The refresh RANGE comes from the view's durable as-of
    * tag, NOT from versions captured around the merge: a job that dies
    * between the merge commit and the view write replays the batch as
    * a no-op merge, and the tag still points at the pre-crash version,
    * so the missed delta is applied then — no silent divergence.
    * Per-batch cost O(batch + touched groups); the base table is never
    * rescanned, at any table size. Bootstrap the view with
    * [[graft.lake.IncrementalView.materialize]] first.
    */
  def ivmSink(stream: DataFrame, table: ManifestTable, keys: Seq[String],
      view: ManifestTable, groupKeys: Seq[String], sumCols: Seq[String],
      checkpoint: String,
      orderCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // a micro-batch can buffer several changes per key; the merge
          // requires one row per key (same contract as mergeSink) —
          // compact to the newest by orderCol first
          val compacted = orderCol
            .map(c => graft.lake.Merge.latestPerKey(batch, keys, c))
            .getOrElse(batch)
          table.merge(compacted, keys)
          graft.lake.IncrementalView.refreshToLatest(
            table, view, keys, groupKeys, sumCols): Unit
        }
      }
      .trigger(Trigger.AvailableNow())

  /** T7: stream-stream event-time interval join — the attribution
    * pattern (right-side events within [leftTs, leftTs + horizon] of a
    * matching left event). BOTH sides carry watermarks and the join
    * condition bounds event time in BOTH directions, so each side's
    * buffered state is dropped as the other side's watermark passes —
    * state stays O(horizon × rate), never unbounded. Inner join:
    * results are identical to the batch join over the same inputs.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      watermark: String, horizon: String): DataFrame = {
    require(leftTs != rightTs, "rename one side's event-time column first")
    left.withWatermark(leftTs, watermark).alias("l")
      .join(right.withWatermark(rightTs, watermark).alias("r"),
        expr(s"""l.$key = r.$key
                 AND $rightTs >= $leftTs
                 AND $rightTs <= $leftTs + INTERVAL $horizon"""))
  }

  /** T6: late-data policy — rows older than the watermark are dropped
    * by the windowed aggregate; the `observe` metric counts every
    * arriving row so dropped = observed - aggregated. DQ analog of the
    * crawlers' DEPRECATE philosophy: late data is excluded, visibly.
    */
  def tumblingAggObserved(events: DataFrame, tsCol: String, watermark: String,
      window: String): DataFrame =
    tumblingAgg(
      events.observe("graft_ingest", count(lit(1)).as("rows_seen")),
      tsCol, watermark, window)
}
