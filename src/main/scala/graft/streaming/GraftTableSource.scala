package graft.streaming

import graft.lake.ManifestTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Version-number offset for the table stream: commit `v` means
  * "everything up to and including version v has been emitted".
  */
case class GraftTableOffset(version: Int) extends Offset {
  override def json: String = version.toString
}

/** T10: a ManifestTable as a STREAMING SOURCE (the Delta
  * `spark.readStream.format("delta")` surface) — the missing half of
  * the streaming story: the sinks write INTO tables; this reads
  * incrementally OUT of them. Offsets are version numbers; each
  * micro-batch emits the rows of files ADDED in `(fromV, toV]`,
  * DV-aware as of `toV`. The first batch is the initial snapshot
  * (every file of the start version). Non-append commits (merge
  * rewrites, compaction, DV deletes) fail the stream by default —
  * append-only is the only exactly-once contract a file-level feed
  * can keep — or are skipped with `ignoreChanges=true` (newly-added
  * files still flow; at-least-once on rewrites).
  *
  * T13: with `.option("readChangeFeed", "true")` (+ `.option("keys",
  * "k1,k2")`) the same stream becomes a CHANGE DATA FEED — the Delta
  * `readStream.option("readChangeFeed", true)` surface: each trigger
  * emits per-commit keyed diffs (`_change_type` insert /
  * update_preimage / update_postimage / delete, `_commit_version`)
  * instead of appended rows, so MERGE/UPDATE/DELETE commits propagate
  * as data rather than killing the reader. `startingVersion` (default
  * 0 = full-history replay as inserts; `"latest"` = new commits only)
  * anchors a fresh checkpoint.
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft-table")        // or classOf[GraftTableSourceProvider].getName
  *     .option("root", "/lake/bronze")
  *     .load()
  * }}}
  *
  * Scale: each trigger lists one manifest (O(files) driver-side, the
  * same cost every reader pays) and scans ONLY the added files — a
  * continuous pipeline tails a 100 TB table at the cost of its
  * appends, never rescanning history.
  */
class GraftTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The table address: `.option("root", <path>)` (or `path`) used
    * VERBATIM — or a catalog name via `.option("table", "cat.ns.t")`,
    * resolved through the session's registered GraftCatalog
    * (graft.sql.GraftNames). Names ride only the `table` option:
    * resolving `root` too would break slash-less dotted relative paths
    * and let a coincidentally-named catalog silently redirect an
    * existing pipeline's path.
    */
  private def rootOf(spark: SparkSession,
      parameters: Map[String, String]): String =
    parameters.get("table")
      .map(graft.sql.GraftNames.resolveRoot(spark, _))
      .orElse(parameters.get("root").orElse(parameters.get("path"))
        .map(graft.sql.GraftNames.requireUnambiguousPath(spark, _)))
      .getOrElse(throw new IllegalArgumentException(
        "graft-table source requires .option(\"root\", <table root>) " +
          "or .option(\"table\", <cat.ns.table>)"))

  /** CDF mode flag + its OPTIONAL key columns: `.option(
    * "readChangeFeed", "true")` turns the stream into a CHANGE feed
    * (T13) — each trigger emits L8-style `_change_type` rows for the
    * new versions instead of appended rows, so MERGE/UPDATE/DELETE
    * commits flow downstream as data rather than killing an
    * append-only reader. `Some(None)` = CDF without keys (T15): every
    * version replays from its write-time `_graft_cdc` sidecar, its
    * zero-change stamp, or its pure add/remove file delta — a version
    * that changed rows without a sidecar refuses at read with the fix
    * named. `.option("keys", "k1,k2")` supplies row identity for the
    * keyed-diff fallback on tables that predate [[ManifestTable
    * .enableCdc]].
    */
  private def changeFeedSpec(
      parameters: Map[String, String]): Option[Option[Seq[String]]] = {
    val on = parameters.get("readchangefeed")
      .orElse(parameters.get("readChangeFeed"))
      .exists(_.equalsIgnoreCase("true"))
    if (!on) None
    else Some(parameters.get("keys").map { s =>
      // keyless mode is reserved for the option being ABSENT: a keys
      // string that names no columns ('', ' , ') is a typo, and
      // silently degrading it to sidecar semantics would change what
      // the feed emits (no-op update images) or surface as a
      // confusing replay-time CDC error on pre-CDC tables — refuse
      // like the SQL TVF's empty keys_csv does
      val ks = s.split(",").map(_.trim).toSeq.filter(_.nonEmpty)
      if (ks.isEmpty) throw new IllegalArgumentException(
        "readChangeFeed keys option names no columns — pass key " +
          "columns, or omit the option entirely for keyless sidecar " +
          "replay")
      ks
    })
  }

  /** First version the change feed emits (its initial batch covers
    * `[startingVersion, latest]`). Default 0 — the stream opens with
    * the v0 snapshot as inserts, so a fresh checkpoint replays the
    * table's full history exactly once; `"latest"` skips history and
    * emits only post-subscription commits. T14: `startingTimestamp`
    * (exclusive with `startingVersion`; epoch millis or a
    * `yyyy-MM-dd HH:mm:ss[.fff]` literal) resolves to the FIRST
    * version committed at or after the timestamp — Delta's streaming
    * contract — or to latest+1 when every commit predates it (the
    * subscription point is in the future of the history; only new
    * commits flow).
    */
  private def startingVersion(spark: SparkSession,
      parameters: Map[String, String]): Int = {
    val byV = parameters.get("startingversion")
      .orElse(parameters.get("startingVersion"))
    val byTs = parameters.get("startingtimestamp")
      .orElse(parameters.get("startingTimestamp"))
    // L36 symmetry: `startingTag` anchors the stream at a NAMED
    // immutable ref — "replay everything since the release-X pin" —
    // the same lattice as the batch reader's tagAsOf
    val byTag = parameters.get("startingtag")
      .orElse(parameters.get("startingTag"))
    require(Seq(byV, byTs, byTag).count(_.isDefined) <= 1,
      "startingVersion, startingTimestamp and startingTag cannot " +
        "combine — they all anchor the stream's first version")
    (byTs, byTag) match {
      case (Some(ts), _) =>
        val millis =
          try {
            if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
            else java.sql.Timestamp.valueOf(ts).getTime
          } catch {
            case e: Exception => throw new IllegalArgumentException(
              s"malformed startingTimestamp '$ts' — epoch millis or " +
                "a yyyy-MM-dd HH:mm:ss[.fff] literal", e)
          }
        val mt = ManifestTable.forRoot(spark, rootOf(spark, parameters))
        val vs = mt.versions
        vs.find(v => mt.commitTimeOf(v) >= millis)
          .getOrElse(vs.lastOption.map(_ + 1).getOrElse(0))
      case (None, Some(tag)) =>
        val mt = ManifestTable.forRoot(spark, rootOf(spark, parameters))
        mt.tagRef(tag).getOrElse(throw new IllegalArgumentException(
          s"no tag '$tag' at the table " +
            s"(tags: ${mt.tagRefs.map(_._1).mkString(", ")})"))
      case _ => byV.map {
        case s if s.equalsIgnoreCase("latest") =>
          ManifestTable.forRoot(spark, rootOf(spark, parameters))
            .latestVersion.map(_ + 1).getOrElse(0)
        case s => try s.toInt catch {
          case e: NumberFormatException =>
            throw new IllegalArgumentException(
              s"malformed startingVersion '$s' — an integer version " +
                "or 'latest'", e)
        }
      }.getOrElse(0)
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // resolve the start anchor at load time: option conflicts and
    // malformed values fail on `.load()`, not at first trigger
    startingVersion(sqlContext.sparkSession, parameters)
    val mt = ManifestTable.forRoot(sqlContext.sparkSession,
      rootOf(sqlContext.sparkSession, parameters))
    val base = schema.getOrElse(mt.read().schema)
    val out =
      if (changeFeedSpec(parameters).isEmpty) base
      else GraftTableSource.cdfSchema(base)
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftTableSource(sqlContext.sparkSession,
      rootOf(sqlContext.sparkSession, parameters),
      parameters.get("ignorechanges").orElse(parameters.get("ignoreChanges"))
        .exists(_.equalsIgnoreCase("true")),
      parameters.get("maxversionspertrigger")
        .orElse(parameters.get("maxVersionsPerTrigger")).map(_.toInt),
      changeFeedSpec(parameters),
      startingVersion(sqlContext.sparkSession, parameters))

  /** T12b: a ManifestTable as a STREAMING SINK — the
    * `df.writeStream.format("graft-table")` surface (Delta's
    * `.format("delta")`/`toTable` role), completing the format's two
    * directions. Append mode only: each micro-batch is one governed
    * APPEND commit (blind add — coexists with concurrent batch
    * writers), so downstream `graft-table` SOURCES tail the sink's
    * output with their append-only contract intact. Keyed upserts,
    * IVM, and index maintenance stay on the explicit foreachBatch
    * sinks ([[Streams.mergeSink]] etc.), whose replay contracts are
    * per-operator.
    *
    * Exactly-once across restarts, two layers: (1) every data file of
    * batch N is name-tagged `txn-<queryId>-<N>-` — the tag is IN the
    * commit, so "did batch N land?" is answered atomically by the
    * current snapshot; (2) a txn sidecar (`_graft_log/stream-txn-…`)
    * records the last committed batch id right after each commit. A
    * replayed batch is skipped when either layer remembers it. The
    * only at-least-once window: a crash between commit and sidecar
    * write AND a compaction that rewrote the tagged files away before
    * restart — run OPTIMIZE outside restart recovery or use mergeSink
    * for keyed idempotence if that window matters.
    *
    * A `.partitionBy(...)` on the writer configures a FRESH table's
    * layout; on an existing table it must match the declared tuple
    * (a conflicting spec refuses, same contract as `CALL graft.write`).
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-table sink supports Append output mode only, got $outputMode" +
        " (use Streams.mergeSink/ivmSink for keyed upsert semantics)")
    new GraftTableSink(sqlContext.sparkSession,
      rootOf(sqlContext.sparkSession, parameters), partitionColumns,
      parameters.get("txnappid").orElse(parameters.get("txnAppId")))
  }

  /** BATCH read (the `spark.read.format("delta")` surface):
    * `.option("versionAsOf", n)` / `.option("timestampAsOf", ts)` time
    * travel, latest version otherwise — so both halves of the
    * DataSource story go through one format string. L35: with
    * `.option("readChangeFeed", "true")` (+ `keys`) the batch read
    * returns CHANGE rows instead of a snapshot — Delta's batch-CDF
    * contract: the inclusive commit range is bounded by
    * `startingVersion` | `startingTimestamp` | `startingTag`
    * (default 0; the stream's anchor lattice, combine refusals
    * included) and `endingVersion` | `endingTimestamp` (default
    * latest), each row stamped `_change_type` / `_commit_version`.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(spark, parameters)
    val mt = ManifestTable.forRoot(spark, root)
    def opt(k: String) =
      parameters.get(k.toLowerCase).orElse(parameters.get(k))
    val df = changeFeedSpec(parameters) match {
      case Some(keysOpt) =>
        require(opt("versionAsOf").isEmpty && opt("timestampAsOf").isEmpty
            && opt("tagAsOf").isEmpty,
          "readChangeFeed and time travel cannot combine: the change " +
            "range is already versioned (startingVersion/endingVersion)")
        // hardened parses (advisory): a malformed bound gets the
        // option's own name, not a bare NumberFormatException; the
        // streaming-only 'latest' anchor is refused by name for
        // startingVersion and accepted (≡ the default) for
        // endingVersion
        def versionOpt(name: String, latestOk: Boolean): Option[Int] =
          opt(name).flatMap {
            case s if s.equalsIgnoreCase("latest") =>
              if (latestOk) None // ≡ unset: the table's latest version
              else throw new IllegalArgumentException(
                s"$name 'latest' is a streaming anchor — the batch " +
                  "change feed needs an integer version (or omit the " +
                  "option)")
            case s => try Some(s.toInt) catch {
              case e: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"malformed $name '$s' — an integer version", e)
            }
          }
        // T14 symmetry for the batch side: endingTimestamp bounds the
        // range at the LAST version committed at or before it
        val byEndTs = opt("endingTimestamp")
        require(byEndTs.isEmpty || opt("endingVersion").isEmpty,
          "endingVersion and endingTimestamp cannot combine — they " +
            "both bound the change range's end")
        val endByTs = byEndTs.map { ts =>
          val millis =
            try {
              if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
              else java.sql.Timestamp.valueOf(ts).getTime
            } catch {
              case e: Exception => throw new IllegalArgumentException(
                s"malformed endingTimestamp '$ts' — epoch millis or " +
                  "a yyyy-MM-dd HH:mm:ss[.fff] literal", e)
            }
          mt.versionAtOrBefore(millis).getOrElse(
            throw new IllegalArgumentException(
              s"endingTimestamp '$ts' predates every commit at $root"))
        }
        val to = versionOpt("endingVersion", latestOk = true)
          .orElse(endByTs)
          .orElse(mt.latestVersion)
          .getOrElse(throw new IllegalArgumentException(
            s"no committed versions at $root"))
        // start anchors share the STREAM's resolution lattice
        // (startingVersion | startingTimestamp | startingTag, combine
        // refusals included) — only 'latest' is refused by name here:
        // it is a subscription anchor, meaningless for a bounded range
        versionOpt("startingVersion", latestOk = false)
        GraftTableSource.batchChanges(spark, root, keysOpt,
          startingVersion(spark, parameters), to)
      case None =>
        (opt("versionAsOf"), opt("timestampAsOf"), opt("tagAsOf")) match {
          case (Some(v), None, None) => mt.read(Some(v.toInt))
          case (None, Some(ts), None) =>
            mt.readAsOf(java.sql.Timestamp.valueOf(ts).getTime)
          case (None, None, Some(tag)) => mt.readTagged(tag)
          case (None, None, None) => mt.read()
          case _ => throw new IllegalArgumentException(
            "versionAsOf, timestampAsOf and tagAsOf are mutually " +
              "exclusive time-travel pins")
        }
    }
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = sqlContext0
      override def schema: StructType = df.schema
      override def buildScan(): RDD[Row] = df.rdd
      private def sqlContext0 = df.sparkSession.sqlContext
    }
  }
}

/** The append sink behind `writeStream.format("graft-table")` — see
  * [[GraftTableSourceProvider.createSink]] for the contract.
  */
class GraftTableSink(spark: SparkSession, root: String,
    partitionColumns: Seq[String], txnAppId: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Sink {

  // validate the user-facing option HERE with its own name — passed
  // through raw it would die deep in streamTxnPath as 'bad query id'
  txnAppId.foreach(id => require(id.matches("[A-Za-z0-9_\\-]+"),
    s"bad txnAppId '$id': use letters, digits, '_' or '-'"))

  /** Resolved per batch, validation included: the create-or-validate
    * check is a pure metadata-record read (no Spark job), and re-reading
    * each batch means a mid-stream partition-layout evolution is picked
    * up (no opinion) or refused loudly (explicit partitionBy) instead
    * of silently appending the stale layout.
    */
  private def table: ManifestTable = ManifestTable.forRootWithPartitions(
    spark, root, if (partitionColumns.isEmpty) None else Some(partitionColumns))

  /** Transaction namespace for replay detection: the explicit
    * `.option("txnAppId", …)`, else the streaming query id
    * StreamExecution set on this thread. NO silent fallback — two
    * writers defaulting into one shared namespace would drop each
    * other's batches without an error.
    */
  private def appId: String = txnAppId
    .orElse(Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.graft.GraftSqlBridge.streamingQueryIdKey)))
    .getOrElse(throw new IllegalStateException(
      "graft-table sink: no streaming query id on this thread — when " +
        "calling addBatch outside a streaming query, pass " +
        ".option(\"txnAppId\", <id>) (distinct writers sharing a " +
        "default namespace would silently skip each other's batches)"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val id = appId
    // the id's LENGTH rides in the tag so no (id, batch) pair can be a
    // string prefix of another's files: ids may contain '-' (query
    // UUIDs do), and without the length, appId 'q' batch 1 would
    // prefix-match appId 'q-1' batch 5's committed files and silently
    // skip a live batch
    val tag = s"txn${id.length}-$id-$batchId-"
    val mt = table
    // replay? layer 1: the sidecar remembers a later-or-equal batch;
    // layer 2: the tagged files are in the current snapshot
    if (mt.streamTxnBatch(id).exists(_ >= batchId) ||
        mt.hasCommittedFileTag(tag)) return
    // the incoming frame is streaming-flagged; rewrap its physical
    // rows as a batch frame before handing to the batch write path
    val batchDf = org.apache.spark.sql.graft.GraftSqlBridge
      .batchDataFrame(data.sparkSession, data)
    mt.write(batchDf, "append", Some(tag))
    mt.recordStreamTxn(id, batchId)
  }

  override def toString: String = s"GraftTableSink[$root]"
}

class GraftTableSource(spark: SparkSession, root: String,
    ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Int] = None,
    cdfSpec: Option[Option[Seq[String]]] = None,
    startVersion: Int = 0)
    extends Source with SupportsTriggerAvailableNow {

  private def table: ManifestTable = ManifestTable.forRoot(spark, root)

  // a numeric startingVersion beyond the table's next commit would be
  // SILENTLY violated: the first batch is empty, the offset commits at
  // the current latest, and every later version — including the ones
  // the user asked to skip — flows. Refuse up front (Delta's
  // startingVersion contract); "latest" resolves to latest+1 and is
  // always valid. The anchor applies to BOTH modes: the append stream
  // skips history the same way the change feed does.
  locally {
    val latest = ManifestTable.forRoot(spark, root).latestVersion.getOrElse(-1)
    require(startVersion <= latest + 1,
      s"startingVersion $startVersion is beyond the table's next " +
        s"commit (latest version: $latest) — versions committed later " +
        "would bypass the skip; use 'latest' to start at the next commit")
  }

  /** The table's row schema; the stream's output schema appends the
    * change-feed metadata columns in CDF mode.
    */
  private val baseSchema: StructType = table.read().schema

  override val schema: StructType =
    if (cdfSpec.isDefined) GraftTableSource.cdfSchema(baseSchema)
    else baseSchema

  // Trigger.AvailableNow pins the target offset at start; the stream
  // drains to it and stops even while writers keep committing
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = table.latestVersion

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // SupportsAdmissionControl entry point (the engine prefers it over
  // getOffset when present). A version commit is the atomic unit (its
  // files land together or not at all), so rate limiting caps how many
  // VERSIONS a micro-batch drains (`maxVersionsPerTrigger`) — the
  // Delta `maxFilesPerTrigger` role at our commit granularity; a huge
  // backlog then catches up in bounded batches instead of one
  // unbounded scan.
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    val uncapped = getOffset
    val limited = maxVersionsPerTrigger match {
      case Some(maxV) =>
        val from = Option(startOffset).map {
          case GraftTableOffset(v) => v
          case o => o.json.trim.toInt
        }
        uncapped.map(o => GraftTableOffset(
          math.min(versionOf(o), from.getOrElse(-1) + maxV)))
      case None => uncapped
    }
    limited.orNull
  }

  override def getOffset: Option[Offset] = {
    val latest = table.latestVersion
    val capped = availableNowCap.fold(latest)(c => latest.map(math.min(_, c)))
    capped.map(GraftTableOffset)
  }

  private def versionOf(o: Offset): Int = o match {
    case GraftTableOffset(v) => v
    case other => other.json.trim.toInt // deserialized from checkpoint
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val vTo = versionOf(end)
    val df0 = cdfSpec match {
      case Some(keysOpt) => cdfBatch(start.map(versionOf), vTo, keysOpt)
      // the anchor applies to the append stream too (the Delta
      // contract): a fresh checkpoint with startingVersion = s emits
      // files added in (s-1, vTo] instead of the full v0 snapshot
      case None => table.addedBetween(
        start.map(versionOf)
          .orElse(if (startVersion > 0) Some(startVersion - 1) else None),
        vTo, failOnChange = !ignoreChanges)
    }
    // pin column set + order to the source schema (a later append may
    // carry evolved columns; missing ones null-fill)
    val projected = GraftTableSource.conformTo(schema, df0)
    // batch DataFrames from Source.getBatch must carry the isStreaming
    // flag or the incremental planner rejects them — same call Spark's
    // FileStreamSource makes (see GraftSqlBridge for why the shim)
    org.apache.spark.sql.graft.GraftSqlBridge.streamingDataFrame(
      spark, projected.queryExecution.toRdd, schema)
  }

  /** T13: one change-feed micro-batch — the union of per-version keyed
    * diffs for `(from, vTo]`, each stamped with its `_commit_version`.
    * Per version the diff touches only that commit's changed files
    * ([[ManifestTable.changesAt]]), so a trigger costs the backlog's
    * delta, never a snapshot pair; `maxVersionsPerTrigger` bounds how
    * many version diffs one batch unions (both the catch-up scan size
    * and the plan width). Replays are exact: the same (from, vTo]
    * range always diffs the same committed manifests.
    */
  private def cdfBatch(from: Option[Int], vTo: Int,
      keysOpt: Option[Seq[String]]): DataFrame = {
    val mt = table
    val vFrom = from.getOrElse(startVersion - 1)
    val parts = (vFrom + 1 to vTo).map { v =>
      mt.changesAt(v, keysOpt)
        .withColumn("_commit_version", lit(v.toLong))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(mt.commitTimeOf(v))))
    }
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        schema)
    // pad each version's frame to the full CDF schema before the
    // union — adjacent versions may straddle a schema evolution
    else parts.map(GraftTableSource.conformTo(schema, _))
      .reduce(_.unionByName(_))
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftTableSource[$root]"
}

object GraftTableSource {
  /** Pin `df` to `schema`'s column set and order: missing columns
    * null-fill at the schema's type, present ones project by quoted
    * name — the one schema-conformance kernel behind the stream's
    * getBatch, the CDF union, and the batch change feed.
    */
  private[streaming] def conformTo(schema: StructType,
      df: DataFrame): DataFrame = {
    val withAll = schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    withAll.select(
      schema.fieldNames.map(graft.functions.Cols.quoted).toIndexedSeq: _*)
  }

  /** Change-feed output schema: the table's columns plus the Delta-CDF
    * metadata trio (`_change_type` string, `_commit_version` long,
    * `_commit_timestamp` timestamp — the commit's in-commit stamp, so
    * consumers can window changes by wall-clock without joining
    * `history()` back in).
    */
  def cdfSchema(base: StructType): StructType = StructType(
    base.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType, nullable = true))

  /** L35: BATCH change-data-feed — the change rows for the inclusive
    * commit range `[fromV, toV]`, each stamped `_change_type` /
    * `_commit_version`. This is the distributed plan behind both the
    * `spark.read.format("graft-table").option("readChangeFeed", true)`
    * reader and the `graft_table_changes(...)` SQL table function
    * (Delta's `table_changes` TVF role). Per version the diff reads
    * only that commit's changed files ([[ManifestTable.changesAt]];
    * pure add/remove commits skip the join entirely), so the cost is
    * the range's delta — never a snapshot pair per version, and a v0
    * start replays the initial snapshot as one scan of inserts.
    *
    * An out-of-range request REFUSES (Delta's contract): a `toV`
    * beyond the latest commit would otherwise silently promise
    * versions that do not exist yet.
    */
  def batchChanges(spark: SparkSession, root: String, keys: Seq[String],
      fromV: Int, toV: Int): DataFrame =
    batchChanges(spark, root, Some(keys), fromV, toV)

  /** Generalized form: `keysOpt = None` reads KEYLESSLY (T15) — every
    * version in the range must resolve through its write-time CDC
    * sidecar, its zero-change stamp, or a pure add/remove file delta;
    * a version that changed rows without one refuses with the fix
    * named ([[ManifestTable.changesAt]]).
    */
  def batchChanges(spark: SparkSession, root: String,
      keysOpt: Option[Seq[String]], fromV: Int, toV: Int): DataFrame = {
    require(keysOpt.forall(_.nonEmpty), "batch change feed key list " +
      "is empty — pass key columns, or none at all for sidecar replay")
    val mt = ManifestTable.forRoot(spark, root)
    val latest = mt.latestVersion.getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    require(fromV >= 0 && fromV <= toV && toV <= latest,
      s"change range [$fromV, $toV] is not a valid committed range at " +
        s"$root (latest version: $latest)")
    val target = cdfSchema(mt.read(Some(toV)).schema)
    (fromV to toV).map { v =>
      val d = mt.changesAt(v, keysOpt)
        .withColumn("_commit_version", lit(v.toLong))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(mt.commitTimeOf(v))))
      // a column present in an old diff but dropped by toV cannot be
      // represented in the range's one output schema — refuse loudly
      // rather than silently dropping its change values
      val extra = d.columns.filterNot(target.fieldNames.contains)
      require(extra.isEmpty,
        s"version $v carries column(s) ${extra.mkString(", ")} absent " +
          s"from the schema at version $toV; read the sub-ranges on " +
          "either side of the schema change separately")
      conformTo(target, d)
    }.reduce(_.unionByName(_))
  }
}
