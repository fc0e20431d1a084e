package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, MetadataBuilder,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import java.util.UUID

/** Versioned parquet table with a plain-text manifest log — a minimal
  * Delta/Iceberg-style transaction layer (no such jars in the offline
  * build; semantics per SURVEY.md §2.9 L1–L5).
  *
  * Layout:
  * {{{
  *   <root>/data/[<part>=<value>/]<uuid>.parquet   immutable data files
  *   <root>/_graft_log/v<NNNNN>.manifest           one line per data file:
  *     <relPath>[\t<urlenc min>\t<urlenc max>]     (stats when statsCol set)
  *   <root>/_graft_log/m<NNNNN>.metadata           write-once table metadata
  *     record ([[TableMetadata]]: layout, constraints, column mapping,
  *     generated/declared/identity columns, CDC flag); highest wins
  * }}}
  *
  * A commit writes the manifest to a temp name then atomically renames it
  * into the log — readers always see a complete version. Writers use
  * OPTIMISTIC CONCURRENCY (the Delta/Iceberg model): each mutation is a
  * file-level delta against the snapshot it read; on losing a version
  * race it rebases onto the winner when the two commits are disjoint
  * (append+append, merges of different partitions, compaction vs an
  * untouched-partition writer) and throws
  * ConcurrentModificationException when they overlap — never a silent
  * lost update. See [[commitDelta]]. Scale: the manifest lists FILES,
  * not rows — commit cost is O(files), never O(data). MERGE, UPDATE and
  * DELETE mark dead rows in deletion vectors and append the new copies,
  * so every file they do not mark carries forward by reference.
  *
  * Data skipping (L7): with `statsCols` set, each commit records those
  * columns' per-file min/max (one distributed job over the NEW files
  * only; carried-forward files keep their recorded stats), and every
  * predicate read — `read(where = …)`, DELETE/UPDATE, the SQL scan —
  * skips files whose zone maps, blooms or partition values exclude it
  * ([[ManifestTable.mightMatch]]) — the Delta/Iceberg zone-map pattern
  * that turns a narrow range query on a sorted/clustered 100 TB table
  * into a few file reads.
  */
object ManifestTable {
  /** Per-log-dir commit locks: serialize the exists-check + rename of
    * same-JVM writers (local POSIX rename overwrites, so the pair must
    * be atomic within the process; see [[ManifestTable.tryCommit]]).
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  /** Ref-lock keys (qualified logDir + "#refs") the current THREAD
    * already holds — makes [[ManifestTable.withRefLock]] reentrant:
    * the JVM monitor reenters on its own, but the refs.lock FILE
    * would self-deadlock (our heartbeat keeps it fresh, so a nested
    * create waits the full acquire budget and throws).
    */
  private val refLocksHeldByThread =
    ThreadLocal.withInitial[java.util.HashSet[String]](() =>
      new java.util.HashSet[String]())

  /** Spark's order of strings — the order string zone maps were
    * recorded in (UTF-8 bytes, not Java's UTF-16 `compareTo`). */
  private[lake] val Utf8Order: Ordering[UTF8String] =
    (a: UTF8String, b: UTF8String) => a.binaryCompare(b)

  /** Date/time renderings order like their values only for years
    * 0000-9999. */
  private[lake] val FourDigitYear = "\\d{4}-.*".r

  /** Salt for the bloom's second hash — part of the on-disk format. */
  private[lake] val BloomSalt = "graft_bloom"

  /** Manifest stats key carrying a file's deletion-vector reference
    * (mn = sidecar path relative to the table root, mx = deleted-row
    * count, kind = "D"). Part of the on-disk format. Not a column
    * name, so it can never collide with zone-map/bloom stats.
    */
  private[lake] val DvKey = "#dv"

  /** Stats key for a file's exact row count (min = max = count, kind
    * = "C"), recorded at write time from the parquet footer. Part of
    * the on-disk format; like [[DvKey]], the '#' prefix keeps it out
    * of the column-name space. Together with the DV mark counts it
    * makes COUNT(*) a metadata-only query ([[ManifestTable
    * .metadataRowCount]]).
    */
  private[lake] val CountKey = "#n"

  /** Stats key for a file's length in bytes (min = max = length, kind
    * = "L"), taken when the write task closes the file. Scans list
    * files with it (the parquet reader seeks to the footer by it), and
    * every size report sums it, so no data file is stat'ed. Entries
    * written before the key existed are stat'ed instead
    * ([[ManifestTable.sizeOf]]). Part of the on-disk format.
    */
  private[lake] val SizeKey = "#b"

  /** Stats key for a file's ROW-ID BASE (min = max = base, kind =
    * "R"): the Delta row-tracking design. A row's stable id is
    * `base + its parquet row index`; bases are allotted at commit
    * time — `max(version << 40, 1 + the live high watermark)` plus the
    * cumulative row count of the files committed before it — so ids
    * never collide across commits, restores, or clone-then-append.
    * Files REWRITTEN by ops that must preserve identity (update
    * copies, compaction, purge) instead carry ids physically in
    * [[RidPhysCol]]; reads resolve `coalesce(physical, base + index)`.
    * Part of the on-disk format; '#'-prefixed like [[DvKey]].
    */
  private[lake] val RidKey = "#rid"

  /** Physical column name for materialized row ids in rewritten files.
    * Hidden from every read surface ([[readFiles]] drops it unless the
    * caller asks); surfaces logically as [[RowIdCol]].
    */
  private[lake] val RidPhysCol = "_graft_rid"

  /** Logical row-id column [[readWithRowId]] exposes. */
  val RowIdCol = "_row_id"

  /** Declared-schema metadata key holding a column's DEFAULT, stored
    * as an evaluated literal's SQL (Delta's materialize-at-ALTER
    * semantics). Part of the on-disk [[TableMetadata]] format.
    */
  private[lake] val DefaultKey = "default"

  /** Spark's existence-default field-metadata key: the parquet readers
    * fill a column missing FROM A FILE with this literal (public Spark
    * behavior since 3.4; files holding the column keep their values,
    * explicit NULLs included).
    */
  private[lake] val ExistsDefaultKey = "EXISTS_DEFAULT"

  private[lake] def defaultOf(f: StructField): Option[String] =
    if (f.metadata.contains(DefaultKey))
      Some(f.metadata.getString(DefaultKey))
    else None

  /** In-commit-timestamp header line prefix. Every manifest/delta file
    * published since this format revision opens with `#ict\t<epochMs>`
    * — the commit's wall-clock stamped INSIDE the log entry (Delta's
    * in-commit-timestamp design), so `TIMESTAMP AS OF`, CDF timestamp
    * anchors and `history()` survive a directory copy/rsync/migration
    * that perturbs file mtimes. Stamps are made strictly monotonic at
    * commit time (`max(now, prev + 1)`); legacy files without the
    * header fall back to publication mtime, exactly the old behavior.
    * Lines starting with '#' can never be entries: data files are
    * engine-named (uuid/part-*), so no rel path starts with '#'.
    */
  private[lake] val IctPrefix = "#ict\t"

  /** Cross-process ref-lock staleness horizon: a `refs.lock` whose
    * mtime is older than this is presumed abandoned (crashed holder)
    * and may be broken by a waiter. Live holders heartbeat the file
    * every [[RefLockStaleMs]]/3, so only a genuinely dead process ever
    * ages past it.
    */
  val RefLockStaleMs: Long = 15L * 60 * 1000

  /** How long a ref mutation waits for the cross-process lock before
    * failing loudly (a vacuum can legitimately hold it for minutes).
    */
  val RefLockAcquireMs: Long = 20L * 60 * 1000

  /** Default vacuum retention horizon: unreferenced files younger than
    * this may belong to an in-flight commit (staged before the manifest
    * rename) and are left alone. One hour covers any realistic commit
    * staging window; tests pass `minAgeMs = 0`.
    */
  val DefaultVacuumMinAgeMs: Long = 60L * 60 * 1000

  /** Above this many keys, [[ManifestTable.deleteKeys]] switches from a
    * literal IN predicate to a broadcast semi-join.
    */
  private[lake] val InLiteralMaxKeys = 1000

  /** Full-snapshot checkpoint cadence for the commit log: versions at
    * this spacing (and v0) write the complete file list; everything
    * between writes O(changed-files) delta entries. Bounds the delta
    * chain a reader folds to resolve any version.
    */
  private[lake] val CheckpointEvery = 10

  /** Hadoop output-committer options for ENGINE-INTERNAL parquet
    * writes (the staged data-file write, DV/CDC sidecars): algorithm
    * v2 moves task output straight to its destination (the default
    * v1 re-renames everything again at job commit — pure churn for
    * directories only this engine reads), and the _SUCCESS marker is
    * skipped (visibility comes from the MANIFEST commit, never from
    * directory state; sidecar dirs are uuid-fresh and referenced only
    * after their commit, and a crash's debris is exactly the orphan
    * class vacuum already sweeps).
    */
  private[lake] val InternalWriteOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** Shared daemon pool for overlapping INDEPENDENT per-commit Spark
    * jobs (guide §2.6): a DML commit's CDC sidecar write, DV sidecar
    * write, staged data-file writes and their bounded stats jobs have
    * no mutual dependencies once the hit set is checkpointed, yet ran
    * serially from the driver — each job's straggler tail left the
    * cluster idle. Submitting them from separate threads lets the next
    * job's tasks back-fill freed executors (2-3 in flight is the
    * guide's sweet spot; commit fan-out is naturally that small).
    * Cached pool (bursty, tiny thread counts), daemon threads so a
    * dying driver never hangs on a stuck commit job.
    */
  private lazy val commitPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "graft-commit")
      t.setDaemon(true)
      t
    })

  private[graft] def async[T](body: => T): java.util.concurrent.Future[T] =
    commitPool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = body
    })

  /** Join an [[async]] task, unwrapping the pool's ExecutionException
    * so callers see the original failure (a CHECK-constraint throw
    * from a staged write must surface as itself).
    */
  private[graft] def await[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }

  /** Read-back schema per IMMUTABLE data file (files are uuid-named
    * and never modified in place, so path → schema is a pure
    * function): seeded at write time from one driver-side footer read
    * of the freshly staged files, consulted by [[readFiles]] so that
    * reads of engine-written unpartitioned file sets skip the
    * mergeSchema inference pass — a whole Spark job per read at bench
    * scale, a footer sweep of every referenced file at any scale.
    * Bounded; eviction just means paying the inference again.
    */
  // Bounded LRU, not clear-all-at-capacity: a table wider than the
  // old 4096-entry flush point flushed the WHOLE memo every read
  // cycle and silently re-paid the mergeSchema sweep forever (r18
  // verdict item 6) — access-ordered eviction keeps the hot working
  // set resident and only the coldest entries re-pay inference.
  // ~16k entries of (path, schema) is a few MB of driver metadata.
  private val fileSchemaMemo: java.util.Map[
      String, org.apache.spark.sql.types.StructType] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
          String, org.apache.spark.sql.types.StructType](1024, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[
            String, org.apache.spark.sql.types.StructType]): Boolean =
          size() > 16384
      })

  private[lake] def rememberFileSchema(path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    fileSchemaMemo.put(path, schema): Unit
  }

  private[lake] def recalledFileSchema(
      path: String): Option[org.apache.spark.sql.types.StructType] =
    Option(fileSchemaMemo.get(path))

  /** Name-based union of two file schemas, the driver-side equivalent
    * of parquet's mergeSchema for the schemas this engine writes:
    * same-name fields must carry the SAME type (the engine never
    * widens a type across files — evolution only adds columns), the
    * right side's new fields append, nullability unions. None on a
    * type conflict — the caller then falls back to Spark's real
    * distributed merge pass, which owns widening semantics.
    */
  private[lake] def mergeFlat(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    val byName = a.fields.map(f => f.name -> f).toMap
    val conflict = b.fields.exists(f =>
      byName.get(f.name).exists(_.dataType != f.dataType))
    if (conflict) None
    else {
      val merged = a.fields.map { f =>
        val rn = b.fields.find(_.name == f.name)
        f.copy(nullable = f.nullable || rn.forall(_.nullable))
      } ++ b.fields.filterNot(f => byName.contains(f.name))
      Some(org.apache.spark.sql.types.StructType(merged))
    }
  }

  /** Reconstruct a fully-configured instance from a root path alone,
    * using the layout the first commit persisted in the metadata record
    * — how the SQL procedure surface addresses tables by path. Falls
    * back to an unconfigured instance for a table with no commit yet.
    */
  def forRoot(spark: SparkSession, root: String): ManifestTable = {
    val bare = new ManifestTable(spark, root)
    bare.metadata.config.fold(bare)(c => new ManifestTable(spark, root,
      statsCols = c.statsCols, bloomCol = c.bloomCol, bloomBits = c.bloomBits,
      bloomHashes = c.bloomHashes, partitionCols = c.partitionCols,
      partitionSpec = c.partitionSpec))
  }

  /** [[forRoot]] with a caller-supplied identity partition tuple.
    * `None` = no opinion (the sink without `partitionBy`) — the
    * recorded layout rules. `Some(cols)` = an EXPLICIT tuple (possibly
    * empty): it configures a FRESH table's layout, and against an existing
    * table it must match the declared tuple — a conflict refuses
    * rather than silently writing a second hive layout into the same
    * data dir (which leaves the table unreadable under partition
    * discovery). One create-or-validate contract shared by the
    * `CALL graft.write` procedure and the streaming sink; validation
    * is a pure metadata-record read — no Spark job.
    */
  def forRootWithPartitions(spark: SparkSession, root: String,
      asked: Option[Seq[String]]): ManifestTable = {
    val existing = forRoot(spark, root)
    asked match {
      case None => existing
      case Some(cols) if existing.latestVersion.isEmpty =>
        if (cols.isEmpty) existing
        else new ManifestTable(spark, root, partitionCols = cols)
      case Some(cols) =>
        val (idCols, specs) = existing.declaredPartitioning
        val current = idCols ++ specs.map(PartitionTransform.parse(_).name)
        require(current == cols,
          s"table $root partitions on (${current.mkString(", ")}); " +
            s"cannot write with (${cols.mkString(", ")})")
        existing
    }
  }

  /** Deletion-vector sidecar schema / scan-side row-id column names. */
  private[lake] val DvFileCol = "_graft_dv_file"
  private[lake] val DvPosCol = "_graft_dv_pos"

  /** Static schema of every DV sidecar (engine-written, fixed): reads
    * pass it explicitly so they skip the per-read parquet footer
    * schema-inference pass — one driver-side footer open per sidecar
    * reference at bench scale, a listing+footer sweep at any scale.
    */
  private[lake] val DvSidecarSchema: StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(Seq(StructField(DvFileCol, StringType),
      StructField(DvPosCol, LongType)))
  }

  /** Change-data-feed metadata column / sidecar constants (T15). */
  private[graft] val ChangeTypeCol = "_change_type"
  private[lake] val CdcTagKey = "cdc"
  /** Tag value for a commit that changed NO rows (compaction,
    * clustering, purge, layout rewrite): the change feed emits nothing
    * for it, keylessly.
    */
  private[lake] val CdcNoChanges = "none"

  /** Tag value for a whole-file replacement commit (overwrite,
    * partition overwrite, restore): the change feed derives
    * the commit's changes keylessly FROM THE FILE DELTA — removed
    * files' live rows as deletes, added files' rows as inserts (the
    * Delta INSERT-OVERWRITE CDF representation). Exact in effect
    * (applying it reproduces the post state) though not row-minimal
    * for rewrites that carry rows verbatim; costs O(changed files),
    * no sidecar written.
    */
  private[lake] val CdcFileDiff = "filediff"

  /** A file's LAYOUT SIGNATURE: the ordered hive partition-column
    * names its relative path carries (outermost first). After a lazy
    * [[ManifestTable.setPartitionSpec]] the signature identifies which
    * partition spec a file was written under — hive dir values escape
    * '=' ([[org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    * .escapePathName]]), so the first '=' always ends the column name,
    * and uuid-minted data filenames never contain one.
    */
  private[lake] def layoutColsOf(rel: String): Seq[String] =
    rel.split("/").dropRight(1).toSeq
      .filter(_.contains('=')).map(_.takeWhile(_ != '='))

  /** Write the file `dest`, replacing any file there: the content goes
    * to a temp sibling, which is renamed over `dest` FIRST (a local-FS
    * rename replaces atomically). Only when the file system refuses
    * that rename (HDFS never renames onto an existing file) is the old
    * file moved aside — the delete of a delete-then-rename, but undone
    * when the second rename fails too, which then throws: a failed
    * replace keeps the old content. The temp file never outlives the
    * call. Shared by every single-file replace: log-dir sidecars,
    * catalog views, registered schemas.
    */
  private[graft] def replaceFile(fs: FileSystem, dest: Path)(
      write: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(dest.getParent, s".tmp-${dest.getName}-${UUID.randomUUID()}")
    try {
      val out = fs.create(tmp, false)
      try write(out) finally out.close()
      if (!fs.rename(tmp, dest)) {
        val old = new Path(dest.getParent, s".old-${dest.getName}-${UUID.randomUUID()}")
        val aside = fs.rename(dest, old)
        if (!fs.rename(tmp, dest)) {
          if (aside) fs.rename(old, dest)
          throw new IllegalStateException(s"could not write $dest")
        }
        if (aside) fs.delete(old, false)
      }
    } finally fs.delete(tmp, false): Unit
  }

  /** Rebuild a Hadoop Configuration from its serialized entries —
    * executor-side FS access for distributed vacuum (Configuration is
    * a Writable, not Serializable, so tasks get a plain Map).
    */
  private[lake] def confFromMap(entries: Map[String, String])
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

}

class ManifestTable(spark: SparkSession, root: String,
    partitionCol: Option[String] = None,
    statsCol: Option[String] = None,
    statsCols: Seq[String] = Nil,
    bloomCol: Option[String] = None,
    bloomBits: Int = 1 << 16,
    bloomHashes: Int = 6,
    partitionCols: Seq[String] = Nil,
    partitionSpec: Seq[String] = Nil) {

  /** Hidden-partitioning transforms (`days(ts)`, `bucket(16, id)`,
    * `truncate(4, c)` — [[PartitionTransform]]): each contributes a
    * DERIVED hive column computed from its source column at write
    * time, dropped from every scan, and recomputed for pruning — the
    * Iceberg hidden-partitioning contract.
    */
  private val transforms: Seq[PartitionTransform] =
    partitionSpec.map(PartitionTransform.parse)

  /** All hive partition columns, outermost first: the legacy single
    * `partitionCol` plus any additional `partitionCols` (identity),
    * then the transform-derived hidden columns — real tables
    * partition by (date, region)/(date, tenant), and merge scoping,
    * partition overwrite, and compaction must treat the partition as
    * the full tuple.
    */
  private val identityPartCols: Seq[String] =
    (partitionCol.toSeq ++ partitionCols).distinct
  private val partCols: Seq[String] =
    identityPartCols ++ transforms.map(_.name)

  /** Declared layout, for catalog surfaces that report partitioning:
    * (identity partition columns, transform specs like `bucket(8,c)`).
    */
  def declaredPartitioning: (Seq[String], Seq[String]) =
    (identityPartCols, transforms.map(_.spec))

  /** Add any missing derived partition columns (no-op for identity
    * tables and for frames already carrying them — derivation is
    * deterministic, so recomputing can never disagree with dirs).
    */
  private def withDerived(df: DataFrame): DataFrame =
    transforms.foldLeft(df) { (d, t) =>
      if (d.columns.contains(t.name)) d
      else d.withColumn(t.name, t.derive(col(t.src), d.schema(t.src).dataType))
    }

  /** Partition-tuple value expression over a frame that carries SOURCE
    * columns (derived columns may be absent — partition overwrite
    * takes raw user frames).
    */
  private def partValueExpr(df: DataFrame, c: String): Column =
    transforms.find(_.name == c) match {
      case Some(t) if !df.columns.contains(c) =>
        t.derive(col(t.src), df.schema(t.src).dataType)
      case _ => col(c)
    }

  /** All zone-map columns: the legacy single `statsCol` plus any
    * additional `statsCols` (multi-column zone maps are what make
    * z-order clustering worth anything — skipping must work on every
    * clustered dimension, not just one).
    */
  private val allStatsCols: Seq[String] =
    (statsCol.toSeq ++ statsCols).distinct

  private val logDir = new Path(root, "_graft_log")
  private val dataDir = new Path(root, "data")
  private val dvDir = new Path(root, "_graft_dv")
  private val cdcDir = new Path(root, "_graft_cdc")
  private val DvKey = ManifestTable.DvKey
  private val DvFileCol = ManifestTable.DvFileCol
  private val DvPosCol = ManifestTable.DvPosCol
  // resolved once: every resolution copies the whole Hadoop and SQL conf
  private lazy val fs: FileSystem =
    logDir.getFileSystem(spark.sessionState.newHadoopConf())

  // Deletion-vector sidecars are directories read by path, so Spark
  // lists them; at the default parallelPartitionDiscovery threshold
  // (32) a read of >32 sidecars launches a whole Spark job just to
  // list them. Up to 8192 the driver's listing pool handles it in
  // microseconds per path. SCOPED per sidecar read (listing happens
  // eagerly at DataFrame construction): the flip is saved/restored
  // around each reader build instead of mutating the session conf, and
  // a value the user tuned away from the default is respected
  // untouched. A concurrent commit-pool read racing the restore can at
  // worst see the default back early and pay the distributed listing —
  // a perf blip, never a wrong result. Data files need none of this:
  // [[ManifestFileIndex]] lists them from the manifest.
  private def withListingScoped[T](body: => T): T = {
    val k = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if (spark.conf.get(k, "32") != "32") body // user-tuned: respect it
    else {
      spark.conf.set(k, "8192")
      try body finally spark.conf.set(k, "32")
    }
  }

  private def manifestPath(v: Int) = new Path(logDir, f"v$v%05d.manifest")

  /** Delta commit file: O(changed files) lines (`-<TAB>rel` removals,
    * `+<TAB>entry` adds/re-points) against the previous version. Full
    * `v<N>.manifest` snapshots are checkpoints — written for v0, every
    * [[ManifestTable.CheckpointEvery]]-th version, and by ops whose
    * intent is a whole new file set (overwrite/restore/clone). Without
    * deltas, a million-file table would rewrite an O(files) manifest
    * for every tiny append or DV commit.
    */
  private def deltaPath(v: Int) = new Path(logDir, f"v$v%05d.delta")

  /** Everything in the log dir (nothing before the first write). */
  private def logListing: Seq[FileStatus] =
    try fs.listStatus(logDir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  def versions: Seq[Int] = versionsIn(logListing)

  private def versionsIn(listing: Seq[FileStatus]): Seq[Int] =
    listing.map(_.getPath.getName)
      .filter(n => n.startsWith("v") &&
        (n.endsWith(".manifest") || n.endsWith(".delta")))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest")
        .stripSuffix(".delta").toInt)
      .distinct
      .sorted

  def latestVersion: Option[Int] = versions.lastOption

  /** Per-file min/max of one stats column. `kind` records the ordering
    * the stats were computed under ("N" numeric, "S" lexicographic) so
    * pruning compares in the SAME domain: Spark's min/max on a STRING
    * column is lexicographic, and a file holding {"9","10"} records
    * min="10"/max="9" — parsing those as numbers at prune time would
    * wrongly skip the file for range ["1","2"] even though "10"
    * satisfies the lexicographic residual filter (silent row loss).
    */
  private case class ColStats(mn: String, mx: String, kind: String)

  /** One manifest line: relative path + per-column zone-map stats.
    * Format: `rel[\tcol=min:max:kind]*` with col/min/max URL-encoded
    * (so '=', ':' and '\t' inside values cannot break the framing).
    * Legacy single-column lines (`rel\tmin\tmax[\tkind]`) parse onto
    * the table's configured primary statsCol.
    */
  private case class Entry(rel: String, stats: Map[String, ColStats]) {
    def line: String =
      if (stats.isEmpty) rel
      else rel + "\t" + stats.toSeq.sortBy(_._1).map { case (c, s) =>
        s"${Entry.enc(c)}=${Entry.enc(s.mn)}:${Entry.enc(s.mx)}:${s.kind}"
      }.mkString("\t")
  }
  private object Entry {
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    def dec(s: String): String =
      java.net.URLDecoder.decode(s, "UTF-8")
    def parse(line: String, primaryCol: Option[String]): Entry =
      line.split('\t') match {
        case Array(rel) => Entry(rel, Map.empty)
        case fields if fields(1).contains('=') =>
          Entry(fields(0), fields.tail.map { f =>
            val Array(c, rest) = f.split('=')
            rest.split(':') match {
              case Array(mn, mx, k) => dec(c) -> ColStats(dec(mn), dec(mx), k)
              case _ => throw new IllegalStateException(s"bad stats field $f")
            }
          }.toMap)
        case Array(rel, mn, mx, k) =>
          Entry(rel, primaryCol.map(_ -> ColStats(dec(mn), dec(mx), k)).toMap)
        case Array(rel, mn, mx) =>
          Entry(rel, primaryCol.map(_ -> ColStats(dec(mn), dec(mx), "N")).toMap)
        case _ => Entry(line, Map.empty)
      }
  }

  /** Ordering marker for statsCol's type: numeric types compare as
    * numbers; strings compare lexicographically (dates/timestamps render
    * as ISO strings, whose lexicographic order IS chronological).
    */
  private def statKindOf(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => "N"
      case _ => "S"
    }

  private def readLogLines(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Resolve a version's full entry list: a checkpoint manifest when
    * one exists, otherwise the nearest checkpoint at-or-below folded
    * forward through the delta chain. Chain length is bounded by the
    * checkpoint cadence, so resolution is O(checkpoint + cadence·delta)
    * — never O(versions).
    */
  private def entriesOf(version: Int): Seq[Entry] = {
    // '#'-prefixed lines are commit-level metadata (the `#ict` header),
    // never entries — data files are engine-named, no rel starts '#'
    def entryLines(p: Path): Seq[String] =
      readLogLines(p).filterNot(_.startsWith("#"))
    if (fs.exists(manifestPath(version)))
      return entryLines(manifestPath(version)).map(Entry.parse(_, statsCol))
    var s = version - 1
    while (s >= 0 && !fs.exists(manifestPath(s))) s -= 1
    if (s < 0) throw new IllegalStateException(
      s"no checkpoint manifest at or below v$version under $logDir")
    // fold preserving order: removals drop, adds append (a DV re-point
    // is remove+add of the same rel, matching the filterNot ++ added
    // shape full commits use)
    val acc = scala.collection.mutable.LinkedHashMap.from(
      entryLines(manifestPath(s)).map(Entry.parse(_, statsCol))
        .map(e => e.rel -> e))
    for (v <- s + 1 to version) {
      entryLines(deltaPath(v)).foreach { line =>
        if (line.startsWith("-\t")) acc.remove(line.substring(2)): Unit
        else if (line.startsWith("+\t")) {
          val e = Entry.parse(line.substring(2), statsCol)
          acc.remove(e.rel) // re-point: replace, appended at the end
          acc.put(e.rel, e): Unit
        } else throw new IllegalStateException(
          s"bad delta line in ${deltaPath(v)}: $line")
      }
    }
    acc.values.toList
  }

  /** Data files (absolute) referenced by a version. */
  def filesOf(version: Int): Seq[String] =
    entriesOf(version).map(e => new Path(root, e.rel).toString)

  /** Time-travel read (latest when version is None) of the rows
    * matching `where`. Deletion vectors of the version's entries are
    * applied (merge-on-read). Any filter on the frame — `where` or a
    * caller's own — that Catalyst pushes into the scan skips files
    * ([[ManifestFileIndex]] runs the kernel, [[mightMatch]]).
    */
  def read(version: Option[Int] = None, where: Column = lit(true)): DataFrame = {
    val (v, md) = snapshot(version)
    val all = readAll(entriesOf(v), md)
    if (where == lit(true)) all else all.filter(where)
  }

  /** [[read]] without a predicate, under an already-resolved record. */
  private def readAt(version: Option[Int], md: TableMetadata): DataFrame =
    readAll(entriesOf(versionOrLatest(version)), md)

  /** [[read]]'s frame over a resolved entry list. */
  private def readAll(entries: Seq[Entry], md: TableMetadata): DataFrame =
    if (md.identity.isEmpty) rowsOf(entries, md)
    else
      // identity columns derive from the stable row id — ride the
      // rid-resolving read (the identity-free path pays nothing)
      withIdentityCols(rowsOf(entries, md, withRowId = true), md.identity)
        .drop(ManifestTable.RowIdCol)

  /** An entry set's rows with the declared columns a read shows. */
  private def rowsOf(entries: Seq[Entry], md: TableMetadata,
      withRowId: Boolean = false): DataFrame =
    withDeclared(readEntries(entries, md, withRowId), md)

  /** T16 row tracking: [[read]] plus the stable [[ManifestTable
    * .RowIdCol]] — the Delta row-id surface. Ids are allotted at
    * commit (entry `#rid` base + parquet row index) and materialized
    * physically when a rewrite moves rows, so they survive DV
    * re-points, update copies, compaction, purge, restore and clone.
    * NULL for rows whose file predates row tracking (rewrite via
    * OPTIMIZE/REORG to adopt ids).
    */
  def readWithRowId(version: Option[Int] = None): DataFrame = {
    val (v, md) = snapshot(version)
    withIdentityCols(rowsOf(entriesOf(v), md, withRowId = true), md.identity)
  }

  /** Exact row count from manifest metadata alone — `Some(n)` when
    * every live file of the version carries the write-time `#n` count
    * stat; `None` (caller falls back to scanning) when any file
    * predates the stat. DV-deleted rows subtract via the per-file
    * mark counts the DV commit records (exact distinct positions), so
    * the result equals `read(version).count()` exactly. O(manifest)
    * driver work, zero data IO — at 100 TB this answers COUNT(*) in
    * manifest-resolution time instead of a full scan, the same
    * metadata shortcut Delta/Iceberg serve counts from.
    */
  def metadataRowCount(version: Option[Int] = None): Option[Long] = {
    val v = version.orElse(latestVersion)
    if (v.isEmpty) return None
    val entries = entriesOf(v.get)
    val counts = entries.map(_.stats.get(ManifestTable.CountKey))
    if (counts.exists(_.isEmpty)) None
    else try {
      val total = counts.map(_.get.mn.toLong).sum
      val dv = entries.flatMap(_.stats.get(DvKey)).map(_.mx.toLong).sum
      Some(total - dv)
    } catch { case _: NumberFormatException => None }
  }

  /** Exact metadata-only MIN/MAX of a zone-mapped column: the global
    * extremum is the extremum of the per-file zone-map bounds, read
    * from the manifest alone — zero data IO, the stats-read shortcut
    * Delta/Iceberg serve MIN/MAX from. Some((min, max, kind)) ONLY
    * when exactly answerable; None (caller scans normally) whenever
    * any of these holds:
    *  - the column has no zone map, or any live file lacks its stat
    *    (an unstatted file is indistinguishable from an all-null one);
    *  - any live file carries deletion vectors (a DV'd row could BE
    *    the extremum);
    *  - numeric stats that do not parse as finite decimals (NaN/
    *    Infinity floats — their ordering is not the stats ordering);
    *  - the snapshot has no files (SQL MIN of an empty table is NULL,
    *    which a plain empty scan already answers).
    * Values are the recorded stat strings in the column's stat domain
    * (`kind` as in the zone maps: "N" numeric, "S" UTF-8 byte order);
    * min/max over files folds with the same order pruning uses.
    */
  def metadataMinMax(c: String, version: Option[Int] = None,
      boundOk: String => Boolean = _ => true): Option[(String, String, String)] = {
    val pc = toPhysical(c, metadata.columnMapping) // stats keys are recorded physical
    if (!allStatsCols.contains(pc)) return None
    val v = version.orElse(latestVersion)
    if (v.isEmpty) return None
    val entries = entriesOf(v.get)
    if (entries.isEmpty) return None
    if (entries.exists(_.stats.contains(DvKey))) return None
    val stats = entries.map(_.stats.get(pc))
    if (stats.exists(_.isEmpty)) return None
    val ss = stats.map(_.get)
    val kinds = ss.map(_.kind).distinct
    if (kinds.sizeIs != 1 || (kinds.head != "N" && kinds.head != "S"))
      return None
    val kind = kinds.head
    if (kind == "N" && ss.exists(s => Seq(s.mn, s.mx).exists(tryBigDecimal(_).isEmpty)))
      return None
    // caller-supplied PER-FILE bound validation (e.g. the catalog's
    // date guard): validating only the folded extremum is too late —
    // a bound that breaks the stat ordering (a 5-digit-year date
    // whose ISO string sorts below '9999-…') corrupts the fold itself
    if (ss.exists(s => !boundOk(s.mn) || !boundOk(s.mx)))
      return None
    val ord = statOrdering(kind)
    Some((ss.map(_.mn).min(ord), ss.map(_.mx).max(ord), kind))
  }

  /** The newest version committed at or before `tsMillis` — the
    * snapshot a `timestampAsOf` pin resolves to ([[readAsOf]] raises
    * when this is None).
    */
  def versionAtOrBefore(tsMillis: Long): Option[Int] =
    versions.filter(commitTimeOf(_) <= tsMillis).lastOption

  /** [[metadataRowCount]] at the [[versionAtOrBefore]] snapshot; None
    * when no such version exists — the caller's scan then raises the
    * real error.
    */
  def metadataRowCountAsOf(tsMillis: Long): Option[Long] =
    versionAtOrBefore(tsMillis).flatMap(v => metadataRowCount(Some(v)))

  /** L22b: bucket-partitioned read that REPORTS its partitioning —
    * the storage-partitioned-join surface. A table declared with a
    * `bucket(n, c)` transform already lays files out by
    * `pmod(hash(c), n)`, which IS Spark's `HashPartitioning(c, n)`
    * partition id; this read exposes one RDD partition per bucket
    * through [[graft.plans.BucketedTableScan]], so joining two tables
    * bucketed the same way on the bucket key plans with NO Exchange on
    * either side (local sort + merge join per bucket) — the
    * Delta/Iceberg bucketed-layout answer to the recurring fact⋈fact
    * shuffle. Row set and schema are identical to [[read]] (hidden
    * columns dropped, renames applied, declared columns null-filled);
    * parallelism is one task per bucket, so pick `n` for the target
    * concurrency at write time.
    *
    * Refuses when the snapshot carries deletion vectors: the DV
    * anti-join would break the per-bucket partition contract — run
    * REORG PURGE first.
    */
  def readBucketed(srcCol: String): DataFrame = {
    val t = transforms.collectFirst {
      case b: PartitionTransform.BucketOf if b.src == srcCol => b
    }.getOrElse(throw new IllegalArgumentException(
      s"readBucketed($srcCol): no bucket(n, $srcCol) transform declared " +
        s"(partitionSpec: ${transforms.map(_.spec).mkString(", ")})"))
    val (v, md) = snapshot(None)
    val entries = entriesOf(v)
    require(entries.forall(e => !e.stats.contains(DvKey)),
      s"readBucketed($srcCol): snapshot has deletion vectors; " +
        "REORG PURGE before bucketed-join reads")
    if (entries.isEmpty) return readAll(entries, md)

    val marker = s"${t.name}="
    val byFile = entries.map(e => new Path(root, e.rel).toString -> e).toMap
    val groups = Array.fill(t.n)(Seq.newBuilder[String])
    entries.foreach { e =>
      val b = e.rel.split('/').collectFirst {
        case seg if seg.startsWith(marker) =>
          Entry.dec(seg.stripPrefix(marker)).toInt
      }.getOrElse(throw new IllegalStateException(
        s"readBucketed: ${e.rel} is not under a ${t.name}= directory — " +
          "it predates the bucket spec (lazy setPartitionSpec); " +
          "compact() to migrate the layout first"))
      groups(b) += new Path(root, e.rel).toString
    }

    // ONE schema-inference pass over the full file set; per-bucket
    // reads pin this schema (no per-bucket footer re-scan), and the
    // visible schema derives from the same frame without a second pass
    val rawDf = readFiles(entries, md)
    val rawSchema = rawDf.schema
    val derivedAll =
      rawSchema.fieldNames.filter(_.startsWith(PartitionTransform.Prefix))
    val schema = withDeclared(toLogicalRename(
      if (derivedAll.isEmpty) rawDf
      else rawDf.drop(derivedAll.toIndexedSeq: _*), md), md).schema
    val keyType = schema(srcCol).dataType
    val nb = t.n
    val build: (Seq[String], Int) => DataFrame = { (files, b) =>
      val raw = readFiles(files.map(byFile), md, pinnedSchema = Some(rawSchema))
      // per-row placement integrity: every row must hash into its
      // group's bucket under the SURFACED key type — catches bucket-key
      // type drift across appends (hash(5: int) != hash(5L: long)),
      // where a silently mis-co-partitioned join would drop rows
      val guarded = raw.filter(
        when(pmod(hash(col(srcCol).cast(keyType)), lit(nb)) === lit(b),
          lit(true))
          .otherwise(raise_error(lit(
            s"readBucketed($srcCol): row hashes outside bucket $b — " +
              "bucket-key type drift across appends or corrupt layout; " +
              "rewrite the table with a consistent key type"))))
      val visible = withDeclared(toLogicalRename(
        if (derivedAll.isEmpty) guarded
        else guarded.drop(derivedAll.toIndexedSeq: _*), md), md)
      // the pinned rawSchema read null-fills columns a bucket's older
      // files lack and widens narrower file types, and withDeclared
      // adds declared-only columns — so every schema field is present
      // at its final type; this select only fixes the OUTPUT ORDER to
      // match the scan's declared attributes
      visible.select(
        schema.fieldNames.map(graft.functions.Cols.quoted).toIndexedSeq: _*)
    }

    // rename refuses on transform sources, so the physical source name
    // IS the surfaced column name
    val attrs = schema.fields.map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, nullable = true)()).toIndexedSeq
    // honest size stats for join selection, from the manifest
    val bytes = entries.iterator.map(e => BigInt(sizeOf(e))).sum
    graft.plans.BucketedScanStrategy.ensureRegistered(spark)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.plans.BucketedTableScan(attrs, srcCol, t.n,
        groups.map(_.result()).toIndexedSeq, bytes, build))
  }

  /** Entry-level read: scan the entries' files and anti-join out any
    * deletion-vector positions they reference ([[liveRows]]); derived
    * partition columns are hidden.
    */
  private def readEntries(entries: Seq[Entry], md: TableMetadata,
      withRowId: Boolean = false): DataFrame = {
    if (entries.isEmpty) return spark.emptyDataFrame
    val raw = liveRows(entries, md, withPos = false, withRid = withRowId)
    // hidden partitioning: derived layout columns never surface in a
    // scan (writers re-derive them from their sources). Drop by the
    // derived NAME PREFIX, not the current partitionSpec's transform
    // list — after evolvePartitionSpec, time-travel reads of
    // pre-evolution versions still carry the OLD spec's hidden hive
    // columns, which must stay hidden too
    val derived = raw.columns.filter(_.startsWith(PartitionTransform.Prefix))
    if (derived.isEmpty) raw else raw.drop(derived.toIndexedSeq: _*)
  }

  /** The LIVE rows of non-empty `entries`, under logical column names:
    * every row-level read — [[read]], the DML scans, the maintenance
    * rewrite — is this one scan. Deletion-vector positions anti-join
    * out by (file name, row index), a permanent row id: data files are
    * immutable and uuid-named, so a position recorded by any committed
    * DV can never misapply to another row, and positions only ever
    * grow per file, so unioning every referenced sidecar is exact.
    * DV-free entries pay no join.
    *
    * Both halves of a row's identity are per-file scan constants of
    * the manifest's file index, never joins:
    *  - `withPos` keeps the DV key as [[ManifestTable.DvFileCol]]
    *    (`_metadata.file_name`) and [[ManifestTable.DvPosCol]]
    *    (`_metadata.row_index`);
    *  - `withRid` adds the stable row id as [[ManifestTable.RowIdCol]]:
    *    `coalesce(the file's materialized [[ManifestTable.RidPhysCol]],
    *    its entry's `#rid` base + row index)`. NULL for rows whose file
    *    predates row tracking — callers that need total identity must
    *    check.
    */
  private def liveRows(entries: Seq[Entry], md: TableMetadata,
      withPos: Boolean, withRid: Boolean): DataFrame = {
    val dv = dvOf(entries)
    val raw = toLogicalRename(
      readFiles(entries, md, withPos = withPos || dv.isDefined, withRid = withRid), md)
    val live = dv.fold(raw)(d => raw.join(d, Seq(DvFileCol, DvPosCol), "left_anti"))
    if (withPos || dv.isEmpty) live else live.drop(DvFileCol, DvPosCol)
  }

  /** Union of the deletion-vector sidecars referenced by `entries` —
    * None when no entry carries a DV (the common, zero-cost case).
    */
  private def dvOf(entries: Seq[Entry]): Option[DataFrame] = {
    val rels = entries.flatMap(_.stats.get(DvKey).map(_.mn)).distinct
    if (rels.isEmpty) None
    else Some(withListingScoped(
      spark.read.schema(ManifestTable.DvSidecarSchema)
        .parquet(rels.map(r => new Path(root, r).toString): _*))
      .select(col(DvFileCol), col(DvPosCol)))
  }

  /** A data file's qualified path (a shallow clone's entries name
    * another root's files absolutely). */
  private def dataPath(e: Entry): Path =
    new Path(root, e.rel).makeQualified(fs.getUri, fs.getWorkingDirectory)

  /** A data file's length: its `#b` stat, or, for an entry written
    * before the stat existed, one stat of the file — the only place a
    * data file's size is read from the file system.
    */
  private def sizeOf(e: Entry): Long =
    e.stats.get(ManifestTable.SizeKey).flatMap(_.mn.toLongOption)
      .getOrElse(fs.getFileStatus(new Path(root, e.rel)).getLen)

  /** Scan a manifest file set, raw: physical column names, partition
    * columns from directory structure, files with no FS call
    * ([[ManifestFileIndex]]). Files group by (`data/` dir, LAYOUT
    * SIGNATURE), one index each, and the groups union by name: a
    * SHALLOW CLONE references the source's files by absolute path, so
    * a clone that later appends spans two roots, and after a lazy
    * setPartitionSpec a snapshot mixes files laid out under different
    * partition specs, whose hive directory schemas conflict (a
    * partition column one group recovers from dirs lives in the other
    * group's files as ordinary data, so no column is ever null-filled
    * wrongly). `withPos` adds the DV key columns and `withRid` the
    * stable row id ([[liveRows]]); the physical row-id column is
    * dropped either way.
    *
    * A group's schema: `pinnedSchema` when given, else the union of its
    * files' remembered write-time schemas, else parquet's mergeSchema
    * inference over its listed files — so a column added by a later
    * append surfaces (null-filled for pre-evolution files) instead of
    * depending on which file seeds the schema.
    */
  private def readFiles(entries: Seq[Entry], md: TableMetadata,
      withPos: Boolean = false, withRid: Boolean = false,
      pinnedSchema: Option[StructType] = None): DataFrame = {
    val groups = entries.map(e => dataPath(e) -> e).groupBy { case (p, _) =>
      val f = p.toString
      val bp = f.substring(0, f.lastIndexOf("/data/") + "/data".length)
      (bp, ManifestTable.layoutColsOf(f.substring(bp.length + 1)).mkString("/"))
    }
    val defaults = md.declaredDefaults
    groups.toSeq.sortBy(_._1).map { case ((bp, _), files) =>
      // a pinned schema (from one inference over the full file set)
      // skips the per-call mergeSchema footer scan — the bucketed read
      // path calls this once PER BUCKET. The same skip applies when
      // every file of the group carries a remembered write-time schema:
      // the memos ARE the footer schemas, so their driver-side merge
      // equals what the distributed mergeSchema sweep — a whole Spark
      // job over every referenced file per read — would infer. A memo
      // omits the hive columns, whose types the index still infers from
      // dirs. Only sets with a memo miss or a cross-file TYPE conflict
      // (which the engine never writes; evolution only adds columns)
      // keep the real mergeSchema pass.
      val memos = files.map { case (_, e) =>
        ManifestTable.recalledFileSchema(new Path(root, e.rel).toString) }
      val remembered: Option[StructType] =
        if (memos.contains(None)) None
        else memos.flatten.foldLeft(Option(StructType(Nil))) {
          (acc, s) => acc.flatMap(ManifestTable.mergeFlat(_, s))
        }
      val known = pinnedSchema.orElse(remembered)
        .map(s => withExistenceDefaults(s, defaults).getOrElse(s))
      val index = new ManifestFileIndex(spark, new Path(bp),
        files.map { case (p, e) => ManifestFileIndex.file(p, sizeOf(e),
          e.stats.get(ManifestTable.RidKey).flatMap(_.mn.toLongOption)) },
        known, skipping(files))
      val dataSchema = known.getOrElse {
        val inferred = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat().inferSchema(spark, Map("mergeSchema" -> "true"),
            index.allFiles())
          .getOrElse(throw new IllegalStateException(s"no parquet schema under $bp"))
        // L40: files PREDATING a defaulted column fill it with the default
        withExistenceDefaults(inferred, defaults).getOrElse(inferred)
      }
      val df = org.apache.spark.sql.graft.GraftSqlBridge.fileFrame(spark, index,
        dataSchema, new ManifestParquetFormat)
      val phys =
        if (df.columns.contains(ManifestTable.RidPhysCol)) col(ManifestTable.RidPhysCol)
        else lit(null).cast("long")
      val constants =
        (if (withRid) Seq(coalesce(phys,
          col(s"_metadata.${ManifestFileIndex.RidBase}") + col("_metadata.row_index"))
          .as(ManifestTable.RowIdCol)) else Nil) ++
        (if (withPos) Seq(col("_metadata.file_name").as(DvFileCol),
          col("_metadata.row_index").as(DvPosCol)) else Nil)
      val scan = if (constants.isEmpty) df else df.select(col("*") +: constants: _*)
      // materialized row ids are engine-internal: hidden from every read
      scan.drop(ManifestTable.RidPhysCol)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The file-skipping test a [[ManifestFileIndex]] over `files` runs
    * on the data filters Catalyst pushes into its scan: the kernel
    * ([[mightMatch]]) over the filters' V1 forms, typed by the columns
    * they reference. Scan filters name physical columns.
    */
  private def skipping(files: Seq[(Path, Entry)])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Path => Boolean = {
    lazy val byPath = files.toMap
    filters => {
      val v1 = filters.flatMap(org.apache.spark.sql.graft.GraftSqlBridge.translateFilter)
      if (v1.isEmpty) _ => true
      else {
        val types = filters.flatMap(_.references).map(a => a.name -> a.dataType).toMap
        val test = mightMatch(v1, types.get, Map.empty)
        p => test(byPath(p))
      }
    }
  }

  /** Commit wall-clock time of a version (epoch millis) — the `#ict`
    * in-commit stamp written into the manifest/delta header at publish
    * time (strictly monotonic over versions; survives directory
    * copies/migrations that perturb mtimes). Legacy pre-ICT log files
    * fall back to the publication mtime, the old behavior.
    */
  def commitTimeOf(version: Int): Long = {
    val cands = Seq(deltaPath(version), manifestPath(version)).filter(fs.exists)
    if (cands.isEmpty) throw new IllegalStateException(
      s"version $version has no manifest or delta under $logDir")
    // in-commit stamp preferred (survives copies/rsync that perturb
    // mtimes); min across both file forms so a vacuum-time checkpoint
    // materialized BESIDE a delta never shifts the original commit
    // time. Legacy pre-ICT files fall back to publication mtime.
    val stamped = cands.flatMap(headerIct)
    if (stamped.nonEmpty) stamped.min
    else cands.map(fs.getFileStatus(_).getModificationTime).min
  }

  /** The `#ict` header stamp of one log file, if present (one bounded
    * first-line read — never the whole manifest).
    */
  private def headerIct(p: Path): Option[Long] = {
    val in = fs.open(p)
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      Option(r.readLine())
        .filter(_.startsWith(ManifestTable.IctPrefix))
        .flatMap(_.substring(ManifestTable.IctPrefix.length).toLongOption)
    } finally in.close()
  }

  /** Time-travel read by timestamp (the common Delta/Iceberg
    * `timestampAsOf` interface): the newest version committed at or
    * before `tsMillis`. Throws if the table's first commit is later.
    */
  def readAsOf(tsMillis: Long): DataFrame = {
    val v = versionAtOrBefore(tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"no version at or before $tsMillis (first commit: " +
          s"${versions.headOption.map(commitTimeOf).getOrElse("none")})"))
    read(Some(v))
  }

  /** Attempt to publish `entries` as version `v`. Returns false when a
    * concurrent writer already published that version (the caller
    * rebases and retries); see [[publishOnce]].
    */
  private def tryCommit(v: Int, entries: Seq[Entry]): Boolean =
    tryPublish(v, entries.map(_.line).mkString("\n") + "\n", asDelta = false)

  /** Write `content` to a temp file and rename it to `dest` unless any
    * of `taken` exists — the no-overwrite publish of every numbered log
    * file (versions, checkpoints, metadata records, branches); false
    * when taken. The exists-check + rename pair holds a JVM-wide
    * per-root lock because a POSIX rename OVERWRITES its destination.
    * Cross-process local-FS writers retain a tiny exists→rename window
    * (the caveat Delta's local LogStore documents; HDFS/object-store
    * renames are atomic no-overwrite and close it).
    */
  private def publishOnce(content: String, dest: Path, taken: Path*): Boolean = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val won = ManifestTable.lockFor(fs.makeQualified(logDir).toString)
      .synchronized { !taken.exists(fs.exists) && fs.rename(tmp, dest) }
    if (!won) fs.delete(tmp, false)
    won
  }

  // ---- table metadata: one write-once record ([[TableMetadata]]) ----

  private def metadataPath(n: Int) = new Path(logDir, f"m$n%05d.metadata")

  private val MetadataName = "m(\\d+)\\.metadata".r

  /** Numbered metadata records in a log listing, ascending. */
  private def metadataRecords(listing: Seq[FileStatus]): Seq[(Int, FileStatus)] =
    listing.map(st => st.getPath.getName -> st)
      .collect { case (MetadataName(n), st) => n.toInt -> st }.sortBy(_._1)

  /** The current record and its number (-1 before the first one). */
  private def latestMetadata(listing: Seq[FileStatus] = logListing)
      : (Int, TableMetadata) =
    metadataRecords(listing).lastOption.fold((-1, TableMetadata.Empty)) {
      case (n, st) =>
        try n -> TableMetadata.decode(readLogLines(st.getPath).mkString("\n"))
        // superseded and vacuumed between the listing and the open: the
        // newer record is in the next listing
        catch { case _: java.io.FileNotFoundException => latestMetadata() }
    }

  /** The table's current metadata record. Public operations resolve it
    * once and pass it down.
    */
  private def metadata: TableMetadata = latestMetadata()._2

  /** The version an operation works on (`version`, else the latest)
    * and the current metadata record, from ONE log listing.
    */
  private def snapshotOpt(version: Option[Int]): (Option[Int], TableMetadata) = {
    val listing = logListing
    (version.orElse(versionsIn(listing).lastOption), latestMetadata(listing)._2)
  }

  /** [[snapshotOpt]] for an operation that needs a version. */
  private def snapshot(version: Option[Int]): (Int, TableMetadata) = {
    val (v, md) = snapshotOpt(version)
    (v.getOrElse(throw new IllegalStateException(s"no versions at $root")), md)
  }

  /** Publish `change` applied to the current record as the next
    * numbered record. A writer that loses the number to a concurrent
    * one re-reads the newer record and re-applies `change` — its
    * validations included, so every check runs against the record it
    * publishes over. A change that alters nothing publishes nothing.
    */
  private def updateMetadata(change: TableMetadata => TableMetadata): Unit =
    Iterator.range(0, 100).find { _ =>
      val (n, cur) = latestMetadata()
      val next = change(cur)
      next == cur || publishOnce(TableMetadata.encode(next),
        metadataPath(n + 1), metadataPath(n + 1))
    }.getOrElse(throw new java.util.ConcurrentModificationException(
      s"metadata update at $root kept losing to concurrent updates"))

  /** This instance's layout, as the record stores it. */
  private def config = TableMetadata.Config(identityPartCols,
    transforms.map(_.spec), allStatsCols, bloomCol, bloomBits, bloomHashes)

  /** The first successful commit records this instance's layout so
    * [[ManifestTable.forRoot]] (and the SQL procedure surface) can
    * reconstruct a fully-configured instance from the root path alone
    * — the Delta pattern of metadata living IN the log. First writer
    * wins (a record that already holds a layout publishes nothing); an
    * explicitly-configured constructor always overrides. Checked once
    * per instance (again on the next commit if the check threw).
    */
  private lazy val configPersisted: Unit =
    updateMetadata(md => if (md.config.isDefined) md else md.copy(config = Some(config)))

  /** ALTER TABLE … PARTITIONED BY — change the partition layout
    * (identity columns and/or transforms). This REWRITES every live
    * file under the new layout through the maintenance rewrite
    * ([[rewriteFiles]]: deletion vectors applied, row ids and so
    * identity values kept, no change rows) in one commit that any
    * concurrent commit conflicts with rather than losing rows, then
    * records the new layout — so the table is never in a mixed-layout
    * state and every partition-scoped op (tuple merge, partition
    * overwrite, DV scoping) stays exact. O(table) — the honest cost of
    * a layout change here; [[setPartitionSpec]] is the lazy variant.
    * History is preserved: earlier versions time-travel with their old
    * layout (readers key on paths, not config). Returns a NEW instance
    * configured with the evolved layout; the receiving instance keeps
    * its old view and should be discarded.
    */
  def evolvePartitionSpec(newIdentityCols: Seq[String],
      newTransformSpecs: Seq[String] = Nil): ManifestTable = {
    val md = metadata
    val v0 = validateNewSpec("evolvePartitionSpec",
      newIdentityCols, newTransformSpecs, md)
    val evolved = relaidOut(newIdentityCols, newTransformSpecs)
    val entries = evolved.entriesOf(v0)
    evolved.rewriteFiles("evolvePartitionSpec", v0, entries, entries, md,
      entries.size,
      conflictsWith = _ => true)
    evolved.recordLayout()
  }

  /** LAZY partition-spec evolution — the Iceberg headline: change the
    * layout of a LIVE table without touching a byte of data. The new
    * spec is recorded in the metadata only; existing files keep
    * their old layout, every commit from here lays out by the new one,
    * and the mixed snapshot stays fully functional because each file's
    * own path IS its spec ([[PartitionTransform.fromName]]):
    *
    *  - scans union the layouts ([[readFiles]] groups by signature);
    *  - file skipping ([[mightMatch]]) prunes each file by
    *    its OWN spec's transform (old daily files by `days`, new
    *    hourly files by `hours`);
    *  - the copies [[merge]] and [[updateWhere]] append land under
    *    the new spec, as does every maintenance rewrite ([[compact]],
    *    [[compactSmall]], [[reorgPurge]], [[optimizeByZ]],
    *    [[backfillRowIds]]) — so the table migrates
    *    progressively, paying O(touched) per op, never O(table);
    *  - path-exact ops that cannot scope a foreign layout
    *    ([[overwritePartitionValues]], [[readBucketed]]) refuse the
    *    mixed state with migration guidance instead of guessing.
    *
    * [[evolvePartitionSpec]] is the eager alternative (one O(table)
    * maintenance rewrite, never a mixed state); this is the form that
    * survives a 100 TB table, at the cost of mixed-layout snapshots
    * until compaction or churn migrates the tail. Returns a NEW instance
    * configured with the new layout; the receiver keeps its old view
    * and should be discarded. Time travel is unaffected (readers key
    * on paths, not config).
    */
  def setPartitionSpec(newIdentityCols: Seq[String],
      newTransformSpecs: Seq[String] = Nil): ManifestTable = {
    validateNewSpec("setPartitionSpec", newIdentityCols, newTransformSpecs,
      metadata)
    relaidOut(newIdentityCols, newTransformSpecs).recordLayout()
  }

  /** A handle on this table under a new partition layout. */
  private def relaidOut(idCols: Seq[String], specs: Seq[String]) =
    new ManifestTable(spark, root, None, statsCol, statsCols, bloomCol,
      bloomBits, bloomHashes, idCols, specs)

  /** Record this instance's layout as the table's; returns this. */
  private def recordLayout(): ManifestTable = {
    updateMetadata(_.copy(config = Some(config)))
    this
  }

  /** Shared validation for a new partition spec: the table must have a
    * version (the spec change is observable), every referenced column
    * must exist, and none may sit behind a rename (hive paths bake
    * physical names). Returns the pinned version.
    */
  private def validateNewSpec(op: String, newIdentityCols: Seq[String],
      newTransformSpecs: Seq[String], md: TableMetadata): Int = {
    val v0 = latestVersion.getOrElse(
      throw new IllegalStateException(s"$op: no versions at $root"))
    val parsed = newTransformSpecs.map(PartitionTransform.parse)
    val current = readAt(Some(v0), md)
    val needed = newIdentityCols ++ parsed.map(_.src)
    val missing = needed.filterNot(current.columns.contains)
    require(missing.isEmpty,
      s"$op: column(s) not in table: ${missing.mkString(", ")}")
    val renamed = needed.filter(c => toPhysical(c, md.columnMapping) != c)
    require(renamed.isEmpty,
      s"$op: renamed column(s) cannot partition: ${renamed.mkString(", ")}")
    v0
  }

  /** A version is taken if EITHER file form exists — a checkpoint
    * writer and a delta writer racing for the same number must not
    * both win.
    */
  private def tryPublish(v: Int, content: String, asDelta: Boolean): Boolean = {
    // in-commit timestamp header: strictly monotonic over the version
    // line (max with predecessor + 1) so versionAtOrBefore's filter is
    // a prefix even across wall-clock skew between writers. Reading the
    // predecessor's stamp is O(1) — one small-file header (or a stat).
    val ict = math.max(System.currentTimeMillis(),
      if (v <= 0) 0L
      else (try commitTimeOf(v - 1) catch { case _: Exception => 0L }) + 1)
    val won = publishOnce(ManifestTable.IctPrefix + ict + "\n" + content,
      if (asDelta) deltaPath(v) else manifestPath(v),
      manifestPath(v), deltaPath(v))
    if (won) configPersisted
    won
  }

  /** T16: allot row-id bases to freshly committed entries (those
    * without a `#rid` stamp): base space starts at
    * `max(v << 40, the live high watermark)`, each entry takes its
    * `#n` rows. The version term keeps bases unique against every
    * past commit of this table (a dropped file's ids stay dead: its
    * version was smaller); the watermark term keeps clone-then-append
    * unique against bases CARRIED IN from the source's higher-
    * versioned history. Entries whose row count is unknown (no `#n`
    * footer stat) stay unstamped — their rows read NULL ids rather
    * than guessed ones.
    */
  private def stampRowIdBases(v: Int, added: Seq[Entry],
      carried: Seq[Entry]): Seq[Entry] = {
    val hwm = (carried ++ added).flatMap { e =>
      for {
        b <- e.stats.get(ManifestTable.RidKey).flatMap(_.mn.toLongOption)
        n <- e.stats.get(ManifestTable.CountKey).flatMap(_.mn.toLongOption)
      } yield b + n
    }.maxOption.getOrElse(0L)
    // the live snapshot alone cannot remember an allotment whose files
    // were dropped and whose range ran ABOVE its version band (a
    // clone-then-overwrite-then-restore rewind): such spills persist
    // to a tiny monotonic watermark file, read back here — so a
    // dropped-but-time-travelable file's id range is never re-allotted
    var off = math.max(math.max(v.toLong << 40, hwm), persistedRidHwm)
    val out = added.map { e =>
      if (e.stats.contains(ManifestTable.RidKey)) e
      else e.stats.get(ManifestTable.CountKey)
        .flatMap(_.mn.toLongOption) match {
        case Some(n) =>
          val base = off
          off += n
          e.copy(stats = e.stats + (ManifestTable.RidKey ->
            ColStats(base.toString, base.toString, "R")))
        case None => e
      }
    }
    // only spills above the NEXT version band need remembering: a
    // normal commit's range sits inside [v<<40, (v+1)<<40) and every
    // future version starts at or above (v+1)<<40 anyway — so the
    // watermark file is written only on clone-carried (or >2^40-row)
    // allotments, not per commit
    if (off > ((v.toLong + 1) << 40)) persistRidHwm(off)
    out
  }

  /** T16: `_graft_rid` / `_row_id` are engine-reserved — a user frame
    * carrying them would be silently hidden from every read and
    * MISREAD as physical row ids (colliding with allotted bases and
    * cross-matching unrelated rows in the keyless change feed), so the
    * public write surfaces refuse them up front.
    */
  private def requireNoReservedCols(df: DataFrame, what: String,
      md: TableMetadata): Unit = {
    val hit = df.columns.find(c =>
      c == ManifestTable.RidPhysCol || c == ManifestTable.RowIdCol)
    require(hit.isEmpty, s"$what: column ${hit.getOrElse("")} is " +
      "reserved by row tracking — rename it before writing")
    // GENERATED ALWAYS AS IDENTITY: the engine assigns values (from
    // the row-id allocator) — an explicit value can neither be honored
    // nor silently dropped
    val idHit = df.columns.find(md.identity.contains)
    require(idHit.isEmpty, s"$what: column ${idHit.getOrElse("")} is " +
      "GENERATED ALWAYS AS IDENTITY — drop it from the frame; the " +
      "engine assigns its values")
  }

  /** Monotonic row-id watermark sidecar (see [[stampRowIdBases]]).
    * Stored as uniquely-named `rid_hwm-<uuid>` files folded by
    * MAX-ON-READ: concurrent writers (same JVM or a foreign process)
    * never clobber each other and a reader mid-update can never
    * observe an absent watermark — the delete-then-rename regression
    * window of a single mutable file is structurally impossible.
    * Strictly-smaller predecessors are garbage-collected after a
    * successful write (any subset retaining the max is equivalent);
    * the legacy single `rid_hwm` file folds in for old tables.
    */
  private def ridHwmValues: Seq[(Path, Long)] =
    logListing.map(_.getPath).filter(_.getName.startsWith("rid_hwm"))
      .flatMap { p =>
        // a concurrent GC may delete between list and read — skip
        (try readLogLines(p).headOption.flatMap(_.trim.toLongOption)
         catch { case _: java.io.IOException => None }).map(p -> _)
      }

  private def persistedRidHwm: Long =
    ridHwmValues.map(_._2).maxOption.getOrElse(0L)

  private def persistRidHwm(v: Long): Unit =
    // same-JVM writers serialize on the per-root monitor; cross-process
    // writers are safe by construction (unique names, max-on-read)
    ManifestTable.lockFor(
      fs.makeQualified(logDir).toString + "#ridhwm").synchronized {
      if (v > persistedRidHwm) {
        val p = new Path(logDir, s"rid_hwm-${UUID.randomUUID()}")
        fs.mkdirs(logDir)
        val out = fs.create(p, false)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        ridHwmValues.foreach { case (old, ov) =>
          if (old.getName != p.getName && ov < v) fs.delete(old, false): Unit
        }
      }
    }

  /** Single-shot full-snapshot commit (overwrite/restore/clone — ops
    * whose intent is "the table now IS this file set", so there is
    * nothing to rebase). Loses a version-number race only in a tight
    * window; retries the next number a few times before giving up.
    */
  private def commit(entries: Seq[Entry], stampNew: Boolean = true): Int = {
    var attempt = 0
    while (attempt < 5) {
      val prev = latestVersion
      val v = prev.getOrElse(-1) + 1
      // row-id stamping per attempt: the final version number is part
      // of the base, and a lost race re-stamps on the next number.
      // stampNew = false for CARRIED snapshots (restore, clone): their
      // entries keep exactly the identity they had — stamping a
      // pre-row-tracking entry there would make the committed entry
      // differ from the source version's, invalidating restore's
      // file-diff stamp decision (and a clone should mirror its
      // source, stamps and gaps alike).
      val stamped =
        if (stampNew) stampRowIdBases(v, entries,
          prev.map(entriesOf).getOrElse(Seq.empty))
        else entries
      if (tryCommit(v, stamped)) return v
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"commit at $root kept losing version races after 5 attempts")
  }

  /** Optimistic concurrent commit of a FILE-LEVEL DELTA against the
    * snapshot the writer read (the Delta/Iceberg optimistic-concurrency
    * core): the commit is "remove `removed`, add `added`" relative to
    * `baseEntries`. If another writer committed first, REBASE instead
    * of failing: re-read the latest manifest and re-apply the delta on
    * top, provided the two commits are disjoint —
    *
    *  - every file this commit removes must still be referenced WITH
    *    an unchanged entry (a concurrent writer rewriting the same
    *    files means both derived output from rows the other replaced;
    *    a concurrent DELETION-VECTOR re-point keeps the rel but
    *    changes the entry — rebasing over it would resurrect the
    *    concurrently-deleted rows → both are real conflicts);
    *  - no concurrently-added entry may satisfy `conflictsWith` (the
    *    caller's semantic overlap test, e.g. "lands in a partition my
    *    rewrite replaced" — rows added there concurrently would be
    *    dropped or double-counted by a blind rebase).
    *
    * Disjoint writers (append+append, merges of different files,
    * stream sink + compaction of untouched partitions) all commit;
    * overlapping writers get a ConcurrentModificationException and
    * re-run on the new snapshot. Retry budget bounds livelock under a
    * commit storm.
    */
  private def commitDelta(baseEntries: Seq[Entry], removed: Set[String],
      added: Seq[Entry], conflictsWith: Entry => Boolean = _ => false,
      maxRetries: Int = 10): Int = {
    val baseRels = baseEntries.map(_.rel).toSet
    val baseByRel = baseEntries.map(e => e.rel -> e).toMap
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = latestVersion
      val curEntries = cur.map(entriesOf).getOrElse(Seq.empty)
      val curByRel = curEntries.map(e => e.rel -> e).toMap
      // removed entries must be present AND byte-identical to the base
      // snapshot's: a same-rel entry with different stats means a
      // concurrent DV commit marked rows in a file this commit rewrites
      // from pre-DV content
      val missing = removed.filter(r => !curByRel.get(r).contains(baseByRel(r)))
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer rewrote or re-pointed ${missing.size} file(s) " +
            s"this commit also rewrites (e.g. ${missing.head}); re-run on " +
            "the new snapshot")
      val overlapping = curEntries.filter(e =>
        !baseRels.contains(e.rel) && conflictsWith(e))
      if (overlapping.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer added ${overlapping.size} file(s) overlapping " +
            s"this commit (e.g. ${overlapping.head.rel}); re-run on the new snapshot")
      val vNext = cur.getOrElse(-1) + 1
      // row-id stamping per attempt (see [[stampRowIdBases]]): the
      // final version is part of the base; re-pointed entries keep
      // their carried stamp (identity survives the DV commit)
      val stampedAdded = stampRowIdBases(vNext, added, curEntries)
      // O(delta) commit entry; full snapshot on the checkpoint cadence
      // (and for v0, which anchors every chain)
      val won =
        if (vNext == 0 || vNext % ManifestTable.CheckpointEvery == 0) {
          val target = curEntries.filterNot(e => removed.contains(e.rel)) ++
            stampedAdded
          tryCommit(vNext, target)
        } else {
          val lines = removed.toSeq.sorted.map("-\t" + _) ++
            stampedAdded.map("+\t" + _.line)
          // a pure no-op delta still needs a line-less file? No — the
          // caller guarantees a non-empty delta (no-ops return early),
          // but guard the degenerate case with an empty payload anyway
          tryPublish(vNext,
            if (lines.isEmpty) "" else lines.mkString("\n") + "\n",
            asDelta = true)
        }
      if (won) return vNext
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"commit at $root kept losing version races after $maxRetries retries")
  }

  private def bloomKey(c: String): String = s"$c#bloom"

  /** Decode the entry's bitset ONCE and probe it with every raw-hash
    * pair — the batch path: pruning F files for V values costs
    * F decodes + V hashings, never F·V of each.
    */
  private def bloomTestEntry(s: ColStats, raws: Seq[(Long, Long)]): Boolean = {
    val bits = java.util.Base64.getDecoder.decode(s.mn)
    val mk = s.mx.split(',')
    raws.exists(FileStatsTracker.mightContain(bits, mk(0).toInt, mk(1).toInt, _))
  }

  // -------------------------------------------------------------- //
  // File skipping: one kernel ([[mightMatch]]) for every pruned     //
  // read, DELETE/UPDATE and the SQL scan.                           //
  // -------------------------------------------------------------- //

  /** A predicate literal in the domains file stats are recorded in:
    * `str` is Spark's string rendering (what string zone maps, blooms
    * and hive dirs hold), `num` its decimal value when it has one
    * (what numeric zone maps compare against).
    */
  private final class Probe(val raw: Any, val str: String) {
    lazy val num: Option[BigDecimal] = tryBigDecimal(str)
    lazy val utf8: UTF8String = UTF8String.fromString(str)
    val numeric: Boolean = raw.isInstanceOf[java.lang.Number]
    /** A zoned timestamp renders in the session time zone, and its
      * stats and blooms in the writer's: no string test can use it. */
    val zoned: Boolean = raw.isInstanceOf[java.sql.Timestamp] ||
      raw.isInstanceOf[java.time.Instant]
    private val temporal = raw.isInstanceOf[java.util.Date] ||
      raw.isInstanceOf[java.time.temporal.Temporal]
    /** Whether a string-ordered bound compares with this probe in
      * value order: numbers and zoned timestamps never do, dates only
      * while both years have four digits.
      */
    def ordersWith(bound: String): Boolean =
      !numeric && !zoned && (!temporal ||
        ManifestTable.FourDigitYear.matches(str) &&
        ManifestTable.FourDigitYear.matches(bound))
  }

  /** A probe for a filter literal; None for NULL (it matches no row)
    * and for values with no string rendering to order (binary).
    */
  private def probeOf(v: Any): Option[Probe] = v match {
    case null | _: Array[Byte] => None
    case _ =>
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      try Option(Cast(Literal(v), org.apache.spark.sql.types.StringType,
          Some(spark.sessionState.conf.sessionLocalTimeZone)).eval())
        .map(s => new Probe(v, s.toString))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** What one filter leaf asks of a column's values. */
  private sealed trait Want
  private case class AnyOf(points: Seq[Probe]) extends Want {
    lazy val nums: Option[IndexedSeq[BigDecimal]] =
      if (points.forall(_.num.isDefined)) Some(points.flatMap(_.num).sorted.toIndexedSeq)
      else None
    lazy val strs: IndexedSeq[UTF8String] =
      points.map(_.utf8).sorted(ManifestTable.Utf8Order).toIndexedSeq
  }
  private case class Above(p: Probe, inclusive: Boolean) extends Want
  private case class Below(p: Probe, inclusive: Boolean) extends Want

  /** Might a file whose values lie in [mn, mx], recorded in `kind`
    * ("N" by decimal value, "S" in UTF-8 byte order, as Spark's min/max
    * ordered them), hold a value `w` asks for? True whenever the bounds
    * do not order against the probe (NaN, ±Infinity, years past 9999).
    * An `IN` list is sorted once; each file does one binary search.
    */
  private def mayHold(w: Want, mn: String, mx: String, kind: String): Boolean = {
    def cmp(bound: String, p: Probe): Option[Int] = kind match {
      case "N" => for (b <- tryBigDecimal(bound); v <- p.num) yield b.compare(v)
      case "S" if p.ordersWith(bound) =>
        Some(UTF8String.fromString(bound).binaryCompare(p.utf8))
      case _ => None
    }
    def anyWithin[T](keys: IndexedSeq[T], lo: T, hi: T)(implicit o: Ordering[T]) = {
      val i = keys.search(lo).insertionPoint // first key >= lo
      i < keys.length && o.lteq(keys(i), hi)
    }
    w match {
      case Above(p, incl) => cmp(mx, p).forall(c => c > 0 || incl && c == 0)
      case Below(p, incl) => cmp(mn, p).forall(c => c < 0 || incl && c == 0)
      case a: AnyOf => kind match {
        case "N" => (a.nums, tryBigDecimal(mn), tryBigDecimal(mx)) match {
          case (Some(keys), Some(lo), Some(hi)) => anyWithin(keys, lo, hi)
          case _ => true
        }
        case "S" if a.points.forall(p => p.ordersWith(mn) && p.ordersWith(mx)) =>
          anyWithin(a.strs, UTF8String.fromString(mn),
            UTF8String.fromString(mx))(ManifestTable.Utf8Order)
        case _ => true
      }
    }
  }

  /** The order zone-map bounds of `kind` were recorded in, as
    * [[mayHold]] compares them; numeric bounds must parse.
    */
  private def statOrdering(kind: String): Ordering[String] =
    if (kind == "N") Ordering.by[String, BigDecimal](BigDecimal(_))
    else Ordering.by[String, UTF8String](UTF8String.fromString)(ManifestTable.Utf8Order)

  /** Hive dir value of partition column `c` in a file path, unescaped;
    * None when the path carries no such segment. */
  private def partValueOf(rel: String, c: String): Option[String] =
    rel.split("/").find(_.startsWith(s"$c=")).map { seg =>
      val v = seg.substring(c.length + 1)
      if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME) null
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(v)
    }

  /** THE file-skipping kernel: V1 source-filter conjuncts compiled to
    * a per-entry test "might this file hold a row matching them all?".
    * `=`/`IN` test zone maps, blooms and partition values; ranges test
    * zone maps and monotonic transforms; `AND`/`OR` compose; the rest
    * (`NOT`, `IS NULL`, string matches, columns `typeOf` does not know)
    * keeps the file. The stats a file carries pick the tests, and each
    * file is judged under its OWN partition spec (the hidden column its
    * path carries). A deletion vector leaves stats describing a
    * superset of the live rows, which can only under-prune. `mapping`
    * is the physical → logical rename map.
    */
  private def mightMatch(filters: Seq[sources.Filter],
      typeOf: String => Option[org.apache.spark.sql.types.DataType],
      mapping: Map[String, String]): Entry => Boolean = {
    // literals' partition values under transform `t`, through the SAME
    // expression writers use: one local projection per leaf, however
    // many literals an IN carries (never a Spark job)
    def derived(t: PartitionTransform, dt: org.apache.spark.sql.types.DataType,
        ps: Seq[Probe]): Option[Seq[Probe]] =
      if (ps.isEmpty) Some(Nil)
      else {
        val lits = spark.createDataFrame(java.util.List.of(
            ps.map(p => org.apache.spark.sql.Row(p.raw)): _*),
          StructType(Seq(org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.catalyst.expressions.Literal(ps.head.raw).dataType))))
        // a literal that does not cast to the column type derives nothing
        val ds = try lits.select(t.derive(col("v").cast(dt), dt)).collect()
          .map(r => probeOf(r.get(0))).toSeq
        catch { case scala.util.control.NonFatal(_) => Seq(None) }
        if (ds.contains(None)) None else Some(ds.flatten)
      }
    def column(a: String, w: Want): Entry => Boolean = {
      val pc = toPhysical(a, mapping) // stats keys are recorded physical
      val dt = typeOf(a) match {
        case Some(t) => t
        case None => return _ => true
      }
      val idKind = dt match {
        case _: org.apache.spark.sql.types.NumericType => "N"
        case _ => "S"
      }
      lazy val raws = w match {
        case AnyOf(ps) if !ps.exists(_.zoned) =>
          Some(ps.map(p => FileStatsTracker.rawHashes(p.utf8)))
        case _ => None
      }
      val transformed = scala.collection.mutable.Map.empty[String, Option[(Want, String)]]
      def viaTransform(t: PartitionTransform): Option[(Want, String)] =
        transformed.getOrElseUpdate(t.name, {
          def kindOf(p: Probe) = if (p.numeric) "N" else "S"
          w match {
            case AnyOf(ps) =>
              derived(t, dt, ps).map(ds => (AnyOf(ds), ds.headOption.fold("S")(kindOf)))
            case Above(p, _) if t.monotonic => derived(t, dt, Seq(p))
              .map(ds => (Above(ds.head, inclusive = true), kindOf(ds.head)))
            case Below(p, _) if t.monotonic => derived(t, dt, Seq(p))
              .map(ds => (Below(ds.head, inclusive = true), kindOf(ds.head)))
            case _ => None
          }
        })
      def layoutOk(e: Entry): Boolean = {
        // layout segments below the data dir (a clone's entries are
        // absolute paths)
        val rel = e.rel.substring(e.rel.lastIndexOf("/data/") + 1)
        ManifestTable.layoutColsOf(rel).forall { c =>
          // a NULL (hive default) partition value matches no comparison
          lazy val pv = partValueOf(rel, c).orNull
          PartitionTransform.fromName(c) match {
            case Some(t) if mapping.getOrElse(t.src, t.src) == a =>
              viaTransform(t).forall { case (tw, k) => pv != null && mayHold(tw, pv, pv, k) }
            case None if mapping.getOrElse(c, c) == a =>
              pv != null && mayHold(w, pv, pv, idKind)
            case _ => true
          }
        }
      }
      e => e.stats.get(pc).forall(s => mayHold(w, s.mn, s.mx, s.kind)) &&
        raws.forall(r => e.stats.get(bloomKey(pc)).forall(bloomTestEntry(_, r))) &&
        layoutOk(e)
    }
    def leaf(a: String, v: Any)(want: Probe => Want): Entry => Boolean =
      // no probe: a NULL literal matches no row; an unorderable one keeps
      probeOf(v).fold[Entry => Boolean](_ => v != null)(p => column(a, want(p)))
    def compile(f: sources.Filter): Entry => Boolean = f match {
      case sources.And(l, r) =>
        val (x, y) = (compile(l), compile(r)); e => x(e) && y(e)
      case sources.Or(l, r) =>
        val (x, y) = (compile(l), compile(r)); e => x(e) || y(e)
      case sources.AlwaysFalse() => _ => false
      case sources.EqualTo(a, v) => leaf(a, v)(p => AnyOf(Seq(p)))
      case sources.EqualNullSafe(a, v) if v != null => leaf(a, v)(p => AnyOf(Seq(p)))
      case sources.In(a, vs) =>
        val ps = vs.toSeq.filter(_ != null).map(probeOf)
        if (ps.contains(None)) _ => true else column(a, AnyOf(ps.flatten))
      case sources.GreaterThan(a, v) => leaf(a, v)(Above(_, inclusive = false))
      case sources.GreaterThanOrEqual(a, v) => leaf(a, v)(Above(_, inclusive = true))
      case sources.LessThan(a, v) => leaf(a, v)(Below(_, inclusive = false))
      case sources.LessThanOrEqual(a, v) => leaf(a, v)(Below(_, inclusive = true))
      case _ => _ => true
    }
    val tests = filters.map(compile)
    e => tests.forall(_(e))
  }

  /** The newest version when `version` is None. */
  private def versionOrLatest(version: Option[Int]): Int =
    version.orElse(latestVersion)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))

  /** Pruning audit hook: the files a [[read]] with `where` scans, as
    * its planned scans select them. */
  private[graft] def filesFor(where: Column,
      version: Option[Int] = None): Seq[String] = {
    val (v, md) = snapshot(version)
    val entries = entriesOf(v)
    val named = entries.map(e => dataPath(e).toString -> new Path(root, e.rel).toString).toMap
    scannedFiles(readAll(entries, md).filter(where)).map(named)
  }

  /** The data files the planned scans of `df` select, qualified. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.isInstanceOf[ManifestFileIndex] =>
        s.selectedPartitions.filePartitionIterator.flatMap(_.files)
          .map(_.getPath.toString).toSeq
    }.flatten.distinct

  /** Equality probe in the string domain the bloom hashed: the rows
    * whose `c` renders as `value`. The typed equality, where a value
    * renders back to itself, is what skips files; the string one keeps
    * the rendering semantics.
    */
  def readEq(c: String, value: String, version: Option[Int] = None): DataFrame = {
    val df = read(version)
    val rendered = col(c).cast("string") === lit(value)
    df.schema(c).dataType match {
      case dt if dt != BinaryType && org.apache.spark.sql.catalyst.expressions.Cast
          .canCast(org.apache.spark.sql.types.StringType, dt) =>
        df.filter(col(c) === lit(value).try_cast(dt) && rendered)
      case _ => df.filter(rendered)
    }
  }

  /** Rows whose `c` lies in ANY of the closed ranges (bounds cast to the
    * column's type — a bigint-vs-string comparison would coerce both
    * sides to double and misplace boundary rows past 2^53), read in ONE
    * scan: the point-lookup-set shape of an IVF-PQ query's probed lists.
    */
  def readRangesBy(c: String, ranges: Seq[(String, String)],
      version: Option[Int] = None): DataFrame = {
    require(ranges.nonEmpty, "readRangesBy needs at least one range")
    val df = read(version)
    val dt = df.schema(c).dataType
    df.filter(ranges.map { case (lo, hi) =>
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt) }.reduce(_ || _))
  }

  /** A written file's manifest stats: `#n` and `#b` always; zone maps
    * (kind from the column's written type) and the bloom when it holds
    * rows.
    */
  private def entryStats(f: FileStatsTracker.FileStats,
      schema: StructType): Map[String, ColStats] = {
    val (n, b) = (f.rows.toString, f.bytes.toString)
    val count = Map(ManifestTable.CountKey -> ColStats(n, n, "C"),
      ManifestTable.SizeKey -> ColStats(b, b, "L"))
    if (f.rows == 0) count
    else count ++ f.bounds.map { case (c, (mn, mx)) =>
      c -> ColStats(mn, mx, statKindOf(schema(c).dataType))
    } ++ f.bloom.map(b => bloomKey(bloomCol.get) -> ColStats(
      java.util.Base64.getEncoder.encodeToString(b),
      s"$bloomBits,$bloomHashes", "B"))
  }

  /** Write a DataFrame's rows as new data files and return their
    * entries. Files land under data/, in hive-style partition dirs when
    * the table is partitioned. Each entry carries the stats its write
    * task collected ([[FileStatsTracker]]: the `#n` row count, zone
    * maps of the stats columns, the bloom); no file is read back. The
    * write is one SQL execution, its name and its jobs' description
    * `graft <op> <table root>`, in whichever thread calls this.
    */
  private def writeDataFiles(df: DataFrame, md: TableMetadata, op: String,
      fileTag: Option[String] = None): Seq[Entry] = {
    fileTag.foreach(t => require(t.matches("[A-Za-z0-9_\\-.]+"),
      s"bad file tag: $t"))
    val stage = new Path(root, s".stage-${UUID.randomUUID()}")
    try {
      // optimized write (the Delta optimizeWrite pattern): without the
      // pre-shuffle, a partitioned write fans out (tasks × tuples)
      // files — a 32-task merge over 9 tuples mints up to 288 small
      // files per commit, the small-file problem compaction exists to
      // undo. One hash shuffle by the partition tuple lands each tuple
      // in one task → one file per tuple per commit.
      // ALWAYS recompute derived partition values (drop any carried
      // in): an updateWhere copy scanned from hive dirs carries the
      // OLD derived value — if the assignment changed the transform
      // source, trusting it would file the row in the wrong partition.
      // Generated columns compute/validate FIRST, on logical names.
      // Identity columns are DERIVED (start + step * row id): internal
      // rewrite frames built from read() carry them — shed here, the
      // preserved row ids recompute the same values on every read
      // (public surfaces refuse user-supplied values up front).
      val idCols = md.identity.keys.toSeq.filter(df.columns.contains)
      val derived = withDerived(
        toPhysicalRename(withGenerated(df.drop(idCols: _*), md), md)
          .drop(transforms.map(_.name): _*))
      // a column landing on DROPPED physical storage would resurrect
      // the old values for every pre-drop file — refuse with the
      // re-add path named (ADD COLUMNS mints a fresh physical id)
      locally {
        val hit = derived.columns.filter(md.dropped.contains)
        require(hit.isEmpty, s"column(s) ${hit.mkString(", ")} collide " +
          "with dropped columns' physical storage — re-add via ALTER " +
          "TABLE ADD COLUMNS (fresh physical id) before writing values")
      }
      val toWrite =
        if (partCols.isEmpty) derived
        else {
          // EXPLICIT partition count (guide §2.5 input-skew case): a
          // bare repartition(cols) is AQE-coalescible, and a DML
          // commit's rewrite set is tiny BY BYTES while wide BY TUPLE
          // COUNT — AQE folds the shuffle to one task, which then
          // opens/closes every tuple's parquet writer serially (a
          // 92-tuple daily append measured 1.7 s in one task vs ~0.2 s
          // fanned out). The count tracks the session's configured
          // parallelism, so a cluster-sized session fans out
          // cluster-wide; each tuple still hashes to exactly one task
          // → one file per tuple per commit either way.
          val n = math.max(spark.sparkContext.defaultParallelism,
            spark.sessionState.conf.numShufflePartitions)
          // sorted by the tuple within each task, as a planned write
          // sorts, so each task holds one open file at a time
          derived.repartition(n, partCols.map(col): _*)
            .sortWithinPartitions(partCols.map(col): _*)
        }
      // the stage dir is PRIVATE (uuid-named, walked and deleted by
      // this method alone), so Spark's two-phase output commit buys
      // nothing here: v2 task commits move files straight to their
      // final stage location (halving the rename churn of the default
      // v1's job-commit pass) and the _SUCCESS marker is noise the
      // walk would skip anyway — atomicity comes from the manifest
      // commit, never from the stage layout (measured: the committer
      // dance was the single largest driver-side cost of every DML
      // commit at bench scale)
      val dataSchema = StructType(
        toWrite.schema.filterNot(f => partCols.contains(f.name)))
      val tracker = org.apache.spark.sql.graft.GraftSqlBridge.writeParquet(toWrite,
        stage.toString, partCols, ManifestTable.InternalWriteOptions,
        new FileStatsTracker(dataSchema, StructType(partCols.map(toWrite.schema(_))),
          allStatsCols.filter(toWrite.columns.contains),
          bloomCol.filter(toWrite.columns.contains), bloomBits, bloomHashes,
          spark.sessionState.conf.sessionLocalTimeZone, _),
        s"graft $op $root")
      // collect the staged files first, then promote them with
      // CONCURRENT renames (bounded by the commit pool): the promotion
      // is one metadata op per file, and a wide partitioned commit
      // (92 daily tuples) serialized ~100 driver round-trips here —
      // milliseconds each on a local FS, a real HEAD+COPY tail on an
      // object store (§2.6; FileSystem.rename is thread-safe)
      // Task-retry safety under committer v2 (r18 ADVICE): a retried
      // task re-commits files with the SAME names as a crashed
      // attempt's partials (Spark names outputs part-<split>-<jobUUID>,
      // constant across attempts; the commit coordinator serializes
      // speculative commits), so mergePaths overwrites, never
      // duplicates — measured v1 costs ~12% on the DML family, so v2
      // stays. Belt-and-braces: the walk skips metadata/hidden
      // entries (`_`/`.` prefixes, e.g. a `_temporary` dir a broken
      // committer could leave) instead of promoting EVERY parquet it
      // finds.
      val staged = scala.collection.mutable.ArrayBuffer[(Path, String, String)]()
      def walk(dir: Path, relPrefix: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          // `col=value` hive dirs pass even for a `_`-named column
          if ((name.startsWith("_") || name.startsWith(".")) &&
            !name.contains("=")) ()
          else if (st.isDirectory) walk(st.getPath, s"$relPrefix$name/")
          else if (name.endsWith(".parquet")) {
            staged += ((st.getPath, relPrefix + name,
              s"data/$relPrefix${fileTag.getOrElse("")}${UUID.randomUUID()}.parquet"))
          }
        }
      walk(stage, "")
      // ≤16 rename workers: a wide commit can never exhaust an
      // object-store client's connections
      val slices = staged.grouped(math.max(1, (staged.size + 15) / 16)).toSeq
      val moved = slices.map(slice => ManifestTable.async {
        slice.map { case (src, key, rel) =>
          val dest = new Path(root, rel)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(src, dest))
            throw new IllegalStateException(s"move to $dest failed")
          key -> rel
        }
      }).flatMap(ManifestTable.await(_))
      fs.delete(stage, true)
      // seed the file-schema memo from the WRITTEN frame: an engine
      // write's FILE schema is the frame schema minus the hive
      // partition columns (parquet round-trips every type the engine
      // writes, and file sources normalize read-schema nullability
      // anyway). Unpartitioned reads consume the memo as their full
      // read schema; partitioned reads use memo AGREEMENT to skip the
      // per-read mergeSchema footer sweep (dir discovery stays
      // Spark's).
      val statsOf = tracker.files.map(f => f.key -> f).toMap
      moved.map { case (key, rel) =>
        ManifestTable.rememberFileSchema(new Path(root, rel).toString, dataSchema)
        val stats = statsOf.getOrElse(key,
          throw new IllegalStateException(s"no write stats for staged file $key"))
        Entry(rel, entryStats(stats, toWrite.schema))
      }
    } catch {
      // a failed write (e.g. a CHECK constraint thrown mid-job) must
      // not leak its staging dir into the table root
      case e: Throwable => fs.delete(stage, true); throw e
    }
  }

  /** L2/S5: overwrite = new version referencing only the new files;
    * append = new version referencing old + new files. Appends are
    * blind adds — they rebase onto ANY concurrent commit and never
    * conflict (the stream-sink + nightly-job coexistence case).
    */
  def write(df: DataFrame, mode: String = "overwrite"): Int =
    write(df, mode, None)

  /** As [[write]], with every data file's name prefixed by `fileTag` —
    * a commit-atomic marker the streaming sink uses for replay
    * detection ([[hasCommittedFileTag]]): the tag exists in the current
    * snapshot if and only if the tagged commit happened.
    */
  private[graft] def write(df: DataFrame, mode: String,
      fileTag: Option[String]): Int = {
    val md = metadata
    requireNoReservedCols(df, "write", md)
    val newFiles = writeDataFiles(enforced(df, md), md, mode, fileTag)
    mode match {
      case "append" =>
        val base = latestVersion.map(entriesOf).getOrElse(Seq.empty)
        commitDelta(base, Set.empty, newFiles)
      case "overwrite" =>
        // T15: an overwrite's change rows ARE its file delta (fresh
        // uuid files, nothing shared) — the keyless feed derives
        // deletes/inserts from it, no sidecar needed
        stampCdcFileDiff(commit(newFiles), md)
      case m => throw new IllegalArgumentException(s"mode $m")
    }
  }

  /** True when any file of the CURRENT snapshot carries `tag` as a
    * file-name prefix. Driver-side O(files) — one manifest resolution,
    * the cost every read pays.
    */
  private[graft] def hasCommittedFileTag(tag: String): Boolean =
    latestVersion.exists(v => entriesOf(v).exists { e =>
      e.rel.substring(e.rel.lastIndexOf('/') + 1).startsWith(tag)
    })

  /** Last batch id the streaming sink committed for `queryId`, from the
    * txn sidecar (written AFTER each commit — see GraftTableSink for
    * the two-layer exactly-once argument).
    */
  private[graft] def streamTxnBatch(queryId: String): Option[Long] = {
    val p = streamTxnPath(queryId)
    if (!fs.exists(p)) None
    else readLogLines(p).headOption.flatMap(_.trim.toLongOption)
  }

  /** Record `batchId` as committed for `queryId` ([[replaceLogFile]]:
    * a crash inside its move-aside fallback leaves the sidecar aside,
    * and even then the commit-atomic file-tag layer still answers
    * replays).
    */
  private[graft] def recordStreamTxn(queryId: String, batchId: Long): Unit =
    replaceLogFile(streamTxnPath(queryId), s"$batchId\n")

  /** Write `content` to the log-dir file `dest`, replacing any file
    * there ([[ManifestTable.replaceFile]]: rename first).
    */
  private def replaceLogFile(dest: Path, content: String): Unit =
    ManifestTable.replaceFile(fs, dest)(_.write(content.getBytes("UTF-8")))

  private def streamTxnPath(queryId: String): Path = {
    require(queryId.matches("[A-Za-z0-9_\\-]+"), s"bad query id: $queryId")
    new Path(logDir, s"stream-txn-$queryId")
  }

  // ---- Write-audit-publish: staged branches (the Iceberg WAP flow) ----

  private def branchFile(name: String): Path = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"bad branch name: $name")
    new Path(logDir, s"branch-$name")
  }

  /** Stage `df` as an APPEND on branch `name`: data files land under
    * the table dir, a branch file in the log records the staged
    * entries — but no version is committed, so main readers never see
    * the rows. The write-audit-publish pattern: land the batch, audit
    * [[readBranch]], then [[publishBranch]] or [[dropBranch]]. CHECK
    * constraints are enforced at stage time — a later audit failure
    * should be about data QUALITY, not validity. Staged files are
    * vacuum-protected until their branch is dropped or published.
    */
  def stageBranch(name: String, df: DataFrame): Unit = {
    val md = metadata
    requireNoReservedCols(df, "stageBranch", md)
    val bp = branchFile(name)
    require(!fs.exists(bp), s"branch $name already staged at $root")
    val entries = writeDataFiles(enforced(df, md), md, "stageBranch")
    // no-overwrite publish: two same-process stagers of one branch
    // name must not both "win", silently orphaning the loser's staged
    // files. Under the shared ref lock (not a per-name one): a branch
    // staged mid-vacuum must wait out the delete phase — its files
    // become vacuum-protected references the instant the marker
    // lands, and [[withRefLock]] extends that across processes
    withRefLock {
      if (!publishOnce(entries.map(_.line).mkString("\n") + "\n", bp, bp))
        throw new IllegalStateException(
          s"branch $name was staged concurrently at $root")
    }
  }

  private def branchEntries(name: String): Seq[Entry] =
    readLogLines(branchFile(name)).filter(_.nonEmpty)
      .map(Entry.parse(_, statsCol))

  /** Names of currently staged branches. */
  def branches: Seq[String] =
    logListing.map(_.getPath.getName)
      .filter(_.startsWith("branch-")).map(_.stripPrefix("branch-")).sorted

  /** The audit view: current main snapshot plus the branch's staged
    * rows — what the table WILL look like after publish (modulo
    * concurrent main commits, which an append rebases over cleanly).
    */
  def readBranch(name: String): DataFrame = {
    val (v, md) = snapshotOpt(None)
    val staged = withDerived(readEntries(branchEntries(name), md))
    v match {
      case Some(_) =>
        val base = readAt(v, md)
        base.unionByName(staged.select(base.columns.map(col).toSeq: _*))
      case None => staged
    }
  }

  /** Publish the branch: ONE append commit of the staged entries onto
    * the CURRENT main head (an append conflicts with nothing, so any
    * main commits since staging are rebased over), then the branch
    * marker is removed. Exactly-once: the commit wins or throws; the
    * marker removal after a successful commit makes re-publish refuse.
    */
  def publishBranch(name: String): Int = {
    val staged = branchEntries(name)
    val base = latestVersion.map(entriesOf).getOrElse(Seq.empty)
    val v = commitDelta(base, Set.empty, staged)
    fs.delete(branchFile(name), false)
    v
  }

  /** Abandon the branch: the marker is removed; the staged data files
    * become unreferenced and age out via [[vacuum]].
    */
  def dropBranch(name: String): Unit = withRefLock {
    require(fs.exists(branchFile(name)), s"no branch $name at $root")
    fs.delete(branchFile(name), false): Unit
  }

  /** L2: replace exactly one partition (dynamic partition overwrite).
    * `value = null` replaces the hive default (null) partition — the
    * filter must be null-aware or zero new files would be written
    * while the old null-partition files are dropped (silent data loss).
    */
  def overwritePartition(df: DataFrame, value: String): Int = {
    if (partCols.isEmpty)
      throw new IllegalStateException("table is not partitioned")
    require(partCols.size == 1,
      s"table partitions on (${partCols.mkString(", ")}); " +
        "use overwritePartitionValues with the full tuple")
    overwritePartitionValues(df, Seq(value))
  }

  /** Multi-column form of [[overwritePartition]]: replace exactly one
    * (c1=v1, c2=v2, …) sub-partition. `values` align with the table's
    * partition columns outermost-first; nulls address the hive default
    * partition on that level.
    */
  def overwritePartitionValues(df: DataFrame, values: Seq[String]): Int = {
    if (partCols.isEmpty)
      throw new IllegalStateException("table is not partitioned")
    require(values.size == partCols.size,
      s"expected ${partCols.size} partition values (${partCols.mkString(", ")}), " +
        s"got ${values.size}")
    // transformed tables address sub-partitions by the DERIVED value
    // (e.g. '2024-01-02' for days(ts)); the slice filter derives it
    // from the source column, so user frames need no hidden columns
    val md = metadata
    val slice = df.filter(partCols.zip(values).map { case (c, v) =>
      val pv = partValueExpr(df, c)
      if (v == null) pv.isNull else pv.cast("string") === lit(v)
    }.reduce(_ && _))
    val base = latestVersion.map(entriesOf).getOrElse(Seq.empty)
    // path-exact contract (checked BEFORE any data write): every live
    // file must carry the CURRENT layout's segments, or the target
    // tuple cannot be matched against it. After a lazy
    // setPartitionSpec, files of the old spec refuse loudly (a silent
    // carry-forward would leave their rows of the replaced tuple
    // alive — duplication on the very next read)
    val foreign = base.filter(e =>
      ManifestTable.layoutColsOf(e.rel) != partCols)
    require(foreign.isEmpty,
      s"overwritePartitionValues: ${foreign.size} file(s) predate the " +
        s"current partition spec (e.g. ${foreign.headOption.map(_.rel).getOrElse("")}); " +
        "compact() or evolvePartitionSpec to migrate the layout first, " +
        "or use merge/delete which scope per-spec")
    val newFiles = writeDataFiles(enforced(slice, md), md, "overwritePartition")
    def inPart(e: Entry): Boolean =
      partCols.zip(values).forall { case (c, v) => inPartition(e.rel, c, v) }
    // partition-scoped delta: concurrent commits to OTHER partitions
    // rebase cleanly; a concurrent touch of THIS partition conflicts
    stampCdcFileDiff(commitDelta(base,
      base.filter(inPart).map(_.rel).toSet,
      newFiles, conflictsWith = inPart), md)
  }

  /** Hive-style partition directory segment for a value — Spark escapes
    * special chars (space, ':', '%', …) via `escapePathName` when
    * writing `col=value/` dirs, so file matching must escape the same
    * way or non-URL-safe values silently miss their files. A NULL
    * partition value lands in the hive default-partition directory.
    */
  private def partSegment(c: String, value: String): String = {
    val esc =
      if (value == null)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME
      else
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(value)
    s"$c=$esc"
  }

  /** True when relative file path `f` lives in partition `c=value`. Path
    * segment equality, not substring — `date=2024-06-1` must not match
    * `date=2024-06-10/`.
    */
  private def inPartition(f: String, c: String, value: String): Boolean =
    f.split("/").contains(partSegment(c, value))

  /** L1: keyed MERGE — upsert, source wins, idempotent, with optional
    * delete tombstones (`deleteCol`: a boolean column present in
    * `updates` but not the table; NULL reads as false). `updates`
    * carries exactly the table's columns plus `deleteCol`; it may omit
    * generated columns (computed here) and may never carry identity
    * columns. One [[mergeInto]] call, keys matched null-safely:
    *
    *   WHEN MATCHED AND s.deleteCol         THEN DELETE
    *   WHEN MATCHED AND <any column differs> THEN UPDATE SET *
    *   WHEN NOT MATCHED AND NOT s.deleteCol THEN INSERT *
    *
    * so only changed rows are marked and re-appended, and re-applying
    * an applied feed commits nothing (returns the current version). A
    * feed with several applying rows for one table row, or with several
    * inserting rows for one key the table lacks, is a cardinality
    * violation and throws, committing nothing — compact it first
    * ([[Merge.latestPerKey]]); every table row holding a fed key is
    * updated, duplicates included. A merge that inserts a key conflicts
    * with any concurrent commit that adds files ([[mergeInto]]).
    */
  def merge(updates0: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None): Int = {
    val (v0, md) = snapshot(None)
    requireNoReservedCols(updates0, "merge", md)
    val updates = withGenerated(updates0, md)
    def src(c: String): Column = col(Merge.SourcePrefix + c)
    // generated values follow from the other columns: the engine
    // recomputes them on every copy and insert, and leaving them out
    // of the "changed" test keeps rows that predate a generated column
    // equal to their feed row
    val cols = updates.columns.toSeq
      .filterNot(c => deleteCol.contains(c) || md.generated.contains(c))
    val star = cols.map(c => c -> src(c)).toMap
    val tombstone = deleteCol.map(d => coalesce(src(d), lit(false)))
    val differs = !cols.map(c => src(c) <=> col(c)).reduce(_ && _)
    mergeAt("merge", v0, md,
      updates.toDF(updates.columns.map(Merge.SourcePrefix + _): _*),
      keys.map(k => src(k) <=> col(k)).reduce(_ && _),
      matched = tombstone.map(t => MergeDeleteClause(Some(t))).toSeq :+
        MergeUpdateClause(Some(differs), star),
      notMatched = Seq(MergeInsertClause(tombstone.map(!_), star)),
      notMatchedBySource = Nil,
      requireTarget = { targetCols =>
        // the mutation read carries derived partition values; a feed
        // never does (the writer derives them)
        val table = (targetCols.filterNot(
          _.startsWith(PartitionTransform.Prefix)) ++ md.generated.keys)
          .toSet -- md.identity.keys
        require(updates.columns.toSet == table ++ deleteCol,
          s"merge: updates must be the table's columns" +
            s"${deleteCol.fold("")(" + " + _)}: ${table.toSeq.sorted} vs " +
            s"${updates.columns.toSeq}")
      },
      insertKeys = keys)
  }

  // ---------------------------------------------------------------- //
  // Column mapping — RENAME COLUMN without rewriting a byte (the      //
  // Delta column-mapping model): data files keep their original       //
  // PHYSICAL names forever; the metadata record maps physical→logical.//
  // Scans rename physical→logical on the way out, writers rename      //
  // logical→physical on the way in, and stats/bloom keys (recorded    //
  // physical) translate at the API boundary.                          //
  // ---------------------------------------------------------------- //

  /** Current physical→logical mapping (empty = no renames ever). */
  def columnMapping: Map[String, String] = metadata.columnMapping

  private def toPhysical(logical: String, m: Map[String, String]): String = {
    // a stale (pre-rename) name must refuse loudly, not silently hit
    // its still-matching physical stats key while the scan resolves
    // nothing
    m.get(logical).filter(_ != logical).foreach { cur =>
      throw new IllegalArgumentException(
        s"column $logical was renamed to $cur")
    }
    m.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)
  }

  private def toLogicalRename(df: DataFrame, md: TableMetadata): DataFrame = {
    // dropped physical storage never surfaces — hidden BEFORE the
    // rename fold so a dropped column can never shadow a re-added
    // logical name riding a fresh physical id
    val hit = df.columns.filter(md.dropped.contains)
    val d0 = if (hit.isEmpty) df else df.drop(hit.toIndexedSeq: _*)
    md.columnMapping.foldLeft(d0) { case (d, (p, l)) =>
      if (p != l && d.columns.contains(p)) d.withColumnRenamed(p, l) else d
    }
  }

  private def toPhysicalRename(df: DataFrame, md: TableMetadata): DataFrame =
    md.columnMapping.foldLeft(df) { case (d, (p, l)) =>
      if (p != l && d.columns.contains(l)) d.withColumnRenamed(l, p) else d
    }

  /** Refuse to `op` (rename/drop) column `name`, stored as `physical`,
    * while something pins it: an identity or generated declaration of
    * it, a CHECK or generated expression reading it (every later write
    * would fail to resolve the stored SQL — the Delta restriction), or
    * the partition layout (hive paths and derived layouts carry its
    * name).
    */
  private def requireUnpinned(op: String, name: String, physical: String,
      md: TableMetadata): Unit = {
    require(!md.identity.contains(name), s"cannot $op identity column " +
      s"$name — it is derived, not stored; use dropIdentityColumn")
    require(!md.generated.contains(name),
      s"cannot $op generated column $name — dropGeneratedColumn first")
    for ((what, exprs) <- Seq("CHECK constraint" -> md.constraints,
        "generated column" -> md.generated)) {
      val refs = exprs.filter { case (_, s) =>
        try spark.sessionState.sqlParser.parseExpression(s)
          .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name }
          .contains(name)
        catch { case _: Exception => s.contains(name) } // conservative
      }
      require(refs.isEmpty, s"cannot $op $name: referenced by $what(s) " +
        s"${refs.keys.mkString(", ")} — drop them first")
    }
    require(!identityPartCols.contains(physical)
      && !transforms.exists(_.src == physical),
      s"cannot $op partition column $name (hive paths and derived " +
        "layouts carry its name)")
  }

  /** The schema a read shows (empty before any version). */
  private def liveSchema(md: TableMetadata): StructType =
    latestVersion.fold(new StructType())(v => readAt(Some(v), md).schema)

  /** The columns a read shows, or the declared ones before any version. */
  private def liveColumns(md: TableMetadata): Set[String] =
    latestVersion.fold(md.declared)(v => readAt(Some(v), md).schema)
      .fieldNames.toSet

  /** ALTER TABLE RENAME COLUMN — metadata-only: no data file is
    * touched; the next scan surfaces the new name. Partition columns
    * (identity or transform source) refuse — their names are baked
    * into hive paths and derived layouts — as does a column referenced
    * by a CHECK constraint (every later write would fail to resolve
    * the constraint, the Delta restriction). The new name must not
    * collide with any current logical OR physical column. Active
    * streams tailing this table pin the pre-rename schema; restart
    * them to pick up the new name.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(oldName != newName, "rename to the same name")
    updateMetadata { md =>
      val m = md.columnMapping
      requireUnpinned("rename", oldName, toPhysical(oldName, m), md)
      // declared (catalog-added) columns live in the record by name —
      // the column-mapping rename path only translates FILE columns, so
      // a renamed declared column would silently split identities
      require(!md.declared.fieldNames.contains(oldName),
        s"cannot rename declared column $oldName — deprecate and re-add " +
          "under the new name instead")
      val logicalCols = readAt(None, md).columns.toSet
      require(logicalCols.contains(oldName), s"no column $oldName " +
        s"(have: ${logicalCols.toSeq.sorted.mkString(", ")})")
      require(!logicalCols.contains(newName) && !m.keys.exists(_ == newName)
        && toPhysical(newName, m) == newName,
        s"column $newName already exists (logically or physically)")
      md.copy(columnMapping = m + (toPhysical(oldName, m) -> newName))
    }
  }

  // ---------------------------------------------------------------- //
  // True DROP COLUMN under column mapping (Delta's column-mapping     //
  // drop): metadata-only — the physical column stays in existing      //
  // files but is hidden from every read surface; rewrites (merge,     //
  // compaction, purge) copy only visible columns, so the data         //
  // physically ages out with churn. A re-added column of the same     //
  // logical name gets a FRESH physical id, so old values can never    //
  // resurrect. This is the hard delete next to deprecateColumns'      //
  // Glue-policy soft delete.                                          //
  // ---------------------------------------------------------------- //

  /** Dropped PHYSICAL column names → the logical name they carried at
    * drop time (for messages).
    */
  def droppedColumns: Map[String, String] = metadata.dropped

  /** ALTER TABLE DROP COLUMN — metadata-only via column mapping: no
    * file is touched; the column's physical storage is recorded as
    * dropped in the metadata record and every read surface hides it
    * from now on (ALL versions, like renames — the record is
    * table-global, readers key on paths). Refuses the same lattice as
    * rename (partition source, CHECK-referenced, generated, configured
    * stats/bloom columns) plus the last visible column. Like rename,
    * the drop applies to time-travel reads too, and active streams pin
    * their pre-drop schema until restarted. One record publish hides
    * the storage, forgets any rename pointing at it and removes a
    * declared entry together.
    */
  def dropColumn(name: String): Unit = {
    require(name != ManifestTable.RidPhysCol && name != ManifestTable.RowIdCol,
      s"$name is engine-reserved")
    updateMetadata { md =>
      val physical = md.physicalOf(name)
      requireUnpinned("drop", name, physical, md)
      require(!allStatsCols.contains(physical) && !bloomCol.contains(physical),
        s"cannot drop $name: it is a configured stats/bloom column — " +
          "maintenance jobs key on it; reconfigure the table first")
      val visible = liveColumns(md)
      require(visible.contains(name) || md.declared.fieldNames.contains(name),
        s"no column $name (have: ${visible.toSeq.sorted.mkString(", ")})")
      require((visible - name).nonEmpty,
        s"cannot drop $name: it is the table's last visible column")
      // a declared entry (including a DEFAULT or deprecation marker)
      // goes entirely — this is DROP, not DEPRECATE
      md.copy(dropped = md.dropped + (physical -> name),
        columnMapping = md.columnMapping - physical,
        declared = StructType(md.declared.fields.filterNot(_.name == name)))
    }
  }

  // ---------------------------------------------------------------- //
  // Generated columns (Delta GENERATED ALWAYS AS): registered          //
  // expressions every writer either COMPUTES (column absent from the  //
  // incoming frame) or VALIDATES in-job (column present — a value     //
  // disagreeing with the expression fails the write, so a generated   //
  // column can never silently drift from its definition).             //
  // ---------------------------------------------------------------- //

  /** Registered generated columns: name → SQL expression (over the
    * table's other columns). */
  def generatedColumns: Map[String, String] = metadata.generated

  /** Register `name` as GENERATED ALWAYS AS (`sqlExpr`). Old files
    * simply lack the column (mergeSchema null-fills on read); every
    * write from now on carries it. */
  def addGeneratedColumn(name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty && sqlExpr.nonEmpty, "generated column needs name + expr")
    spark.sessionState.sqlParser.parseExpression(sqlExpr) // fail fast on syntax
    updateMetadata(md => md.copy(generated = md.generated + (name -> sqlExpr)))
  }

  def dropGeneratedColumn(name: String): Unit =
    updateMetadata(md => md.copy(generated = md.generated - name))

  /** Compute absent / validate present generated columns. Validation
    * rides the write job itself (one evaluation, assert_true filter —
    * the same no-TOCTOU shape as CHECK enforcement; the guard wraps
    * the ROW, never inlines into per-column expressions). */
  private def withGenerated(df: DataFrame, md: TableMetadata): DataFrame =
    md.generated.foldLeft(df) { case (d, (name, sqlExpr)) =>
      if (!d.columns.contains(name)) d.withColumn(name, expr(sqlExpr))
      else d
        // NULL backfills (pre-registration rows null-fill on rewrite;
        // an explicit NULL means "compute it", the Delta semantics)
        .withColumn(name,
          when(col(name).isNull, expr(sqlExpr)).otherwise(col(name)))
        .filter(assert_true(
          col(name) <=> expr(sqlExpr),
          lit(s"generated column $name must equal $sqlExpr")).isNull)
    }

  // ---------------------------------------------------------------- //
  // Declared schema evolution (S7 as SQL): ALTER-style ADD COLUMNS    //
  // plus the Glue crawler SchemaChangePolicy                          //
  // (/root/reference/glue_infra.py:101-104) on manifest tables —      //
  // UPDATE_IN_DATABASE: added columns surface immediately (null for   //
  // files that predate them, real data once writes carry them);       //
  // DEPRECATE_IN_DATABASE: columns are never dropped, only flagged.   //
  // ---------------------------------------------------------------- //

  /** Catalog-declared columns (added via [[addColumns]]) + deprecation
    * flags. Field metadata key "deprecated" marks soft-deleted columns
    * (the SchemaRegistry convention).
    */
  def declaredColumns: StructType = metadata.declared

  /** Bootstrap schema declaration — CREATE TABLE's contract that an
    * EMPTY table still reads (and accepts INSERTs) with its full
    * schema: a partitioned empty write lands zero parquet files, so
    * without a declaration the scan would surface zero columns.
    * Merges with any existing declaration (idempotent re-create).
    */
  def declareSchema(st: StructType): Unit = updateMetadata { md =>
    val have = md.declared.fieldNames.toSet
    md.copy(declared = StructType(
      md.declared.fields ++ st.fields.filterNot(f => have.contains(f.name))))
  }

  private def isDeprecatedField(f: StructField): Boolean =
    f.metadata.contains("deprecated") && f.metadata.getBoolean("deprecated")

  private def deprecateField(f: StructField): StructField =
    f.copy(metadata = new MetadataBuilder()
      .withMetadata(f.metadata).putBoolean("deprecated", true).build())

  /** ALTER TABLE ADD COLUMNS — metadata-only: `ddl` is a Spark DDL
    * column list ("c1 BIGINT, c2 STRING"). Added columns surface on
    * every read immediately (typed NULL until a write carries data —
    * mergeSchema then takes over file-by-file). Refuses names that
    * collide with live columns, with the PHYSICAL name of a renamed
    * column (a file written with that name would be re-renamed by the
    * mapping and duplicate the logical column), or with the hidden
    * layout prefix.
    */
  def addColumns(ddl: String): Unit = {
    val add = StructType.fromDDL(ddl)
    require(add.nonEmpty, "addColumns: empty column list")
    addDeclaredFields(add.fields.toSeq)
  }

  /** L40: ALTER TABLE ADD COLUMN ... DEFAULT — metadata-only like
    * [[addColumns]], plus a stored DEFAULT applied to every row that
    * PREDATES the column: declared-only reads surface the default
    * (not NULL), and once later writes materialize the column
    * file-by-file, files lacking it keep reading the default through
    * the parquet reader's existence-default slot (Spark's
    * EXISTS_DEFAULT field metadata) while explicit NULLs written to
    * newer files stay NULL — the Delta/Iceberg column-DEFAULT
    * contract, so downstream non-null expectations don't break on
    * legacy rows. The expression is evaluated ONCE here and stored as
    * a literal (Delta's materialize-at-ALTER semantics); column
    * references refuse — a default is a constant.
    */
  def addColumnWithDefault(name: String, typeDdl: String,
      defaultSql: String): Unit = {
    val dt = StructType.fromDDL(s"`$name` $typeDdl").fields.head.dataType
    val parsed = spark.sessionState.sqlParser.parseExpression(defaultSql)
    require(!parsed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]),
      s"DEFAULT for $name references columns — a column default must " +
        "be a constant expression")
    val v = spark.range(1).select(expr(defaultSql).cast(dt)).head().get(0)
    val litSql = org.apache.spark.sql.catalyst.expressions.Literal
      .create(v, dt).sql
    addDeclaredFields(Seq(StructField(name, dt, nullable = true,
      new MetadataBuilder().putString(ManifestTable.DefaultKey, litSql).build())))
  }

  /** Declare `fields` in one record publish — together with the fresh
    * physical ids a RE-ADD after DROP needs.
    */
  private def addDeclaredFields(fields: Seq[StructField]): Unit =
    updateMetadata { md =>
      val live = liveColumns(md) ++ md.declared.fieldNames
      fields.foreach { f =>
        require(!live.contains(f.name),
          s"addColumns: column ${f.name} already exists")
        require(!md.columnMapping.contains(f.name),
          s"addColumns: ${f.name} is the physical name of a renamed " +
            s"column (→ ${md.columnMapping(f.name)}); choose another name")
        require(!f.name.startsWith(PartitionTransform.Prefix),
          s"addColumns: ${f.name} collides with the hidden layout prefix")
      }
      // RE-ADD after DROP: a name whose physical storage was dropped
      // gets a FRESH physical id (a rename mapping minted up front) —
      // writes land under the new id, so old files' values can never
      // resurrect; files predating the re-add read NULL (or the
      // declared DEFAULT)
      val mints = fields.map(_.name).filter(md.dropped.contains).map { n =>
        s"${n}_${UUID.randomUUID().toString.take(8)}" -> n
      }
      md.copy(columnMapping = md.columnMapping ++ mints,
        declared = StructType(md.declared.fields ++ fields))
    }

  // ---------------------------------------------------------------- //
  // Identity columns (GENERATED ALWAYS AS IDENTITY): values DERIVE    //
  // from the T16 stable row id — `start + step * _row_id` — so the    //
  // collision-free commit-time allocator (version bands + persisted   //
  // watermark) IS the identity allocator: unique and monotonically    //
  // advancing across appends, merges, concurrent commits, restore     //
  // and clone, with zero write-path coordination. Values are sparse   //
  // (gaps between commits — the Delta identity contract allows gaps); //
  // they survive rewrites because row ids do (materialized            //
  // [[ManifestTable.RidPhysCol]] in copies). GENERATED ALWAYS: user   //
  // frames carrying the column refuse at every public write surface.  //
  // ---------------------------------------------------------------- //

  /** Registered identity columns: name → (start, step). */
  def identityColumns: Map[String, (Long, Long)] = metadata.identity

  /** Register `name` as GENERATED ALWAYS AS IDENTITY (START WITH
    * `start` INCREMENT BY `step`). Metadata-only: every read from now
    * on surfaces the column as `start + step * row_id`. Rows whose
    * files predate row tracking read NULL — `CALL
    * graft.backfill_row_ids` (one governed rewrite) adopts them.
    */
  def addIdentityColumn(name: String, start: Long = 1L,
      step: Long = 1L): Unit = {
    require(step != 0L, "identity step must be non-zero")
    require(name != ManifestTable.RidPhysCol && name != ManifestTable.RowIdCol,
      s"$name is engine-reserved")
    require(!name.startsWith(PartitionTransform.Prefix),
      s"$name collides with the hidden layout prefix")
    updateMetadata { md =>
      require(!(liveColumns(md) ++ md.declared.fieldNames ++
        md.identity.keys).contains(name),
        s"addIdentityColumn: column $name already exists")
      md.copy(identity = md.identity + (name -> (start, step)))
    }
  }

  def dropIdentityColumn(name: String): Unit =
    updateMetadata(md => md.copy(identity = md.identity - name))

  /** Surface registered identity columns on a rid-carrying frame. */
  private def withIdentityCols(df: DataFrame,
      ids: Map[String, (Long, Long)]): DataFrame =
    ids.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, (s, k))) =>
      d.withColumn(n, lit(s) + lit(k) * col(ManifestTable.RowIdCol))
    }

  /** DEPRECATE columns — the Glue DeleteBehavior: data is never
    * dropped; declared-only columns stop surfacing in reads (they hold
    * no data anywhere), file-backed columns keep reading — rewrites,
    * merges, and time travel all preserve them — but carry the flag in
    * [[describeSchema]], exactly the catalog-level soft delete the
    * reference's DEPRECATE_IN_DATABASE policy specifies.
    */
  def deprecateColumns(names: Seq[String]): Unit = {
    require(names.nonEmpty, "deprecateColumns: empty column list")
    updateMetadata { md =>
      val live = liveSchema(md)
      md.copy(declared = names.foldLeft(md.declared) { (st, n) =>
        if (st.fieldNames.contains(n))
          StructType(st.fields.map(f => if (f.name == n) deprecateField(f) else f))
        else live.find(_.name == n) match {
          case Some(f) => // marker entry for a file-backed column
            StructType(st.fields :+ deprecateField(StructField(n, f.dataType)))
          case None => throw new IllegalArgumentException(
            s"deprecateColumns: no column $n")
        }
      })
    }
  }

  /** The declared-schema view of reads: append every live declared
    * column missing from the scan as a typed NULL. Deprecated
    * declared-only columns stay hidden; deprecated FILE-backed columns
    * keep reading (data preserved — DEPRECATE, not DROP).
    */
  private def withDeclared(df: DataFrame, md: TableMetadata): DataFrame = {
    val have = df.columns.toSet
    md.declared.fields
      .filterNot(f => have.contains(f.name) || isDeprecatedField(f))
      .foldLeft(df)((d, f) => d.withColumn(f.name,
        // L40: a declared DEFAULT surfaces instead of NULL for rows
        // predating the column (files HOLDING the column are the
        // readFiles existence-default case, not this one)
        ManifestTable.defaultOf(f)
          .map(sql => expr(sql).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))))
  }

  /** Amend a read schema so columns with a declared DEFAULT carry
    * Spark's EXISTS_DEFAULT metadata — the parquet readers then fill
    * the column for files LACKING it (rows predating the column) while
    * files holding it keep their stored values, explicit NULLs
    * included. None when no declared default touches the schema.
    */
  private def withExistenceDefaults(st: StructType,
      defaults: Map[String, String]): Option[StructType] = {
    if (defaults.isEmpty) return None
    var changed = false
    val fields = st.fields.map { f =>
      defaults.get(f.name) match {
        case Some(sql)
            if !f.metadata.contains(ManifestTable.ExistsDefaultKey) =>
          changed = true
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ManifestTable.ExistsDefaultKey, sql).build())
        case _ => f
      }
    }
    if (changed) Some(StructType(fields)) else None
  }

  /** DESCRIBE SCHEMA — every column with its provenance and
    * deprecation flag: `source` = "declared" for columns the record's
    * declared schema governs (added and/or deprecated through it),
    * "data" for plain file-backed columns. Deprecated declared-only
    * columns are hidden from reads but still listed here — the catalog
    * remembers them, per the DEPRECATE policy.
    */
  def describeSchema(): Seq[(String, String, String, Boolean)] = {
    val md = metadata
    val byName = md.declared.fields.map(f => f.name -> f).toMap
    val scan = liveSchema(md).fields.toSeq
    val scanNames = scan.map(_.name).toSet
    scan.map { f =>
      byName.get(f.name) match {
        case Some(d) =>
          (f.name, f.dataType.simpleString, "declared", isDeprecatedField(d))
        case None if md.identity.contains(f.name) =>
          (f.name, f.dataType.simpleString, "identity", false)
        case None => (f.name, f.dataType.simpleString, "data", false)
      }
    } ++ md.declared.fields.toSeq.filterNot(f => scanNames.contains(f.name)).map(f =>
      (f.name, f.dataType.simpleString, "declared", isDeprecatedField(f)))
  }

  // ---------------------------------------------------------------- //
  // L17: CHECK constraints — persisted table-level data-quality gates //
  // ---------------------------------------------------------------- //

  /** Registered CHECK constraints: name → SQL boolean expression.
    * Persisted in the metadata record, so EVERY writer instance on
    * this root enforces them (the Delta `ALTER TABLE ADD CONSTRAINT`
    * model).
    */
  def constraints: Map[String, String] = metadata.constraints

  /** L17: ADD CONSTRAINT — registers a CHECK expression that every
    * subsequent data-adding commit (write, merge, partition overwrite,
    * updateWhere) enforces INSIDE the write job itself
    * ([[enforced]]): the same evaluation that produces the written
    * rows checks them, so a nondeterministic input can never pass a
    * pre-check and then materialize different, violating rows — and
    * no separate validation pass re-reads the input. A violating
    * commit throws and leaves the table untouched. Like Delta, adding
    * a constraint first validates the EXISTING data — a table that
    * already violates it rejects the constraint, not the data. SQL
    * CHECK semantics: NULL evaluations pass (use IS NOT NULL
    * explicitly for NOT NULL gates). Pure-movement commits (compact,
    * optimize, restore) skip re-validation — they add no new rows.
    */
  def addConstraint(name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty, "constraint needs a name")
    if (latestVersion.isDefined)
      checkAgainst(read(), Map(name -> sqlExpr), "existing table data")
    updateMetadata(md => md.copy(constraints = md.constraints + (name -> sqlExpr)))
  }

  def dropConstraint(name: String): Unit =
    updateMetadata(md => md.copy(constraints = md.constraints - name))

  /** Wrap a to-be-written DataFrame so the write job itself enforces
    * every registered constraint per row: `assert_true` throws (with
    * the constraint's name) on the first violating row, mid-job — one
    * evaluation of the input, no pre-check/act race on
    * nondeterministic inputs. The identity when no constraints exist.
    */
  private def enforced(df: DataFrame, md: TableMetadata): DataFrame =
    md.constraints.foldLeft(df) { case (d, (n, s)) =>
      d.filter(assert_true(
        coalesce(expr(s).cast("boolean"), lit(true)),
        lit(s"CHECK constraint $n ($s) violated")).isNull)
    }

  private def checkAgainst(df: DataFrame, cs: Map[String, String],
      what: String): Unit = {
    val ordered = cs.toSeq
    val aggs = ordered.zipWithIndex.map { case ((_, s), i) =>
      sum(when(!coalesce(expr(s).cast("boolean"), lit(true)), 1L)
        .otherwise(0L)).as(s"_c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    val violated = ordered.zipWithIndex.flatMap { case ((n, s), i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (v > 0) Some(s"$n ($s): $v row(s)") else None
    }
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint(s) violated by $what — ${violated.mkString("; ")}")
  }

  /** DESCRIBE DETAIL — one-row operational summary of the table (the
    * Delta `DESCRIBE DETAIL` surface): version, file count, total
    * bytes, partition/stats/bloom config, deletion-vector count,
    * constraint count. Driver-side O(files).
    */
  def describeDetail(): DataFrame = {
    import spark.implicits._
    val v = latestVersion
    val entries = v.map(entriesOf).getOrElse(Seq.empty)
    val bytes = entries.map(sizeOf).sum
    Seq((root, "graft-manifest", v.getOrElse(-1),
      entries.size.toLong, bytes,
      partCols, allStatsCols, bloomCol.toSeq,
      entries.count(_.stats.contains(DvKey)).toLong,
      constraints.size.toLong))
      .toDF("location", "format", "version", "num_files", "size_bytes",
        "partition_columns", "stats_columns", "bloom_columns",
        "num_dv_files", "num_constraints")
  }

  /** ANALYZE TABLE — one aggregation pass over the LIVE rows of the
    * latest version computing the table row count plus, per analyzed
    * column, non-null count, approximate NDV (HLL++, ±~2%), and
    * min/max — persisted as a stats sidecar in the log dir, pinned to
    * the analyzed version. This is the cost-based-planning input: a
    * 1000-executor join planner (and [[readForJoin]] here) consults
    * O(1) metadata instead of scanning 100 TB to learn a dimension
    * table is 40 MB. `columns` restricts the pass; default = every
    * atomic column. Returns the analyzed version.
    *
    * The scan is DV-aware (reads live rows, not raw files) and
    * single-job: all per-column aggregates ride one hash-free global
    * aggregation with map-side partials.
    */
  def analyze(columns: Seq[String] = Seq.empty): Int = {
    val v = latestVersion.getOrElse(
      throw new IllegalStateException(s"analyze: no versions at $root"))
    val df = read(Some(v))
    val atomic = df.schema.fields
      .filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType => false
        case _ => true
      }).map(_.name).toSeq
    val cols =
      if (columns.isEmpty) atomic
      else {
        val bad = columns.filterNot(atomic.contains)
        require(bad.isEmpty,
          s"analyze: non-atomic or unknown column(s) ${bad.mkString(", ")}")
        columns
      }
    val aggs = count(lit(1)).as("_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_nn_$c"),
        approx_count_distinct(col(c)).as(s"_ndv_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"),
        max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    val rows = row.getLong(0)
    val bytes = entriesOf(v).map(sizeOf).sum
    val enc = (s: String) => Entry.enc(s)
    val colLines = cols.zipWithIndex.map { case (c, i) =>
      val base = 1 + i * 4
      val mn = if (row.isNullAt(base + 2)) "" else enc(row.getString(base + 2))
      val mx = if (row.isNullAt(base + 3)) "" else enc(row.getString(base + 3))
      s"col=${enc(c)},${row.getLong(base)},${row.getLong(base + 1)},$mn,$mx"
    }
    replaceLogFile(new Path(logDir, s"stats_v$v"),
      (Seq(s"version=$v", s"rows=$rows", s"bytes=$bytes") ++ colLines)
        .mkString("\n") + "\n")
    v
  }

  /** Most recent persisted ANALYZE snapshot:
    * (analyzed version, row count, data bytes). None until the first
    * [[analyze]]. O(1) metadata — no data scan.
    */
  def tableStats: Option[(Int, Long, Long)] = statsFileLines.map { lines =>
    val kv = lines.filter(l => l.contains('=') && !l.startsWith("col="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    (kv("version").toInt, kv("rows").toLong, kv("bytes").toLong)
  }

  /** Per-column statistics of the most recent ANALYZE, as a local
    * DataFrame (the `DESCRIBE STATS` surface): column, non-null count,
    * approximate NDV, min, max (stringified, NULL when the column was
    * all-NULL). Empty if never analyzed.
    */
  def columnStats(): DataFrame = {
    import spark.implicits._
    statsFileLines.getOrElse(Seq.empty)
      .filter(_.startsWith("col="))
      .map { l =>
        val parts = l.stripPrefix("col=").split(",", -1)
        (Entry.dec(parts(0)), parts(1).toLong, parts(2).toLong,
          if (parts(3).isEmpty) null else Entry.dec(parts(3)),
          if (parts(4).isEmpty) null else Entry.dec(parts(4)))
      }.toDF("column", "non_null", "ndv", "min", "max")
  }

  private def statsFileLines: Option[Seq[String]] = {
    val stats = logListing.map(_.getPath.getName)
      .filter(_.startsWith("stats_v"))
      .map(n => n.stripPrefix("stats_v").toInt)
    if (stats.isEmpty) return None
    val p = new Path(logDir, s"stats_v${stats.max}")
    val in = fs.open(p)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
    finally in.close()
  }

  /** Read with a stats-driven broadcast decision: when the CURRENT
    * version's total data bytes fall under `broadcastThreshold`, the
    * result carries a broadcast hint — so `fact.join(dim.readForJoin(),
    * keys)` picks BroadcastHashJoin without the caller hand-placing
    * hints or Spark's size estimator seeing through the scan. File
    * sizes come from commit metadata (O(files) driver-side, no scan),
    * so the decision is always CURRENT — unlike [[tableStats]], which
    * is pinned to its analyze version. Same compressed-bytes threshold
    * semantics as Delta/Spark `autoBroadcastJoinThreshold`.
    */
  def readForJoin(broadcastThreshold: Long = 10L << 20): DataFrame = {
    val small = latestVersion.exists { v =>
      var total = 0L
      val it = entriesOf(v).iterator
      var under = true
      while (it.hasNext && under) {
        total += sizeOf(it.next())
        under = total <= broadcastThreshold
      }
      under
    }
    if (small) broadcast(read()) else read()
  }

  /** Stream-source surface: rows of the files ADDED between two
    * versions, read DV-aware as of `vTo` — what a table-as-stream
    * micro-batch emits. With `failOnChange`, any non-append difference
    * (a removed file, or a same-path entry whose stats/DV reference
    * changed — i.e. a merge rewrite, compaction, delete, or update)
    * throws instead of silently emitting partial or duplicate data —
    * the Delta source's append-only contract; `ignoreChanges` relaxes
    * it to at-least-once on rewritten files.
    */
  private[graft] def addedBetween(vFrom: Option[Int], vTo: Int,
      failOnChange: Boolean): DataFrame = {
    val toEntries = entriesOf(vTo)
    val fromEntries = vFrom.map(entriesOf).getOrElse(Seq.empty)
    val fromByRel = fromEntries.map(e => e.rel -> e).toMap
    if (failOnChange && vFrom.isDefined) {
      val toByRel = toEntries.map(e => e.rel -> e).toMap
      val removed = fromEntries.filterNot(e => toByRel.contains(e.rel))
      val changed = fromEntries.filter(e =>
        toByRel.get(e.rel).exists(_ != e))
      if (removed.nonEmpty || changed.nonEmpty)
        throw new IllegalStateException(
          s"non-append change between v${vFrom.get} and v$vTo " +
            s"(${removed.size} removed, ${changed.size} rewritten/DV-marked " +
            "files): a table stream is append-only; pass " +
            "ignoreChanges=true to emit newly-added files anyway " +
            "(at-least-once on rewrites)")
    }
    val added = toEntries.filterNot(e => fromByRel.contains(e.rel))
    val md = metadata
    if (added.isEmpty) readAt(Some(vTo), md).filter(lit(false))
    else readEntries(added, md)
  }

  /** Files metadata table (the Iceberg `table.files` surface): one row
    * per data file of a version — relative path, size, per-column zone
    * map [min, max], and the deletion-vector sidecar reference if any.
    * What an operator reads to see WHY a query pruned (or didn't), and
    * what external tooling consumes to audit layout. Driver-side
    * O(files), served as a local DataFrame.
    */
  def filesDf(version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val v = versionOrLatest(version)
    entriesOf(v).map { e =>
      val len = sizeOf(e)
      val zones = e.stats.toSeq
        // engine keys ('#dv', '#n', '#rid', '#b') and bloom bitsets are not
        // zone maps
        .filter { case (c, s) => !c.startsWith("#") && s.kind != "B" }
        .sortBy(_._1)
        .map { case (c, s) => (c, s.mn, s.mx) }
      (e.rel, len, zones, e.stats.get(DvKey).map(_.mn))
    }.toDF("file", "size_bytes", "zone_maps", "dv_sidecar")
  }

  /** DESCRIBE HISTORY — one row per committed version (the Delta
    * `DESCRIBE HISTORY` surface): commit time, file count, rows
    * masked by deletion vectors, and the file-set delta vs the
    * previous version (added/removed counts — how a reader tells an
    * append from a compaction from a merge). Driver-side O(versions ·
    * files).
    */
  def history(): DataFrame = {
    import spark.implicits._
    val vs = versions
    val byV = vs.map(v => v -> entriesOf(v)).toMap
    vs.map { v =>
      val es = byV(v)
      val prev = byV.get(v - 1).map(_.map(_.rel).toSet).getOrElse(Set.empty)
      val rels = es.map(_.rel).toSet
      val dvRows = es.flatMap(_.stats.get(DvKey))
        .map(s => try s.mx.toLong catch { case _: NumberFormatException => 0L })
        .sum
      (v, new java.sql.Timestamp(commitTimeOf(v)), es.size.toLong,
        (rels -- prev).size.toLong, (prev -- rels).size.toLong, dvRows)
    }.toDF("version", "commit_ts", "num_files",
      "files_added", "files_removed", "dv_deleted_rows")
      .orderBy(col("version").asc)
  }

  /** L15: row-level DELETE via deletion vectors (merge-on-read — the
    * Delta DV / Iceberg v2 position-delete model). Matching rows are
    * recorded as (file-basename, row_index) positions in a sidecar
    * parquet under `_graft_dv/`; the touched files' manifest entries
    * re-point at the sidecar and NO data file is rewritten. Cost is
    * O(matching rows + one manifest commit) — at 100 TB a point delete
    * (GDPR erasure, bad-batch retraction) touches a handful of files'
    * entries instead of rewriting partitions. Readers anti-join the
    * positions out ([[liveRows]]); the next compaction/merge of a
    * file materializes its deletes and drops the DV. A new sidecar for
    * a file absorbs the file's previous positions, so each entry
    * references exactly ONE sidecar (bounded read fan-in), while stale
    * shared sidecars stay harmless (positions are permanent row ids).
    * Zone maps/blooms of DV-carrying files stay valid — they describe
    * a superset, which can only under-prune, never lose rows. Returns
    * the committed version, or the current one when nothing matched.
    */
  def delete(predicate: Column): Int = {
    val (v0, md) = snapshot(None)
    val entries = entriesOf(v0)
    if (entries.isEmpty) return v0
    deleteMatching(v0, entries,
      liveWithPos(entries, md, withRid = false).filter(predicate), md)
  }

  /** Batch point delete — one commit for a SET of keys (the GDPR
    * erasure-queue shape: requests arrive in batches, each batch is
    * one DV commit, not one per key). Keys match in the string domain
    * (`c` rendered as a string); only files the kernel keeps for the
    * key set are scanned for positions.
    */
  def deleteKeys(c: String, values: Seq[String]): Int = {
    val (v0, md) = snapshot(None)
    // NULL keys are dropped explicitly (they cannot equal any stored
    // value; inside an IN literal they'd vanish silently instead)
    val vals = values.filter(_ != null).distinct
    val entries = entriesOf(v0)
    if (vals.isEmpty || entries.isEmpty) return v0
    keyHits(entries, liveWithPos(entries, md, withRid = false).schema, md, c, vals)
      .fold(v0)(deleteMatching(v0, entries, _, md))
  }

  /** The live rows, with positions, whose `c` renders as one of `vals`
    * (a string-domain match no scan filter carries), scanning only the
    * entries the kernel keeps for the key set, typed by the table's
    * `schema`; None when it keeps none.
    */
  private def keyHits(entries: Seq[Entry], schema: StructType,
      md: TableMetadata, c: String, vals: Seq[String]): Option[DataFrame] = {
    val kept = entries.filter(mightMatch(Seq(sources.In(c, vals.toArray)),
      a => schema.find(_.name == a).map(_.dataType), md.columnMapping))
    if (kept.isEmpty) None
    else Some(keyMatcher(c, vals)(liveWithPos(kept, md, withRid = false)))
  }

  private def tryBigDecimal(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** Row matcher for a key set: a literal IN below
    * [[ManifestTable.InLiteralMaxKeys]]; past it, a broadcast
    * semi-join (a huge erasure batch must not become a huge In
    * expression — analysis-time O(keys) tree, codegen pressure).
    */
  private def keyMatcher(c: String,
      vals: Seq[String]): DataFrame => DataFrame =
    if (vals.size <= ManifestTable.InLiteralMaxKeys)
      live => live.filter(col(c).cast("string").isin(vals: _*))
    else {
      val keysDf = spark.createDataset(vals)(org.apache.spark.sql.Encoders.STRING)
        .toDF("_graft_erase_key")
      live => live.join(org.apache.spark.sql.functions.broadcast(keysDf),
        col(c).cast("string") === col("_graft_erase_key"), "left_semi")
    }

  /** Position-mark `matches` (live rows of `all`, with positions: a
    * filter for predicate deletes, a semi-join for large key sets) and
    * commit as a delta against the full snapshot. Returns `v0` with no
    * job run when its planned scans select no data file.
    */
  private def deleteMatching(v0: Int, all: Seq[Entry], matches: DataFrame,
      md: TableMetadata): Int = {
    if (!md.cdcEnabled) {
      // materialize the hit set exactly once (eager checkpoint): the
      // marksUnique fast path records totals by driver arithmetic, so
      // the mark rows must be recompute-proof — a nondeterministic
      // predicate re-evaluated under cache eviction could otherwise
      // diverge the recorded counts from the written sidecar (r18
      // ADVICE; the CDC branch below already had this discipline)
      val marks = matches.select(col(DvFileCol), col(DvPosCol))
      if (scannedFiles(marks).isEmpty) return v0
      val hits = marks.localCheckpoint(true)
      try return commitDv("delete", v0, all, hits, Seq.empty, md,
        marksUnique = true)
      finally graft.functions.CheckpointOps.release(hits)
    }
    // T15: the matched rows ARE the commit's change rows. Materialize
    // the hit set exactly once so the DV marks and the recorded
    // deletes cannot diverge under a nondeterministic predicate —
    // the same discipline updateWhere applies.
    if (scannedFiles(matches).isEmpty) return v0
    val hits = matches.localCheckpoint(true)
    try {
      val dataCols = hits.columns
        .filterNot(Set(DvFileCol, DvPosCol, ManifestTable.RowIdCol)).toSeq
      commitDv("delete", v0, all, hits.select(col(DvFileCol), col(DvPosCol)),
        Seq.empty,
        md, cdc = Some(hits.select(dataCols.map(col): _*)
          .withColumn(ManifestTable.ChangeTypeCol, lit("delete"))),
        marksUnique = true)
    } finally graft.functions.CheckpointOps.release(hits)
  }

  /** The LIVE rows of `entries` with their permanent (file, pos) row
    * ids ([[liveRows]]) and, `withRid`, their stable row ids, under
    * the LOGICAL schema a read shows: row-level DML (UPDATE/MERGE/
    * DELETE) matches and assigns against it, so a declared-only column
    * from ALTER TABLE ADD COLUMNS resolves here as it does in read().
    * Already-deleted rows are out — re-deleting a dead row must not
    * inflate counts, and updates/merges must never resurrect one. The
    * shared preamble of every row-level mutation.
    */
  private def liveWithPos(entries: Seq[Entry], md: TableMetadata,
      withRid: Boolean = true): DataFrame =
    if (entries.isEmpty) {
      val base = readAt(None, md)
        .withColumn(DvFileCol, lit(null).cast("string"))
        .withColumn(DvPosCol, lit(null).cast("long"))
      if (withRid) base.withColumn(ManifestTable.RowIdCol, lit(null).cast("long"))
      else base
    } else withDeclared(liveRows(entries, md, withPos = true, withRid = withRid), md)

  /** Scan audit hook: the row-level DML scan of a version — its live
    * rows with their DV keys and row ids ([[liveWithPos]]). */
  private[graft] def scanWithPositions(version: Option[Int] = None): DataFrame = {
    val (v, md) = snapshot(version)
    liveWithPos(entriesOf(v), md)
  }

  /** Resolve assignment-map keys against `cols` with the session
    * resolver (case-insensitive under the default
    * spark.sql.caseSensitive=false — `CALL graft.update` hands user-
    * typed names straight through) and normalize each to the actual
    * column name; loud on unknown, ambiguous, or twice-assigned keys.
    */
  private def resolveSetKeys(what: String, cols: Seq[String],
      set: Map[String, Column]): Map[String, Column] = {
    val resolver = spark.sessionState.conf.resolver
    val pairs = set.toSeq.map { case (k, v) =>
      val hits = cols.filter(c => resolver(c, k))
      if (hits.isEmpty) throw new IllegalArgumentException(
        s"$what assigns unknown column(s): $k")
      if (hits.size > 1) throw new IllegalArgumentException(
        s"$what: ambiguous column $k matches ${hits.mkString(", ")}")
      hits.head -> v
    }
    val dup = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$what: column(s) assigned more than once: " +
        dup.toSeq.sorted.mkString(", "))
    pairs.toMap
  }

  /** L16: row-level UPDATE via deletion vectors — `UPDATE ... SET ...
    * WHERE ...` without rewriting any existing file: matching rows are
    * DV-marked in place and their updated copies append as new files
    * (merge-on-read update). An assignment may change the partition
    * column — the new copy simply lands in its new partition while the
    * old position is dead. `set` maps column name → new value
    * expression (may reference the old row's columns).
    */
  def updateWhere(predicate: Column, set: Map[String, Column]): Int = {
    val (v0, md) = snapshot(None)
    val entries = entriesOf(v0)
    if (entries.isEmpty) return v0
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    set.keys.find(md.identity.contains).foreach(n =>
      throw new IllegalArgumentException(s"updateWhere: $n is GENERATED " +
        "ALWAYS AS IDENTITY — its values cannot be assigned"))
    val live = liveWithPos(entries, md)
    // materialize the matched row set EXACTLY once (eager checkpoint):
    // the marks and the appended copies must come from the same rows,
    // or a nondeterministic predicate/assignment could kill one row
    // set and append a different one — silent loss or duplication
    val hits = live.filter(predicate).localCheckpoint(true)
    try {
      // ANSI UPDATE semantics: every assignment sees the OLD row — one
      // simultaneous select, not a sequential withColumn fold (which
      // would feed later assignments the NEW value of earlier ones:
      // `SET a = b, b = a` must swap, not duplicate). Keys resolve
      // case-insensitively to existing columns; a typo'd key would
      // otherwise silently ADD a column and fail later at commit.
      val cols = hits.columns
        .filterNot(Set(DvFileCol, DvPosCol, ManifestTable.RowIdCol)).toSeq
      // values cast to the column's type (ANSI store assignment), the
      // same normalization MERGE applies: `SET amount = 99.0` hands a
      // DECIMAL(3,1) literal at a DOUBLE column — written uncast, the
      // copy's parquet schema no longer merges with the table's and
      // the table is unreadable after a successful commit
      val setN = resolveSetKeys("UPDATE", cols, set).map { case (k, v) =>
        k -> v.cast(hits.schema(k).dataType)
      }
      // The CDC flag comes from the ONE record this operation
      // resolved: a mid-operation enableCdc/disableCdc must not split
      // the checkpoint from its release or from the sidecar decision.
      val cdcOn = md.cdcEnabled
      val updated = updateCopies(hits, cols, setN, md)
      try {
        val cdc = if (!cdcOn) None else Some(
          hits.select(cols.map(col): _*)
            .withColumn(ManifestTable.ChangeTypeCol, lit("update_preimage"))
            .unionByName(updated.drop(ManifestTable.RidPhysCol).withColumn(
              ManifestTable.ChangeTypeCol, lit("update_postimage")),
              allowMissingColumns = true))
        commitDv("updateWhere", v0, entries,
          hits.select(col(DvFileCol), col(DvPosCol)), Seq(enforced(updated, md)),
          md, cdc = cdc, marksUnique = true)
      } finally if (cdcOn) graft.functions.CheckpointOps.release(updated)
    } finally graft.functions.CheckpointOps.release(hits) // RDD-level: Dataset.unpersist no-ops on checkpoints
  }

  /** The appended copies of updated rows `hits`: each of `cols` from
    * `set` (expressions over the OLD row) or kept, plus the row's
    * stable id (T16 row tracking: an UPDATE changes values, not
    * identity — the copy carries the id physically so reads and the
    * keyless change feed keep pairing old and new). A generated
    * column the SET leaves alone recomputes from the new values;
    * carried over, it would fail the generated-column check. T15:
    * with CDC on, the copies are recorded as postimages AND written —
    * checkpointed once so a nondeterministic assignment cannot record
    * one set of rows and write another; the caller releases it.
    */
  private def updateCopies(hits: DataFrame, cols: Seq[String],
      set: Map[String, Column], md: TableMetadata): DataFrame = {
    def value(c: String): Column = set.getOrElse(c,
      if (md.generated.contains(c)) lit(null).cast(hits.schema(c).dataType)
      else col(c))
    val copies = withGenerated(hits.select(cols.map(c => value(c).as(c)) :+
      col(ManifestTable.RowIdCol).as(ManifestTable.RidPhysCol): _*), md)
    if (md.cdcEnabled) copies.localCheckpoint(true) else copies
  }

  /** General `MERGE INTO` via deletion vectors (merge-on-read): ONE
    * commit that DV-marks the matched targets an applying clause
    * updates or deletes and appends the updated copies plus the
    * not-matched inserts — cost O(matched + inserted rows) and one
    * manifest delta, never a table rewrite (the Delta/Iceberg
    * merge-on-read MERGE shape; at 100 TB a CDC batch touches the
    * files holding matched rows' entries, not partitions). Supports
    * the full three-sided statement with arbitrary (non-equi) join
    * conditions and conditional clauses, first-match-wins:
    *
    *   WHEN MATCHED [AND c]               THEN UPDATE SET ... | DELETE
    *   WHEN NOT MATCHED [AND c]           THEN INSERT ...
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
    *
    * `source` column names must be DISJOINT from the table's logical
    * columns ([[graft.sql.GraftDmlRules]] renames the source side
    * before lowering; Scala callers rename explicitly) so `on` and
    * clause expressions can refer to both sides by plain name. A row
    * no clause applies to is untouched. A target row with more than
    * one APPLYING matched source row is the standard MERGE cardinality
    * violation and throws — compact the feed first
    * ([[Merge.latestPerKey]]). A merge where nothing matches and
    * nothing inserts is a version no-op. This is the table's one MERGE
    * engine: the keyed upsert / CDC-apply form [[merge]] is one call
    * of it. Generated columns an update or insert leaves unassigned
    * recompute from the new row. A merge that inserts rows conflicts
    * with every concurrently added file (it may hold an inserted key);
    * one that only updates or deletes rebases over concurrent appends.
    */
  def mergeInto(source: DataFrame, on: Column,
      matched: Seq[MergeMatchedClause] = Nil,
      notMatched: Seq[MergeInsertClause] = Nil,
      notMatchedBySource: Seq[MergeMatchedClause] = Nil): Int = {
    val (v0, md) = snapshot(None)
    mergeAt("mergeInto", v0, md, source, on, matched, notMatched,
      notMatchedBySource, requireTarget = _ => (), insertKeys = Nil)
  }

  /** [[mergeInto]] against snapshot `v0`/`md`; `requireTarget` checks
    * the target's logical columns before any job runs, and no two
    * inserted rows may share a value of `insertKeys` (compared
    * null-safely; empty = unchecked, as SQL MERGE INTO leaves it). */
  private def mergeAt(op: String, v0: Int, md: TableMetadata,
      source: DataFrame, on: Column, matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      notMatchedBySource: Seq[MergeMatchedClause],
      requireTarget: Seq[String] => Unit, insertKeys: Seq[String]): Int = {
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
    val entries = entriesOf(v0)
    // ids are consumed only by UPDATE-arm copies; a delete/insert-only
    // merge (the common CDC-apply shape) skips the resolution
    val needRid = (matched ++ notMatchedBySource)
      .exists(_.isInstanceOf[MergeUpdateClause])
    val live = liveWithPos(entries, md, withRid = needRid)
    val targetCols = live.columns
      .filterNot(Set(DvFileCol, DvPosCol, ManifestTable.RowIdCol)).toSeq
    requireTarget(targetCols)
    val armCol = "_graft_merge_arm"
    val overlap = source.columns.toSet
      .intersect(targetCols.toSet + DvFileCol + DvPosCol +
        ManifestTable.RowIdCol + ManifestTable.RidPhysCol)
    require(overlap.isEmpty, "MERGE source columns collide with target " +
      s"columns: ${overlap.toSeq.sorted.mkString(", ")} — rename the " +
      "source side first")
    val armClash = (targetCols ++ source.columns).filter(_ == armCol)
    require(armClash.isEmpty,
      s"column name $armCol is reserved by MERGE — rename it first")
    // normalize clause maps: keys resolved (case-insensitively) to the
    // actual target column, values cast to the column's type — a
    // mismatched insert/update type would otherwise write a data file
    // whose schema no longer merges with the table's (unreadable
    // after a successful commit)
    def normalize(what: String, set: Map[String, Column]) =
      resolveSetKeys(what, targetCols, set).map { case (k, v) =>
        k -> v.cast(live.schema(k).dataType)
      }
    val matchedN = matched.map {
      case MergeUpdateClause(c, set) =>
        MergeUpdateClause(c, normalize("WHEN MATCHED UPDATE", set))
      case d => d
    }
    val bySourceN = notMatchedBySource.map {
      case MergeUpdateClause(c, set) => MergeUpdateClause(c,
        normalize("WHEN NOT MATCHED BY SOURCE UPDATE", set))
      case d => d
    }
    val notMatchedN = notMatched.map(c => MergeInsertClause(c.condition,
      normalize("WHEN NOT MATCHED INSERT", c.values)))
    // the source materializes EXACTLY once: three independent joins
    // read it (matched inner, insert anti, by-source anti) — a
    // nondeterministic source (sample/rand/LIMIT) evaluated per join
    // could mark a target row AND miss its replacement, or insert a
    // feed row it also applied as an update (the per-hit-set
    // checkpoints below only protect within one set)
    val src = source.localCheckpoint(true)

    // first-match-wins clause index; -1 = no clause applies (NULL
    // conditions are "does not apply", like SQL WHEN ... AND)
    def tagged(df: DataFrame, conds: Seq[Option[Column]]): DataFrame =
      df.withColumn(armCol, conds.zipWithIndex.foldRight(lit(-1)) {
        case ((c, i), els) => when(
          coalesce(c.getOrElse(lit(true)).cast("boolean"), lit(false)),
          lit(i)).otherwise(els)
      })
    // matched/by-source hit sets materialize EXACTLY once (eager
    // checkpoint): marks and updated copies must come from the same
    // rows or a nondeterministic source/condition could kill one row
    // set and append another — silent loss or duplication (same
    // discipline as updateWhere). The three materializations are
    // mutually independent given the checkpointed `src` (inner, anti,
    // reversed-anti joins of the same two inputs), so they run
    // overlapped on the commit pool (guide §2.6) instead of three
    // serial jobs each leaving the cluster idle through its tail.
    val matchedHitsF =
      if (matchedN.isEmpty) None
      else Some(ManifestTable.async(
        tagged(live.join(src, on, "inner"), matchedN.map(_.condition))
          .filter(col(armCol) >= 0).localCheckpoint(true)))
    val bySourceHitsF =
      if (bySourceN.isEmpty) None
      else Some(ManifestTable.async(
        tagged(live.join(src, on, "left_anti"), bySourceN.map(_.condition))
          .filter(col(armCol) >= 0).localCheckpoint(true)))
    val insertRowsF =
      if (notMatchedN.isEmpty) None
      else Some(ManifestTable.async {
        val unmatched = tagged(src.join(live, on, "left_anti"),
          notMatchedN.map(_.condition))
        withGenerated(notMatchedN.zipWithIndex.map { case (c, i) =>
          unmatched.filter(col(armCol) === i).select(targetCols.map { t =>
            c.values.get(t).map(_.as(t)).getOrElse(
              lit(null).cast(live.schema(t).dataType).as(t))
          }: _*)
        }.reduce(_ unionAll _), md).localCheckpoint(true)
      })
    val matchedHits = matchedHitsF.map(ManifestTable.await(_))
    val bySourceHits = bySourceHitsF.map(ManifestTable.await(_))
    val insertRows = insertRowsF.map(ManifestTable.await(_))
    val cdcOn = md.cdcEnabled
    // CDC mode checkpoints every update-copy frame ([[updateCopies]])
    val copyCheckpoints = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val allCheckpoints = Seq(src) ++
      matchedHits.toSeq ++ bySourceHits.toSeq ++ insertRows.toSeq
    try {
      matchedHits.foreach { h =>
        val dup = h.groupBy(col(DvFileCol), col(DvPosCol))
          .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          "MERGE cardinality violation: a target row (file=" +
            s"${dup.head.get(0)}, pos=${dup.head.get(1)}) matches " +
            "multiple source rows with an applying WHEN MATCHED " +
            "clause; deduplicate the source (e.g. Merge.latestPerKey)")
      }
      // bounded probes on cached checkpoint blocks — a merge that
      // matches nothing and inserts nothing must NOT bump the version
      // (the delete/update no-op contract)
      val haveMarks =
        (matchedHits.toSeq ++ bySourceHits.toSeq).exists(!_.isEmpty)
      val haveInserts = insertRows.exists(!_.isEmpty)
      if (!haveMarks && !haveInserts) return v0
      if (haveInserts && insertKeys.nonEmpty) insertRows.foreach { r =>
        val dup = r.groupBy(insertKeys.map(col): _*)
          .agg(count(lit(1)).as("_graft_n")).filter(col("_graft_n") > 1)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          "MERGE cardinality violation: the source holds several rows " +
            s"for key (${insertKeys.zip(dup.head.toSeq).map { case (k, v) =>
              s"$k=$v" }.mkString(", ")}), which the table lacks; " +
            "deduplicate the source (e.g. Merge.latestPerKey)")
      }
      def updatedCopies(hitsOpt: Option[DataFrame],
          clauses: Seq[MergeMatchedClause]): Seq[DataFrame] =
        hitsOpt.toSeq.flatMap { h =>
          clauses.zipWithIndex.collect {
            case (MergeUpdateClause(_, set), i) =>
              val c = updateCopies(h.filter(col(armCol) === i),
                targetCols, set, md)
              if (cdcOn) copyCheckpoints += c
              c
          }
        }
      val matchedCopies = updatedCopies(matchedHits, matchedN)
      val bySourceCopies = updatedCopies(bySourceHits, bySourceN)
      val adds = (matchedCopies ++ bySourceCopies ++
        insertRows.toSeq).map(enforced(_, md))
      // T15: the commit's change rows, assembled from the SAME
      // checkpointed hit/copy/insert frames the write uses — per
      // matched arm the preimage (update) or the dead row (delete),
      // every update copy as a postimage, every insert row as an
      // insert. O(changed rows), written once at commit.
      val ct = ManifestTable.ChangeTypeCol
      val cdc: Option[DataFrame] = if (!cdcOn) None else {
        def pres(hitsOpt: Option[DataFrame],
            clauses: Seq[MergeMatchedClause]): Seq[DataFrame] =
          hitsOpt.toSeq.flatMap { h =>
            clauses.zipWithIndex.map {
              case (MergeUpdateClause(_, _), i) =>
                h.filter(col(armCol) === i).select(targetCols.map(col): _*)
                  .withColumn(ct, lit("update_preimage"))
              case (MergeDeleteClause(_), i) =>
                h.filter(col(armCol) === i).select(targetCols.map(col): _*)
                  .withColumn(ct, lit("delete"))
            }
          }
        (pres(matchedHits, matchedN) ++ pres(bySourceHits, bySourceN) ++
          (matchedCopies ++ bySourceCopies)
            .map(_.drop(ManifestTable.RidPhysCol)
              .withColumn(ct, lit("update_postimage"))) ++
          insertRows.toSeq.map(_.withColumn(ct, lit("insert"))))
          // a generated column no file holds yet is computed on the
          // new rows only
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
      }
      val marks = (matchedHits.toSeq ++ bySourceHits.toSeq)
        .map(_.select(col(DvFileCol), col(DvPosCol)))
        .reduceOption(_ unionAll _)
        .getOrElse(live.limit(0).select(col(DvFileCol), col(DvPosCol)))
      // inserts were decided against v0 alone (the Delta MERGE rule)
      commitDv(op, v0, entries, marks, adds, md,
        conflictsWith = if (haveInserts) _ => true else _ => false,
        appendWithoutMarks = true, cdc = cdc, marksUnique = true)
    } finally (allCheckpoints ++ copyCheckpoints)
      .foreach(graft.functions.CheckpointOps.release)
  }

  /** Shared DV commit: record `marks` (positions to kill, computed
    * against snapshot `v0`) in a fresh sidecar, re-point the touched
    * entries, append `adds` rows as new files, and commit the delta.
    * Disjoint concurrent writers (appends, merges of other partitions)
    * rebase; a concurrent rewrite of a touched file conflicts via the
    * removed-still-referenced check. `conflictsWith` narrows further
    * (see [[commitDelta]]). `appendWithoutMarks` keeps the appends
    * when the mark set is empty (an upsert whose keys are all new) —
    * the default preserves the delete/update contract that a no-match
    * predicate is a version no-op.
    */
  private def commitDv(op: String, v0: Int, entries: Seq[Entry],
      marks: DataFrame, adds: Seq[DataFrame], md: TableMetadata,
      conflictsWith: Entry => Boolean = _ => false,
      appendWithoutMarks: Boolean = false,
      cdc: Option[DataFrame] = None,
      marksUnique: Boolean = false): Int = {
    // The fast-path totals below are DRIVER ARITHMETIC over the mark
    // counts, so the counting job and the sidecar-writing job must
    // agree on the mark rows. CONTRACT (r18 ADVICE): every
    // marksUnique caller passes marks derived from an eagerly
    // CHECKPOINTED hit set (updateWhere/mergeInto hits, and
    // deleteMatching checkpoints both branches), so even a cache
    // eviction recomputes the same rows from stored blocks — a
    // nondeterministic predicate can no longer diverge the recorded
    // totals from the written sidecar. The cache here only avoids
    // re-reading those blocks across the jobs.
    val cached = marks.cache()
    try {
      // §2.6 (overlap independent jobs): the CDC sidecar write and
      // each add frame's staged write + stats job depend on nothing
      // below (their inputs are checkpointed), so they run on the
      // commit pool while the driver counts marks and writes the DV
      // sidecar — previously all of these ran serially, and the
      // per-commit fixed costs were the #1 scale-killer class.
      val cdcF = cdc.map(c => ManifestTable.async(writeCdcFile(c)))
      val addFs = adds.map(df =>
        ManifestTable.async(writeDataFiles(df, md, op)))
      // one bounded job: per-file NEW-mark counts (≤ one row per file)
      val newPerFile = cached.groupBy(col(DvFileCol)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (newPerFile.isEmpty && !(appendWithoutMarks && adds.nonEmpty)) {
        // version no-op: nothing may be committed OR left behind — the
        // eagerly written side outputs are deleted (they were never
        // referenced; failures here mean nothing was written). Matches
        // the old serial behavior where the no-op returned before any
        // side output existed.
        cdcF.foreach(f => scala.util.Try(ManifestTable.await(f))
          .foreach(rel => fs.delete(new Path(root, rel), true)))
        addFs.foreach(f => scala.util.Try(ManifestTable.await(f))
          .foreach(_.foreach(e => fs.delete(new Path(root, e.rel), false))))
        return v0
      }
      // T15: the change rows persist BEFORE the manifest commit (the
      // future is joined below, ahead of commitDelta — a crash in
      // between leaks an untagged sidecar vacuum sweeps), then the
      // committed version is stamped with its sidecar — the stamp is
      // what the keyless change feed resolves
      def stamped(v: Int): Int = {
        cdcF.map(ManifestTable.await(_))
          .foreach(putVersionTag(v, ManifestTable.CdcTagKey, _))
        v
      }
      if (newPerFile.isEmpty) {
        val addedEntries = addFs.flatMap(ManifestTable.await(_))
        cdcF.foreach(ManifestTable.await(_)) // persist before the commit
        return stamped(commitDelta(entries, Set.empty, addedEntries,
          conflictsWith))
      }
      val touched = entries.filter(e =>
        newPerFile.contains(new Path(e.rel).getName))
      // absorb each touched file's PRIOR positions so its entry points
      // at exactly one sidecar
      val oldRels = touched.flatMap(_.stats.get(DvKey).map(_.mn)).distinct
      val oldForTouched =
        if (oldRels.isEmpty) None
        else Some(withListingScoped(
          spark.read.schema(ManifestTable.DvSidecarSchema)
            .parquet(oldRels.map(r => new Path(root, r).toString): _*))
          .select(col(DvFileCol), col(DvPosCol))
          .filter(col(DvFileCol)
            .isin(touched.map(e => new Path(e.rel).getName): _*)))
      // `marksUnique` fast path: single-hit-set callers (predicate
      // deletes, UPDATE copies, cardinality-checked MERGE arms) mark
      // each live position at most once, and live reads anti-join the
      // existing DV out, so new marks are disjoint from prior ones —
      // the distinct shuffle is a no-op and the per-file totals are
      // newPerFile + each entry's prior count (already in its DV stat).
      // Falls back to distinct + sidecar recount when the caller may
      // emit overlapping marks (multi-batch key deletes) or a prior
      // count is unparseable.
      val priorPerFile: Option[Map[String, Long]] =
        if (!marksUnique) None
        else {
          val parsed = touched.map { e =>
            e.stats.get(DvKey) match {
              case None => Some(new Path(e.rel).getName -> 0L)
              case Some(s) =>
                s.mx.toLongOption.map(new Path(e.rel).getName -> _)
            }
          }
          if (parsed.contains(None)) None else Some(parsed.flatten.toMap)
        }
      val allMarks = priorPerFile match {
        case Some(_) => oldForTouched.fold(cached: DataFrame)(o =>
          cached.unionByName(o))
        case None => oldForTouched.fold(cached.distinct())(o =>
          cached.unionByName(o).distinct())
      }
      // size the sidecar from the (driver-known) mark count: the
      // default shuffle parallelism would mint up to 32 files for a
      // typically-tiny position set — sidecar-level small-file bloat
      // on every DV commit. ~4M positions per file; coalesce narrows
      // without another shuffle.
      val oldCount = touched.flatMap(_.stats.get(DvKey))
        .map(s => try s.mx.toLong catch { case _: NumberFormatException => 0L })
        .sum
      val approxMarks = newPerFile.values.sum + oldCount
      val sidecarFiles =
        math.max(1L, math.min(16L, (approxMarks + 3999999L) / 4000000L)).toInt
      val dvRel = s"_graft_dv/${UUID.randomUUID()}.parquet"
      allMarks.coalesce(sidecarFiles)
        .write.options(ManifestTable.InternalWriteOptions)
        .parquet(new Path(root, dvRel).toString)
      // totals: driver arithmetic on the unique-marks path; otherwise
      // re-read from the written sidecar (≤ one row per file)
      val totalPerFile = priorPerFile match {
        case Some(prior) => newPerFile.map { case (f, n) =>
          f -> (n + prior.getOrElse(f, 0L))
        }
        case None => spark.read.schema(ManifestTable.DvSidecarSchema)
          .parquet(new Path(root, dvRel).toString)
          .groupBy(col(DvFileCol)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val repointed = touched.map { e =>
        val n = totalPerFile.getOrElse(new Path(e.rel).getName, 0L)
        e.copy(stats = e.stats + (DvKey -> ColStats(dvRel, n.toString, "D")))
      }
      val added = repointed ++ addFs.flatMap(ManifestTable.await(_))
      cdcF.foreach(ManifestTable.await(_)) // persist before the commit
      stamped(commitDelta(entries, touched.map(_.rel).toSet, added,
        conflictsWith))
    } finally cached.unpersist()
  }

  /** Atomic multi-key DV-delete + append — the vector-index refresh
    * commit ([[graft.operators.PqIndex]]/[[graft.operators.NswIndex]]
    * `refreshFrom`): mark every row matching ANY `(column, keys)`
    * batch dead AND append `adds`, as ONE optimistic commit. A reader
    * — or a crash at any point — sees either the full old state or
    * the full new state; there is no window where the deletes are
    * visible without the re-append (the two-commit form silently lost
    * the deleted rows when a replay re-derived its delta from the
    * half-applied table). Each batch scans only the files the kernel
    * keeps for its keys, like [[deleteKeys]]; all marks ride one DV
    * sidecar.
    *
    * `strict = true` additionally makes ANY concurrently-added file a
    * conflict (not just overlapping rewrites): single-writer
    * maintenance like an index refresh must observe a racing refresh's
    * commit as a ConcurrentModificationException, never interleave
    * with it — two refreshes deriving the same delta from the same
    * cursor would otherwise both append and duplicate rows.
    *
    * `version` pins the snapshot the caller DERIVED its delta from
    * (the optimistic-concurrency base): marks are computed against
    * that snapshot's files, and any commit that landed since is
    * rebased over or conflicts per [[commitDelta]]. Left unset, the
    * latest version at call time is the base — correct only when the
    * delta was derived in the same breath.
    */
  def deleteKeysAndAppend(deletes: Seq[(String, Seq[String])],
      adds: Seq[DataFrame], strict: Boolean = false,
      version: Option[Int] = None): Int = {
    val (v0, md) = snapshot(version)
    val entries = entriesOf(v0)
    val conflictsWith: Entry => Boolean = if (strict) _ => true else _ => false
    val cdcOn = md.cdcEnabled
    // T15 (CDC mode): full hit rows are both the DV marks and the
    // recorded deletes, and the adds are both the written data files
    // and the recorded inserts — checkpoint EACH once so the sidecar
    // and the commit cannot diverge (adds may derive from a
    // concurrently-changing source, e.g. an index refresh delta)
    val hitCheckpoints = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val addsC = if (!cdcOn) adds else adds.map(_.localCheckpoint(true))
    // the snapshot's schema types every batch's file skipping
    lazy val schema = liveWithPos(entries, md, withRid = false).schema
    try {
      val hitDfs = deletes.flatMap { case (c, values0) =>
        val vals = values0.filter(_ != null).distinct
        // the same file skipping + key matching as deleteKeys
        if (vals.isEmpty || entries.isEmpty) None
        else keyHits(entries, schema, md, c, vals).map { hits =>
          if (!cdcOn) hits
          else { val h = hits.localCheckpoint(true); hitCheckpoints += h; h }
        }
      }
      val marks = hitDfs.map(_.select(col(DvFileCol), col(DvPosCol)))
        .reduceOption(_.unionByName(_)).getOrElse(
        // empty stand-in so commitDv's count job is trivially empty
        spark.range(0).select(lit("").as(DvFileCol), lit(0L).as(DvPosCol)))
      if (hitDfs.isEmpty && addsC.isEmpty) return v0
      val ct = ManifestTable.ChangeTypeCol
      val cdc: Option[DataFrame] = if (!cdcOn) None else
        (hitDfs.map(h => h.select(h.columns
            .filterNot(Set(DvFileCol, DvPosCol)).toSeq.map(col): _*)
            .withColumn(ct, lit("delete"))) ++
          addsC.map(a => withDeclared(a, md).withColumn(ct, lit("insert"))))
          .reduceOption(_ unionByName _)
      commitDv("deleteKeysAndAppend", v0, entries, marks, addsC, md,
        conflictsWith,
        appendWithoutMarks = true, cdc = cdc)
    } finally {
      hitCheckpoints.foreach(graft.functions.CheckpointOps.release)
      if (cdcOn) addsC.foreach(graft.functions.CheckpointOps.release)
    }
  }

  /** Entries of a snapshot whose partition tuple satisfies `pred` —
    * the `OPTIMIZE ... WHERE` scope every partition-scoped maintenance
    * op shares. The predicate may reference LAYOUT columns only
    * (identity partition columns by logical name, or transform names
    * like `days(ts)` compared as strings); anything else refuses — a
    * scope on a data column would need a data scan to answer, and
    * maintenance scoping exists precisely to avoid one. Evaluation is
    * ONE local projection over the distinct carried tuples (O(files)
    * path parsing, zero data IO). A file carrying NO segment for a
    * referenced column (a pre-spec-evolution layout) stays in scope:
    * rewriting more than asked is layout-safe, while skipping a file
    * the predicate meant would strand it forever.
    */
  private def entriesInScope(entries: Seq[Entry], pred: Column,
      md: TableMetadata): Seq[Entry] = {
    if (entries.isEmpty) return entries
    val physCols = entries
      .flatMap(e => ManifestTable.layoutColsOf(e.rel)).distinct
    // physical path keys surface as logical names
    val logical = physCols.map(c => md.columnMapping.getOrElse(c, c))
    def tupleOf(e: Entry): Option[Seq[String]] = {
      val vs = physCols.map(c => partValueOf(e.rel, c))
      if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
    }
    val tuples = entries.flatMap(tupleOf).distinct
    if (tuples.isEmpty) throw new IllegalArgumentException(
      "maintenance scope may reference partition columns only; the " +
        s"table at $root carries no partition layout to scope by")
    // evaluate the predicate LOCALLY per distinct tuple, typed through
    // the source column where one resolves (so `col("k") < 2` compares
    // numerically, not lexically); the ORIGINAL path strings key the
    // kept set — a cast-and-back could reformat and miss. A predicate
    // off the layout fails resolution here: a scope on a data column
    // would need a data scan to answer, which scoping exists to avoid.
    val idxCol = "__graft_scope_idx"
    import org.apache.spark.sql.types.{StringType, StructField}
    val schema = StructType(logical.map(StructField(_, StringType)) :+
      StructField(idxCol, org.apache.spark.sql.types.IntegerType))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row.fromSeq(t :+ i)
    }
    val local = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    lazy val tableSchema = readAt(None, md).schema
    val typed = logical.foldLeft(local)((d, c) =>
      scala.util.Try(tableSchema(c).dataType).toOption.filter(_ != StringType)
        .fold(d)(dt => d.withColumn(c, d(c).cast(dt))))
    val kept = try {
      typed.filter(pred).select(idxCol)
        .collect() // bounded: distinct carried partition tuples
        .map(r => tuples(r.getInt(0))).toSet
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "maintenance scope may reference partition columns only " +
            s"(${logical.sorted.mkString(", ")}): ${e.getMessage}", e)
    }
    entries.filter(e => tupleOf(e).forall(kept.contains))
  }

  /** The one row-preserving rewrite behind every maintenance op
    * (compaction, purge, clustering, row-id backfill, eager spec
    * evolution — Iceberg's rewrite-data-files action): read `chosen`
    * with deletion vectors applied and row ids kept physically, lay
    * the rows out, write them, commit a delta against `entries` that
    * removes exactly `chosen`, and stamp the version as changing
    * nothing for the feed. Only an unpartitioned write takes a layout
    * here — `targetFiles` hash-spread with no `clusterBy`, range
    * clustering on one column, Morton clustering on several; a
    * partitioned write lands one file per tuple through
    * [[writeDataFiles]]'s own shuffle, which a layout step here would
    * only precede as a wasted exchange. Concurrent appends rebase
    * unless `conflictsWith` claims them. Returns `v0` when nothing is
    * chosen.
    */
  private def rewriteFiles(op: String, v0: Int, entries: Seq[Entry],
      chosen: Seq[Entry], md: TableMetadata, targetFiles: Int,
      clusterBy: Seq[String] = Nil,
      conflictsWith: Entry => Boolean = _ => false): Int = {
    if (chosen.isEmpty) return v0
    val rows = readEntries(chosen, md, withRowId = true)
      .withColumnRenamed(ManifestTable.RowIdCol, ManifestTable.RidPhysCol)
    val n = math.max(1, targetFiles)
    val laidOut =
      if (partCols.nonEmpty) rows
      else clusterBy match {
        case Seq() => rows.repartition(n)
        case Seq(c) => rows.repartitionByRange(n, col(c))
        case cs =>
          rows.withColumn("_zorder", graft.operators.ZOrder.zValue(rows, cs, bits = 4))
            .repartitionByRange(n, col("_zorder"))
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
      }
    val newFiles = writeDataFiles(laidOut, md, op)
    stampCdcNone(commitDelta(entries, chosen.map(_.rel).toSet, newFiles,
      conflictsWith), md)
  }

  /** The latest version, its entries, and those of them in `scope`. */
  private def scoped(scope: Option[Column])
      : (Int, TableMetadata, Seq[Entry], Seq[Entry]) = {
    val (v0, md) = snapshot(None)
    val entries = entriesOf(v0)
    (v0, md, entries, scope.fold(entries)(entriesInScope(entries, _, md)))
  }

  /** L5: OPTIMIZE — small-file compaction after many appends: rewrite
    * the latest version into `targetFiles` files (one per partition
    * tuple when partitioned). A `scope` (`OPTIMIZE ... WHERE`)
    * rewrites ONLY the files whose partition tuple satisfies it; every
    * out-of-scope file carries forward by reference. At 100 TB one
    * compacts yesterday's partition, never the table — cost is
    * O(scope), and concurrent appends rebase.
    */
  def compact(targetFiles: Int = 1, scope: Option[Column] = None): Int = {
    val (v0, md, entries, chosen) = scoped(scope)
    rewriteFiles("compact", v0, entries, chosen, md, targetFiles)
  }

  /** L5d: incremental bin-pack OPTIMIZE — the form that survives
    * 100 TB: only files SMALLER than `minFileBytes` (plus any file
    * carrying a deletion vector, whose deletes this materializes) are
    * rewritten into ~`targetFileBytes` outputs; every compliant file
    * carries forward BY REFERENCE. Cost is O(small files), not
    * O(table) — compacting a petabyte table that's 99% compliant
    * touches 1% of it, where [[compact]]'s full rewrite is a non-
    * starter. Concurrent appends rebase (the rewritten set is
    * disjoint from new files); a concurrent rewrite of a picked file
    * conflicts. Returns the new version, or the current one when
    * nothing needs packing.
    */
  def compactSmall(minFileBytes: Long, targetFileBytes: Long = 128L << 20,
      scope: Option[Column] = None): Int = {
    // scope narrows the CANDIDATES; the commit delta is still against
    // the full snapshot, so out-of-scope files carry by reference
    val (v0, md, entries, inScope) = scoped(scope)
    val small = inScope.map(e => e -> sizeOf(e)).filter { case (e, len) =>
      len < minFileBytes || e.stats.contains(DvKey)
    }
    if (small.isEmpty || (small.size == 1 && !small.head._1.stats.contains(DvKey)))
      return v0 // nothing to pack (a single small DV-free file gains nothing)
    val totalBytes = small.map(_._2).sum
    val nOut = math.ceil(totalBytes.toDouble / targetFileBytes).toInt
    rewriteFiles("compactSmall", v0, entries, small.map(_._1), md, nOut)
  }

  /** REORG PURGE — materialize soft deletes: rewrite exactly the files
    * carrying a deletion vector (optionally only those whose deleted
    * fraction ≥ `minDeletedFraction`), dropping their DV sidecars, and
    * leave every clean file untouched. The Delta `REORG TABLE ...
    * APPLY (PURGE)` operation, and the back-pressure valve for the DV
    * design: DV deletes are O(matched rows) per commit, but reads pay
    * the anti-join per DV'd file forever — once a file is mostly
    * dead, rewriting it is cheaper than carrying the vector.
    *
    * Cost is O(DV'd files): candidate row counts come from parquet
    * footers only (no data scan), the rewrite reads just the chosen
    * files DV-applied, and the commit is an O(delta) entry. Untouched
    * files carry forward by reference; dead rows stay dead and live
    * rows move verbatim, so the change feed sees nothing.
    */
  def reorgPurge(minDeletedFraction: Double = 0.0,
      scope: Option[Column] = None): Int = {
    val (v0, md, entries, inScope) = scoped(scope)
    val dvd = inScope.filter(_.stats.contains(DvKey))
    val chosen =
      if (minDeletedFraction <= 0.0 || dvd.isEmpty) dvd
      else {
        // per-file row counts in ONE job, grouped by input_file_name
        // and keyed by basename (uuid-named files): a count() per
        // candidate file in a driver loop would be O(DV'd files)
        // sequential Spark jobs
        val counts = spark.read
          .parquet(dvd.map(e => new Path(root, e.rel).toString): _*)
          .groupBy(input_file_name().as("_f"))
          .agg(count(lit(1)).as("_n"))
          .collect() // bounded: one row per DV'd candidate file
          .map(r => new Path(r.getString(0)).getName -> r.getLong(1))
          .toMap
        dvd.filter { e =>
          val marks = e.stats(DvKey).mx.toLong
          val rows = counts.getOrElse(new Path(root, e.rel).getName, 0L)
          rows > 0 && marks.toDouble / rows >= minDeletedFraction
        }
      }
    rewriteFiles("reorgPurge", v0, entries, chosen, md, chosen.size)
  }

  /** T16 follow-up: adopt row tracking on a legacy table — one
    * governed rewrite of EXACTLY the files carrying no `#rid`
    * allotment (pre-row-tracking writes), so every live row gains a
    * stable id and the keyless change feed stops refusing. Ids are
    * FRESH — a legacy file's rows never had any, so there is nothing
    * to preserve — and later rewrites preserve them like any other.
    * The rewrite is invisible to the change feed (dead rows stay dead:
    * the read applies deletion vectors and the commit stamps no CDC),
    * and costs O(unstamped files); stamped files carry forward by
    * reference. Returns the new version, or the current one when the
    * table is already fully tracked.
    */
  def backfillRowIds(): Int = {
    val (v0, md, entries, _) = scoped(None)
    val unstamped = entries.filterNot(_.stats.contains(ManifestTable.RidKey))
    if (unstamped.isEmpty) return v0
    val v = rewriteFiles("backfillRowIds", v0, entries, unstamped, md,
      unstamped.size)
    // stamped even without CDC (the rewrite stamps only CDC tables):
    // live rows move verbatim by construction, and the usual keyless
    // fallback (row-id diff) is exactly what a pre-tracking file
    // cannot serve — without the stamp the adoption commit itself
    // would be the last refusing version
    if (!md.cdcEnabled)
      putVersionTag(v, ManifestTable.CdcTagKey, ManifestTable.CdcNoChanges)
    v
  }

  /** L5b/L5c: cluster-compact — rewrite so each file covers a narrow
    * range of `cols`: range-partitioned on one column, Morton-curve
    * clustered (OPTIMIZE ZORDER) on several, so range reads on ANY of
    * them skip most files (a single-column sort only ever helps one).
    * Pair with `statsCols = cols` so every zone map is recorded; 2–4
    * columns is the practical range, each added dimension diluting
    * per-dimension clustering. One quantile-sketch pass + one
    * range-shuffle write, paid per OPTIMIZE, never per query — the
    * write-once read-many trade a 100 TB table wants. A partitioned
    * table lays out one file per tuple instead, which zone maps
    * already separate; a `scope` rewrites only the tuples it selects
    * (`OPTIMIZE ... WHERE ... ZORDER BY`).
    */
  def optimizeByZ(cols: Seq[String], targetFiles: Int = 8,
      scope: Option[Column] = None): Int = {
    require(cols.nonEmpty, "optimizeByZ needs at least one column")
    val (v0, md, entries, chosen) = scoped(scope)
    rewriteFiles("optimizeByZ", v0, entries, chosen, md, targetFiles,
      clusterBy = cols)
  }

  /** Auto-OPTIMIZE advisor (the `CALL graft.maintenance_plan` body):
    * read-only layout diagnosis from the manifest + file statuses —
    * file-size histogram, deletion-vector load, leading-zone-map
    * clustering overlap — returning ordered recommendations
    * `(priority, action, reason, command)`. Executes NOTHING: the
    * operator (or a scheduler) reads the plan and runs the commands.
    * O(files) driver work, zero data IO — the same inputs
    * `describeDetail`/`filesDf` serve. A well-laid-out table returns
    * an empty plan.
    */
  def maintenancePlan(smallFileBytes: Long = 32L << 20)
      : Seq[(Int, String, String, String)] = {
    val v0 = latestVersion.getOrElse(return Seq.empty)
    val entries = entriesOf(v0)
    if (entries.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(Int, String, String, String)]
    // 1. small-file load: ≥ 2 files under the threshold bin-pack into
    // fewer (compactSmall itself no-ops below that, so neither should
    // the advice)
    // scoped-command helper: when the need concentrates in a MINORITY
    // of leading-partition values (and that column is a plain identity
    // layout column a SQL predicate can name), recommend the
    // partition-scoped form — at 100 TB the operator should compact
    // the hot partitions, never the table. Returns the extra predicate
    // argument (with leading comma-space) or "" for the unscoped form.
    def scopeArg(affected: Seq[Entry]): String = {
      val lead = partCols.headOption
        .filter(c => !c.contains('(')) // transform names don't parse
        .getOrElse(return "")
      def vals(es: Seq[Entry]): Option[Set[String]] = {
        val vs = es.map(e => partValueOf(e.rel, lead))
        if (vs.exists(v => v.isEmpty || v.get == null)) None
        else Some(vs.map(_.get).toSet)
      }
      (vals(affected), vals(entries)) match {
        case (Some(hot), Some(all))
            if hot.size <= 4 && hot.size * 2 <= all.size =>
          val in = hot.toSeq.sorted
            .map(v => "''" + v.replace("'", "''''") + "''")
            .mkString(", ")
          s", '$lead IN ($in)'"
        case _ => ""
      }
    }
    val sized = entries.map(e => e -> sizeOf(e))
    val small = sized.filter(_._2 < smallFileBytes)
    if (small.size >= 2)
      out += ((1, "compact_small",
        s"${small.size} of ${entries.size} file(s) are under " +
          s"$smallFileBytes bytes (smallest ${small.map(_._2).min}); " +
          "reads pay per-file open/footer cost",
        s"CALL graft.optimize_small('$root', $smallFileBytes, " +
          s"${128L << 20}${scopeArg(small.map(_._1))})"))
    // 2. deletion-vector load: masked rows cost every read an
    // anti-join; past a few percent the rewrite amortizes
    val dvd = entries.filter(_.stats.contains(DvKey))
    val masked = dvd.flatMap(_.stats.get(DvKey))
      .map(s => try s.mx.toLong catch { case _: NumberFormatException => 0L })
      .sum
    val totalRows = {
      val cs = entries.map(_.stats.get(ManifestTable.CountKey))
      if (cs.exists(_.isEmpty)) None
      else try Some(cs.map(_.get.mn.toLong).sum)
      catch { case _: NumberFormatException => None }
    }
    if (masked > 0 && totalRows.forall(t => t > 0 && masked.toDouble / t >= 0.02))
      out += ((2, "reorg_purge",
        s"${dvd.size} file(s) carry deletion vectors masking $masked " +
          s"row(s)${totalRows.map(t => f" (${100.0 * masked / t}%.1f%% of " +
            "the table)").getOrElse("")}; every read pays the anti-join",
        s"CALL graft.reorg('$root', 0.02${scopeArg(dvd)})"))
    // 3. clustering: if the leading zone-map column's per-file
    // [min, max] intervals overlap heavily, range reads cannot prune —
    // a sort/z-order rewrite restores skipping
    allStatsCols.headOption.foreach { c =>
      val stats = entries.map(_.stats.get(c))
      val kind = stats.head.fold("")(_.kind)
      if (entries.size > 4 && stats.forall(_.exists(s => s.kind == kind &&
          (kind != "N" || Seq(s.mn, s.mx).forall(tryBigDecimal(_).isDefined))))) {
        val ord = statOrdering(kind)
        val sorted = stats.map(_.get).sortBy(_.mn)(ord)
        val overlaps = sorted.sliding(2).count {
          case Seq(a, b) => ord.lteq(b.mn, a.mx)
          case _ => false
        }
        if (overlaps.toDouble / (entries.size - 1) > 0.5)
          out += ((3, "zorder",
            s"$overlaps of ${entries.size - 1} adjacent file pairs " +
              s"overlap on zone-map column '$c' — range reads cannot " +
              "skip files",
            s"CALL graft.zorder('$root', " +
              s"'${allStatsCols.take(2).mkString(",")}')"))
      }
    }
    out.result()
  }

  /** L8: change data feed — keyed row-level diff between two committed
    * versions (the Delta CDF / `table_changes` surface): what a
    * downstream consumer must apply to catch up from `vFrom` to `vTo`.
    * Emits `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage. Computed from the two version snapshots (full
    * outer on the keys), so it works for ANY pair of versions — no
    * per-commit change files needed; cost is one shuffle over the two
    * snapshots, read through the same file manifests as time travel.
    */
  def changesBetween(vFrom: Int, vTo: Int, keys: Seq[String]): DataFrame = {
    val md = metadata
    val pre = readAt(Some(vFrom), md)
    val post = readAt(Some(vTo), md)
    require(pre.columns.sorted.sameElements(post.columns.sorted),
      "schema changed between versions; diff by key is ambiguous")
    diffByKey(pre, post, keys)
  }

  /** Change rows for ONE commit — `changesBetween(v-1, v, keys)` but
    * O(changed files) instead of O(table): rows of files an adjacent
    * version pair does NOT share (added, removed, or re-pointed with
    * different stats — a DV delete changes the entry, not the path)
    * are the only rows that can differ, so the keyed diff joins just
    * those. A compaction that moves rows verbatim emits nothing; a
    * 100 TB table pays its commit's delta per version, never a
    * snapshot-pair shuffle. This is what the streaming change feed
    * ([[graft.streaming.GraftTableSource]] with `readChangeFeed`)
    * drains per trigger. Assumes `keys` are unique per version, the
    * same contract [[changesBetween]] carries.
    */
  def changesAt(v: Int, keys: Seq[String]): DataFrame =
    changesAt(v, Some(keys))

  /** T15: the generalized form the change feed drains. Resolution
    * order per version: (1) a write-time CDC sidecar (stamped by
    * DML committed after [[enableCdc]]) is read directly — O(recorded
    * change rows), no keys, no join; (2) a zero-change stamp
    * (compaction/clustering/purge) replays as empty; (3) a pure
    * add/remove commit replays keylessly from its file delta; (4)
    * anything else falls back to the keyed per-commit diff — and
    * REFUSES keylessly, naming the fix, rather than guessing row
    * identity.
    */
  def changesAt(v: Int, keysOpt: Option[Seq[String]]): DataFrame = {
    require(versions.contains(v), s"no version $v at $root")
    lazy val md = metadata
    val cdcTag = versionTag(v, ManifestTable.CdcTagKey)
    cdcTag match {
      case Some(ManifestTable.CdcNoChanges) =>
        return rowsOf(entriesOf(v), md).limit(0)
          .withColumn("_change_type", lit("insert"))
      case Some(rel) if rel != ManifestTable.CdcFileDiff =>
        // the write-time schema memo skips the footer-inference pass;
        // a cold process (memo miss) pays the old inference once
        val p = new Path(root, rel).toString
        return ManifestTable.recalledFileSchema(p) match {
          case Some(s) => spark.read.schema(s).parquet(p)
          case None => spark.read.parquet(p)
        }
      case _ => () // filediff resolves below, after the file sets
    }
    val preE = if (v == 0) Seq.empty[Entry] else entriesOf(v - 1)
    val postE = entriesOf(v)
    val preBy = preE.map(e => e.rel -> e).toMap
    val postBy = postE.map(e => e.rel -> e).toMap
    val changed = (preBy.keySet ++ postBy.keySet)
      .filter(r => preBy.get(r) != postBy.get(r))
    val preChanged = preE.filter(e => changed(e.rel))
    val postChanged = postE.filter(e => changed(e.rel))
    // pure-add / pure-remove commits (appends; full deletes) skip the
    // join: with unique keys every row of a side-exclusive file set is
    // an insert (resp. delete). The initial snapshot (v0) is the big
    // win — one scan, no shuffle.
    if (preChanged.isEmpty && postChanged.isEmpty)
      return rowsOf(postE, md).limit(0)
        .withColumn("_change_type", lit("insert"))
    if (preChanged.isEmpty)
      return rowsOf(postChanged, md)
        .withColumn("_change_type", lit("insert"))
    if (postChanged.isEmpty)
      return rowsOf(preChanged, md)
        .withColumn("_change_type", lit("delete"))
    // a column added by this commit's files is null on the pre side
    // (same null-fill contract the streaming append path uses)
    def padded(pre: DataFrame, post: DataFrame): (DataFrame, DataFrame) = {
      val allCols = pre.schema ++ post.schema.filterNot(f =>
        pre.columns.contains(f.name))
      def pad(df: DataFrame) = allCols.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }
      (pad(pre), pad(post))
    }
    val (pre, post) = padded(rowsOf(preChanged, md), rowsOf(postChanged, md))
    // T15: a whole-file-replacement stamp — removed files' live rows
    // are the deletes, added files' rows the inserts, keylessly and
    // at O(changed files). Defensive invariant: the stamp is only
    // ever written for commits that re-point nothing — a violated
    // stamp (corruption, an out-of-band tag write) must NOT brick the
    // version: with keys the keyed diff below still answers exactly;
    // only the keyless read has no recourse and refuses.
    if (cdcTag.contains(ManifestTable.CdcFileDiff)) {
      val shared = preChanged.map(_.rel).toSet
        .intersect(postChanged.map(_.rel).toSet)
      if (shared.isEmpty)
        return pre.withColumn("_change_type", lit("delete"))
          .unionByName(post.withColumn("_change_type", lit("insert")))
      if (keysOpt.isEmpty) throw new IllegalArgumentException(
        s"version $v carries a file-diff CDC stamp but re-points " +
          s"${shared.size} file(s) — invalid stamp; pass keys for a " +
          "keyed diff")
      // else: fall through to the keyed diff, which ignores the stamp
    }
    keysOpt match {
      case Some(keys) => diffByKey(pre, post, keys)
      case None =>
        // T16 row tracking: an in-place commit with no sidecar diffs
        // by the STABLE ROW ID — re-pointed files resolve the same
        // ids on both sides (base + row index is DV-independent), and
        // update copies carry their old id physically, so the keyed
        // kernel pairs pre/post exactly. Refuses (naming every fix)
        // only when a touched file predates row tracking: NULL ids
        // under the null-safe join would cross-match unrelated rows.
        val (preR, postR) = padded(rowsOf(preChanged, md, withRowId = true),
          rowsOf(postChanged, md, withRowId = true))
        // a #rid-stamped file can never yield a NULL id (base + index
        // is total), so the probe jobs run only for files PREDATING
        // row tracking, whose physical column may or may not cover
        val allStamped = (preChanged ++ postChanged)
          .forall(_.stats.contains(ManifestTable.RidKey))
        def hasNullIds(df: DataFrame): Boolean =
          df.filter(col(ManifestTable.RowIdCol).isNull).limit(1)
            .count() > 0
        if (!allStamped && (hasNullIds(preR) || hasNullIds(postR)))
          throw new IllegalArgumentException(
            s"version $v at $root changed rows in place, carries no " +
              "change-data sidecar (CDC was not enabled when it " +
              "committed), and a touched file predates row tracking " +
              "(no row-id stamp) — pass keys for a keyed diff, " +
              "enableCdc() before such commits, or rewrite the file " +
              "(compactSmall/reorgPurge) to materialize row ids")
        diffByKey(preR, postR, Seq(ManifestTable.RowIdCol))
          .drop(ManifestTable.RowIdCol)
    }
  }

  /** Keyed row-level diff of two same-schema frames — the CDF kernel
    * shared by [[changesBetween]] (snapshot pair) and [[changesAt]]
    * (changed files of one commit).
    */
  private def diffByKey(pre: DataFrame, post: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cols = pre.columns.toSeq
    val preK = pre.select(cols.map(col): _*)
    val postK = post.select(cols.map(col): _*)
    val cond = keys.map(k => col(s"p.$k") <=> col(s"q.$k")).reduce(_ && _)
    val joined = preK.as("p").join(postK.as("q"), cond, "full_outer")
    val preAbsent = keys.map(k => col(s"p.$k").isNull).reduce(_ && _)
    val postAbsent = keys.map(k => col(s"q.$k").isNull).reduce(_ && _)
    val changed = cols.filterNot(keys.contains)
      .map(c => !(col(s"p.$c") <=> col(s"q.$c")))
      .foldLeft(lit(false))(_ || _)
    // ONE pass over the join: each matched-and-changed key explodes to
    // (preimage, postimage); inserts/deletes emit one row; unchanged
    // keys emit none — no re-scan of the join per change type
    val preRow = struct(cols.map(c => col(s"p.$c").as(c)): _*)
    val postRow = struct(cols.map(c => col(s"q.$c").as(c)): _*)
    def tag(row: Column, t: String) =
      struct(row.as("row"), lit(t).as("t"))
    joined
      .select(explode(
        when(preAbsent, array(tag(postRow, "insert")))
          .when(postAbsent, array(tag(preRow, "delete")))
          .when(changed, array(tag(preRow, "update_preimage"),
            tag(postRow, "update_postimage")))
        // no otherwise: unchanged keys yield NULL and explode drops them
      ).as("e"))
      .select(col("e.row.*"), col("e.t").as("_change_type"))
  }

  /** Version-scoped tag (small key=value sidecar in the log dir, e.g.
    * the incremental-view as-of marker). Written BEFORE the version it
    * describes commits: an orphaned tag for a never-committed version
    * is harmless and simply overwritten on retry, so tag-then-commit
    * yields an atomic (version, tag) pair under crash-replay.
    */
  def putVersionTag(version: Int, key: String, value: String): Unit = {
    fs.mkdirs(logDir)
    replaceLogFile(new Path(logDir, f"tag-$key-v$version%05d"), value)
  }

  def versionTag(version: Int, key: String): Option[String] = {
    val p = new Path(logDir, f"tag-$key-v$version%05d")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** L11: RESTORE — roll the table back to an earlier version by
    * committing a NEW version that references exactly that version's
    * files (the Delta `RESTORE TABLE … TO VERSION AS OF` contract:
    * history is preserved, nothing is rewritten, and the bad versions
    * stay readable for forensics until VACUUM). O(manifest), zero data
    * movement.
    */
  def restore(version: Int): Int = {
    require(versions.contains(version), s"no version $version at $root")
    val target = entriesOf(version)
    val v = commit(target, stampNew = false)
    // T15: a restore's changes derive keylessly from its file delta —
    // UNLESS a shared file's entry changed across it (a DV re-point
    // straddling the restore window: the dead-row set can't be
    // attributed at file granularity). Then the keyed diff remains
    // the fallback. The check compares against the ACTUAL previous
    // version — commit() retries version races, so a concurrent
    // commit may have landed after any pre-commit snapshot; deciding
    // the stamp from v-1 itself cannot be raced.
    val prevBy = entriesOf(v - 1).map(e => e.rel -> e).toMap
    val repointed = target.filter(e => prevBy.get(e.rel).exists(_ != e))
    if (repointed.isEmpty) stampCdcFileDiff(v, metadata) else v
  }

  // ---- T15: write-time change-data capture (the Delta `_change_data` model) ----

  /** Enable write-time CDC: from here on, every row-level DML commit
    * (DELETE / UPDATE / MERGE INTO / index refresh) persists its exact
    * change rows to a `_graft_cdc/` sidecar at commit time — the Delta
    * `delta.enableChangeDataFeed` contract. The change feed then
    * replays those commits WITHOUT a `keys` option and at O(recorded
    * change rows), never a per-version diff join; row-preserving
    * maintenance (compaction, clustering, purge, spec rewrite) stamps
    * a zero-change marker so it replays as nothing. Appends need no
    * sidecar (added files ARE the inserts). The cost: DML materializes
    * its matched rows once more to write them — O(changed rows), the
    * price Delta pays for its change files. Whole-file-replacement
    * commits (`write(_, "overwrite")`, partition overwrite,
    * `restore`) don't write a sidecar: they stamp
    * [[ManifestTable.CdcFileDiff]] and the feed derives their changes
    * from the file delta (removed rows → delete, added rows → insert
    * — the Delta INSERT-OVERWRITE representation; exact in effect,
    * coarse for rewrites carrying rows verbatim). Only commits that
    * PREDATE enablement still need `keys` to replay.
    */
  def enableCdc(): Unit = updateMetadata(_.copy(cdcEnabled = true))

  /** Stop capturing (existing sidecars stay readable). */
  def disableCdc(): Unit = updateMetadata(_.copy(cdcEnabled = false))

  def cdcEnabled: Boolean = metadata.cdcEnabled

  /** Persist a frame of change rows (table columns + `_change_type`)
    * as this commit's CDC sidecar; returns the sidecar's relative
    * path. Called BEFORE the manifest commit — a crash in between
    * leaks an untagged sidecar that [[vacuum]] sweeps.
    */
  private def writeCdcFile(cdc: DataFrame): String = {
    val rel = s"_graft_cdc/${UUID.randomUUID()}.parquet"
    // small change sets dominate; cap the sidecar's file count like
    // the DV path (the default 32 shuffle partitions would mint 32
    // tiny files per DML commit; coalesce past 16 is a no-op)
    cdc.coalesce(16).write.options(ManifestTable.InternalWriteOptions)
      .parquet(new Path(root, rel).toString)
    // sidecar dirs are uuid-fresh and immutable: remember the WRITTEN
    // frame's schema so the change-feed replay reads the sidecar with
    // an explicit schema instead of a footer-inference pass per
    // version (same discipline as the data-file memo above; parquet
    // round-trips every engine-written type and file sources
    // normalize read-schema nullability)
    ManifestTable.rememberFileSchema(new Path(root, rel).toString, cdc.schema)
    rel
  }

  /** Stamp a freshly committed row-preserving version (compaction,
    * clustering, purge, layout rewrite) as changing nothing, so a
    * keyless change feed replays it as empty. Only ever stamps a
    * version the caller just minted — never an existing one.
    */
  private def stampCdcNone(v: Int, md: TableMetadata): Int = {
    if (md.cdcEnabled) putVersionTag(v, ManifestTable.CdcTagKey,
      ManifestTable.CdcNoChanges)
    v
  }

  /** Stamp a freshly committed whole-file-replacement version
    * (overwrite / partition overwrite / restore) as keylessly
    * derivable from its file delta — see [[ManifestTable.CdcFileDiff]].
    * Valid ONLY when no shared file was re-pointed by the commit
    * (fresh-uuid rewrites guarantee it; restore checks explicitly).
    */
  private def stampCdcFileDiff(v: Int, md: TableMetadata): Int = {
    if (md.cdcEnabled) putVersionTag(v, ManifestTable.CdcTagKey,
      ManifestTable.CdcFileDiff)
    v
  }

  // ---- L36: named immutable version refs (the Iceberg TAG surface) ----

  /** Cross-process ref lock (r16 verdict item 5): every ref mutation —
    * tag create/drop, branch stage/drop, vacuum's snapshot-and-delete
    * window — runs inside BOTH the in-JVM monitor (the fast path, as
    * before) and a create-exclusive `refs.lock` FILE in the log dir,
    * so a tagger in another PROCESS now WAITS for a running vacuum
    * instead of racing its delete phase (the previously documented
    * single-maintenance-writer caveat). `create(overwrite = false)`
    * is atomic-exclusive on HDFS but only exists-then-open on
    * LocalFileSystem (and not exclusive on S3A), so acquisition is
    * READ-BACK FENCED: the winner is whoever's token survives in the
    * file — at most one process ever believes it holds the lock, and
    * the heartbeat re-verifies the token every beat, aborting loudly
    * if the lock was broken and re-taken while held. Reentrant per
    * thread (nested ref mutations no-op re-enter, see
    * [[ManifestTable.refLocksHeldByThread]]).
    *
    * Liveness: the holder heartbeats the file's mtime every
    * [[ManifestTable.RefLockStaleMs]]/3; a lock whose mtime ages past
    * the horizon belonged to a crashed process and is BROKEN by
    * rename-to-tombstone (rename is atomic — of N concurrent breakers
    * exactly one wins; the losers loop back to the create race), so an
    * abandoned lock costs one TTL, never a deadlock. Acquisition fails
    * loudly after [[ManifestTable.RefLockAcquireMs]].
    */
  private def withRefLock[T](body: => T): T = {
    val lockKey = fs.makeQualified(logDir).toString + "#refs"
    // reentrancy: the JVM monitor below reenters fine, but the FILE
    // lock would then deadlock against our own heartbeat (create fails
    // forever on a lock we keep fresh) — a nested ref mutation (e.g. a
    // dropTag from inside a vacuum callback) no-op re-enters instead
    if (ManifestTable.refLocksHeldByThread.get().contains(lockKey))
      return body
    ManifestTable.lockFor(lockKey).synchronized {
      fs.mkdirs(logDir)
      val lockPath = new Path(logDir, "refs.lock")
      val token = UUID.randomUUID().toString
      val deadline = System.currentTimeMillis() +
        ManifestTable.RefLockAcquireMs
      var held = false
      while (!held) {
        try {
          // ATOMICITY NOTE (the tryPublish caveat's lock-file twin):
          // create(overwrite=false) is atomic-exclusive on HDFS and
          // most object stores, but LocalFileSystem implements it as
          // exists-then-open — two FOREIGN processes can both pass in
          // a narrow window. The read-back fence below closes it:
          // after writing, re-read the file and only treat the lock
          // as held if OUR token survived (at most one writer's full
          // token line is the final content, so at most one holder).
          val out = fs.create(lockPath, false) // exclusive where the FS can
          try out.write(
            s"$token ${ProcessHandle.current().pid()}".getBytes("UTF-8"))
          finally out.close()
          val mine =
            try readLogLines(lockPath).headOption.exists(_.startsWith(token))
            catch { case _: java.io.IOException => false }
          if (mine) held = true
          else Thread.sleep(50) // lost a double-create race: re-queue
        } catch {
          case _: java.io.IOException =>
            val st =
              try Some(fs.getFileStatus(lockPath))
              catch { case _: java.io.FileNotFoundException => None }
            st match {
              case Some(s) if System.currentTimeMillis() -
                  s.getModificationTime > ManifestTable.RefLockStaleMs =>
                // presumed-dead holder: break by atomic rename — only
                // one breaker wins. FENCED: rename preserves mtime, so
                // the tombstone's mtime proves WHICH file was renamed;
                // a breaker that raced another breaker's fresh lock
                // (observed stale → someone else broke it → a new
                // holder created → we renamed THAT) sees a fresher
                // tombstone and restores it instead of deleting — two
                // processes can never both believe they broke through
                val tomb = new Path(logDir,
                  s".tmp-broken-lock-${UUID.randomUUID()}")
                try {
                  if (fs.rename(lockPath, tomb)) {
                    val t = fs.getFileStatus(tomb)
                    if (t.getModificationTime == s.getModificationTime)
                      fs.delete(tomb, false): Unit // the stale one: gone
                    else if (!fs.rename(tomb, lockPath))
                      fs.delete(tomb, false): Unit // lost the restore race
                  }
                } catch { case _: java.io.IOException => () }
              case _ =>
                if (System.currentTimeMillis() > deadline)
                  throw new IllegalStateException(
                    s"ref lock at $lockPath held past the " +
                      s"${ManifestTable.RefLockAcquireMs} ms acquire " +
                      "budget — a foreign maintenance writer is stuck " +
                      "or its host died mid-heartbeat; inspect and " +
                      "delete the lock file if so")
                Thread.sleep(50)
            }
        }
      }
      // heartbeat so a LONG vacuum is never mistaken for a dead holder.
      // NonFatal-proof: an FS whose setTimes throws Unsupported must
      // not kill the thread silently (frozen mtime → stale-break →
      // two maintenance writers). Each beat also re-reads the token:
      // a lock broken and re-taken while we were paused flips `lost`,
      // and the holder aborts LOUDLY after the body instead of
      // pretending its mutations ran exclusively.
      @volatile var stop = false
      @volatile var lost = false
      val beat = new Thread(() => {
        while (!stop && !lost) {
          try {
            val stillMine = readLogLines(lockPath).headOption
              .exists(_.startsWith(token))
            if (!stillMine) lost = true
            else fs.setTimes(lockPath, System.currentTimeMillis(), -1)
          } catch { case scala.util.control.NonFatal(_) => () }
          val napMs = math.max(1000L, ManifestTable.RefLockStaleMs / 3)
          var slept = 0L
          while (!stop && slept < napMs) { Thread.sleep(200); slept += 200 }
        }
      }, "graft-ref-lock-heartbeat")
      beat.setDaemon(true)
      beat.start()
      ManifestTable.refLocksHeldByThread.get().add(lockKey): Unit
      try {
        val r = body
        if (lost) throw new IllegalStateException(
          s"ref lock at $lockPath was broken and re-taken while held " +
            "(heartbeat token mismatch) — this mutation may have " +
            "overlapped a foreign maintenance writer; inspect the log")
        r
      } finally {
        ManifestTable.refLocksHeldByThread.get().remove(lockKey): Unit
        stop = true
        beat.join()
        // release only OUR lock — by RENAME-then-verify, not
        // read-then-delete: a holder paused past the TTL may have been
        // broken and replaced, and with the heartbeat already joined a
        // pause between a read and a delete could kill the NEW
        // holder's lock. Rename is atomic: whatever file we renamed is
        // frozen under the private name, so the token check can never
        // race — ours deletes, a foreigner's is restored
        val tomb = new Path(logDir, s".tmp-release-${UUID.randomUUID()}")
        try {
          if (fs.rename(lockPath, tomb)) {
            val mine =
              try readLogLines(tomb).headOption.exists(_.startsWith(token))
              catch { case _: java.io.IOException => false }
            if (mine) fs.delete(tomb, false): Unit
            else if (!fs.rename(tomb, lockPath))
              fs.delete(tomb, false): Unit // lost the restore race
          }
        } catch { case _: java.io.IOException => () }
      }
    }
  }

  private def refFile(name: String): Path = {
    require(name.matches("[A-Za-z0-9_\\-]+"), s"bad tag name: $name")
    new Path(logDir, s"ref-$name")
  }

  /** Tag `version` (default: latest) as `name` — an immutable named
    * ref (Iceberg's `CREATE TAG`): audit snapshots, model-training
    * data pins, release baselines. Tags are refs, not copies — one
    * tiny file in the log — and they RETAIN: [[vacuum]] keeps a tagged
    * version's data files, DV sidecars and a standalone manifest alive
    * past the retain horizon until the tag is dropped. Re-tagging an
    * existing name refuses (immutability is the point; drop first).
    */
  def createTag(name: String, version: Option[Int] = None): Int = {
    // all-digit names are unreachable through SQL time travel:
    // `VERSION AS OF '2024'` resolves digit-only strings as version
    // numbers first (graft.sql.GraftCatalog.loadTable), so a tag
    // named '2024' would be silently shadowed — refuse at creation
    require(name.exists(c => c < '0' || c > '9'),
      s"tag name '$name' is all digits — it would be shadowed by " +
        "numeric version resolution in VERSION AS OF; include at " +
        "least one non-digit character")
    val v = version.getOrElse(latestVersion.getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root")))
    require(versions.contains(v), s"no version $v at $root")
    val p = refFile(name)
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".tmp-ref-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // rename OVERWRITES on a local FS: serialize the exists-check +
    // rename pair (the branch-staging discipline) so two taggers
    // cannot both win. ONE lock for all refs, shared with [[vacuum]]'s
    // delete phase: a tag created mid-vacuum must either be seen by
    // vacuum's tag re-read or wait until its deletes are done — never
    // land between them and dangle over deleted files. [[withRefLock]]
    // extends the guarantee across PROCESSES via the create-exclusive
    // refs.lock file (r16 verdict item 5).
    withRefLock {
      if (fs.exists(p) || !fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"tag $name already exists at $root (tags are immutable; " +
            "dropTag first to re-point)")
      }
    }
    v
  }

  /** The version a tag points at, if the tag exists. */
  def tagRef(name: String): Option[Int] = {
    val p = refFile(name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
      finally in.close()
    }
  }

  /** All tags, name → version, name-ordered. */
  def tagRefs: Seq[(String, Int)] =
    logListing.map(_.getPath.getName)
      .filter(_.startsWith("ref-")).map(_.stripPrefix("ref-")).sorted
      .flatMap(n => tagRef(n).map(n -> _))

  /** Time-travel read by tag (`VERSION AS OF '<tag>'`). */
  def readTagged(name: String): DataFrame =
    read(Some(tagRef(name).getOrElse(throw new IllegalArgumentException(
      s"no tag $name at $root (tags: ${tagRefs.map(_._1).mkString(", ")})"))))

  /** Drop a tag: the ref file goes now; the version's files become
    * vacuum-eligible again (nothing is deleted here).
    */
  def dropTag(name: String): Unit = withRefLock {
    val p = refFile(name)
    require(fs.exists(p), s"no tag $name at $root")
    fs.delete(p, false): Unit
  }

  /** L12: SHALLOW CLONE — create an independent table at `destRoot`
    * whose v0 references THIS table's current data files by absolute
    * path (no copy; Delta SHALLOW CLONE). The clone's own writes land
    * under its own root and never touch the source; the source must
    * not be VACUUMed below the cloned version while the clone lives —
    * the same lifetime contract Delta documents. O(manifest).
    */
  def shallowClone(destRoot: String): ManifestTable = {
    val dest = new ManifestTable(spark, destRoot, partitionCol,
      statsCol, statsCols, bloomCol, bloomBits, bloomHashes, partitionCols,
      partitionSpec)
    val v = versionOrLatest(None)
    // qualify: clone entries must resolve against the SOURCE root —
    // data paths AND deletion-vector sidecar refs (a root-relative DV
    // ref would resolve against the CLONE's root and resurrect the
    // source's deleted rows)
    val absEntries = entriesOf(v).map { e =>
      e.copy(
        rel = fs.makeQualified(new Path(root, e.rel)).toString,
        stats = e.stats.map {
          case (DvKey, s) =>
            DvKey -> s.copy(mn = fs.makeQualified(new Path(root, s.mn)).toString)
          case kv => kv
        })
    }
    dest.commitEntries(absEntries.map(e =>
      (e.rel, e.stats.map { case (c, s) => (c, s.mn, s.mx, s.kind) }.toSeq)))
    dest
  }

  /** Internal cross-instance commit hook for [[shallowClone]] (the
    * clone's Entry type is path-compatible: absolute paths survive
    * `new Path(root, rel)` resolution untouched).
    */
  private[lake] def commitEntries(
      es: Seq[(String, Seq[(String, String, String, String)])]): Int =
    commit(es.map { case (rel, stats) =>
      Entry(rel, stats.map { case (c, mn, mx, k) => c -> ColStats(mn, mx, k) }.toMap)
    }, stampNew = false)

  /** L4: VACUUM — delete data files unreferenced by the `retain` most
    * recent versions, and drop manifests older than those. Returns
    * deleted file paths — use [[vacuumCount]] when the table is large
    * enough that the path list itself should never sit on the driver.
    * `dryRun` lists what WOULD be deleted without touching anything
    * (the Delta `VACUUM ... DRY RUN` safety valve — the check an
    * operator runs before an irreversible cleanup, e.g. to confirm no
    * shallow clone still references the files).
    */
  def vacuum(retain: Int = 1, dryRun: Boolean = false,
      minAgeMs: Long = ManifestTable.DefaultVacuumMinAgeMs): Seq[String] =
    vacuumImpl(retain, dryRun, minAgeMs) { (data, _, other) =>
      data.collect().toSeq ++ other
    }

  /** Scale form of [[vacuum]]: identical work, but only the COUNT of
    * deleted files crosses the driver — the referenced set, the
    * candidate list and the deleted-path list stay distributed
    * Datasets end-to-end. At 10⁷ files [[vacuum]]'s returned Seq is
    * gigabytes of path strings on the driver; a maintenance job at
    * that scale wants this form (see `graft.tools.VacuumScale` for the
    * measured heap evidence).
    */
  def vacuumCount(retain: Int = 1, dryRun: Boolean = false,
      minAgeMs: Long = ManifestTable.DefaultVacuumMinAgeMs): Long =
    vacuumImpl(retain, dryRun, minAgeMs) { (_, dataCount, other) =>
      dataCount + other.size
    }

  /** The vacuum engine behind [[vacuum]]/[[vacuumCount]]. `finish`
    * receives (persisted Dataset of deleted data-file paths, its
    * count, driver-side list of deleted sidecar/manifest/tmp paths)
    * and shapes the caller's result; it runs before unpersist, under
    * the ref lock.
    *
    * Scale: NOTHING O(data files) is ever materialized on the driver.
    *  - The data-tree listing fans out over first-level subdirs as a
    *    Spark job (a 10⁶–10⁷-file table lists in parallel, not hours
    *    of serialized driver `listStatus`).
    *  - The referenced set is built by parsing the kept versions'
    *    manifest/delta chain files IN EXECUTORS: the driver only
    *    enumerates the chain (O(keepVs × checkpoint cadence) file
    *    paths); a distributed groupBy folds each (kept version, rel)
    *    to its last add/remove event — ties (a re-point's -/+ pair in
    *    one delta) resolve to "referenced", the conservative side.
    *  - Candidates are the listing anti-joined against that referenced
    *    DataFrame, and the delete phase is a `mapPartitions` over the
    *    surviving Dataset; only the count is collected.
    * Sidecar sweeps (DV, CDC) and the manifest/tmp tail stay
    * driver-side: they are one `listStatus` each, O(sidecars) —
    * documented and bounded.
    *
    * Retention horizon (the Delta deletedFileRetentionDuration
    * pattern): an unreferenced file younger than `minAgeMs` may belong
    * to an IN-FLIGHT commit — a concurrent writer stages data files
    * and DV sidecars BEFORE its manifest rename, and vacuuming them
    * leaves the winning commit unreadable. Age gates on modification
    * time; tests pass minAgeMs = 0 for immediacy.
    *
    * Concurrency: the tag snapshot, referenced-set build and every
    * delete run under the shared ref lock (see [[createTag]]) — an
    * in-process `createTag` cannot land between the snapshot and the
    * deletes and be left dangling. Cross-process taggers racing a
    * vacuum are the documented single-maintenance-writer caveat.
    */
  private def vacuumImpl[T](retain: Int, dryRun: Boolean, minAgeMs: Long)(
      finish: (Dataset[String], Long, Seq[String]) => T): T = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    // ---- phase 1 (no lock): distributed data-tree listing ----
    // serializable conf snapshot for executor-side FileSystem access;
    // a local val so task closures capture it, never `this`
    val confMap: Map[String, String] = {
      val c = spark.sessionState.newHadoopConf()
      val it = c.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    import spark.implicits._
    val listedDf: DataFrame = {
      if (!fs.exists(dataDir))
        Seq.empty[(String, Long)].toDF("path", "mtime")
      else {
        val top = fs.listStatus(dataDir).toSeq
        val (subdirs, files) = top.partition(_.isDirectory)
        val topRows = files.map(st =>
          (fs.makeQualified(st.getPath).toString, st.getModificationTime))
          .toDF("path", "mtime")
        if (subdirs.isEmpty) topRows
        else {
          val dirStrs = subdirs.map(_.getPath.toString)
          val slices = math.max(1, math.min(dirStrs.size,
            4 * spark.sparkContext.defaultParallelism))
          spark.sparkContext.parallelize(dirStrs, slices).flatMap { d =>
            val p = new org.apache.hadoop.fs.Path(d)
            val tfs = p.getFileSystem(ManifestTable.confFromMap(confMap))
            val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
            def walk(q: org.apache.hadoop.fs.Path): Unit =
              tfs.listStatus(q).foreach { st =>
                if (st.isDirectory) walk(st.getPath)
                else out += ((tfs.makeQualified(st.getPath).toString,
                  st.getModificationTime))
              }
            walk(p)
            out
          }.toDF("path", "mtime").unionByName(topRows)
        }
      }
    }
    // materialize the listing BEFORE taking the ref lock — the lock
    // must not be held for the long part of the job
    val listed = listedDf.persist()
    listed.count(): Unit
    var folded: DataFrame = null
    var matDeleted: Dataset[String] = null
    try {
      withRefLock {
        val vs = versions
        // named tags RETAIN their versions (Iceberg's tag-retention
        // contract): a tagged version's files, DV sidecars and manifest
        // survive any retain horizon until the tag is dropped. Read
        // UNDER the ref lock: a concurrent in-process createTag either
        // lands before this snapshot or waits out the deletes.
        val taggedVs = tagRefs.map(_._2).filter(vs.contains).toSet
        val keepVs = (vs.takeRight(retain) ++ taggedVs).distinct.sorted
        // chain descriptors for every kept version — the same
        // checkpoint-or-nearest-below resolution [[entriesOf]] walks,
        // but only the FILE PATHS are enumerated driver-side; their
        // contents are parsed in executors. Staged WAP branches count
        // as references — their files are pre-publish, not garbage
        // (all-adds, so they ride as pseudo-manifests).
        val chainFiles: Seq[(Int, Int, String, Boolean)] =
          keepVs.flatMap { v =>
            if (fs.exists(manifestPath(v)))
              Seq((v, v, manifestPath(v).toString, true))
            else {
              var s = v - 1
              while (s >= 0 && !fs.exists(manifestPath(s))) s -= 1
              if (s < 0) throw new IllegalStateException(
                s"no checkpoint manifest at or below v$v under $logDir")
              (v, s, manifestPath(s).toString, true) +:
                (s + 1 to v).map(d => (v, d, deltaPath(d).toString, false))
            }
          } ++ branches.zipWithIndex.map { case (b, i) =>
            (-1 - i, 0, branchFile(b).toString, true)
          }
        val encDv = java.net.URLEncoder.encode(ManifestTable.DvKey, "UTF-8")
        val rootStr = root.toString
        val events: DataFrame =
          if (chainFiles.isEmpty)
            Seq.empty[(Int, String, Int, Int, String)]
              .toDF("keepV", "rel", "ver", "add", "dv")
          else {
            val slices = math.max(1, math.min(chainFiles.size,
              4 * spark.sparkContext.defaultParallelism))
            spark.sparkContext.parallelize(chainFiles, slices)
              .flatMap { case (keepV, ver, pathStr, isManifest) =>
                val p = new org.apache.hadoop.fs.Path(pathStr)
                val tfs = p.getFileSystem(ManifestTable.confFromMap(confMap))
                val in = tfs.open(p)
                // drop '#'-metadata lines (the `#ict` commit stamp) —
                // they are commit-level, not file references
                val lines =
                  try scala.io.Source.fromInputStream(in, "UTF-8")
                    .getLines()
                    .filter(l => l.nonEmpty && !l.startsWith("#")).toList
                  finally in.close()
                // rel + DV ref only — zone-map stats are irrelevant to
                // reachability, so the parse stays a cheap split
                def parseAdd(entryLine: String): (String, String) = {
                  val fields = entryLine.split('\t')
                  val dv = fields.iterator.drop(1)
                    .find(_.startsWith(encDv + "="))
                    .map { f =>
                      java.net.URLDecoder.decode(
                        f.substring(encDv.length + 1).split(':')(0), "UTF-8")
                    }.orNull
                  (fields(0), dv)
                }
                lines.map { line =>
                  if (isManifest) {
                    val (rel, dv) = parseAdd(line)
                    (keepV, rel, ver, 1, dv)
                  } else if (line.startsWith("-\t"))
                    (keepV, line.substring(2).split('\t')(0), ver, 0,
                      null: String)
                  else if (line.startsWith("+\t")) {
                    val (rel, dv) = parseAdd(line.substring(2))
                    (keepV, rel, ver, 1, dv)
                  } else throw new IllegalStateException(
                    s"bad delta line in $pathStr: $line")
                }
              }.toDF("keepV", "rel", "ver", "add", "dv")
          }
        // last event per (kept version, rel) wins: within a version a
        // re-point's -/+ pair ties on `ver`, and add=1 > remove=0
        // sorts the add on top — the conservative (keep) side
        folded = events.groupBy("keepV", "rel")
          .agg(max(struct(col("ver"), col("add"), col("dv"))).as("last"))
          .filter(col("last.add") === 1)
          .persist()
        folded.count(): Unit
        // qualify both sides: manifest paths are scheme-less, listStatus
        // returns fully-qualified (file:/…) paths — done in executors,
        // so the referenced set never exists as a driver collection
        val refPaths = folded.select("rel").distinct().as[String]
          .mapPartitions { it =>
            val conf = ManifestTable.confFromMap(confMap)
            val rootP = new org.apache.hadoop.fs.Path(rootStr)
            val rfs = rootP.getFileSystem(conf)
            it.map(rel => rfs.makeQualified(
              new org.apache.hadoop.fs.Path(rootP, rel)).toString)
          }.toDF("path")
        // distributed anti-join: the listed tree minus the referenced
        // set minus the too-young — then the delete phase runs
        // DIRECTLY on the surviving Dataset; no driver round-trip
        val survivors = listed
          .filter(col("mtime") < cutoff && col("path").endsWith(".parquet"))
          .join(refPaths, Seq("path"), "left_anti")
          .select("path").as[String]
        val deletedData =
          if (dryRun) survivors
          else survivors.mapPartitions { it =>
            val conf = ManifestTable.confFromMap(confMap)
            it.map { s =>
              val p = new org.apache.hadoop.fs.Path(s)
              p.getFileSystem(conf).delete(p, false)
              s
            }
          }
        // persist + count forces every delete NOW, under the lock, and
        // pins the path list executor-side for callers that want it
        matDeleted = deletedData.persist()
        val dataCount = matDeleted.count()
        // sidecar / manifest / tmp cleanup stays a driver list —
        // O(sidecars + versions), never O(data files)
        val deleted = scala.collection.mutable.ArrayBuffer[String]()
        // deletion-vector sidecars unreferenced by any kept entry go
        // too (a sidecar is a directory written by Spark — removed
        // whole). Live DV refs come out of the SAME distributed fold —
        // the winning add's DV stat — collected at O(live sidecars).
        val dvReferenced = folded.filter(col("last.dv").isNotNull)
          .select(col("last.dv")).distinct().as[String].collect()
          .map(r => fs.makeQualified(new Path(root, r)).toString).toSet
        if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
          if (st.getModificationTime < cutoff &&
              !dvReferenced.contains(fs.makeQualified(st.getPath).toString)) {
            if (!dryRun) fs.delete(st.getPath, true)
            deleted += st.getPath.toString
          }
        }
        // CDC sidecars: kept versions' stamps are the live references;
        // everything else old enough goes — dropped versions' change
        // files and crash leaks (a commit that died between sidecar
        // write and manifest rename)
        val cdcReferenced = keepVs
          .flatMap(v => versionTag(v, ManifestTable.CdcTagKey))
          .filter(_ != ManifestTable.CdcNoChanges)
          .map(r => fs.makeQualified(new Path(root, r)).toString).toSet
        if (fs.exists(cdcDir)) fs.listStatus(cdcDir).foreach { st =>
          if (st.getModificationTime < cutoff &&
              !cdcReferenced.contains(fs.makeQualified(st.getPath).toString)) {
            if (!dryRun) fs.delete(st.getPath, true)
            deleted += st.getPath.toString
          }
        }
        vacuumManifests(vs, keepVs, taggedVs, retain, dryRun, cutoff, deleted)
        finish(matDeleted, dataCount, deleted.toSeq)
      }
    } finally {
      listed.unpersist(): Unit
      if (folded != null) folded.unpersist(): Unit
      if (matDeleted != null) matDeleted.unpersist(): Unit
    }
  }

  /** The manifest/tag/tmp cleanup tail of [[vacuum]] — runs under the
    * ref lock with the delete phase.
    */
  private def vacuumManifests(vs: Seq[Int], keepVs: Seq[Int],
      taggedVs: Set[Int], retain: Int, dryRun: Boolean, cutoff: Long,
      deleted: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    if (!dryRun) {
      val dropped = vs.dropRight(retain).toSet -- taggedVs
      // a kept version whose delta chain is BROKEN by the drop must
      // stand alone: entriesOf walks v, v-1, … to the nearest manifest,
      // so the break is exactly "v is delta-only AND v-1 is dropped" —
      // the oldest of the retained tail, or a TAGGED island below it.
      // Kept versions whose v-1 is also kept resolve through it (it is
      // processed first — keepVs ascends) and MUST NOT be checkpointed:
      // one vacuum would otherwise write up to `retain` full O(files)
      // manifests where the delta-log design needs one
      keepVs.foreach { kept =>
        if (dropped.contains(kept - 1) && !fs.exists(manifestPath(kept))) {
          val resolved = entriesOf(kept)
          // stamp the ORIGINAL commit time (read while the delta still
          // exists) so this late-written checkpoint never shifts
          // TIMESTAMP AS OF — the header form of the old min() rule
          val origIct = commitTimeOf(kept)
          // losing to a concurrent vacuum that materialized the same
          // checkpoint IS success: its content is identical. Any other
          // failure must stop before the delete phase below removes the
          // versions this one resolves through
          if (!publishOnce(ManifestTable.IctPrefix + origIct + "\n" +
                resolved.map(_.line).mkString("\n") + "\n",
                manifestPath(kept), manifestPath(kept)) &&
              !fs.exists(manifestPath(kept)))
            throw new IllegalStateException(
              s"checkpoint materialization for v$kept failed")
        }
      }
      dropped.foreach { v =>
        fs.delete(manifestPath(v), false)
        fs.delete(deltaPath(v), false): Unit
      }
      // version tags of vacuumed versions go with their manifests —
      // a long-lived IVM pipeline would otherwise leak one tag file
      // per vacuumed view commit forever
      logListing.foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("tag-")) {
          val v = name.substring(name.lastIndexOf("-v") + 2)
          if (v.forall(_.isDigit) && dropped.contains(v.toInt))
            fs.delete(st.getPath, false)
        }
      }
    }
    def sweep(st: FileStatus): Unit = {
      if (!dryRun) fs.delete(st.getPath, false)
      deleted += st.getPath.toString
    }
    // temp files stranded by a crash mid-atomic-rename (txn sidecars,
    // branch/tag staging, unpublished versions and metadata records) —
    // old enough that no writer can still be mid-rename; vacuum is
    // their only cleanup path. Reported and dryRun-aware like the
    // data/DV sweeps.
    val listing = logListing
    listing.foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < cutoff) sweep(st)
    }
    // superseded metadata records: one goes once its SUCCESSOR is past
    // the cutoff — a reader or updater that listed the log before the
    // successor landed may still open it until then. The latest stays.
    val records = metadataRecords(listing).map(_._2)
    records.zip(records.drop(1)).foreach { case (old, next) =>
      if (next.getModificationTime < cutoff) sweep(old)
    }
  }
}
