package graft.operators

import graft.lake.ManifestTable
import graft.queries.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serialized index metadata — everything needed to serve queries and
  * encode future appends without retraining: the PQ codebook, the IVF
  * seed centroids, and the source-table version the index has caught
  * up to (the change-feed cursor for incremental maintenance).
  */
private[operators] case class PqIndexMeta(
    m: Int, k: Int, lists: Int, sourceVersion: Int,
    cents: Seq[Seq[Seq[Double]]],
    seedIds: Seq[Long], seedVs: Seq[Seq[Double]])

/** Persisted IVF-PQ vector index (the Jégou et al. IVFADC layout,
  * TPAMI 2011) as a lakehouse table: `(vec_id, list_id, codes)` at
  * ~20 bytes/vector in a [[ManifestTable]] zone-mapped on `list_id`,
  * with the codebook + IVF seeds in a parquet sidecar. This splits the
  * ANN family's *build* (Lloyd training + corpus encode — at 100 TB an
  * hours-long job) from its *query* (read nprobe lists' files, ADC
  * score, exact re-rank — O(probed fraction of the corpus)), which the
  * in-memory `s8_ivfpq_ann` conflated by retraining per invocation.
  *
  * Incremental maintenance rides the L8 change feed: [[refreshFrom]]
  * encodes only the source rows inserted/updated/deleted since
  * `sourceVersion` with the FROZEN codebook (no retrain), appends
  * their codes, and DV-deletes dead ids — O(delta), the way a
  * production vector store absorbs appends.
  *
  * Build/query determinism is inherited from the shared
  * [[Similarity]] primitives (hash-seeded IVF seeds, deterministic
  * Lloyd, first-min-wins argmin encoding): a query through the
  * persisted index returns exactly what the in-memory s8 path returns
  * for the same parameters (asserted in PqIndexSpec).
  */
class PqIndex private (spark: SparkSession, val root: String,
    meta: PqIndexMeta) {

  /** The persisted `(vec_id, list_id, codes)` table. */
  val table: ManifestTable = PqIndex.indexTable(spark, root)

  def m: Int = meta.m
  def lists: Int = meta.lists
  def cents: Seq[Seq[Seq[Double]]] = meta.cents
  def sourceVersion: Int = meta.sourceVersion

  /** IVF seed centroids reconstructed from the sidecar — tiny
    * (`lists` rows), always broadcast.
    */
  def seedsDf: DataFrame = {
    import spark.implicits._
    meta.seedIds.zip(meta.seedVs).toDF("list_id", "seed_v")
  }

  /** Serve a probe batch: identical semantics (and code path) to
    * `s8_ivfpq_ann`, but the index scan reads ONLY the files whose
    * `list_id` zone map intersects a probed list — at scale, the
    * nprobe/lists fraction of the index. `emb` supplies the full
    * vectors for the exact re-rank (and must be the unit-normalized
    * corpus the index was built from).
    *
    * S14B: `candidates` carries a metadata predicate's `(vec_id)`
    * allow-list into the probe — the PRE-filter of filtered ANN: it
    * semi-joins the pruned list scan BEFORE ADC scoring, so excluded
    * vectors never take shortlist slots (the post-filter recall trap).
    * At scale the allow-list is itself a pruned scan of the metadata
    * table (label as a partition/zone-map column — `read(where = …)`
    * composes), so the filter costs its own selectivity, not a corpus
    * pass.
    */
  def query(emb: DataFrame, probes0: DataFrame,
      nprobe: Int = 4, shortlist: Int = 30, topK: Int = 3,
      candidates: Option[DataFrame] = None): DataFrame =
    Similarity.ivfPqQuery(spark, scanLists, seedsDf, meta.cents, emb,
      probes0, nprobe, shortlist, topK, candidates)

  /** Zone-map-pruned index scan over a set of probed lists: ONE scan
    * of the files intersecting any probed list ([[ManifestTable
    * .readRangesBy]]), not a scan branch per list. Falls back to a
    * full scan above [[PqIndex.MaxPrunedLists]] distinct lists (the
    * downstream equi-join on `list_id` keeps correctness either way —
    * over-reading can only cost IO, never rows).
    */
  private def scanLists(probed: Seq[Long]): DataFrame =
    if (probed.isEmpty) table.read().filter(lit(false))
    else if (probed.size <= PqIndex.MaxPrunedLists)
      table.readRangesBy("list_id", probed.map(l => (l.toString, l.toString)))
    else table.read()

  /** Catch the index up to `source`'s latest version through the
    * change feed: inserts/update-postimages are unit-normalized,
    * assigned to their nearest frozen IVF seed, encoded with the
    * frozen codebook, and APPENDED; deletes/update-preimages are
    * DV-deleted by id. No retrain, no corpus re-encode — O(delta).
    * Returns the refreshed index (meta cursor advanced); a no-op when
    * already current.
    *
    * ATOMIC: the DV marks and the code append land as ONE
    * [[ManifestTable.deleteKeysAndAppend]] commit — a crash leaves
    * either the full old index or the full new one, never a window
    * with the touched ids deleted but their codes not yet re-appended
    * (a replayed refresh from such a window would re-derive its delta
    * from the damaged table and permanently drop the prior rows). The
    * commit is strict: a racing refresh observes the winner's commit
    * as a ConcurrentModificationException — the meta cursor only ever
    * advances after the commit it describes, so a lost race never
    * moves it.
    */
  def refreshFrom(source: ManifestTable, idCol: String, vecCol: String): PqIndex = {
    val vTo = source.latestVersion.getOrElse(
      throw new IllegalStateException("source table has no versions"))
    if (vTo == meta.sourceVersion) return this
    // the optimistic base the commit below pins: a commit landing in
    // between (a racing refresh) is a detected conflict
    val baseV = table.latestVersion
    // bootstrap (cursor < 0: the index was built from a non-table
    // corpus): treat the ENTIRE source as inserts — the idempotent
    // upsert below makes re-encoding already-indexed vectors a clean
    // replace, and subsequent refreshes are O(delta) from vTo on
    val changes = (
      if (meta.sourceVersion < 0)
        source.read(Some(vTo))
          .withColumn("_change_type", lit("insert"))
      else source.changesBetween(meta.sourceVersion, vTo, Seq(idCol))
    ).localCheckpoint(true) // one evaluation feeds both branches
    try {
      val deadIds = changes
        .filter(col("_change_type").isin("delete", "update_preimage"))
        .select(col(idCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq // bounded by the delta
      val fresh = changes
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col(idCol).as("vec_id"), col(vecCol).as("raw_v"))
      val freshIds = fresh.select(col("vec_id").cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq // bounded by the delta
      // IDEMPOTENT upsert: DV out any existing index rows for the ids
      // this refresh touches (dead AND fresh) in the SAME commit that
      // appends their re-encoded codes — a stale cached cursor replays
      // the same delta as a clean re-upsert instead of duplicating
      // (vec_id, codes) rows (duplicates would each take a shortlist
      // slot and displace real neighbors)
      val touched = (deadIds ++ freshIds).distinct
      val adds =
        if (freshIds.isEmpty) Seq.empty[DataFrame]
        else {
          val unit = PqIndex.unitize(fresh)
          val assigned = Similarity.ivfAssign(unit, seedsDf)
          val codes = Similarity.pqEncode(spark, assigned, meta.cents)
          Seq(codes.repartitionByRange(
            math.max(1, math.min(meta.lists, PqIndex.IndexFiles)),
            col("list_id")))
        }
      if (touched.nonEmpty || adds.nonEmpty) {
        PqIndex.testBeforeCommit()
        table.deleteKeysAndAppend(Seq("vec_id" -> touched), adds,
          strict = true, version = baseV): Unit
      }
    } finally graft.functions.CheckpointOps.release(changes)
    PqIndex.writeMeta(spark, root, meta.copy(sourceVersion = vTo))
    new PqIndex(spark, root, meta.copy(sourceVersion = vTo))
  }
}

object PqIndex {

  /** Above this many distinct probed lists a query falls back from
    * per-list pruned reads to one full index scan.
    */
  private[operators] val MaxPrunedLists = 64

  /** Test seam: runs immediately before refreshFrom's atomic commit —
    * the crash/race injection point for the durability specs. No-op in
    * production.
    */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** Target file count for the index table: range-partitioned by
    * `list_id` so each file covers a contiguous list range and the
    * zone maps prune tightly.
    */
  private[operators] val IndexFiles = 16

  private def metaPath(root: String) = s"$root/_graft_pq_meta"

  /** Per-JVM meta cache: the codebook + seeds are immutable once built
    * (a refresh only advances the cursor and rewrites the sidecar
    * through [[writeMeta]], which updates the cache), so a serving
    * process loads the sidecar once, not once per query. Same
    * single-process scope as the constraint registry lock.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqIndexMeta]()

  private[operators] def indexTable(spark: SparkSession, root: String): ManifestTable =
    new ManifestTable(spark, s"$root/index",
      statsCol = Some("list_id"), bloomCol = Some("vec_id"))

  /** Unit-normalize `(vec_id, raw_v)` rows into the `(vec_id, v)`
    * shape every PQ stage consumes — delegates to the single shared
    * pipeline so refreshed vectors normalize bit-identically to the
    * build-time corpus.
    */
  private[operators] def unitize(df: DataFrame): DataFrame =
    Similarity.unitize(df)

  private[operators] def writeMeta(spark: SparkSession, root: String,
      meta: PqIndexMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDS().coalesce(1).write.mode("overwrite").parquet(metaPath(root))
    metaCache.put(root, meta): Unit
  }

  /** Build the index from a unit-normalized corpus `emb(vec_id, v)`:
    * train the Lloyd codebook, assign IVF lists, encode every vector,
    * persist codes range-partitioned by `list_id` (tight zone maps),
    * then commit the meta sidecar LAST — a crashed build leaves no
    * loadable index and is simply rebuilt.
    */
  def build(spark: SparkSession, emb: DataFrame, root: String,
      lists: Int = 16, m: Int = 16, k: Int = 32, lloydIters: Int = 1,
      sourceVersion: Int = -1): PqIndex = {
    val ivfSeeds = Similarity.ivfSeedsOf(emb, lists)
    val assigned = Similarity.ivfAssign(emb, ivfSeeds)
    val cents = Similarity.trainPqCodebook(
      spark, emb, m, Similarity.PqDim / m, k, lloydIters)
    val codes = Similarity.pqEncode(spark, assigned, cents)
    val mt = indexTable(spark, root)
    mt.write(
      codes.repartitionByRange(
        math.max(1, math.min(lists, IndexFiles)), col("list_id")),
      "overwrite")
    val seedRows = ivfSeeds.collect() // bounded: `lists` rows
    val meta = PqIndexMeta(m, k, lists, sourceVersion, cents,
      seedRows.map(_.getLong(0)).toSeq,
      seedRows.map(_.getSeq[Double](1).toIndexedSeq).toSeq)
    writeMeta(spark, root, meta)
    new PqIndex(spark, root, meta)
  }

  /** Load a previously built index; None when no complete build exists
    * (the meta sidecar commits last).
    */
  def load(spark: SparkSession, root: String): Option[PqIndex] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(metaPath(root))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // one cheap stat guards the cache: a deleted/rebuilt-elsewhere
    // index must not serve from a stale in-process entry
    if (!fs.exists(p)) { metaCache.remove(root); return None }
    Option(metaCache.get(root))
      .map(m => new PqIndex(spark, root, m))
      .orElse {
        val m = spark.read.parquet(metaPath(root)).as[PqIndexMeta].head()
        metaCache.put(root, m)
        Some(new PqIndex(spark, root, m))
      }
  }
}
