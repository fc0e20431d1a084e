package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure keyed-MERGE resolution over DataFrames (L1, SURVEY.md §2.9) —
  * for frames that are not manifest tables (the l1/l1b queries), plus
  * the feed compaction the streaming foreachBatch sinks (T5) run
  * before merging ([[latestPerKey]]). A manifest table merges through
  * its one engine, [[ManifestTable.mergeInto]] ([[ManifestTable.merge]]
  * is the keyed form of it).
  *
  * Semantics (matched by the reference's CDC feed,
  * `/root/reference/datasets/orders_2024-06-06-Updated.csv`): keyed
  * upsert, source wins on match — a matched source row fully replaces
  * the target row, NULLs included (standard MERGE "UPDATE SET *";
  * correction feeds carry full rows, not sparse patches). Unmatched
  * source rows insert, unmatched target rows persist. Tombstone
  * deletes (WHEN MATCHED AND s._deleted THEN DELETE) via [[applyCdc]].
  *
  * Shape: anti-join + union, NOT a full-outer join. A full-outer join
  * forces BOTH sides through a hash shuffle (full outer is not
  * broadcastable, and its output partitioning is Unknown — nothing
  * downstream can reuse it). The equivalent
  * `source ∪ (target ANTI source-keys)` form lets Catalyst broadcast
  * the source KEY SET when the feed is small — the overwhelmingly
  * common CDC case — so the target side is never shuffled: the merge
  * collapses to one broadcast probe per target row plus an append. A
  * huge feed degrades gracefully to the same shuffled hash/sort-merge
  * anti join the full-outer paid anyway.
  */
object Merge {

  /** Keyed upsert; schemas must match and `updates` must carry at most
    * ONE row per key (a feed with several versions of a key would
    * QUIETLY insert all of them — the anti join drops the matched
    * target once, the union appends every source row; compact first
    * with [[latestPerKey]], or pass `strict = true` to pay one small
    * aggregate job that fails fast on a contract-violating feed).
    * `updates ∪ (base ANTI-JOIN update keys)`: matched targets are
    * dropped by the anti join and replaced by their source rows
    * (source wins, NULLs included), unmatched targets survive the
    * anti, unmatched sources insert via the union.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      strict: Boolean = false): DataFrame = {
    // align by NAME: a partitioned table reads back with the partition
    // column moved to the end, so positional alignment would corrupt
    require(base.columns.toSet == updates.columns.toSet,
      s"schema mismatch: ${base.columns.toSeq} vs ${updates.columns.toSeq}")
    val cols = base.columns.toSeq
    val s0 = updates.select(cols.map(col): _*)
    if (strict) requireUniqueKeys(s0, keys)
    keptTargets(base, s0, keys).unionAll(s0)
  }

  /** Fail fast when a feed carries several rows for one key — the
    * contract both merge forms assume. One keyed aggregate over the
    * FEED only (the small side), never the target.
    */
  private def requireUniqueKeys(s0: DataFrame, keys: Seq[String]): Unit = {
    val dup = s0.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      "merge feed carries multiple rows per key (e.g. key " +
        keys.map(k => s"$k=${dup.head.get(dup.head.fieldIndex(k))}")
          .mkString(", ") +
        "); compact with Merge.latestPerKey before merging")
  }

  /** Default tombstone column name for [[applyCdc]] feeds. */
  val DeleteCol = "_deleted"

  /** Reserved prefix a MERGE source's columns are renamed under, so the
    * join condition and clauses name both sides by plain column name
    * ([[ManifestTable.merge]], [[graft.sql.GraftDmlRules]]).
    */
  private[graft] val SourcePrefix = "__graft_src_"

  /** CDC MERGE with delete tombstones — the Delta/Iceberg three-clause
    * form:
    *
    *   WHEN MATCHED AND s.`deleteCol`     THEN DELETE
    *   WHEN MATCHED                       THEN UPDATE SET *
    *   WHEN NOT MATCHED AND NOT s.`deleteCol` THEN INSERT *
    *
    * `updates` = base schema + a boolean `deleteCol` (NULL = false).
    * A tombstone for an absent key is a no-op (idempotent re-apply: a
    * feed applied twice deletes/updates/inserts to the same state).
    * Same anti-join + union shape as [[upsert]]: ALL fed keys
    * (tombstones included) anti away their current target rows; only
    * the non-tombstone source rows come back through the union.
    */
  def applyCdc(base: DataFrame, updates: DataFrame,
      keys: Seq[String], deleteCol: String = DeleteCol,
      strict: Boolean = false): DataFrame = {
    require(base.columns.toSet + deleteCol == updates.columns.toSet,
      s"updates must be base schema + $deleteCol: " +
        s"${base.columns.toSeq} vs ${updates.columns.toSeq}")
    val cols = base.columns.toSeq
    val s0 = updates.select((cols :+ deleteCol).map(col): _*)
    if (strict) requireUniqueKeys(s0, keys)
    val inserts = s0.filter(!coalesce(col(deleteCol), lit(false)))
      .select(cols.map(col): _*)
    keptTargets(base, s0, keys).unionAll(inserts)
  }

  /** Target rows whose key is NOT fed: a LEFT ANTI join against the
    * source's key projection. Null-safe equality (`<=>`) — a NULL
    * source key legally updates/deletes the NULL-keyed target row.
    * Only the KEY columns of the feed enter the join's build side
    * (narrowest possible broadcast); duplicate build keys are inert
    * under anti-join semantics.
    */
  private def keptTargets(base: DataFrame, s0: DataFrame,
      keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    base.as("t")
      .join(s0.select(keys.map(col): _*).distinct().as("s"), cond, "left_anti")
  }

  /** CDC feed compaction: keep only the newest row per key, ordered
    * by `orderCol` (event time / sequence number), ties broken
    * arbitrarily-but-deterministically by the remaining columns'
    * hash. Run this before [[upsert]] when a feed may carry several
    * versions of one key (always true for streaming micro-batches
    * that buffer more than one change).
    */
  def latestPerKey(updates: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc,
        xxhash64(struct(updates.columns.toIndexedSeq.map(col): _*)).asc)
    updates.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
  }
}
