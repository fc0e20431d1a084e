package graft

import graft.lake.ManifestTable
import graft.operators.PqIndex
import graft.queries.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: build/query split, zone-pruned serving,
  * and incremental maintenance off the change feed — the properties
  * that turn the ANN family from a per-query rebuild into a real
  * vector store.
  */
class PqIndexSpec extends SparkTestBase {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_pqidx_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def collectRes(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select(col("q_id").cast("long"), col("rn").cast("int"),
        col("neighbor").cast("long"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("s9 persisted query returns exactly what the in-memory s8 path returns") {
    // clear any stale index for this corpus key first
    val key = java.lang.Integer.toHexString(sf.hashCode)
    val root = s"${sys.props("java.io.tmpdir")}/graft_pq_idx_v1_$key"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)

    val viaIndex = collectRes(Similarity.s9PqPersisted(spark, sf))
    val inMemory = collectRes(Similarity.s8IvfPqAnn(spark, sf))
    assert(viaIndex === inMemory)
    // second invocation LOADS (meta sidecar present) and still matches
    assert(PqIndex.load(spark, root).isDefined, "index must persist")
    assert(collectRes(Similarity.s9PqPersisted(spark, sf)) === inMemory)
  }

  test("query path reads only the probed lists' files (zone-pruned scan)") {
    val root = scratch("prune")
    val emb = Similarity.unitVectors(spark, sf)
    val idx = PqIndex.build(spark, emb, root, lists = 16, m = 16, k = 32)
    // every file of the index table covers a contiguous list range;
    // a single probed list must prune to a strict subset of files
    val all = idx.table.filesOf(idx.table.latestVersion.get)
    assert(all.size > 1, "index must span several files for pruning to mean anything")
    val one = idx.table.filesFor(col("list_id") === 0)
    assert(one.size < all.size,
      s"zone maps failed to prune: ${one.size} of ${all.size} files for one list")
  }

  test("s14b: filtered probe pre-filters the pruned scan — sound, recalls the filtered truth") {
    val root = scratch("filtered")
    val emb = Similarity.unitVectors(spark, sf)
    val labels = Q.t(spark, sf, "embeddings").select(col("vec_id"), col("label"))
    val idx = PqIndex.build(spark, emb, root, lists = 16, m = 16, k = 32)
    val lab = labels.groupBy("label").count()
      .orderBy(col("count").desc, col("label").asc).first().get(0)
    val cand = labels.filter(col("label") === lab).select("vec_id")
    val probes = emb.join(cand, Seq("vec_id"))
      .orderBy(col("vec_id").asc).limit(3)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val res = idx.query(emb, probes, nprobe = 12, shortlist = 100, topK = 3,
      candidates = Some(cand))
    assert(res.count() > 0)
    // soundness: the pre-filter is absolute — every served neighbor
    // satisfies the predicate
    assert(res.withColumnRenamed("neighbor", "vec_id")
      .join(labels, Seq("vec_id"))
      .filter(col("label") =!= lab).count() === 0)
    // recall vs the exact filtered top-3 (brute force over the label's
    // vectors only — the ground truth a post-filter would miss)
    val scored = emb.join(cand, Seq("vec_id")).crossJoin(probes)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        aggregate(zip_with(col("q_v"), col("v"), _ * _), lit(0.0), _ + _))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select(col("q_id"), col("vec_id").as("neighbor"))
    val hits = res.select("q_id", "neighbor")
      .join(exact, Seq("q_id", "neighbor")).count()
    val truth = exact.count()
    assert(hits.toDouble / truth >= 0.9,
      s"filtered recall $hits/$truth under the pre-filtered probe")
    // an all-ids allow-list IS the unfiltered query
    assert(collectRes(idx.query(emb, probes,
        candidates = Some(labels.select("vec_id")))) ===
      collectRes(idx.query(emb, probes)))
  }

  test("refreshFrom: appends encode with the FROZEN codebook, O(delta)") {
    val root = scratch("refresh")
    val srcRoot = scratch("refresh_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    val n0 = idx.table.read().count()
    val centsBefore = idx.cents

    // append clones of vec 3 and 7 under new ids: exact duplicates,
    // so they MUST surface as sim≈1.0 neighbors of their originals
    val clones = emb.filter(col("vec_id").isin(3, 7))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    source.write(clones, "append") // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")

    assert(idx2.sourceVersion === 1)
    assert(idx2.cents === centsBefore, "refresh must not retrain the codebook")
    assert(idx2.table.read().count() === n0 + 2, "exactly the delta appended")
    // a fresh load sees the advanced cursor (meta persisted)
    assert(PqIndex.load(spark, root).get.sourceVersion === 1)

    val probes = emb.filter(col("vec_id").isin(3, 7))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val res = idx2.query(source.read(), probes, nprobe = 4, shortlist = 30, topK = 3)
      .collect()
    val top1 = res.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(3L) === 1000003L, s"clone of 3 must be its top neighbor: $top1")
    assert(top1(7L) === 1000007L, s"clone of 7 must be its top neighbor: $top1")
  }

  test("refreshFrom: source deletes DV out of the index, no rebuild") {
    val root = scratch("refresh_del")
    val srcRoot = scratch("refresh_del_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    val filesBefore = idx.table.filesOf(idx.table.latestVersion.get).toSet

    // find probe 0's current top neighbor, then erase it from the source
    val probes = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val firstTop = idx.query(emb, probes).filter(col("rn") === 1)
      .select("neighbor").first().getLong(0)
    source.delete(col("vec_id") === firstTop) // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")

    // dead id gone from the index — by DV, not by rewriting files
    assert(idx2.table.read().filter(col("vec_id") === firstTop).count() === 0)
    val filesAfter = idx2.table.filesOf(idx2.table.latestVersion.get).toSet
    assert(filesAfter === filesBefore, "delete must not rewrite index files")
    // and gone from results
    val after = idx2.query(source.read(), probes).select("neighbor")
      .collect().map(_.getLong(0)).toSet
    assert(!after.contains(firstTop))
  }

  test("refreshFrom replay with a stale cursor re-upserts, never duplicates") {
    val root = scratch("replay")
    val srcRoot = scratch("replay_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    val clones = emb.filter(col("vec_id").isin(3, 7))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    source.write(clones, "append") // v1
    val n0 = idx.table.read().count()
    idx.refreshFrom(source, "vec_id", "v")
    // crash-replay shape: the ORIGINAL instance still holds cursor 0
    // (the append happened, the meta write "didn't") — replaying the
    // same delta must re-upsert the same rows, not append them twice
    val again = idx.refreshFrom(source, "vec_id", "v")
    assert(again.table.read().count() === n0 + 2,
      "stale-cursor replay must not duplicate index rows")
    assert(again.table.read().filter(col("vec_id") === 1000003L).count() === 1)
  }

  test("refresh is ONE atomic commit: a kill before it leaves the full old state") {
    val root = scratch("atomic")
    val srcRoot = scratch("atomic_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    source.deleteKeys("vec_id", Seq("3")) // v1: a delete AND...
    val clones = emb.filter(col("vec_id") === 7)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    source.write(clones, "append") // v2: ...an insert, one delta
    val v0 = idx.table.latestVersion.get
    val before = idx.table.read().orderBy("list_id", "vec_id").collect().toSeq
    PqIndex.testBeforeCommit = () => throw new RuntimeException("killed")
    try {
      intercept[RuntimeException] { idx.refreshFrom(source, "vec_id", "v") }
    } finally PqIndex.testBeforeCommit = () => ()
    assert(idx.table.latestVersion.get === v0, "a killed refresh must commit nothing")
    assert(idx.table.read().orderBy("list_id", "vec_id").collect().toSeq === before)
    assert(PqIndex.load(spark, root).get.sourceVersion === 0)
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.table.latestVersion.get === v0 + 1,
      "DV marks and the code append must land as exactly one commit")
    val ids = idx2.table.read().select("vec_id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(!ids.contains(3L) && ids.contains(1000007L))
  }

  test("racing refreshes: the loser throws before its cursor moves; no duplicate codes") {
    val root = scratch("race")
    val srcRoot = scratch("race_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idxA = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    val idxB = PqIndex.load(spark, root).get
    val clones = emb.filter(col("vec_id").isin(3, 7))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    source.write(clones, "append") // v1
    var fired = false
    PqIndex.testBeforeCommit = () =>
      if (!fired) { fired = true; idxA.refreshFrom(source, "vec_id", "v"): Unit }
    try {
      intercept[java.util.ConcurrentModificationException] {
        idxB.refreshFrom(source, "vec_id", "v")
      }
    } finally PqIndex.testBeforeCommit = () => ()
    val after = PqIndex.load(spark, root).get
    assert(after.sourceVersion === 1)
    val perId = after.table.read().groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(perId === 0, s"racing refreshes duplicated $perId code rows")
    assert(after.table.read().count() === emb.count() + 2)
  }

  test("refresh over a compacted + purged source is a row-level no-op; cursor advances") {
    val root = scratch("noop_compact")
    val srcRoot = scratch("noop_compact_src")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = PqIndex.build(spark, emb, root,
      lists = 16, m = 16, k = 32, sourceVersion = 0)
    val vIdx = idx.table.latestVersion
    source.compact(targetFiles = 2) // v1: every file rewritten, no row changed
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.sourceVersion === 1)
    assert(idx2.table.latestVersion === vIdx,
      "a row-level no-op refresh must not commit to the index")
    source.deleteKeys("vec_id", Seq("5")) // v2: a real change
    val idx3 = idx2.refreshFrom(source, "vec_id", "v")
    assert(idx3.table.read().filter(col("vec_id") === 5L).count() === 0)
    val vIdx3 = idx3.table.latestVersion
    source.reorgPurge() // v3: materializes the DV, zero row changes
    val idx4 = idx3.refreshFrom(source, "vec_id", "v")
    assert(idx4.sourceVersion === 3)
    assert(idx4.table.latestVersion === vIdx3,
      "purge must be invisible to the keyed change feed")
  }

  test("a zero-norm probe serves deterministically and leaves batch-mates untouched") {
    val root = scratch("zeronorm")
    val emb = Similarity.unitVectors(spark, sf)
    val idx = PqIndex.build(spark, emb, root, lists = 16, m = 16, k = 32)
    val dim = emb.head().getSeq[Double](1).size
    import spark.implicits._
    // unitize keeps a 0-vector all-zero: every seed dot is 0.0, so
    // ranking ties break by list id — the probe serves without
    // throwing and without disturbing the batch
    val zero = Similarity.unitize(
      Seq((777L, Seq.fill(dim)(0.0))).toDF("vec_id", "raw_v"))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val normal = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val mixed = normal.unionByName(zero)
    val a = idx.query(emb, mixed).collect().toSeq
    val b = idx.query(emb, mixed).collect().toSeq
    assert(a === b, "zero-norm probes must serve deterministically")
    assert(a.count(_.getLong(0) == 777L) === 3,
      "zero-norm probe must still produce topK rows")
    val normalOnly = idx.query(emb, normal).collect().toSeq
    assert(a.filterNot(_.getLong(0) == 777L) === normalOnly,
      "a zero-norm batch-mate must not change other probes' results")
  }

  test("refreshFrom is a no-op when already current") {
    val root = scratch("noop")
    val srcRoot = scratch("noop_src")
    val emb = Similarity.unitVectors(spark, sf).limit(50)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite")
    val idx = PqIndex.build(spark, emb, root, sourceVersion = 0)
    val v = idx.table.latestVersion
    assert(idx.refreshFrom(source, "vec_id", "v").table.latestVersion === v)
  }
}
