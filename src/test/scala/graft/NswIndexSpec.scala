package graft

import graft.lake.ManifestTable
import graft.operators.NswIndex
import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** The persisted IVF-sharded NSW graph-ANN index: recall against the
  * exact brute-force ranking, persistence roundtrip, determinism,
  * per-shard navigability, the bounded (zone-pruned, never
  * whole-index) serving scan, and change-feed-driven insertion.
  */
class NswIndexSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_nsw_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private lazy val emb = Similarity.unitVectors(spark, sf)
  private lazy val probes = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("q_id"), col("v").as("q_v"))

  private def recallVsExact(got: Set[(Long, Long)]): Double = {
    val exact = Similarity.s1BruteForceTopK(spark, sf)
      .select(col("q_id"), col("neighbor")).as[(Long, Long)].collect().toSet
    (exact intersect got).size.toDouble / exact.size
  }

  test("NSW recall ≥ 0.9 vs exact top-3 on the sf corpus; deterministic") {
    val root = scratch("recall")
    val idx = NswIndex.build(spark, emb, root)
    val got = idx.query(probes, topK = 3, ef = 64)
      .select(col("q_id"), col("neighbor")).as[(Long, Long)].collect().toSet
    val recall = recallVsExact(got)
    assert(recall >= 0.9, s"NSW recall $recall < 0.9")
    // similarities on overlapping pairs are the EXACT cosine (shard
    // routing + graph search prune candidates, never the score)
    val exactSims = Similarity.s1BruteForceTopK(spark, sf)
      .select(col("q_id"), col("neighbor"), col("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, nb, s) => (q, nb) -> s }.toMap
    idx.query(probes, topK = 3, ef = 64)
      .select(col("q_id"), col("neighbor"), col("sim"))
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, nb, s) =>
        exactSims.get((q, nb)).foreach(e => assert(math.abs(e - s) < 1e-9))
      }
    // determinism: two queries, identical rows
    val a = idx.query(probes, topK = 3, ef = 64).collect().toSeq
    val b = idx.query(probes, topK = 3, ef = 64).collect().toSeq
    assert(a === b)
  }

  test("persistence: load serves identically to the just-built index") {
    val root = scratch("persist")
    val built = NswIndex.build(spark, emb, root)
    val wantRows = built.query(probes, topK = 3, ef = 64).collect().toSeq
    val loaded = NswIndex.load(spark, root).get
    assert(loaded.m === built.m)
    assert(loaded.lists === built.lists)
    assert(loaded.replicas === built.replicas)
    assert(loaded.query(probes, topK = 3, ef = 64).collect().toSeq === wantRows)
    assert(NswIndex.load(spark, scratch("nothere")).isEmpty)
  }

  test("serving scan is zone-pruned to probed shards — never the whole index") {
    val root = scratch("prune")
    val idx = NswIndex.build(spark, emb, root, lists = 16)
    // the index spans several range-partitioned files; one list's scan
    // must prune to a strict subset — the behavior gate that the probe
    // path reads O(probed shards), not the corpus (and the query plan
    // holds no whole-table collect: serving is a cogroup over this
    // pruned scan)
    val all = idx.table.filesOf(idx.table.latestVersion.get)
    assert(all.size > 1, "index must span several files for pruning to mean anything")
    val one = idx.table.filesFor(col("shard_id").between(0, 1023))
    assert(one.size < all.size,
      s"zone maps failed to prune: ${one.size} of ${all.size} files for one list")
    // plan gate: serving is a DISTRIBUTED cogroup over that pruned
    // scan — the shard search executes as a CoGroup node reading the
    // index relation inside the returned plan, not as a driver-side
    // collect whose results get re-parallelized
    val plan = idx.query(probes, topK = 3, ef = 64)
      .queryExecution.optimizedPlan
    val hasCoGroup = plan.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CoGroup => c
    }.nonEmpty
    assert(hasCoGroup, s"NSW serving must beam-search inside a cogroup:\n$plan")
    val scansIndex = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty
    assert(scansIndex, "NSW serving plan must read the persisted index " +
      "lazily (a whole-index collect would leave only a LocalRelation)")
    // replica coverage: every corpus vector is a member of exactly
    // `replicas` shards (SPANN closure assignment)
    val n = emb.count()
    val rows = idx.table.read()
    assert(rows.select(col("vec_id")).distinct().count() === n)
    assert(rows.count() === n * idx.replicas)
  }

  test("clustered corpus: every SHARD is connected (ring links) and a wide beam escapes islands") {
    // tight clusters make a pure kNN graph a set of disconnected
    // islands — the failure mode HNSW's upper layers (here: the
    // per-shard hash-ordered path links) exist to fix
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val pts = for { c <- centers.indices; i <- 0 until 25 } yield
      (c * 25L + i, centers(c).map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    val corpus = Similarity.unitize(pts.toDF("vec_id", "raw_v"))
    val root = scratch("clustered")
    val idx = NswIndex.build(spark, corpus, root, m = 6)
    // connectivity: BFS within EACH shard's adjacency reaches every
    // member of that shard (shards are self-contained subgraphs)
    val byShard = idx.table.read()
      .select("shard_id", "vec_id", "neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    byShard.foreach { case (lid, members) =>
      val adj = members.map(t => t._2 -> t._3).toMap
      val seen = scala.collection.mutable.Set(members.head._2)
      val queue = scala.collection.mutable.Queue(members.head._2)
      while (queue.nonEmpty)
        adj(queue.dequeue()).filter(adj.contains).foreach { nb =>
          if (!seen.contains(nb)) { seen += nb; queue.enqueue(nb) }
        }
      assert(seen.size === members.length,
        s"shard $lid disconnected: ${seen.size}/${members.length} reachable")
    }
    // a narrow beam returns topK valid, rank-ordered rows cheaply
    val qs2 = corpus.filter(col("vec_id") % 25 === 0).limit(5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val narrow = idx.query(qs2, topK = 3, ef = 8).collect()
    assert(narrow.length === 15)
    narrow.groupBy(_.getLong(0)).values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.sorted.reverse.toSeq === sims.toSeq, "ranks not by sim")
    }
    // a wide beam walks each probed shard exhaustively: ≥ 0.9 of
    // results are true in-cluster neighbors
    val wide = idx.query(qs2, topK = 3, ef = 300).collect()
    val inCluster = wide.count(r => r.getLong(2) / 25 === r.getLong(0) / 25)
    assert(inCluster >= 14, s"only $inCluster/15 in-cluster at ef=300")
  }

  test("refreshFrom: inserts splice into affected shards; recall-comparable to a full rebuild") {
    val root = scratch("refresh")
    val srcRoot = scratch("refresh_src")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val source = new ManifestTable(spark, srcRoot)
    source.write(half, "overwrite") // v0
    val idx = NswIndex.build(spark, half, root, sourceVersion = 0)
    source.write(rest, "append") // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.sourceVersion === 1)
    assert(NswIndex.load(spark, root).get.sourceVersion === 1)
    // the spliced index covers the union corpus...
    assert(idx2.table.read().select("vec_id").distinct().count() === emb.count())
    // ...and serves it with recall comparable to building from scratch
    // on the union (the done-bar: build(A)+insert(B) ≈ build(A∪B))
    val got = idx2.query(probes, topK = 3, ef = 64)
      .select(col("q_id"), col("neighbor")).as[(Long, Long)].collect().toSet
    val fullRoot = scratch("refresh_full")
    val full = NswIndex.build(spark, emb, fullRoot, sourceVersion = 1)
    val fullGot = full.query(probes, topK = 3, ef = 64)
      .select(col("q_id"), col("neighbor")).as[(Long, Long)].collect().toSet
    val (rSplice, rFull) = (recallVsExact(got), recallVsExact(fullGot))
    assert(rSplice >= rFull - 0.1 && rSplice >= 0.85,
      s"spliced recall $rSplice not comparable to rebuilt $rFull")
    // crash-replay shape: the ORIGINAL instance still holds cursor 0 —
    // replaying the same delta must re-upsert, never duplicate
    val again = idx.refreshFrom(source, "vec_id", "v")
    val dupes = again.table.read()
      .groupBy(col("shard_id"), col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(dupes === 0, s"replay duplicated $dupes (shard, vec) rows")
    assert(again.sourceVersion === 1)
  }

  test("hot-list cap: a duplicate-heavy corpus sub-shards; every shard stays bounded; recall holds") {
    // 60% of the corpus is ONE exact duplicate vector — every copy
    // ties to the same two nearest seeds, so without the cap two
    // shards would hold ~600 rows each and the per-shard quadratic
    // kNN would see 360k pairs for what should be a bounded task
    val rnd = new scala.util.Random(11)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    val pts = (0 until 1000).map { i =>
      if (i < 600) (i.toLong, hot.toSeq)
      else (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq)
    }
    val corpus = Similarity.unitize(pts.toDF("vec_id", "raw_v"))
    val root = scratch("skew")
    val idx = NswIndex.build(spark, corpus, root, lists = 16,
      maxShardRows = 128)
    val sizes = idx.table.read().groupBy(col("shard_id")).count()
      .select(col("count")).as[Long].collect()
    assert(sizes.max <= 200,
      s"hot list not capped: largest physical shard ${sizes.max} rows")
    // sub-shards of one list are CONTIGUOUS shard ids (zone-prunable)
    val subs = idx.table.read().select(col("shard_id")).distinct()
      .as[Long].collect().groupBy(sid => Math.floorDiv(sid, 1024L)).view.mapValues(_.length)
    assert(subs.values.max > 1, "expected at least one split list")
    // a duplicate-of-the-hot-vector probe still finds duplicates at
    // sim 1.0 (they live across sub-shards; the probe fans to all)
    val probes = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val got = idx.query(probes, topK = 3, ef = 64).collect()
    assert(got.length === 3)
    got.foreach(r => assert(r.getDouble(3) === 1.0,
      s"duplicate neighbors must score 1.0: $r"))
  }

  test("refresh is ONE atomic commit: a kill before it leaves the full old state; the real run is a single version") {
    val root = scratch("atomic")
    val srcRoot = scratch("atomic_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = NswIndex.build(spark, emb, root, sourceVersion = 0)
    // one delta holding deletes AND inserts — the shape whose old
    // two-commit refresh had a delete-visible-without-append window
    source.deleteKeys("vec_id", Seq("3", "7")) // v1
    val clones = emb.filter(col("vec_id").isin(11, 13))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    source.write(clones, "append") // v2
    val v0 = idx.table.latestVersion.get
    val before = idx.table.read().orderBy("shard_id", "vec_id").collect().toSeq
    NswIndex.testBeforeCommit = () => throw new RuntimeException("killed")
    try {
      intercept[RuntimeException] { idx.refreshFrom(source, "vec_id", "v") }
    } finally NswIndex.testBeforeCommit = () => ()
    // full old state: same table version, identical rows, cursor unmoved
    assert(idx.table.latestVersion.get === v0, "a killed refresh must commit nothing")
    assert(idx.table.read().orderBy("shard_id", "vec_id").collect().toSeq === before)
    assert(NswIndex.load(spark, root).get.sourceVersion === 0)
    // the real refresh: deletes + rebuilt-shard append are ONE commit
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.table.latestVersion.get === v0 + 1,
      "deletes and re-append must land as exactly one commit")
    val served = idx2.table.read().select("vec_id").distinct()
      .as[Long].collect().toSet
    assert(!served.contains(3L) && !served.contains(7L))
    assert(served.contains(1000011L) && served.contains(1000013L))
    val dupes = idx2.table.read()
      .groupBy(col("shard_id"), col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(dupes === 0)
  }

  test("racing refreshes: the loser throws before its cursor moves; no duplicate rows") {
    val root = scratch("race")
    val srcRoot = scratch("race_src")
    val source = new ManifestTable(spark, srcRoot)
    val half = emb.filter(col("vec_id") % 2 === 0)
    source.write(half, "overwrite") // v0
    val idxA = NswIndex.build(spark, half, root, sourceVersion = 0)
    val idxB = NswIndex.load(spark, root).get // same cursor as idxA
    source.write(emb.filter(col("vec_id") % 2 === 1), "append") // v1
    // interleave: B computes its delta, then A commits the SAME delta
    // underneath it — B's strict commit must observe A and throw, so
    // B's cursor never advances over rows it did not commit
    var fired = false
    NswIndex.testBeforeCommit = () =>
      if (!fired) { fired = true; idxA.refreshFrom(source, "vec_id", "v"): Unit }
    try {
      intercept[java.util.ConcurrentModificationException] {
        idxB.refreshFrom(source, "vec_id", "v")
      }
    } finally NswIndex.testBeforeCommit = () => ()
    // the winner's state is intact and complete; no duplicates
    val after = NswIndex.load(spark, root).get
    assert(after.sourceVersion === 1)
    assert(after.table.read().select("vec_id").distinct().count() === emb.count())
    val dupes = after.table.read()
      .groupBy(col("shard_id"), col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(dupes === 0, s"racing refreshes duplicated $dupes rows")
    // a re-loaded loser is simply current: refresh is a no-op
    val v = after.table.latestVersion
    assert(after.refreshFrom(source, "vec_id", "v").table.latestVersion === v)
  }

  test("refresh over a compacted + purged source is a row-level no-op; cursor advances") {
    val root = scratch("noop_compact")
    val srcRoot = scratch("noop_compact_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = NswIndex.build(spark, emb, root, sourceVersion = 0)
    val vIdx = idx.table.latestVersion
    // compaction rewrites every source FILE but no row — the keyed
    // change feed must see nothing
    source.compact(targetFiles = 2) // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.sourceVersion === 1)
    assert(idx2.table.latestVersion === vIdx,
      "a row-level no-op refresh must not commit to the index")
    // a real delete, then PURGE materializes it (another full-file
    // rewrite): only the delete itself may reach the index
    source.deleteKeys("vec_id", Seq("5")) // v2
    val idx3 = idx2.refreshFrom(source, "vec_id", "v")
    assert(idx3.table.read().filter(col("vec_id") === 5L).count() === 0)
    val vIdx3 = idx3.table.latestVersion
    source.reorgPurge() // v3: rewrites DV'd files, zero row changes
    val idx4 = idx3.refreshFrom(source, "vec_id", "v")
    assert(idx4.sourceVersion === 3)
    assert(idx4.table.latestVersion === vIdx3,
      "purge must be invisible to the keyed change feed")
  }

  test("sustained skewed inserts re-split the hot list on refresh; shards stay bounded; recall holds") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    // start uniform; the cap is tight so growth must trigger a split
    val base = (0 until 400).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    val corpus0 = Similarity.unitize(base.toDF("vec_id", "raw_v"))
    val srcRoot = scratch("skewgrow_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(corpus0, "overwrite") // v0
    val root = scratch("skewgrow")
    val idx = NswIndex.build(spark, corpus0, root, lists = 16,
      maxShardRows = 128, sourceVersion = 0)
    // every insert is a near-duplicate of ONE vector: all route to the
    // same `replicas` lists, the exact one-sided growth that froze the
    // old layout
    val inserts = (1000 until 1600).map { i =>
      (i.toLong, hot.map(x => x + 0.01 * rnd.nextGaussian()).toSeq)
    }
    source.write(Similarity.unitize(inserts.toDF("vec_id", "raw_v")), "append") // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    assert(idx2.sourceVersion === 1)
    val sizes = idx2.table.read().groupBy(col("shard_id")).count()
      .select(col("count")).as[Long].collect()
    assert(sizes.max <= 2 * 128,
      s"hot list not re-split under growth: largest shard ${sizes.max} rows")
    // layout persisted: a FRESH LOAD fans probes across the new
    // sub-shards (meta sidecar carries the bumped sub-counts)
    val loaded = NswIndex.load(spark, root).get
    val probes = Similarity.unitize(Seq((9999L, hot.toSeq)).toDF("vec_id", "raw_v"))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val got = loaded.query(probes, topK = 5, ef = 128).collect()
    assert(got.length === 5)
    // every returned neighbor is one of the near-duplicates (sim ≈ 1)
    got.foreach(r => assert(r.getDouble(3) > 0.99,
      s"expected near-duplicate neighbors of the hot vector: $r"))
    // rebuild parity: a from-scratch build over the union serves the
    // same probe with the same quality bar
    val fullRoot = scratch("skewgrow_full")
    val union = corpus0.unionByName(
      Similarity.unitize(inserts.toDF("vec_id", "raw_v")))
    val full = NswIndex.build(spark, union, fullRoot, lists = 16,
      maxShardRows = 128)
    val fullGot = full.query(probes, topK = 5, ef = 128).collect()
    assert(fullGot.forall(_.getDouble(3) > 0.99))
    // shard connectivity survives the re-split rebuild (ring invariant)
    val byShard = idx2.table.read()
      .select("shard_id", "vec_id", "neighbors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    byShard.foreach { case (sid, members) =>
      val adj = members.map(t => t._2 -> t._3).toMap
      val seen = scala.collection.mutable.Set(members.head._2)
      val queue = scala.collection.mutable.Queue(members.head._2)
      while (queue.nonEmpty)
        adj(queue.dequeue()).filter(adj.contains).foreach { nb =>
          if (!seen.contains(nb)) { seen += nb; queue.enqueue(nb) }
        }
      assert(seen.size === members.length,
        s"shard $sid disconnected after re-split: ${seen.size}/${members.length}")
    }
  }

  test("racing loser's re-split write-ahead cannot clobber the winner's layout or cursor") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    val corpus0 = Similarity.unitize(base.toDF("vec_id", "raw_v"))
    val srcRoot = scratch("racelayout_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(corpus0, "overwrite") // v0
    val root = scratch("racelayout")
    val idxA = NswIndex.build(spark, corpus0, root, lists = 16,
      maxShardRows = 128, sourceVersion = 0)
    val idxB = NswIndex.load(spark, root).get
    // a one-sided insert burst that forces BOTH racers to decide a
    // re-split of the same hot list
    val inserts = (1000 until 1500).map { i =>
      (i.toLong, hot.map(x => x + 0.01 * rnd.nextGaussian()).toSeq)
    }
    source.write(Similarity.unitize(inserts.toDF("vec_id", "raw_v")), "append") // v1
    // B derives its delta and publishes its write-ahead layout, then A
    // runs a FULL refresh underneath it; B's commit must throw, and
    // the meta on disk must remain the WINNER's (cursor advanced,
    // layout at least A's — B's inflation may only widen it)
    var fired = false
    NswIndex.testBeforeCommit = () =>
      if (!fired) { fired = true; idxA.refreshFrom(source, "vec_id", "v"): Unit }
    try {
      intercept[java.util.ConcurrentModificationException] {
        idxB.refreshFrom(source, "vec_id", "v")
      }
    } finally NswIndex.testBeforeCommit = () => ()
    val after = NswIndex.load(spark, root).get
    assert(after.sourceVersion === 1,
      "loser's write-ahead regressed the winner's cursor")
    // every row the winner committed is reachable through the merged
    // layout: the hot-probe search finds the inserted near-duplicates
    val probe = Similarity.unitize(Seq((9999L, hot.toSeq)).toDF("vec_id", "raw_v"))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val got = after.query(probe, topK = 5, ef = 128).collect()
    assert(got.length === 5)
    got.foreach(r => assert(r.getDouble(3) > 0.99,
      s"winner's committed inserts unreachable through merged layout: $r"))
    assert(after.table.read().select("vec_id").distinct().count()
      === 300L + inserts.size)
  }

  test("crash between write-ahead and commit: the replay re-spreads the oversized shard") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    val corpus0 = Similarity.unitize(base.toDF("vec_id", "raw_v"))
    val srcRoot = scratch("crashsplit_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(corpus0, "overwrite") // v0
    val root = scratch("crashsplit")
    val idx = NswIndex.build(spark, corpus0, root, lists = 16,
      maxShardRows = 128, sourceVersion = 0)
    val inserts = (1000 until 1500).map { i =>
      (i.toLong, hot.map(x => x + 0.01 * rnd.nextGaussian()).toSeq)
    }
    source.write(Similarity.unitize(inserts.toDF("vec_id", "raw_v")), "append") // v1
    // kill AFTER the write-ahead layout landed, BEFORE the data commit
    NswIndex.testBeforeCommit = () => throw new RuntimeException("killed")
    try intercept[RuntimeException] {
      idx.refreshFrom(source, "vec_id", "v")
    } finally NswIndex.testBeforeCommit = () => ()
    // replay from a fresh load: the inflated sub-counts no longer
    // satisfy `want > subsOf`, so only the oversized-shard trigger can
    // redistribute — every shard must end bounded, with all rows in
    val replayed = NswIndex.load(spark, root).get
      .refreshFrom(source, "vec_id", "v")
    assert(replayed.sourceVersion === 1)
    assert(replayed.table.read().select("vec_id").distinct().count()
      === 300L + inserts.size)
    // growth continues: the next delta must keep the hot list bounded
    // (this is the round-trip where a frozen oversized shard would
    // otherwise accrete forever)
    val more = (2000 until 2400).map { i =>
      (i.toLong, hot.map(x => x + 0.01 * rnd.nextGaussian()).toSeq)
    }
    source.write(Similarity.unitize(more.toDF("vec_id", "raw_v")), "append") // v2
    val settled = replayed.refreshFrom(source, "vec_id", "v")
    val sizes = settled.table.read().groupBy(col("shard_id")).count()
      .select(col("count")).as[Long].collect()
    assert(sizes.max <= 2 * 128,
      s"oversized shard never re-spread after crashed write-ahead: max ${sizes.max}")
  }

  test("a pre-refresh handle serves a consistent snapshot, not mixed layout/data") {
    val rnd = new scala.util.Random(5)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    val base = (0 until 300).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq))
    val corpus0 = Similarity.unitize(base.toDF("vec_id", "raw_v"))
    val srcRoot = scratch("snappin_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(corpus0, "overwrite") // v0
    val root = scratch("snappin")
    val h0 = NswIndex.build(spark, corpus0, root, lists = 16,
      maxShardRows = 128, sourceVersion = 0)
    val probeDf = Similarity.unitize(
      Seq((9999L, hot.toSeq)).toDF("vec_id", "raw_v"))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val before = h0.query(probeDf, topK = 5, ef = 128).collect().toSeq
    // a refresh that re-splits the hot list lands new data + layout
    val inserts = (1000 until 1500).map { i =>
      (i.toLong, hot.map(x => x + 0.01 * rnd.nextGaussian()).toSeq)
    }
    source.write(Similarity.unitize(inserts.toDF("vec_id", "raw_v")), "append") // v1
    val h1 = h0.refreshFrom(source, "vec_id", "v")
    // the OLD handle still serves its own snapshot — identical to its
    // pre-refresh answer (layout and data pinned together); without
    // the pin it would fan the old sub-count over rehashed data and
    // silently drop the moved members
    val afterOld = h0.query(probeDf, topK = 5, ef = 128).collect().toSeq
    assert(afterOld === before,
      "stale handle mixed old layout with new data")
    // the refreshed handle sees the inserts
    val afterNew = h1.query(probeDf, topK = 5, ef = 128).collect()
    afterNew.foreach(r => assert(r.getDouble(3) > 0.99))
  }

  test("a legacy meta sidecar (no subCounts/maxShardRows columns) still loads") {
    val root = scratch("legacymeta")
    val idx = NswIndex.build(spark, emb, root, sourceVersion = 0)
    val expect = idx.query(probes, topK = 3, ef = 64).collect().toSeq
    // simulate an index persisted before the two columns existed:
    // rewrite the sidecar without them (same rows otherwise)
    val metaDir = s"$root/_graft_nsw_meta"
    val asWritten = spark.read.option("recursiveFileLookup", "true")
      .parquet(metaDir).drop("subCounts", "maxShardRows")
    val legacy = asWritten.collect()
    val legacySchema = asWritten.schema
    // legacy layout = part files directly in the meta dir (the
    // pre-delta single-overwrite form), minus the two newer columns
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(legacy: _*)), legacySchema)
      .coalesce(1).write.mode("overwrite").parquet(metaDir)
    // the version-keyed cache would still serve the old meta for this
    // root (the sidecar rewrite changes no table version), so assert
    // directly on the schema-evolving disk read load() delegates to
    val mm = NswIndex.readDiskMeta(spark, root)
    assert(mm.isDefined, "legacy meta failed to load")
    // neutral defaults: every list unsplit, no cap
    assert(mm.get.subCounts.forall(_ === 1) && mm.get.maxShardRows === 0L)
    assert(mm.get.subCounts.size === mm.get.seedIds.size)
  }

  test("a zero-norm probe routes and serves deterministically") {
    val root = scratch("zeronorm")
    val idx = NswIndex.build(spark, emb, root)
    // unitize keeps a 0-vector all-zero, so every seed dot is 0.0 and
    // routing ties break by list id — deterministic, never a throw
    // (the NaN-safe Double.compare ranking additionally guards any
    // future NaN source, but this probe exercises the all-zero path)
    val zero = Similarity.unitize(
      Seq((777L, Seq.fill(emb.head().getSeq[Double](1).size)(0.0)))
        .toDF("vec_id", "raw_v"))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val mixed = probes.unionByName(zero)
    val a = idx.query(mixed, topK = 3, ef = 64).collect().toSeq
    val b = idx.query(mixed, topK = 3, ef = 64).collect().toSeq
    assert(a === b, "zero-norm probes must serve deterministically")
    val zeroRows = a.filter(_.getLong(0) == 777L)
    assert(zeroRows.length === 3, s"zero-norm probe must still serve topK: $zeroRows")
    // in-shard scoring guards the zero norm: sims are 0.0, not NaN
    zeroRows.foreach(r => assert(r.getDouble(3) === 0.0))
    // the normal probes are untouched by sharing a batch with it
    val normalOnly = idx.query(probes, topK = 3, ef = 64).collect().toSeq
    assert(a.filter(_.getLong(0) != 777L) === normalOnly)
  }

  test("refreshFrom: source deletes DV out of the index") {
    val root = scratch("del")
    val srcRoot = scratch("del_src")
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    val idx = NswIndex.build(spark, emb, root, sourceVersion = 0)
    source.deleteKeys("vec_id", Seq("3", "7")) // v1
    val idx2 = idx.refreshFrom(source, "vec_id", "v")
    val left = idx2.table.read().select("vec_id").distinct()
      .as[Long].collect().toSet
    assert(!left.contains(3L) && !left.contains(7L), "deleted ids still served")
    // dangling back-edges to the deleted ids resolve to nothing: the
    // index still serves every probe with full rank lists
    val got = idx2.query(probes.filter(col("q_id") =!= 3 && col("q_id") =!= 7),
      topK = 3, ef = 64).collect()
    assert(got.length === 8 * 3)
    assert(!got.exists(r => r.getLong(2) == 3L || r.getLong(2) == 7L))
  }

  test("corrupt meta fails loudly; resetMeta + rebuild recovers") {
    // Regression gate for readDiskMeta's fail-loud contract: meta
    // PRESENT but unreadable must throw (serving as if no index
    // existed — or merging a partial delta view — silently degrades
    // every probe), while an empty meta dir (crash between mkdir and
    // the first delta write) reads as absent.
    val root = scratch("corrupt_meta")
    val metaDir = s"$root/_graft_nsw_meta"
    val conf = spark.sessionState.newHadoopConf()

    val built = NswIndex.build(spark, emb, root)
    val wantRows = built.query(probes, topK = 3, ef = 64).collect().toSeq

    // truncate one delta parquet to a corrupt prefix
    val mp = new org.apache.hadoop.fs.Path(metaDir)
    val fs = mp.getFileSystem(conf)
    val it = fs.listFiles(mp, true)
    var victim: org.apache.hadoop.fs.Path = null
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) victim = f.getPath
    }
    assert(victim != null, "no meta delta parquet found")
    val head = new Array[Byte](10)
    val in = fs.open(victim)
    in.readFully(head); in.close()
    val out = fs.create(victim, true) // truncate: 10-byte torso
    out.write(head); out.close()

    // load must THROW the operator-actionable error — not return None
    // (reverted behavior) and not serve a partial layout
    val ex = intercept[IllegalStateException] {
      NswIndex.load(spark, root)
    }
    assert(ex.getMessage.contains("unreadable"),
      s"wrong failure mode: ${ex.getMessage}")
    // the private read path throws identically (load may cache later)
    val ex2 = intercept[IllegalStateException] {
      NswIndex.readDiskMeta(spark, root)
    }
    assert(ex2.getMessage.contains("resetMeta"),
      "error must tell the operator how to recover")

    // recovery: rebuild at the same root (build resets meta first)
    val rebuilt = NswIndex.build(spark, emb, root)
    assert(rebuilt.query(probes, topK = 3, ef = 64).collect().toSeq
      === wantRows)
    assert(NswIndex.load(spark, root).isDefined)

    // present-but-parquet-less meta dir == absent, NOT an error
    val emptyRoot = scratch("empty_meta")
    val ep = new org.apache.hadoop.fs.Path(s"$emptyRoot/_graft_nsw_meta")
    val efs = ep.getFileSystem(conf)
    efs.mkdirs(ep)
    val marker = efs.create(
      new org.apache.hadoop.fs.Path(ep, "_started"), true)
    marker.close()
    assert(NswIndex.readDiskMeta(spark, emptyRoot).isEmpty)
    assert(NswIndex.load(spark, emptyRoot).isEmpty)
  }
}
