package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L15/L16 deletion vectors: row-level DELETE/UPDATE must be
  * merge-on-read (no data-file rewrite), exact through every read path
  * (plain, time travel, zone-map range, bloom point lookup, CDF),
  * accumulative across deletes, and materialized away by compaction.
  */
class DeletionVectorSpec extends SparkTestBase {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dv_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def orders: DataFrame =
    Q.t(spark, sf, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"))

  private def dataFiles(mt: ManifestTable, v: Int): Set[String] =
    mt.filesOf(v).toSet

  test("DELETE marks rows without rewriting any data file") {
    val dir = scratch("del_basic")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(4), "overwrite") // v0, several files
    val v0Files = dataFiles(mt, 0)
    val before = mt.read().count()
    val expectGone = orders.filter(col("o_orderkey") % 10 === 3).count()
    assert(expectGone > 0)

    val v1 = mt.delete(col("o_orderkey") % 10 === 3)
    assert(v1 === 1)
    // merge-on-read: the data file set is IDENTICAL — only the
    // manifest gained DV refs
    assert(dataFiles(mt, 1) === v0Files)
    assert(mt.read().count() === before - expectGone)
    assert(mt.read().filter(col("o_orderkey") % 10 === 3).count() === 0)
    // untouched rows are bit-identical
    val expected = orders.filter(col("o_orderkey") % 10 =!= 3)
    assert(mt.read().exceptAll(expected).count() === 0)
    assert(expected.exceptAll(mt.read()).count() === 0)
    // time travel still sees the pre-delete rows
    assert(mt.read(Some(0)).count() === before)
  }

  test("second DELETE accumulates; no-op delete commits nothing") {
    val dir = scratch("del_accum")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(3), "overwrite")
    val n = mt.read().count()
    mt.delete(col("o_orderkey") % 7 === 0)
    val after1 = mt.read().count()
    mt.delete(col("o_orderkey") % 11 === 0) // overlaps (%77) with first
    val expected = orders
      .filter(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 =!= 0)
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    assert(after1 < n)
    // deleting already-deleted rows is a no-op: same version, no commit
    val vBefore = mt.latestVersion.get
    assert(mt.delete(col("o_orderkey") % 7 === 0) === vBefore)
    assert(mt.latestVersion.get === vBefore)
  }

  test("DVs apply through zone-map range reads and bloom point lookups") {
    val dir = scratch("del_skipping")
    val mt = new ManifestTable(spark, dir,
      statsCol = Some("o_orderkey"), bloomCol = Some("o_custkey"))
    mt.write(orders.repartition(4), "overwrite")
    val probe = orders.orderBy(col("o_orderkey").asc)
      .select("o_orderkey", "o_custkey").first()
    val (pk, pc) = (probe.getAs[Number](0).longValue,
      probe.getAs[Number](1).longValue)
    mt.delete(col("o_orderkey") === pk)
    // range read covering the deleted key must not resurrect it
    val r = mt.read(where = col("o_orderkey").between(pk - 5, pk + 5))
    assert(r.filter(col("o_orderkey") === pk).count() === 0)
    // bloom-pruned point lookup on another column must not either
    val eq = mt.readEq("o_custkey", pc.toString)
    assert(eq.filter(col("o_orderkey") === pk).count() === 0)
    // both paths still return every surviving row of their slices
    val live = orders.filter(col("o_orderkey") =!= pk)
    assert(r.count() === live
      .filter(col("o_orderkey").between(pk - 5, pk + 5)).count())
    assert(eq.count() === live.filter(col("o_custkey") === pc).count())
  }

  test("compaction materializes deletes; vacuum collects the sidecar") {
    val dir = scratch("del_compact")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(4), "overwrite")
    mt.delete(col("o_orderstatus") === "F")
    val expected = orders.filter(col("o_orderstatus") =!= "F")
    mt.compact(2)
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    // compacted files carry no DVs: a fresh table over the same files
    // (no sidecar knowledge) reads the same rows
    val plain = spark.read.parquet(mt.filesOf(mt.latestVersion.get): _*)
    assert(plain.count() === expected.count())
    // vacuum to the compacted version removes the now-unreferenced
    // sidecar (and the pre-compaction data files)
    val deleted = mt.vacuum(retain = 1, minAgeMs = 0)
    assert(deleted.exists(_.contains("_graft_dv")),
      s"sidecar not collected: $deleted")
    assert(mt.read().count() === expected.count())
  }

  test("vacuum keeps sidecars still referenced by retained versions") {
    val dir = scratch("del_vacuum_keep")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(2), "overwrite") // v0
    mt.delete(col("o_orderkey") % 5 === 0) // v1 (DV)
    val extra = orders.filter(col("o_orderkey") % 100 === 7)
    mt.write(extra, "append") // v2 — DV refs carried forward
    val expected = orders.filter(col("o_orderkey") % 5 =!= 0)
      .unionByName(extra)
    val deleted = mt.vacuum(retain = 1, minAgeMs = 0)
    assert(!deleted.exists(_.contains("_graft_dv")),
      "sidecar referenced by the latest version was collected")
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
  }

  test("vacuum retention horizon protects young unreferenced files") {
    val dir = scratch("del_vacuum_age")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(2), "overwrite") // v0
    mt.write(orders.limit(5), "overwrite") // v1 orphans v0's files
    // the orphans were written seconds ago: the default horizon must
    // leave them alone (they could be an in-flight commit's staging)
    val young = mt.vacuum(retain = 1)
    assert(young.isEmpty, s"young files collected: $young")
    // opting out of the horizon collects them
    val old = mt.vacuum(retain = 1, minAgeMs = 0)
    assert(old.nonEmpty)
    assert(mt.read().count() === 5)
  }

  test("deleteKeys: large batch (semi-join path) and NULL keys") {
    val dir = scratch("del_keys_large")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(3), "overwrite")
    // > InLiteralMaxKeys keys forces the broadcast-semi-join path;
    // half the keys don't exist, and a NULL must be ignored, not
    // silently change the predicate's semantics
    val present = orders.select(col("o_orderkey").cast("string"))
      .distinct().limit(800).collect().map(_.getString(0)).toSeq
    val absent = (1 to 700).map(i => s"missing_$i")
    val keys = (present ++ absent :+ (null: String))
    assert(keys.size > 1000)
    val v = mt.deleteKeys("o_orderkey", keys)
    assert(v === 1)
    val expected = orders
      .filter(!col("o_orderkey").cast("string").isin(present: _*))
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    // re-deleting the same keys is a no-op commit (exactly-once replay)
    assert(mt.deleteKeys("o_orderkey", keys) === 1)
    // an all-NULL batch is a no-op
    assert(mt.deleteKeys("o_orderkey", Seq(null)) === 1)
  }

  test("deleteKeys zone-map pruning is NaN/Infinity-safe: no file holding a key is ever skipped") {
    // Regression gate for the keyCandidates parse-or-don't-prune
    // rewrite: the old comparator fell back to LEXICOGRAPHIC compare
    // when a double's cast-string bound didn't parse ("-Infinity",
    // "NaN"), and lex order disagrees with numeric order (e.g.
    // "-7.0" < "-Infinity" lex because '7' < 'I') — so a file whose
    // min stat was "-Infinity" could be WRONGLY PRUNED for an
    // in-range negative key: a silently incomplete GDPR erasure.
    import spark.implicits._
    val dir = scratch("del_nan_prune")
    val mt = new ManifestTable(spark, dir, statsCol = Some("score"))
    // separate appends => separate files with controlled stats
    mt.write(Seq((1L, 1.0), (2L, 2.0), (3L, 10.0)).toDF("id", "score")
      .coalesce(1), "overwrite")             // stats ["1.0","10.0"]
    mt.write(Seq((4L, 5.0), (5L, Double.NaN)).toDF("id", "score")
      .coalesce(1), "append")                // stats ["5.0","NaN"]
    mt.write(Seq((6L, Double.NegativeInfinity), (7L, -7.0), (8L, -5.0))
      .toDF("id", "score").coalesce(1), "append") // ["-Infinity","-5.0"]
    mt.write(Seq((9L, 100.0), (10L, 200.0)).toDF("id", "score")
      .coalesce(1), "append")                // plain parseable file
    val before = mt.read().count()

    // THE decisive lex-trap case: key -7.0 lives in the file whose min
    // stat is the unparseable "-Infinity" — must be deleted
    mt.deleteKeys("score", Seq("-7.0"))
    assert(mt.read().filter(col("id") === 7L).count() === 0,
      "file with -Infinity min stat was wrongly pruned for an in-range key")

    // a key inside a file whose MAX stat is "NaN" (min parses)
    mt.deleteKeys("score", Seq("5.0"))
    assert(mt.read().filter(col("id") === 4L).count() === 0,
      "file with NaN max stat was wrongly pruned")

    // the special values themselves as keys (their exact cast-strings)
    mt.deleteKeys("score", Seq("NaN", "-Infinity"))
    assert(mt.read().filter(col("id").isin(5L, 6L)).count() === 0,
      "NaN/-Infinity keys must reach their rows, not disable the delete")

    // a mixed batch with an unparseable junk key must not poison the
    // parseable ones (numKeysAllParse=false => prune nothing, match all)
    mt.deleteKeys("score", Seq("10.0", "not_a_number", "100.0"))
    assert(mt.read().filter(col("id").isin(3L, 9L)).count() === 0)

    // everything else survives — deletes hit exactly the keyed rows
    assert(mt.read().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 8L, 10L))
    assert(before === 10L)
  }

  test("UPDATE via DVs: rows change without rewriting existing files") {
    val dir = scratch("upd_basic")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(4), "overwrite")
    val v0Files = dataFiles(mt, 0)
    val v1 = mt.updateWhere(col("o_orderstatus") === "F",
      Map("o_totalprice" -> (col("o_totalprice") + 1000.0)))
    assert(v1 === 1)
    // old files all still referenced; only NEW files were added
    assert(v0Files.subsetOf(dataFiles(mt, 1)))
    assert(dataFiles(mt, 1).size > v0Files.size)
    val expected = orders.withColumn("o_totalprice",
      when(col("o_orderstatus") === "F", col("o_totalprice") + 1000.0)
        .otherwise(col("o_totalprice")))
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    assert(expected.exceptAll(mt.read()).count() === 0)
    // time travel: v0 unchanged
    assert(mt.read(Some(0)).exceptAll(orders).count() === 0)
  }

  test("DV delete on a partitioned table + merge carries DVs forward") {
    val dir = scratch("del_part")
    val mt = new ManifestTable(spark, dir, partitionCol = Some("o_orderstatus"))
    mt.write(orders, "overwrite")
    mt.delete(col("o_orderkey") % 3 === 0) // v1: DVs across partitions
    // merge touching ONE partition: other partitions' DV refs carry
    val feed = orders.filter(col("o_orderstatus") === "O")
      .filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 20 === 1)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
    mt.merge(feed, Seq("o_orderkey"))
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    val fedKeys = feed.select("o_orderkey")
    val expected = base.join(fedKeys, Seq("o_orderkey"), "left_anti")
      .unionByName(base.join(fedKeys, Seq("o_orderkey"), "left_semi")
        .withColumn("o_totalprice", col("o_totalprice") + 5.0))
    // a partitioned table reads back with the partition column moved to
    // the end — normalize order before the positional exceptAll
    val cols = orders.columns.toSeq.map(col)
    val got = mt.read().select(cols: _*)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
  }

  test("change data feed sees DV deletes as row-level deletes") {
    val dir = scratch("del_cdf")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders, "overwrite") // v0
    val gone = orders.filter(col("o_orderkey") % 13 === 0).count()
    mt.delete(col("o_orderkey") % 13 === 0) // v1
    val feed = mt.changesBetween(0, 1, Seq("o_orderkey"))
    assert(feed.filter(col("_change_type") === "delete").count() === gone)
    assert(feed.filter(col("_change_type") =!= "delete").count() === 0)
  }

  test("range and point delete(where) mark only skipping-index candidate files") {
    val dir = scratch("del_pruned")
    val mt = new ManifestTable(spark, dir,
      statsCol = Some("o_orderkey"), bloomCol = Some("o_custkey"))
    mt.write(orders, "overwrite")
    mt.optimizeByZ(Seq("o_orderkey"), targetFiles = 6) // cluster → zones prune
    val keys = orders.select("o_orderkey").orderBy(col("o_orderkey").asc)
      .collect().map(_.getAs[Number](0).longValue)
    val (lo, hi) = (keys(5), keys(20)) // narrow slice of one file
    val range = col("o_orderkey").between(lo, hi)
    val candidates = mt.filesFor(range)
    assert(candidates.size < mt.filesOf(mt.latestVersion.get).size,
      "range should prune to a subset — clustering failed?")

    mt.delete(range)
    // correct result through the DV read
    assert(mt.read().filter(col("o_orderkey").between(lo, hi)).count() === 0)
    assert(mt.read().count() ===
      orders.filter(!col("o_orderkey").between(lo, hi)).count())
    // only candidate files carry a DV
    val d = mt.describeDetail().first()
    assert(d.getAs[Long]("num_dv_files") <= candidates.size)

    // bloom point delete: one custkey, candidate files only
    val victim = orders.orderBy(col("o_orderkey").desc)
      .select("o_custkey").first().getAs[Number](0).longValue
    val bloomCands = mt.filesFor(col("o_custkey") === victim)
    mt.delete(col("o_custkey") === victim)
    assert(mt.read().filter(col("o_custkey") === victim).count() === 0)
    val d2 = mt.describeDetail().first()
    assert(d2.getAs[Long]("num_dv_files") <=
      candidates.size + bloomCands.size)
  }

  test("compactSmall packs small + DV files only; compliant files carry by reference") {
    val dir = scratch("binpack")
    val mt = new ManifestTable(spark, dir)
    // one large-ish file + a stream of tiny appends (the real 100 TB
    // profile: mostly compliant files, a tail of micro-files)
    val big = spark.range(200000).toDF("o_orderkey")
      .withColumn("o_totalprice", col("o_orderkey") * 1.5)
    mt.write(big.repartition(1), "overwrite") // v0: 1 file ≫ threshold
    val bigFile = dataFiles(mt, 0)
    (1 to 3).foreach { i =>
      mt.write(big.filter(col("o_orderkey") % 50000 === i), "append")
    }
    val beforeFiles = mt.filesOf(mt.latestVersion.get).toSet
    assert(beforeFiles.size > bigFile.size)

    val v = mt.compactSmall(minFileBytes = 256 * 1024)
    val afterFiles = mt.filesOf(v).toSet
    // the compliant big file survives BY REFERENCE (same path)
    assert(bigFile.subsetOf(afterFiles), "large file was rewritten")
    // the tiny appends merged into fewer files
    assert(afterFiles.size < beforeFiles.size)
    val expected = big.unionByName(
      big.filter(col("o_orderkey") % 50000 isin (1, 2, 3)))
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    // idempotent: a second pass has nothing to pack (the packed output
    // is one small file, and one small DV-free file gains nothing)
    assert(mt.compactSmall(minFileBytes = 256 * 1024) === v)

    // a DV-carrying file is picked even when large: packing
    // materializes its deletes and drops the sidecar ref
    mt.delete(col("o_orderkey") === 7L)
    val v2 = mt.compactSmall(minFileBytes = 256 * 1024)
    assert(v2 > mt.versions.dropRight(1).last)
    assert(!bigFile.subsetOf(mt.filesOf(v2).toSet), "DV file not rewritten")
    assert(mt.read().filter(col("o_orderkey") === 7L).count() === 0)
    assert(mt.read().count() === expected.count() - 1)
  }

  test("REORG PURGE rewrites only DV'd files; threshold spares lightly-deleted ones") {
    def dvFileCount(mt: ManifestTable): Long =
      mt.describeDetail().select("num_dv_files").head().getLong(0)
    val dir = scratch("reorg")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(4), "overwrite") // v0: 4 files, no DVs
    mt.delete(col("o_orderkey") % 2 === 0) // DVs land in every file
    val live = mt.read().collect().map(_.toSeq).toSet
    assert(dvFileCount(mt) > 0)

    // full purge: live rows unchanged, zero DV refs remain
    val vPurged = mt.reorgPurge()
    assert(mt.read().collect().map(_.toSeq).toSet === live)
    assert(dvFileCount(mt) === 0)
    // idempotent: nothing left to purge → same version back, no commit
    assert(mt.reorgPurge() === vPurged)
    assert(mt.reorgPurge(minDeletedFraction = 0.5) === vPurged)
    assert(mt.latestVersion.get === vPurged)

    // ~33% deleted per file < 90% threshold → files spared, DVs stay
    mt.delete(col("o_orderkey") % 3 === 0)
    val liveAfter = mt.read().collect().map(_.toSeq).toSet
    val dvBefore = dvFileCount(mt)
    val vLatest = mt.latestVersion.get
    assert(mt.reorgPurge(minDeletedFraction = 0.9) === vLatest)
    assert(dvFileCount(mt) === dvBefore)
    // ...but a low threshold purges them
    val vLow = mt.reorgPurge(minDeletedFraction = 0.1)
    assert(vLow > vLatest)
    assert(dvFileCount(mt) === 0)
    assert(mt.read().collect().map(_.toSeq).toSet === liveAfter)
  }

  test("model property: interleaved delete/update/append sequences match a DataFrame model") {
    val dir = scratch("dv_model")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(3), "overwrite")
    var model: DataFrame = orders
    def del(p: Int, r: Int): Unit = {
      mt.delete(col("o_orderkey") % p === r)
      model = model.filter(!(col("o_orderkey") % p === r))
    }
    def upd(p: Int, r: Int): Unit = {
      mt.updateWhere(col("o_orderkey") % p === r,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
      model = model.withColumn("o_totalprice",
        when(col("o_orderkey") % p === r, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    }
    def app(p: Int): Unit = {
      // fresh keys so later % predicates hit both old and new rows
      val extra = orders.filter(col("o_orderkey") % p === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000L * p))
      mt.write(extra, "append")
      model = model.unionByName(extra)
    }
    // a deterministic gauntlet: deletes over updated rows, updates over
    // appended rows, repeated deletes over the same files
    del(7, 3); app(97); upd(5, 2); del(11, 0); upd(13, 1); app(101); del(3, 1)
    def same(): Unit = {
      assert(mt.read().count() === model.count())
      assert(mt.read().exceptAll(model).count() === 0)
      assert(model.exceptAll(mt.read()).count() === 0)
    }
    same()
    // packing materializes the accumulated DVs; vacuum drops the dead
    // files + sidecars — state must survive both
    mt.compactSmall(minFileBytes = Long.MaxValue)
    same()
    mt.vacuum(retain = 1, minAgeMs = 0)
    same()
    assert(mt.describeDetail().first().getAs[Long]("num_dv_files") === 0L,
      "compaction must have materialized every DV")
  }

  test("recorded DV totals are exact: stacked unique-mark commits use arithmetic, overlapping key batches the recount") {
    // r18 optimization regression guard: commitDv's unique-marks fast
    // path derives each touched entry's new DV count as
    // newPerFile + prior-count (no sidecar recount job). The RECORDED
    // totals feed history()/describeDetail and REORG thresholds, so
    // pin them exactly against independently computed mark counts.
    val dir = scratch("dv_totals")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(3), "overwrite") // v0
    // v1: UPDATE — marks every status-P row (preimages die), appends copies
    val n1 = orders.filter(col("o_orderstatus") === "P").count()
    assert(n1 > 0)
    mt.updateWhere(col("o_orderstatus") === "P",
      Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
    def dvRows(v: Int): Long = mt.history()
      .filter(col("version") === v).head().getAs[Long]("dv_deleted_rows")
    assert(dvRows(1) === n1, "update must record exactly its mark count")
    // v2: DELETE over the live state — marks stack on files that
    // already carry DVs (the absorb + arithmetic path) AND on the
    // fresh update-copy files (the no-prior path)
    val marks2 = mt.read().filter(col("o_orderkey") % 7 === 0).count()
    assert(marks2 > 0)
    mt.delete(col("o_orderkey") % 7 === 0)
    assert(dvRows(2) === n1 + marks2,
      "stacked totals must be prior + new, exactly")
    // v3: overlapping multi-batch key delete (the one caller whose
    // marks CAN hit the same row twice) — totals must count the UNION
    // of the batches' hits, never the sum
    val live = mt.read()
    val keyBatch = live.filter(col("o_custkey") % 50 === 0)
      .select(col("o_orderkey").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val custBatch = live.filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val unionHits = live.filter(
      col("o_orderkey").cast("string").isin(keyBatch: _*) ||
        col("o_custkey").cast("string").isin(custBatch: _*)).count()
    val overlapHits = live.filter(
      col("o_orderkey").cast("string").isin(keyBatch: _*) &&
        col("o_custkey").cast("string").isin(custBatch: _*)).count()
    assert(overlapHits > 0, "test needs genuinely overlapping batches")
    mt.deleteKeysAndAppend(Seq(
      "o_orderkey" -> keyBatch, "o_custkey" -> custBatch), Seq.empty)
    assert(dvRows(3) === n1 + marks2 + unionHits,
      "overlapping batches must dedup to the union of their hits")
    // the read path agrees with the recorded bookkeeping end to end
    assert(mt.read().count() === live.count() - unionHits)
  }

  test("deleteKeysAndAppend change rows carry declared columns, like " +
      "every other DML's") {
    val mt = new ManifestTable(spark, scratch("del_keys_declared"))
    mt.write(spark.range(10).select(col("id"), concat(lit("v"), col("id")).as("s")),
      "overwrite")
    mt.enableCdc()
    mt.addColumns("note STRING")
    val v = mt.deleteKeysAndAppend(Seq("id" -> Seq("3")),
      Seq(spark.range(3, 4).select(col("id"), lit("new").as("s"))))
    val changes = mt.changesAt(v, None)
    assert(changes.columns.contains("note"))
    assert(changes.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("delete" -> 1L, "insert" -> 1L))
  }

  test("shallow clone of a DV-carrying table reads the source's live rows") {
    val dir = scratch("del_clone_src")
    val cloneDir = scratch("del_clone_dst")
    val mt = new ManifestTable(spark, dir)
    mt.write(orders.repartition(2), "overwrite")
    mt.delete(col("o_orderkey") % 4 === 1)
    val clone = mt.shallowClone(cloneDir)
    val expected = orders.filter(col("o_orderkey") % 4 =!= 1)
    assert(clone.read().count() === expected.count())
    assert(clone.read().exceptAll(expected).count() === 0)
    // clone deletes diverge: source unaffected
    clone.delete(col("o_orderkey") % 4 === 2)
    assert(mt.read().count() === expected.count())
    assert(clone.read().count() ===
      orders.filter(col("o_orderkey") % 4 =!= 1 &&
        col("o_orderkey") % 4 =!= 2).count())
  }

  /** 96 rows over partition values needing hive escaping and a null
    * one: `a` in (x, y, "a:1 z", null), `b` in (p, q). */
  private def kernelBase: DataFrame = {
    import spark.implicits._
    (0 until 96).map { i =>
      (i.toLong, Seq("x", "y", "a:1 z", null)(i % 4), Seq("p", "q")(i / 4 % 2), i * 1.5)
    }.toDF("id", "a", "b", "v")
  }

  /** Rows as sorted strings, columns in name order. */
  private def rowSet(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString)
      .toSeq.sorted

  private def sidecarCount(root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(root, "_graft_dv")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.listStatus(p).length else 0
  }

  /** An always-true, non-deterministic conjunct: it leaves a Filter
    * above the scan, which forces a delete onto the DV path (the
    * reference the whole-file path is checked against). */
  private val dvForcing = udf(() => true).asNondeterministic()

  test("delete kernel property: whole-file and DV paths leave the same rows, " +
      "row ids and change rows") {
    val rnd = new scala.util.Random(20261020L)
    val vals = Seq("x", "y", "a:1 z")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    for (partCols <- Seq(Seq("a"), Seq("a", "b")); cdc <- Seq(false, true)) {
      val tag = s"${partCols.mkString}_${if (cdc) "cdc" else "plain"}"
      val kRoot = scratch(s"kernel_$tag")
      val rRoot = scratch(s"kernel_ref_$tag")
      val k = new ManifestTable(spark, kRoot, partitionCols = partCols)
      val r = new ManifestTable(spark, rRoot, partitionCols = partCols)
      Seq(k, r).foreach { t =>
        t.write(kernelBase, "overwrite")
        if (cdc) t.enableCdc()
        // covered files already carrying a DV: their dead rows must
        // not reappear as deletes
        t.delete(col("id") % 5 === 0)
        t.write(kernelBase.withColumn("id", col("id") + 100L), "append")
      }
      val partitionOnly: Seq[() => org.apache.spark.sql.Column] = Seq(
        () => col("a") === pick(vals),
        () => col("a").isNull,
        () => col("a").isin(pick(vals), pick(vals)),
        () => !(col("a") === pick(vals))) ++
        (if (partCols.size == 2) Seq(
          () => col("a") === pick(vals) && col("b") === pick(Seq("p", "q")),
          () => col("b") === pick(Seq("p", "q")))
        else Nil)
      val dataOnly: Seq[() => org.apache.spark.sql.Column] = Seq(
        () => col("id") % (rnd.nextInt(5) + 2) === 1,
        () => col("v") > rnd.nextInt(150).toDouble)
      val mixed: Seq[() => org.apache.spark.sql.Column] = Seq(
        () => col("a") === pick(vals) && col("id") % 3 === 1,
        () => col("a").isNull || col("id") % 7 === 2)
      for ((kind, step) <- rnd.shuffle(Seq("partition", "data", "mixed",
          "partition")).zipWithIndex) {
        val pred = pick(kind match {
          case "partition" => partitionOnly
          case "data" => dataOnly
          case _ => mixed
        })()
        val append =
          if (rnd.nextBoolean()) Seq.empty[DataFrame]
          else Seq(kernelBase.filter(col("id") % 8 === step)
            .withColumn("id", col("id") + 1000L * (step + 1)))
        val what = s"$tag step $step: $pred, append ${append.nonEmpty}"
        val hits = r.read().filter(pred).count()
        val (kDv, rDv) = (sidecarCount(kRoot), sidecarCount(rRoot))
        val kv = k.delete(pred, thenAppend = append)
        val rv = r.delete(pred && dvForcing(), thenAppend = append)
        assert(kv === rv, what)
        if (kind == "partition")
          assert(sidecarCount(kRoot) === kDv, s"$what: whole-file path wrote a sidecar")
        if (hits > 0)
          assert(sidecarCount(rRoot) === rDv + 1, s"$what: reference missed the DV path")
        assert(rowSet(k.readWithRowId()) === rowSet(r.readWithRowId()), what)
        assert(rowSet(k.changesAt(kv, None)) === rowSet(r.changesAt(rv, None)), what)
      }
    }
  }

  test("a partition-covering delete drops files whole: no Spark job, no sidecar") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = scratch("whole_file")
    val mt = new ManifestTable(spark, root, partitionCol = Some("a"))
    mt.write(kernelBase, "overwrite")
    val refRoot = scratch("whole_file_ref")
    val ref = new ManifestTable(spark, refRoot, partitionCol = Some("a"))
    ref.write(kernelBase, "overwrite")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val v = try {
      val v = mt.delete(col("a") === "a:1 z")
      org.apache.spark.graft.ListenerDrain(sc)
      v
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0, "a whole-file delete must run no Spark job")
    assert(v === 1)
    assert(sidecarCount(root) === 0)
    ref.delete(col("a") === "a:1 z" && dvForcing())
    assert(sidecarCount(refRoot) === 1)
    assert(rowSet(mt.readWithRowId()) === rowSet(ref.readWithRowId()))
    assert(mt.read().count() === 72L)
    // a non-deterministic predicate on the partition column marks rows
    mt.delete(col("a") === "y" && rand(7) < 0.5)
    assert(sidecarCount(root) === 1)
    val ys = mt.read().filter(col("a") === "y").count()
    assert(ys > 0 && ys < 24)
  }
}
