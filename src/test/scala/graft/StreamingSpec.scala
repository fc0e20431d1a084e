package graft

import graft.lake.ManifestTable
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T1–T6: file-source streams driven deterministically with
  * Trigger.AvailableNow over staged parquet drops; stream results must
  * equal their batch equivalents.
  */
class StreamingSpec extends SparkTestBase {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_stream_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    new java.io.File(dir).mkdirs()
    dir
  }

  /** events staged as two file drops; ts cast to TIMESTAMP (LTZ) since
    * watermarks require it (UTC session: same instant as the NTZ form).
    */
  private def events: DataFrame =
    Q.t(spark, sf, "events")
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))

  private def stageEvents(dir: String): DataFrame = {
    val ev = events
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$dir/drop1")
    ev.filter(col("event_id") % 2 === 1).write.parquet(s"$dir/drop2")
    val fs = new java.io.File(dir)
    // flatten drops into the inbox as arriving files
    Seq("drop1", "drop2").foreach { d =>
      new java.io.File(fs, d).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(fs, s"$d-$i.parquet").toPath)
        }
      java.nio.file.Files.walk(new java.io.File(fs, d).toPath).sorted(
        java.util.Comparator.reverseOrder()).forEach(p => p.toFile.delete())
    }
    ev
  }

  test("T1: file-source ingest lands every staged row exactly once") {
    val inbox = scratch("t1_inbox")
    val ev = stageEvents(inbox)
    val sink = scratch("t1_sink")
    val q = Streams.fileIngest(spark, ev.schema, inbox,
      s"$sink/out", s"$sink/ckpt")
    q.awaitTermination()
    val landed = spark.read.parquet(s"$sink/out")
    assert(landed.count() === ev.count())
    // restarting the stream with the same checkpoint re-ingests nothing
    val q2 = Streams.fileIngest(spark, ev.schema, inbox,
      s"$sink/out", s"$sink/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$sink/out").count() === ev.count())
  }

  test("T7: stream-stream interval join equals the batch interval join") {
    val inbox = scratch("t7_inbox")
    val ev = stageEvents(inbox)
    def sides(df: DataFrame): (DataFrame, DataFrame) = (
      df.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id")),
      df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"), col("value")))
    val stream = spark.readStream.schema(ev.schema).parquet(inbox)
    val (vs, ps) = sides(stream)
    val joined = Streams.intervalJoin(vs, ps, "user_id",
      "view_ts", "buy_ts", "1 hour", "30 MINUTES")
      .select(col("view_id"), col("buy_id"), col("value"))
    val q = joined.writeStream.format("memory").queryName("t7_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t7_out")
    val (vb, pb) = sides(ev)
    val batch = vb.alias("l").join(pb.alias("r"),
      col("l.user_id") === col("r.user_id") &&
        col("buy_ts") >= col("view_ts") &&
        col("buy_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("buy_id"), col("value"))
    assert(batch.count() > 0, "fixture yields no attributed purchases")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("T2: streamed tumbling agg equals the batch window agg") {
    val inbox = scratch("t2_inbox")
    val ev = stageEvents(inbox)
    val stream = spark.readStream.schema(ev.schema).parquet(inbox)
    val agg = Streams.tumblingAgg(stream, "ts", "1 hour", "1 hour")
    val q = agg.writeStream.format("memory").queryName("t2_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t2_out")
      .select("window_start", "n")
    val batch = ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("T3: streamed session windows equal batch session windows") {
    val inbox = scratch("t3_inbox")
    val ev = stageEvents(inbox)
    val stream = spark.readStream.schema(ev.schema).parquet(inbox)
    val agg = Streams.sessionAgg(stream, "ts", "1 hour", "30 minutes", "user_id")
    val q = agg.writeStream.format("memory").queryName("t3_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t3_out")
    val batch = Streams.sessionAgg(ev, "ts", "1 hour", "30 minutes", "user_id")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("T4: replayed event ids are deduplicated within the watermark") {
    val inbox = scratch("t4_inbox")
    val ev = events.limit(200)
    // stage the same 200 events twice (a replay) plus 100 fresh ones
    ev.write.parquet(s"$inbox/a")
    val replayAndFresh = ev.unionByName(events
      .filter(col("event_id") >= 200 && col("event_id") < 300))
    replayAndFresh.write.parquet(s"$inbox/b")
    val stream = spark.readStream.schema(ev.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    val deduped = Streams.dedupStream(stream, "ts", "1 day", "event_id")
    val q = deduped.writeStream.format("memory").queryName("t4_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t4_out").select("event_id").distinct().count() === 300)
    assert(spark.table("t4_out").count() === 300)
  }

  test("T5: foreachBatch MERGE sink applies streamed CDC into the table") {
    val inbox = scratch("t5_inbox")
    val orders = Q.t(spark, sf, "orders")
    val mt = new ManifestTable(spark, scratch("t5_table"))
    mt.write(orders, "overwrite")
    // CDC drop: corrections for keys %97, as in l1_merge
    val feed = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    feed.write.parquet(s"$inbox/feed1")
    val stream = spark.readStream.schema(orders.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    val q = Streams.mergeSink(stream, mt, Seq("o_orderkey"),
      scratch("t5_ckpt")).start()
    q.awaitTermination()
    val expected = graft.lake.Merge.upsert(orders, feed, Seq("o_orderkey"))
    assert(mt.read().exceptAll(expected).count() === 0)
    assert(expected.exceptAll(mt.read()).count() === 0)
  }

  test("T5c: eraseSink applies streamed deletion requests as DV commits") {
    val inbox = scratch("t5c_inbox")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val mt = new ManifestTable(spark, scratch("t5c_table"),
      bloomCol = Some("o_orderkey"))
    mt.write(orders.repartition(4), "overwrite")
    val v0Files = mt.filesOf(0).toSet
    // two request drops: erase keys %61 then keys %73
    val req1 = orders.filter(col("o_orderkey") % 61 === 0)
      .select(col("o_orderkey").as("erase_key"))
    val req2 = orders.filter(col("o_orderkey") % 73 === 0)
      .select(col("o_orderkey").as("erase_key"))
    req1.write.parquet(s"$inbox/req1")
    val ckpt = scratch("t5c_ckpt")
    val stream1 = spark.readStream.schema(req1.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    Streams.eraseSink(stream1, mt, "erase_key", "o_orderkey", ckpt)
      .start().awaitTermination()
    val after1 = mt.read()
    assert(after1.filter(col("o_orderkey") % 61 === 0).count() === 0)
    // merge-on-read: no data file rewritten by the erasure
    assert(mt.filesOf(mt.latestVersion.get).toSet === v0Files)
    // second drop + restart from the SAME checkpoint: only the new
    // batch applies (exactly-once), both erasures now in effect
    req2.write.parquet(s"$inbox/req2")
    val stream2 = spark.readStream.schema(req1.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    Streams.eraseSink(stream2, mt, "erase_key", "o_orderkey", ckpt)
      .start().awaitTermination()
    val expected = orders.filter(
      col("o_orderkey") % 61 =!= 0 && col("o_orderkey") % 73 =!= 0)
    assert(mt.read().count() === expected.count())
    assert(mt.read().exceptAll(expected).count() === 0)
    // replay with the same checkpoint and no new files: no new version
    val vBefore = mt.latestVersion.get
    val stream3 = spark.readStream.schema(req1.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    Streams.eraseSink(stream3, mt, "erase_key", "o_orderkey", ckpt)
      .start().awaitTermination()
    assert(mt.latestVersion.get === vBefore)
  }

  test("T5d: pqIndexSink keeps the persisted ANN index caught up per micro-batch") {
    import graft.operators.PqIndex
    import graft.queries.Similarity
    val inbox = scratch("t5d_inbox")
    val srcRoot = scratch("t5d_src")
    val idxRoot = scratch("t5d_idx")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    PqIndex.build(spark, emb, idxRoot, lists = 16, m = 16, k = 32,
      sourceVersion = 0)
    val centsBefore = PqIndex.load(spark, idxRoot).get.cents
    // batch 1: clones of vec 3 and 7 under new ids (exact duplicates —
    // must surface as sim≈1.0 top neighbors once indexed)
    val batch1 = emb.filter(col("vec_id").isin(3, 7))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    batch1.write.parquet(s"$inbox/b1")
    val ckpt = scratch("t5d_ckpt")
    def stream = spark.readStream.schema(batch1.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    Streams.pqIndexSink(stream, source, Seq("vec_id"), idxRoot,
      "vec_id", "v", ckpt).start().awaitTermination()
    val idx1 = PqIndex.load(spark, idxRoot).get
    assert(idx1.sourceVersion === source.latestVersion.get)
    assert(idx1.cents === centsBefore, "streamed refresh must not retrain")
    val probes = emb.filter(col("vec_id").isin(3, 7))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val top1 = idx1.query(source.read(), probes).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(3L) === 1000003L && top1(7L) === 1000007L, s"$top1")
    // batch 2 via the SAME checkpoint: exactly-once, only the delta
    val batch2 = emb.filter(col("vec_id") === 11)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    batch2.write.parquet(s"$inbox/b2")
    val n1 = idx1.table.read().count()
    Streams.pqIndexSink(stream, source, Seq("vec_id"), idxRoot,
      "vec_id", "v", ckpt).start().awaitTermination()
    val idx2 = PqIndex.load(spark, idxRoot).get
    assert(idx2.table.read().count() === n1 + 1, "only batch 2's row appended")
  }

  test("T5e: nswIndexSink splices each micro-batch into the graph index's shards") {
    import graft.operators.NswIndex
    import graft.queries.Similarity
    val inbox = scratch("t5e_inbox")
    val srcRoot = scratch("t5e_src")
    val idxRoot = scratch("t5e_idx")
    val emb = Similarity.unitVectors(spark, sf)
    val source = new ManifestTable(spark, srcRoot)
    source.write(emb, "overwrite") // v0
    NswIndex.build(spark, emb, idxRoot, sourceVersion = 0)
    // batch: clones of vec 3 and 7 under new ids (exact duplicates —
    // must surface as sim≈1.0 top neighbors once spliced in)
    val batch1 = emb.filter(col("vec_id").isin(3, 7))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    batch1.write.parquet(s"$inbox/b1")
    val ckpt = scratch("t5e_ckpt")
    def stream = spark.readStream.schema(batch1.schema)
      .option("recursiveFileLookup", true).parquet(inbox)
    Streams.nswIndexSink(stream, source, Seq("vec_id"), idxRoot,
      "vec_id", "v", ckpt).start().awaitTermination()
    val idx1 = NswIndex.load(spark, idxRoot).get
    assert(idx1.sourceVersion === source.latestVersion.get)
    val probes = emb.filter(col("vec_id").isin(3, 7))
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val top1 = idx1.query(probes).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(3L) === 1000003L && top1(7L) === 1000007L, s"$top1")
    // batch 2 via the SAME checkpoint: exactly-once, only the delta
    val batch2 = emb.filter(col("vec_id") === 11)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    batch2.write.parquet(s"$inbox/b2")
    Streams.nswIndexSink(stream, source, Seq("vec_id"), idxRoot,
      "vec_id", "v", ckpt).start().awaitTermination()
    val idx2 = NswIndex.load(spark, idxRoot).get
    assert(idx2.table.read().select("vec_id").distinct().count()
      === emb.count() + 3, "exactly the three streamed ids indexed")
  }

  test("T10: graft-table stream source tails a manifest table incrementally") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t10_table")
    val outDir = scratch("t10_out")
    val ckpt = scratch("t10_ckpt")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val mt = new ManifestTable(spark, root)
    mt.write(orders.filter(col("o_orderkey") % 3 === 0), "overwrite") // v0

    def drain(): Unit = spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .load()
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

    // batch 1: the initial snapshot
    drain()
    val snap = spark.read.parquet(outDir)
    assert(snap.count() === orders.filter(col("o_orderkey") % 3 === 0).count())
    // two more appends, one drain: only the delta flows (exactly-once
    // across restarts from the same checkpoint)
    mt.write(orders.filter(col("o_orderkey") % 3 === 1), "append") // v1
    mt.write(orders.filter(col("o_orderkey") % 3 === 2), "append") // v2
    drain()
    val all = spark.read.parquet(outDir)
    assert(all.count() === orders.count(), "appends must flow exactly once")
    assert(all.exceptAll(orders).count() === 0)
    // no new commits → a drain emits nothing new
    drain()
    assert(spark.read.parquet(outDir).count() === orders.count())
  }

  test("T11: enrichSink sees dimension updates committed between batches") {
    import spark.implicits._
    val dimRoot = scratch("t11_dim")
    val outRoot = scratch("t11_out")
    val inbox = scratch("t11_inbox")
    val ckpt = scratch("t11_ckpt")
    val dim = new ManifestTable(spark, dimRoot)
    dim.write(Seq((1L, "bronze"), (2L, "silver")).toDF("tier_id", "tier_name"),
      "overwrite")
    val out = new ManifestTable(spark, outRoot)

    def drainOne(file: String, rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("event_id", "tier_id").write.mode("append").parquet(inbox)
      val stream = spark.readStream
        .schema("event_id LONG, tier_id LONG")
        .option("maxFilesPerTrigger", 1000)
        .parquet(inbox)
      graft.streaming.Streams.enrichSink(stream, dim, Seq("tier_id"), out, ckpt)
        .start().awaitTermination()
    }

    drainOne("b1", Seq((100L, 1L), (101L, 2L), (102L, 9L))) // 9 = no dim row
    val first = out.read()
    assert(first.count() === 3)
    assert(first.filter(col("event_id") === 100L).head().getString(2) === "bronze")
    assert(first.filter(col("event_id") === 102L).head().isNullAt(2),
      "unmatched fact flows with NULL dim")

    // dimension changes BETWEEN batches: tier 1 renamed, tier 9 appears
    dim.merge(Seq((1L, "BRONZE+"), (9L, "gold")).toDF("tier_id", "tier_name"),
      Seq("tier_id"))
    drainOne("b2", Seq((200L, 1L), (201L, 9L)))
    val second = out.read().filter(col("event_id") >= 200L)
    assert(second.filter(col("event_id") === 200L).head().getString(2) === "BRONZE+")
    assert(second.filter(col("event_id") === 201L).head().getString(2) === "gold")
  }

  test("T10: maxVersionsPerTrigger bounds each micro-batch; batch read time-travels") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t10c_table")
    val mt = new ManifestTable(spark, root)
    import spark.implicits._
    (0 to 4).foreach { v =>
      mt.write(Seq((v.toLong, s"v$v")).toDF("id", "tag"),
        if (v == 0) "overwrite" else "append") // v0..v4
    }

    // rate-limited drain: 5 versions at 2/trigger → ≥3 micro-batches,
    // all rows exactly once
    val outDir = scratch("t10c_out")
    val ckpt = scratch("t10c_ckpt")
    var batches = 0
    val q = spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("maxVersionsPerTrigger", 2)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        df.write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    assert(spark.read.parquet(outDir).count() === 5)

    // batch read through the same format string
    val latest = spark.read
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root).load()
    assert(latest.count() === 5)
    val asOf = spark.read
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root).option("versionAsOf", 1).load()
    assert(asOf.count() === 2)
    assert(asOf.columns.sorted.toSeq === Seq("id", "tag"))
  }

  test("T10: non-append commits fail the stream unless ignoreChanges") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t10b_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    def drain(ckpt: String, out: String, ignoreChanges: Boolean): Unit = {
      val r = spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
      (if (ignoreChanges) r.option("ignoreChanges", "true") else r)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    val ckptA = scratch("t10b_ckpt_a")
    val outA = scratch("t10b_out_a")
    drain(ckptA, outA, ignoreChanges = false) // snapshot ok
    mt.delete(col("o_orderkey") % 7 === 0) // v1: DV re-point = non-append
    val ex = intercept[Exception] { drain(ckptA, outA, ignoreChanges = false) }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("non-append change"), msgs.take(400))
    // with ignoreChanges the stream advances (nothing new to emit for
    // a pure DV delete) and a subsequent append flows
    drain(ckptA, outA, ignoreChanges = true)
    mt.write(orders.limit(5).withColumn("o_orderkey",
      col("o_orderkey") + 90000000L), "append") // v2
    drain(ckptA, outA, ignoreChanges = true)
    val out = spark.read.parquet(outA)
    assert(out.filter(col("o_orderkey") >= 90000000L).count() === 5)
  }

  test("T5b: ivmSink keeps the gold view equal to a recompute under streamed CDC") {
    val inbox = scratch("t5b_inbox")
    // decimal measure → incremental maintenance is bit-exact
    val base = Q.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(graft.Q.Dec).as("price"))
    val mt = new ManifestTable(spark, scratch("t5b_table"))
    mt.write(base, "overwrite")
    def recompute(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderstatus"))
        .agg(sum(col("price")).as("price"), count(lit(1)).as("n"))
    val view = new ManifestTable(spark, scratch("t5b_view"))
    graft.lake.IncrementalView.materialize(mt, view, recompute)
    // two CDC drops: price bumps, then group-moving status updates
    base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("price",
        (col("price") + lit(BigDecimal(7))).cast(graft.Q.Dec))
      .write.parquet(s"$inbox/feed1")
    base.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderstatus", lit("Z"))
      .write.parquet(s"$inbox/feed2")
    val stream = spark.readStream.schema(mt.read().schema)
      .option("recursiveFileLookup", true)
      .option("maxFilesPerTrigger", 1).parquet(inbox)
    val q = Streams.ivmSink(stream, mt, Seq("o_orderkey"),
      view, Seq("o_orderstatus"), Seq("price"), scratch("t5b_ckpt")).start()
    q.awaitTermination()
    val expected = recompute(mt.read())
    assert(view.read().exceptAll(expected).count() === 0)
    assert(expected.exceptAll(view.read()).count() === 0)
    assert(view.read().filter(col("o_orderstatus") === "Z").count() === 1)

    // crash-replay regression: a merge that committed WITHOUT its view
    // refresh (job died in between) must be caught up by the next
    // refresh — the as-of tag, not the replayed (no-op) merge, drives
    // the range. Then an already-current view refreshes to a no-op.
    val crashFeed = base.filter(col("o_orderkey") % 113 === 0)
      .withColumn("price", (col("price") + lit(BigDecimal(3))).cast(graft.Q.Dec))
    mt.merge(crashFeed, Seq("o_orderkey")) // view NOT refreshed: "crash"
    assert(view.read().exceptAll(recompute(mt.read())).count() > 0)
    graft.lake.IncrementalView.refreshToLatest(
      mt, view, Seq("o_orderkey"), Seq("o_orderstatus"), Seq("price"))
    val expected2 = recompute(mt.read())
    assert(view.read().exceptAll(expected2).count() === 0)
    assert(expected2.exceptAll(view.read()).count() === 0)
    val vStable = view.latestVersion.get
    graft.lake.IncrementalView.refreshToLatest(
      mt, view, Seq("o_orderkey"), Seq("o_orderstatus"), Seq("price"))
    assert(view.latestVersion.get === vStable, "current view must not re-commit")
  }

  test("T6: late rows beyond the watermark are dropped and observable") {
    import org.apache.spark.sql.streaming.Trigger
    val inbox = scratch("t6_inbox")
    val ev = events
    // drop 1: the bulk of events (advances the watermark to maxTs - wm)
    ev.filter(col("event_id") < 900).write.parquet(s"$inbox/bulk.parquet")
    val stream = spark.readStream.schema(ev.schema)
      .option("recursiveFileLookup", true)
      .option("maxFilesPerTrigger", 1).parquet(inbox)
    val agg = Streams.tumblingAggObserved(stream, "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("t6_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // drop 2: one very late row (hours before the advanced watermark)
    ev.filter(col("event_id") === 950)
      .withColumn("ts", col("ts") - expr("INTERVAL 240 HOUR"))
      .write.parquet(s"$inbox/late.parquet")
    val q2 = agg.writeStream.format("memory").queryName("t6_out2")
      .outputMode("append")
      .option("checkpointLocation", scratch("t6_ckpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // the late row influences no emitted window: totals equal the
    // on-time batch aggregation of the same windows
    val emitted = spark.table("t6_out2").agg(sum("n")).head().getLong(0)
    assert(emitted <= ev.count())
  }

  test("T12: streaming heavy hitters accumulate across micro-batches, exact in-capacity") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val inbox = scratch("t12_inbox")
    // two files → two micro-batches with maxFilesPerTrigger=1
    val batch1 = Seq.fill(30)("hot") ++ (1 to 10).map(i => s"tail$i")
    val batch2 = Seq.fill(25)("hot") ++ Seq.fill(15)("warm") ++
      (11 to 20).map(i => s"tail$i")
    batch1.toDF("item").coalesce(1).write.parquet(s"$inbox/a")
    batch2.toDF("item").coalesce(1).write.parquet(s"$inbox/b")
    val stream = spark.readStream.schema("item STRING")
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", true).parquet(inbox)
    val out = graft.streaming.Stateful.streamingTopK(
      spark, stream.as[String], k = 16, shards = 4)
      .toDF("shard", "item", "est")
    val q = out.writeStream.format("memory").queryName("t12_out")
      .outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the last emission per (shard, item) is the final state; with
    // ≤16 distinct items per shard the MG counters are EXACT
    val finalEst = spark.table("t12_out")
      .groupBy("shard", "item").agg(max("est").as("est"))
    val got = finalEst.select("item", "est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("hot") === 55L)
    assert(got("warm") === 15L)
    assert((1 to 20).forall(i => got(s"tail$i") === 1L))
    // items shard by hash: each item reported from exactly one shard
    val perItemShards = spark.table("t12_out")
      .select("item", "shard").distinct()
      .groupBy("item").count().filter(col("count") > 1).count()
    assert(perItemShards === 0)
  }

  test("T12b: graft-table stream sink appends exactly once across replays") {
    import spark.implicits._
    import graft.streaming.{GraftTableSink, GraftTableSourceProvider}
    val root = scratch("t12b_table")
    val inbox = scratch("t12b_inbox")
    val ckpt = scratch("t12b_ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(inbox)
    def drain(): Unit = spark.readStream
      .schema("id LONG, v STRING").parquet(inbox)
      .writeStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("checkpointLocation", ckpt)
      .partitionBy("v")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    val mt = ManifestTable.forRoot(spark, root)
    assert(mt.read().count() === 2)
    // the writer's partitionBy configured the FRESH table's layout
    val detail = mt.describeDetail().first()
    assert(detail.getSeq[String](
      detail.fieldIndex("partition_columns")) === Seq("v"))
    // restart from the same checkpoint with no new data: no duplicates
    drain()
    assert(mt.read().count() === 2)
    // new data flows incrementally (and reads back by value)
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(inbox)
    drain()
    assert(mt.read().count() === 3)
    assert(mt.read().filter(col("id") === 3L).select("v")
      .as[String].head() === "c")
    // outside a streaming query, addBatch must demand an explicit txn
    // id — a silent shared default would let writers skip each other
    val anon = new GraftTableSink(spark, root, Nil)
    val eId = intercept[IllegalStateException] {
      anon.addBatch(50L, Seq((8L, "y")).toDF("id", "v"))
    }
    assert(messageChain(eId).contains("txnAppId"))
    // replay protection, both layers, via a direct sink handle: the
    // same (appId, batchId) must commit once even when the sidecar
    // is gone (the commit-atomic file-tag layer)
    val sink = new GraftTableSink(spark, root, Nil, Some("q"))
    val batch = Seq((9L, "z")).toDF("id", "v")
    val v0 = mt.latestVersion.get
    sink.addBatch(100L, batch)
    assert(mt.read().count() === 4)
    sink.addBatch(100L, batch) // sidecar layer skips
    val txn = new org.apache.hadoop.fs.Path(root, "_graft_log/stream-txn-q")
    txn.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(txn, false) // forget the sidecar
    sink.addBatch(100L, batch) // file-tag layer still skips
    assert(mt.read().count() === 4)
    assert(mt.latestVersion.get === v0 + 1,
      "exactly one commit for the three addBatch(100) calls")
    // a conflicting partitionBy on the EXISTING table refuses loudly
    val bad = new GraftTableSink(spark, root, Seq("id"), Some("q2"))
    val e = intercept[IllegalArgumentException] {
      bad.addBatch(101L, batch)
    }
    assert(messageChain(e).contains("partitions on"))
    // prefix-overlapping app ids must not see each other's batches:
    // appId 'q' batch 1 vs appId 'q-1' batch 5 — without the id length
    // in the tag, 'txn-q-1-' would prefix-match 'txn-q-1-5-…' files
    // and silently skip a live batch
    val sA = new GraftTableSink(spark, root, Nil, Some("q-1"))
    sA.addBatch(5L, Seq((20L, "w")).toDF("id", "v"))
    assert(mt.read().count() === 5)
    val sB = new GraftTableSink(spark, root, Nil, Some("q"))
    sB.addBatch(1L, Seq((21L, "x")).toDF("id", "v"))
    assert(mt.read().count() === 6, "batch must commit, not replay-skip")
    // a malformed txnAppId refuses at construction, by its own name
    val eBad = intercept[IllegalArgumentException] {
      new GraftTableSink(spark, root, Nil, Some("my.app"))
    }
    assert(messageChain(eBad).contains("txnAppId"))
    // stranded atomic-rename temp files are vacuumed: visible in
    // dryRun output, gone after the real run
    val strand = new org.apache.hadoop.fs.Path(root, "_graft_log/.tmp-txn-dead")
    val fsx = strand.getFileSystem(spark.sessionState.newHadoopConf())
    fsx.create(strand, true).close()
    val wouldDelete = mt.vacuum(retain = 100, dryRun = true, minAgeMs = 0)
    assert(wouldDelete.exists(_.endsWith(".tmp-txn-dead")))
    assert(fsx.exists(strand), "dryRun must not delete")
    mt.vacuum(retain = 100, minAgeMs = 0)
    assert(!fsx.exists(strand))
  }

  test("T13: change-feed stream equals batch changesBetween replay across merge+delete") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t13_table")
    val outDir = scratch("t13_out")
    val ckpt = scratch("t13_ckpt")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val base = orders.filter(col("o_orderkey") % 3 === 0)
    val mt = new ManifestTable(spark, root)
    mt.write(base, "overwrite") // v0

    def drain(): Unit = spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .option("keys", "o_orderkey")
      .load()
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

    // batch 1: the v0 snapshot arrives as inserts
    drain()
    val snap = spark.read.parquet(outDir)
    assert(snap.count() === base.count())
    assert(snap.filter(col("_change_type") =!= "insert").count() === 0)
    assert(snap.filter(col("_commit_version") =!= 0L).count() === 0)

    // v1: MERGE (updates + fresh inserts) — would KILL an append-only
    // reader; the change feed must keep flowing. v2: DV delete.
    val updates = base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      .unionByName(orders.filter(col("o_orderkey") % 503 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
    mt.merge(updates, Seq("o_orderkey")) // v1
    mt.delete(col("o_orderkey") % 15 === 0) // v2 (DV marks)
    drain()

    // streamed feed ≡ batch changesBetween replay, version by version
    val streamed = spark.read.parquet(outDir).drop("_commit_timestamp")
    val replay = (0 to 2).map { v =>
      (if (v == 0) mt.read(Some(0)).withColumn("_change_type", lit("insert"))
       else mt.changesBetween(v - 1, v, Seq("o_orderkey")))
        .withColumn("_commit_version", lit(v.toLong))
    }.reduce(_.unionByName(_)).select(streamed.columns.map(col): _*)
    assert(streamed.exceptAll(replay).count() === 0)
    assert(replay.exceptAll(streamed).count() === 0)
    assert(streamed.count() === replay.count())
    // the O(changed-files) per-commit diff equals the snapshot-pair
    // diff for every version of the sequence
    (1 to 2).foreach { v =>
      val fast = mt.changesAt(v, Seq("o_orderkey"))
      val full = mt.changesBetween(v - 1, v, Seq("o_orderkey"))
      assert(fast.exceptAll(full).count() === 0)
      assert(full.exceptAll(fast).count() === 0)
    }
    // sanity on content: the merge produced paired update rows and the
    // delete produced delete rows
    val types = streamed.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types.getOrElse("update_preimage", 0L) ===
      types.getOrElse("update_postimage", 0L))
    assert(types.getOrElse("update_preimage", 0L) > 0L)
    assert(types.getOrElse("delete", 0L) > 0L)

    // restart from the same checkpoint: exactly-once, nothing new
    drain()
    assert(spark.read.parquet(outDir).count() === streamed.count())

    // startingVersion=latest: a fresh subscription skips history and
    // sees only commits made after it started
    val out2 = scratch("t13_out2")
    val ckpt2 = scratch("t13_ckpt2")
    def drainLatest(): Unit = spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .option("keys", "o_orderkey")
      .option("startingVersion", "latest")
      .load()
      .writeStream
      .format("parquet")
      .option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    // pin the schema: the first drain may land zero files (nothing to
    // infer from)
    val cdfSchema = graft.streaming.GraftTableSource.cdfSchema(
      mt.read().schema)
    drainLatest()
    assert(spark.read.schema(cdfSchema).parquet(out2).count() === 0,
      "latest skips history")
    mt.delete(col("o_orderkey") % 16 === 0) // v3
    drainLatest()
    val late = spark.read.schema(cdfSchema).parquet(out2)
      .drop("_commit_timestamp")
    val v3 = mt.changesAt(3, Seq("o_orderkey"))
      .withColumn("_commit_version", lit(3L))
      .select(late.columns.map(col): _*)
    assert(late.exceptAll(v3).count() === 0)
    assert(v3.exceptAll(late).count() === 0)

    // T16: a KEYLESS change feed over this never-CDC table now replays
    // via row tracking (the pre-row-id refusal case, flipped): every
    // in-place commit diffs by the stable `_row_id`, so the keyless
    // stream equals the keyed replay version for version — merge
    // rewrites and DV deletes included
    val outK = scratch("t13_outk")
    val ckptK = scratch("t13_ckptk")
    spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .format("parquet")
      .option("path", outK)
      .option("checkpointLocation", ckptK)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val keyless = spark.read.parquet(outK).drop("_commit_timestamp")
    val replayK = (0 to 3).map { v =>
      (if (v == 0) mt.read(Some(0)).withColumn("_change_type", lit("insert"))
       else mt.changesAt(v, Seq("o_orderkey")))
        .withColumn("_commit_version", lit(v.toLong))
    }.reduce(_.unionByName(_)).select(keyless.columns.map(col): _*)
    assert(keyless.exceptAll(replayK).count() === 0)
    assert(replayK.exceptAll(keyless).count() === 0)

    // a numeric startingVersion beyond the next commit refuses up
    // front — silently committing the offset at the current latest
    // would later emit the very versions the user asked to skip
    val out3 = scratch("t13_out3")
    val ckpt3 = scratch("t13_ckpt3")
    val beyond = intercept[Exception] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", "o_orderkey")
        .option("startingVersion", "99")
        .load()
        .writeStream
        .format("parquet")
        .option("path", out3)
        .option("checkpointLocation", ckpt3)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(messageChain(beyond).contains("beyond the table's next commit"))
  }

  test("L35: batch readChangeFeed + graft_table_changes TVF equal changesBetween replay") {
    import graft.streaming.{GraftTableSource, GraftTableSourceProvider}
    val root = scratch("l35_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val base = orders.filter(col("o_orderkey") % 3 === 0)
    val mt = new ManifestTable(spark, root)
    mt.write(base, "overwrite") // v0
    mt.merge(base.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey")) // v1
    mt.delete(col("o_orderkey") % 15 === 0) // v2 (DV marks)

    def reader(opts: (String, String)*) = {
      val r = spark.read
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", "o_orderkey")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }

    // default range [0, latest]: v0 snapshot as inserts + each commit's
    // keyed diff, version-stamped — exactly the changesBetween replay
    val full = reader().drop("_commit_timestamp")
    val replay = (0 to 2).map { v =>
      (if (v == 0) mt.read(Some(0)).withColumn("_change_type", lit("insert"))
       else mt.changesBetween(v - 1, v, Seq("o_orderkey")))
        .withColumn("_commit_version", lit(v.toLong))
    }.reduce(_.unionByName(_)).select(full.columns.map(col): _*)
    assert(full.exceptAll(replay).count() === 0)
    assert(replay.exceptAll(full).count() === 0)

    // mid-history sub-range [1, 2] — no snapshot leg
    val sub = reader("startingVersion" -> "1", "endingVersion" -> "2")
      .drop("_commit_timestamp")
    val subReplay = (1 to 2).map(v =>
      mt.changesBetween(v - 1, v, Seq("o_orderkey"))
        .withColumn("_commit_version", lit(v.toLong)))
      .reduce(_.unionByName(_)).select(sub.columns.map(col): _*)
    assert(sub.exceptAll(subReplay).count() === 0)
    assert(subReplay.exceptAll(sub).count() === 0)
    assert(sub.filter(col("_commit_version") === 0L).count() === 0)

    // the SQL TVF is the same plan: needs an extensions session
    val s2 = extensionsSession("graft-l35-tvf")
    val viaTvf = s2.sql(
      s"""SELECT * FROM graft_table_changes('$root', 1, 2, 'o_orderkey')""")
      .drop("_commit_timestamp")
    assert(viaTvf.exceptAll(sub).count() === 0)
    assert(sub.exceptAll(viaTvf).count() === 0)

    // helper-level equality too (what both surfaces call)
    val helper = GraftTableSource.batchChanges(spark, root,
      Seq("o_orderkey"), 1, 2).drop("_commit_timestamp")
    assert(helper.exceptAll(subReplay).count() === 0)

    // refusals: out-of-range end (Delta's contract — never promise
    // versions that do not exist), inverted range, missing keys,
    // combining CDF with time travel, non-literal TVF args
    val beyond = intercept[IllegalArgumentException] {
      reader("endingVersion" -> "99").collect()
    }
    assert(messageChain(beyond).contains("latest version"))
    val inverted = intercept[IllegalArgumentException] {
      reader("startingVersion" -> "2", "endingVersion" -> "1").collect()
    }
    assert(messageChain(inverted).contains("not a valid committed range"))
    // T16: the keyless batch read replays via row tracking even
    // though this table never enabled CDC — equal to the keyed read
    val noKeys = spark.read
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root).option("readChangeFeed", "true").load()
      .drop("_commit_timestamp")
    assert(noKeys.exceptAll(full.select(noKeys.columns.map(col): _*))
      .count() === 0)
    assert(full.select(noKeys.columns.map(col): _*).exceptAll(noKeys)
      .count() === 0)
    val mixed = intercept[IllegalArgumentException] {
      reader("versionAsOf" -> "1").collect()
    }
    assert(messageChain(mixed).contains("time travel"))
    val nonLiteral = intercept[Exception] {
      s2.sql(s"SELECT * FROM graft_table_changes('$root', 1, 2, substr(rand()::string, 1, 2))")
        .collect()
    }
    assert(messageChain(nonLiteral).contains("literal"))
    // a Long version literal beyond Int range must refuse, not wrap
    // into a valid wrong range (4294967296.toInt == 0)
    val overflow = intercept[Exception] {
      s2.sql(s"SELECT * FROM graft_table_changes('$root', 0, 4294967296, 'o_orderkey')")
        .collect()
    }
    assert(messageChain(overflow).contains("not a valid version"))
    // the tagAsOf pin is time travel too: combining refuses like the
    // other two pins
    val tagMix = intercept[IllegalArgumentException] {
      reader("tagAsOf" -> "sometag").collect()
    }
    assert(messageChain(tagMix).contains("time travel"))
  }

  test("T14: startingTimestamp anchors the change feed at the first commit at or after it") {
    import graft.streaming.{GraftTableSource, GraftTableSourceProvider}
    val root = scratch("t14_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val base = orders.filter(col("o_orderkey") % 5 === 0)
    val mt = new ManifestTable(spark, root)
    mt.write(base, "overwrite") // v0
    // commit times come from manifest mtimes — keep the two commits a
    // full second apart so a midpoint timestamp exists at any FS
    // granularity
    Thread.sleep(1200)
    mt.delete(col("o_orderkey") % 20 === 0) // v1
    val mid = (mt.commitTimeOf(0) + mt.commitTimeOf(1)) / 2
    assert(mt.commitTimeOf(0) < mid && mid < mt.commitTimeOf(1))

    val cdfSchema = GraftTableSource.cdfSchema(mt.read().schema)
    def drain(out: String, ckpt: String, opts: (String, String)*): Unit = {
      val r = spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", "o_orderkey")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }

    // a timestamp strictly between the commits: v0's snapshot must be
    // skipped, v1's diff must flow
    val out1 = scratch("t14_out1"); val ck1 = scratch("t14_ckpt1")
    drain(out1, ck1, "startingTimestamp" -> mid.toString)
    val got = spark.read.schema(cdfSchema).parquet(out1)
      .drop("_commit_timestamp")
    assert(got.filter(col("_commit_version") === 0L).count() === 0,
      "history before the timestamp must not replay")
    val v1 = mt.changesAt(1, Seq("o_orderkey"))
      .withColumn("_commit_version", lit(1L))
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(v1).count() === 0)
    assert(v1.exceptAll(got).count() === 0)

    // a timestamp after every commit: nothing flows until a NEW commit
    val future = mt.commitTimeOf(1) + 3600L * 1000
    val out2 = scratch("t14_out2"); val ck2 = scratch("t14_ckpt2")
    drain(out2, ck2, "startingTimestamp" -> future.toString)
    assert(spark.read.schema(cdfSchema).parquet(out2).count() === 0)
    mt.delete(col("o_orderkey") % 35 === 0) // v2
    drain(out2, ck2, "startingTimestamp" -> future.toString)
    val late = spark.read.schema(cdfSchema).parquet(out2)
      .drop("_commit_timestamp")
    val v2 = mt.changesAt(2, Seq("o_orderkey"))
      .withColumn("_commit_version", lit(2L))
      .select(late.columns.map(col): _*)
    assert(late.exceptAll(v2).count() === 0)
    assert(v2.exceptAll(late).count() === 0)

    // the two anchors cannot combine
    val both = intercept[IllegalArgumentException] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", "o_orderkey")
        .option("startingVersion", "1")
        .option("startingTimestamp", mid.toString)
        .load()
    }
    assert(messageChain(both).contains("cannot combine"))
    // malformed anchors fail at load with the option named
    val badTs = intercept[IllegalArgumentException] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("startingTimestamp", "")
        .load()
    }
    assert(messageChain(badTs).contains("startingTimestamp"))
  }

  test("T14c: startingTag anchors streams at a named ref; endingTimestamp bounds the batch feed") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t14c_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val mt = new ManifestTable(spark, root)
    mt.write(orders.filter(col("o_orderkey") % 2 === 0), "overwrite") // v0
    mt.write(orders.filter(col("o_orderkey") % 2 === 1).limit(80),
      "append") // v1
    mt.createTag("release-a", Some(1))
    Thread.sleep(10) // v2's commit time must be strictly after v1's
    mt.delete(col("o_orderkey") % 21 === 0) // v2

    // STREAM anchored at the tag: replay starts at the tagged version
    val out = scratch("t14c_out"); val ckpt = scratch("t14c_ckpt")
    spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .option("keys", "o_orderkey")
      .option("startingTag", "release-a")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.filter(col("_commit_version") === 0L).count() === 0,
      "history below the tag must not replay")
    assert(got.filter(col("_commit_version") === 1L).count() > 0)
    assert(got.filter(col("_commit_version") === 2L).count() > 0)

    // refusal lattice mirrors T14: unknown tag at load, combined anchors
    val noTag = intercept[IllegalArgumentException] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root).option("startingTag", "nope").load()
    }
    assert(messageChain(noTag).contains("no tag"))
    val both = intercept[IllegalArgumentException] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("startingTag", "release-a")
        .option("startingVersion", "1").load()
    }
    assert(messageChain(both).contains("cannot combine"))

    // BATCH endingTimestamp: bound at v1's commit — v2 must not flow
    val sub = spark.read
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .option("keys", "o_orderkey")
      .option("startingVersion", "1")
      .option("endingTimestamp", mt.commitTimeOf(1).toString)
      .load()
    assert(sub.filter(col("_commit_version") === 2L).count() === 0)
    assert(sub.filter(col("_commit_version") === 1L).count() > 0)
    // both end bounds refuses; a predating timestamp refuses; malformed
    // values carry the option's name
    def batch(opts: (String, String)*) = {
      val r = spark.read
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", "o_orderkey")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }
    val bothEnds = intercept[IllegalArgumentException] {
      batch("endingVersion" -> "1", "endingTimestamp" -> "123")
    }
    assert(messageChain(bothEnds).contains("cannot combine"))
    val early = intercept[IllegalArgumentException] {
      batch("endingTimestamp" -> "1")
    }
    assert(messageChain(early).contains("predates every commit"))
    val badEnd = intercept[IllegalArgumentException] {
      batch("endingTimestamp" -> "garbage")
    }
    assert(messageChain(badEnd).contains("endingTimestamp"))
    val badStart = intercept[IllegalArgumentException] {
      batch("startingVersion" -> "latest")
    }
    assert(messageChain(badStart).contains("startingVersion"))

    // batch START anchors share the stream's lattice: a timestamp
    // resolves to the first commit at or after it, a tag to its
    // version, and anchors refuse to combine
    val byTs = batch("startingTimestamp" -> mt.commitTimeOf(2).toString)
    assert(byTs.filter(col("_commit_version") < 2L).count() === 0)
    assert(byTs.filter(col("_commit_version") === 2L).count() > 0)
    val byTag = batch("startingTag" -> "release-a")
    assert(byTag.filter(col("_commit_version") === 0L).count() === 0)
    assert(byTag.filter(col("_commit_version") === 1L).count() > 0)
    val comb = intercept[IllegalArgumentException] {
      batch("startingTag" -> "release-a", "startingVersion" -> "1")
    }
    assert(messageChain(comb).contains("cannot combine"))
  }

  test("T14b: startingVersion anchors the APPEND stream too — no full-snapshot replay") {
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t14b_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val mt = new ManifestTable(spark, root)
    mt.write(orders.filter(col("o_orderkey") % 2 === 0), "overwrite") // v0
    val appended = orders.filter(col("o_orderkey") % 2 === 1).limit(100)
    mt.write(appended, "append") // v1
    val out = scratch("t14b_out"); val ckpt = scratch("t14b_ckpt")
    spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("startingVersion", "1")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === appended.count(),
      "v0's snapshot must be skipped; only the anchored versions flow")
    // beyond-latest refuses for the append stream as well
    val out2 = scratch("t14b_out2"); val ck2 = scratch("t14b_ckpt2")
    val beyond = intercept[Exception] {
      spark.readStream
        .format(classOf[GraftTableSourceProvider].getName)
        .option("root", root)
        .option("startingVersion", "99")
        .load()
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(messageChain(beyond).contains("beyond the table's next commit"))
  }

  test("T15: write-time CDC — keyless replay from sidecars equals the keyed diff") {
    import graft.lake.{MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
    import graft.streaming.GraftTableSourceProvider
    val root = scratch("t15_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val mt = new ManifestTable(spark, root)
    mt.write(orders, "overwrite") // v0
    mt.delete(col("o_orderkey") % 40 === 0) // v1: PRE-CDC — no sidecar
    mt.enableCdc()
    mt.updateWhere(col("o_orderkey") % 7 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 5.0))) // v2: sidecar
    val src = orders.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey").as("s_key"),
        (col("o_totalprice") * 3).as("s_price"))
      .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 5000000L).as("s_key"),
          col("o_totalprice").as("s_price")))
    mt.mergeInto(src, col("o_orderkey") === col("s_key"),
      matched = Seq(
        MergeDeleteClause(Some(col("s_key") % 33 === 0)),
        MergeUpdateClause(None, Map("o_totalprice" -> col("s_price")))),
      notMatched = Seq(MergeInsertClause(None, Map(
        "o_orderkey" -> col("s_key"),
        "o_orderstatus" -> lit("N"),
        "o_totalprice" -> col("s_price"))))) // v3: sidecar, all 3 arms
    mt.compact() // v4: zero-change stamp
    // a no-op DML with CDC on must stay a version no-op (no sidecar,
    // no version)
    mt.delete(col("o_orderkey") === -1L)
    assert(mt.latestVersion.contains(4))

    // sidecar replay ≡ the keyed snapshot-pair diff, version by
    // version; v4's stamp replays empty and the diff agrees
    (2 to 4).foreach { v =>
      val keyless = mt.changesAt(v, None)
      val keyed = mt.changesBetween(v - 1, v, Seq("o_orderkey"))
        .select(keyless.columns.map(col): _*)
      assert(keyless.exceptAll(keyed).count() === 0, s"v$v: sidecar ⊆ diff")
      assert(keyed.exceptAll(keyless).count() === 0, s"v$v: diff ⊆ sidecar")
    }
    assert(mt.changesAt(4, None).count() === 0)

    // v1 predates CDC enablement — T16 row tracking replays it
    // keylessly anyway, equal to the keyed per-commit diff
    val preKeyless = mt.changesAt(1, None)
    val preKeyed = mt.changesAt(1, Some(Seq("o_orderkey")))
      .select(preKeyless.columns.map(col): _*)
    assert(preKeyless.exceptAll(preKeyed).count() === 0)
    assert(preKeyed.exceptAll(preKeyless).count() === 0)
    assert(preKeyless.filter(col("_change_type") === "delete").count() > 0)

    // keyless STREAM anchored at v2 drains the sidecar versions and
    // equals the keyed replay
    val out = scratch("t15_out"); val ckpt = scratch("t15_ckpt")
    spark.readStream
      .format(classOf[GraftTableSourceProvider].getName)
      .option("root", root)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.read.parquet(out).drop("_commit_timestamp")
    val replay = (2 to 4).map(v =>
      mt.changesBetween(v - 1, v, Seq("o_orderkey"))
        .withColumn("_commit_version", lit(v.toLong)))
      .reduce(_.unionByName(_)).select(streamed.columns.map(col): _*)
    assert(streamed.exceptAll(replay).count() === 0)
    assert(replay.exceptAll(streamed).count() === 0)

    // the 3-arg TVF is the keyless batch surface
    val s2 = extensionsSession("graft-t15-tvf")
    val viaTvf = s2.sql(
      s"SELECT * FROM graft_table_changes('$root', 2, 4)")
      .drop("_commit_timestamp")
    val batchReplay = replay
    assert(viaTvf.exceptAll(batchReplay).count() === 0)
    assert(batchReplay.exceptAll(viaTvf).count() === 0)

    // vacuum keeps the kept version's sidecars and sweeps dropped
    // ones: after retain=1 the old change files are gone and the
    // keyless read of a dropped version is impossible anyway (its
    // manifest is dropped); the CURRENT version still reads
    mt.vacuum(retain = 1, minAgeMs = 0)
    assert(mt.read().count() > 0)
    val cdcLeft = new java.io.File(s"$root/_graft_cdc")
    assert(!cdcLeft.exists() || cdcLeft.listFiles().isEmpty,
      "dropped versions' CDC sidecars are vacuumed")
  }

  test("T15b: overwrite/restore replay from their file delta, merge from change rows") {
    val root = scratch("t15b_table")
    val orders = Q.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    val b = orders.filter(col("o_orderkey") % 3 === 0)
    val mt = new ManifestTable(spark, root)
    mt.write(a, "overwrite") // v0
    mt.enableCdc()
    mt.write(b, "overwrite") // v1: file-diff stamp, no sidecar
    val c1 = mt.changesAt(1, None)
    assert(c1.filter(col("_change_type") === "delete").count() === a.count())
    assert(c1.filter(col("_change_type") === "insert").count() === b.count())

    // applying a keyless feed reproduces the post state exactly:
    // pre ∖ (deletes, preimages) ∪ (inserts, postimages) ≡ post
    // (multiset), for a file-diff stamp and for a merge's change rows
    def effectHolds(v: Int): Unit = {
      val pre = mt.read(Some(v - 1))
      val post = mt.read(Some(v))
      val ch = mt.changesAt(v, None)
      val dels = ch.filter(col("_change_type").isin("delete", "update_preimage"))
        .select(pre.columns.map(col): _*)
      val ins = ch.filter(col("_change_type").isin("insert", "update_postimage"))
        .select(pre.columns.map(col): _*)
      val applied = pre.exceptAll(dels).unionAll(ins)
      assert(applied.exceptAll(post).count() === 0, s"v$v over-applies")
      assert(post.exceptAll(applied).count() === 0, s"v$v under-applies")
    }
    mt.merge(b.limit(50)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey")) // v2: DV marks + copies, exact change rows
    effectHolds(2)
    // v1's file now carries v2's deletion vector; v0's never did
    mt.restore(0) // v3: DV-free restore → file-diff stamp
    effectHolds(3)

    // a restore straddling a DV re-point can NOT be derived at file
    // granularity — T16 row tracking closes the old refusal: the
    // shared-but-re-pointed files resolve the same row ids on both
    // sides, so the keyless diff resurrects exactly the un-deleted
    // rows, equal to the keyed diff
    mt.delete(col("o_orderkey") % 5 === 0) // v4 (exact sidecar)
    mt.restore(3) // v5: shares v3's rels but v4 re-pointed them
    val pre5 = mt.changesAt(5, None)
    val keyed5 = mt.changesBetween(4, 5, Seq("o_orderkey"))
      .select(pre5.columns.map(col): _*)
    assert(pre5.exceptAll(keyed5).count() === 0)
    assert(keyed5.exceptAll(pre5).count() === 0)
    assert(pre5.filter(col("_change_type") === "insert").count() > 0,
      "the keyless diff resurrects the un-deleted rows")

    // a VIOLATED file-diff stamp (out-of-band tag write) must not
    // brick the version: keys fall through to the keyed diff; only
    // the keyless read refuses, by name
    mt.putVersionTag(4, "cdc", "filediff") // v4 re-points files (DV)
    val keyed4 = mt.changesAt(4, Some(Seq("o_orderkey")))
    val truth4 = mt.changesBetween(3, 4, Seq("o_orderkey"))
      .select(keyed4.columns.map(col): _*)
    assert(keyed4.exceptAll(truth4).count() === 0)
    assert(truth4.exceptAll(keyed4).count() === 0)
    val badStamp = intercept[IllegalArgumentException] {
      mt.changesAt(4, None)
    }
    assert(badStamp.getMessage.contains("invalid stamp"))

    // a keys option naming NO columns is a typo, not keyless mode
    val blankKeys = intercept[IllegalArgumentException] {
      spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("root", root)
        .option("readChangeFeed", "true")
        .option("keys", " , ")
        .load()
    }
    assert(messageChain(blankKeys).contains("names no columns"))
  }
}
