package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.ConcurrentModificationException

/** Optimistic concurrency on the manifest log: disjoint writers (both
  * the append+append and the different-partitions merge case) must BOTH
  * commit — rebase, not lock, not lost update — while overlapping
  * writers either serialize cleanly or fail loudly with
  * ConcurrentModificationException. Threads share one SparkSession
  * (concurrent jobs are a supported Spark pattern).
  */
class LakeConcurrencySpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def baseDf: DataFrame = Seq(
    (1, "p1", 10.0), (2, "p1", 20.0),
    (3, "p2", 30.0), (4, "p2", 40.0)).toDF("id", "part", "amt")

  /** Run the thunks concurrently (latch-released together); returns
    * per-thunk Some(throwable) on failure.
    */
  private def race(thunks: Seq[() => Unit]): Seq[Option[Throwable]] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    val go = new CountDownLatch(1)
    val results = new Array[Option[Throwable]](thunks.size)
    val futures = thunks.zipWithIndex.map { case (t, i) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          go.await()
          results(i) = try { t(); None } catch { case e: Throwable => Some(e) }
        }
      })
    }
    go.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    results.toSeq
  }

  test("concurrent merges of DISJOINT partitions both commit (rebase)") {
    val mt = new ManifestTable(spark, scratch("conc_disjoint"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    val updA = Seq((1, "p1", 11.0)).toDF("id", "part", "amt")
    val updB = Seq((3, "p2", 33.0)).toDF("id", "part", "amt")
    val outcomes = race(Seq(
      () => { mt.merge(updA, Seq("id")); () },
      () => { mt.merge(updB, Seq("id")); () }))
    // disjoint partitions: NEITHER writer may fail
    assert(outcomes.forall(_.isEmpty),
      s"disjoint merge failed: ${outcomes.flatten.headOption}")
    assert(mt.versions === Seq(0, 1, 2), s"versions: ${mt.versions}")
    val rows = mt.read().select("id", "amt").as[(Int, Double)]
      .collect().toMap
    assert(rows === Map(1 -> 11.0, 2 -> 20.0, 3 -> 33.0, 4 -> 40.0),
      s"lost update: $rows")
    // no dangling references: every manifest file must exist on disk
    val conf = spark.sessionState.newHadoopConf()
    mt.filesOf(2).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      assert(p.getFileSystem(conf).exists(p), s"missing $f")
    }
  }

  test("concurrent appends both commit (blind add never conflicts)") {
    val mt = new ManifestTable(spark, scratch("conc_append"))
    mt.write(baseDf, "overwrite") // v0
    val outcomes = race(Seq(
      () => { mt.write(Seq((5, "p1", 50.0)).toDF("id", "part", "amt"), "append"); () },
      () => { mt.write(Seq((6, "p2", 60.0)).toDF("id", "part", "amt"), "append"); () }))
    assert(outcomes.forall(_.isEmpty),
      s"append failed: ${outcomes.flatten.headOption}")
    assert(mt.versions === Seq(0, 1, 2))
    assert(mt.read().count() === 6)
    assert(mt.read().select("id").as[Int].collect().toSet === Set(1, 2, 3, 4, 5, 6))
  }

  test("concurrent merges of the SAME partition: no silent lost update") {
    val mt = new ManifestTable(spark, scratch("conc_overlap"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    val updA = Seq((1, "p1", 111.0)).toDF("id", "part", "amt")
    val updB = Seq((2, "p1", 222.0)).toDF("id", "part", "amt")
    val outcomes = race(Seq(
      () => { mt.merge(updA, Seq("id")); () },
      () => { mt.merge(updB, Seq("id")); () }))
    // either the threads serialized (both landed) or the loser threw
    // ConcurrentModificationException — a quiet lost update is the
    // only forbidden outcome
    val failures = outcomes.flatten
    failures.foreach(e => assert(e.isInstanceOf[ConcurrentModificationException],
      s"unexpected failure type: $e"))
    val applied = Seq(
      outcomes(0).isEmpty -> (1 -> 111.0),
      outcomes(1).isEmpty -> (2 -> 222.0)).filter(_._1).map(_._2).toMap
    assert(applied.nonEmpty, "both overlapping merges failed")
    val rows = mt.read().select("id", "amt").as[(Int, Double)]
      .collect().toMap
    assert(rows.size === 4, s"row count drifted: $rows")
    applied.foreach { case (id, amt) =>
      assert(rows(id) === amt, s"successful merge of id=$id lost: $rows")
    }
    // untouched partition intact either way
    assert(rows(3) === 30.0 && rows(4) === 40.0)
    assert(mt.versions.size === 1 + applied.size)
  }

  test("merge racing an append of other keys into the same partition") {
    val mt = new ManifestTable(spark, scratch("conc_merge_append"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    val outcomes = race(Seq(
      () => { mt.merge(Seq((1, "p1", 11.0)).toDF("id", "part", "amt"),
        Seq("id")); () },
      () => { mt.write(Seq((5, "p1", 50.0)).toDF("id", "part", "amt"),
        "append"); () }))
    // the append always commits; the merge rebases over it or fails
    // loudly
    assert(outcomes(1).isEmpty, s"append failed: ${outcomes(1)}")
    outcomes(0).foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException],
        s"unexpected failure type: $e"))
    // no row lost or duplicated
    val rows = mt.read().select("id", "amt").as[(Int, Double)].collect()
    val amt1 = if (outcomes(0).isEmpty) 11.0 else 10.0
    assert(rows.sorted.toSeq === Seq((1, amt1), (2, 20.0), (3, 30.0),
      (4, 40.0), (5, 50.0)), s"wrong final state: ${rows.toSeq}")
    assert(mt.versions.size === 2 + (if (outcomes(0).isEmpty) 1 else 0))
  }

  test("two merges inserting the same new key never both commit") {
    val mt = new ManifestTable(spark, scratch("conc_merge_insert"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    def upsert7(): Unit = {
      mt.merge(Seq((7, "p1", 70.0)).toDF("id", "part", "amt"), Seq("id"))
      ()
    }
    val outcomes = race(Seq(() => upsert7(), () => upsert7()))
    // racing, the loser throws; serialized, the second finds key 7
    // already applied and commits nothing — one version either way
    outcomes.flatten.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException],
        s"unexpected failure type: $e"))
    assert(outcomes.exists(_.isEmpty), "both merges failed")
    assert(mt.versions === Seq(0, 1), s"versions: ${mt.versions}")
    val ids = mt.read().select("id").as[Int].collect().sorted.toSeq
    assert(ids === Seq(1, 2, 3, 4, 7), s"key 7 duplicated or lost: $ids")
  }

  test("append racing a compact either rebases or conflicts, never loses rows") {
    val mt = new ManifestTable(spark, scratch("conc_compact"))
    mt.write(baseDf, "overwrite") // v0
    mt.write(Seq((5, "p1", 50.0)).toDF("id", "part", "amt"), "append") // v1
    val outcomes = race(Seq(
      () => { mt.compact(1); () },
      () => { mt.write(Seq((6, "p2", 60.0)).toDF("id", "part", "amt"), "append"); () }))
    // the append is a blind add: it must always succeed
    assert(outcomes(1).isEmpty, s"append failed: ${outcomes(1)}")
    // compact may lose the race to the append (snapshot changed) — but
    // only with a loud conflict, and the appended row must survive
    outcomes(0).foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException], s"unexpected: $e"))
    val ids = mt.read().select("id").as[Int].collect().toSet
    assert(ids === Set(1, 2, 3, 4, 5, 6), s"rows lost: $ids")
  }

  test("DV delete racing a compact never silently loses the delete") {
    // the dangerous interleaving: a DV commit re-points an entry UNDER
    // THE SAME REL, so a rel-set check alone would let the compact
    // rebase over it and resurrect the deleted rows from pre-DV content
    val mt = new ManifestTable(spark, scratch("conc_dv_compact"))
    mt.write(baseDf.repartition(2), "overwrite") // v0
    val outcomes = race(Seq(
      () => { mt.delete(col("id") === 2); () },
      () => { mt.compact(1); () }))
    outcomes.flatten.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException], s"unexpected: $e"))
    assert(outcomes.exists(_.isEmpty), "both writers failed")
    val deleted = outcomes.head.isEmpty
    val ids = mt.read().select("id").as[Int].collect().toSet
    if (deleted) assert(ids === Set(1, 3, 4), s"delete lost or rows lost: $ids")
    else assert(ids === Set(1, 2, 3, 4), s"rows lost: $ids")
  }

  test("cross-process ref lock: a foreign refs.lock makes a tagger " +
      "WAIT (not race); a stale one is broken; the lock releases") {
    val root = scratch("conc_reflock")
    val mt = new ManifestTable(spark, root)
    mt.write(baseDf, "overwrite")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    val lock = new org.apache.hadoop.fs.Path(logDir, "refs.lock")
    // simulate ANOTHER PROCESS holding the lock: the file exists but
    // the in-JVM monitor is free — pre-fix, createTag would sail
    // through and could dangle over a foreign vacuum's deletes
    val out = fs.create(lock, false)
    out.write("foreign@0".getBytes("UTF-8")); out.close()
    fs.setTimes(lock, System.currentTimeMillis(), -1) // fresh holder
    @volatile var done = false
    val t = new Thread(() => { mt.createTag("waited"); done = true })
    t.start()
    Thread.sleep(1500)
    assert(!done, "the tagger must WAIT for the foreign lock")
    fs.delete(lock, false) // the foreign process finishes
    t.join(30000)
    assert(done, "tagger never acquired after the foreign release")
    assert(mt.tagRef("waited").contains(0))
    assert(!fs.exists(lock), "lock file must release after the op")
    // a STALE lock (crashed holder: mtime past the TTL, no heartbeat)
    // is broken and the mutation proceeds
    val out2 = fs.create(lock, false); out2.close()
    fs.setTimes(lock,
      System.currentTimeMillis() - ManifestTable.RefLockStaleMs - 60000, -1)
    mt.createTag("broken_through")
    assert(mt.tagRef("broken_through").contains(0))
    assert(!fs.exists(lock))
    // vacuum takes the same lock: run one to prove the shared path
    // still completes and releases under the file lock
    mt.vacuum(retain = 1, minAgeMs = 0)
    assert(!fs.exists(lock))
  }

  test("DV delete racing a disjoint append: both commit") {
    val mt = new ManifestTable(spark, scratch("conc_dv_append"))
    mt.write(baseDf.repartition(2), "overwrite") // v0
    val outcomes = race(Seq(
      () => { mt.delete(col("id") === 2); () },
      () => { mt.write(Seq((6, "p2", 60.0)).toDF("id", "part", "amt"), "append"); () }))
    assert(outcomes.forall(_.isEmpty), s"a disjoint writer failed: $outcomes")
    // delete applies to its snapshot; the appended row is untouched
    val ids = mt.read().select("id").as[Int].collect().toSet
    assert(ids === Set(1, 3, 4, 6), s"wrong final state: $ids")
  }

  /** Run `mt.delete(pred, thenAppend = Seq(replacement))` with
    * `between` landing after the delete read its snapshot and before
    * it commits: the replacement's rows pass a filter that waits for
    * `between` to finish. Returns the delete's failure, if any.
    */
  private def deleteAround(mt: ManifestTable, pred: org.apache.spark.sql.Column,
      replacement: DataFrame)(between: => Unit): Option[Throwable] = {
    HeldAppend.reset()
    val hold = udf { (_: Int) =>
      HeldAppend.started.countDown()
      HeldAppend.release.await(120, TimeUnit.SECONDS)
    }.asNondeterministic()
    val pool = Executors.newSingleThreadExecutor()
    try {
      val outcome = pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] =
          try { mt.delete(pred, thenAppend = Seq(replacement.filter(hold(col("id"))))); None }
          catch { case e: Throwable => Some(e) }
      })
      assert(HeldAppend.started.await(120, TimeUnit.SECONDS),
        "the delete never reached its append")
      try between finally HeldAppend.release.countDown()
      outcome.get(120, TimeUnit.SECONDS)
    } finally pool.shutdown()
  }

  test("delete(pred, thenAppend) racing an append into the partition it drops conflicts") {
    val mt = new ManifestTable(spark, scratch("conc_replace_same"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    val outcome = deleteAround(mt, col("part") === "p1",
      Seq((9, "p1", 90.0)).toDF("id", "part", "amt")) {
      mt.write(Seq((5, "p1", 50.0)).toDF("id", "part", "amt"), "append")
    }
    assert(outcome.exists(_.isInstanceOf[ConcurrentModificationException]),
      s"the replace must conflict: $outcome")
    // the append stands, the replace committed nothing
    assert(mt.read().select("id").as[Int].collect().toSet === Set(1, 2, 3, 4, 5))
  }

  test("delete(pred, thenAppend) racing an append into another partition: both commit") {
    val mt = new ManifestTable(spark, scratch("conc_replace_other"),
      partitionCol = Some("part"))
    mt.write(baseDf, "overwrite") // v0
    val outcome = deleteAround(mt, col("part") === "p1",
      Seq((9, "p1", 90.0)).toDF("id", "part", "amt")) {
      mt.write(Seq((6, "p2", 60.0)).toDF("id", "part", "amt"), "append")
    }
    assert(outcome.isEmpty, s"a disjoint writer failed: $outcome")
    assert(mt.read().select("id").as[Int].collect().toSet === Set(3, 4, 6, 9))
  }
}

/** Latches holding a delete's append open while a concurrent writer
  * commits ([[LakeConcurrencySpec]]); shared with the filter that
  * waits on them, which may run in a task thread. */
object HeldAppend {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
  def reset(): Unit = {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
}
