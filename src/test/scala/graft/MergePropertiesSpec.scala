package graft

import graft.lake.{ManifestTable, Merge}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based merge algebra (SURVEY.md §5.4): idempotency,
  * last-writer-wins, commutativity for disjoint keys — over generated
  * keyed tables (raw scalacheck generators, deterministic seeds).
  */
class MergePropertiesSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private val rowGen = for {
    k <- Gen.choose(0L, 30L)
    v <- Gen.choose(0, 1000)
    s <- Gen.oneOf("a", "b", "c")
  } yield (k, v, s)

  /** distinct keys within a feed (a CDC batch has one row per key) */
  private val tableGen: Gen[List[(Long, Int, String)]] =
    Gen.listOfN(20, rowGen).map(_.groupBy(_._1).map(_._2.head).toList)

  private def sample(seed: Long): List[(Long, Int, String)] =
    tableGen.pureApply(Gen.Parameters.default, Seed(seed))

  private def df(rows: List[(Long, Int, String)]) = rows.toDF("k", "v", "s")

  test("merge is idempotent: apply(apply(b,u),u) == apply(b,u)") {
    (1 to 5).foreach { i =>
      val (b, u) = (sample(i), sample(i + 100))
      val once = Merge.upsert(df(b), df(u), Seq("k"))
      val twice = Merge.upsert(once, df(u), Seq("k"))
      assert(twice.exceptAll(once).count() === 0, s"seed $i")
      assert(once.exceptAll(twice).count() === 0, s"seed $i")
    }
  }

  test("last writer wins: merged values for update keys come from the feed") {
    (1 to 5).foreach { i =>
      val (b, u) = (sample(i + 200), sample(i + 300))
      val merged = Merge.upsert(df(b), df(u), Seq("k")).as[(Long, Int, String)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      u.foreach { case (k, v, s) => assert(merged(k) === ((v, s))) }
      val uKeys = u.map(_._1).toSet
      b.filterNot(r => uKeys.contains(r._1)).foreach { case (k, v, s) =>
        assert(merged(k) === ((v, s)))
      }
      assert(merged.size === (b.map(_._1).toSet ++ uKeys).size)
    }
  }

  test("NULL-key rows update, insert, and delete like any other key") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = Seq((Some(1L), 10, "a"), (None, 20, "b"))
      .toDF("k", "v", "s")
    // update the NULL-key row: the null-safe join matches it and the
    // source must WIN (testing source presence via key nullability
    // would silently keep the stale target values)
    val upd = Seq((Option.empty[Long], 21, "b2")).toDF("k", "v", "s")
    val merged = Merge.upsert(base, upd, Seq("k"))
    assert(merged.count() === 2)
    assert(merged.filter(col("k").isNull).select("v", "s").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((21, "b2")))
    // NULL-key insert (no existing null-key row)
    val base2 = Seq((Some(1L), 10, "a")).toDF("k", "v", "s")
    val ins = Merge.upsert(base2, upd, Seq("k"))
    assert(ins.count() === 2)
    assert(ins.filter(col("k").isNull).select("v").first().getInt(0) === 21)
    // NULL-key tombstone deletes its null-safe match
    val del = Seq((Option.empty[Long], 0, "x", true)).toDF("k", "v", "s", "_d")
    val afterDel = Merge.applyCdc(base, del, Seq("k"), "_d")
    assert(afterDel.count() === 1)
    assert(afterDel.filter(col("k").isNull).count() === 0)
  }

  test("IVM property: applyDelta(view(before), diff) == view(after)") {
    import graft.lake.{IncrementalView, ManifestTable}
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    (1 to 3).foreach { i =>
      val before = sample(i + 700)
      val after = sample(i + 800)
      val root = s"${sys.props("java.io.tmpdir")}/graft_ivm_prop_$i"
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      val mt = new ManifestTable(spark, root)
      // "c" becomes a NULL group key: a legal aggregation group that a
      // non-null-safe view⋈delta join would duplicate instead of merge
      def withNullGroup(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("s", org.apache.spark.sql.functions.nullif(col("s"),
          org.apache.spark.sql.functions.lit("c")))
      mt.write(withNullGroup(df(before)), "overwrite") // v0
      mt.write(withNullGroup(df(after)), "overwrite")  // v1: arbitrary rewrite
      def view(d: org.apache.spark.sql.DataFrame) =
        d.groupBy(col("s")).agg(sum(col("v").cast("long")).as("v"),
          count(lit(1)).as("n"))
      val incr = IncrementalView.applyDelta(
        view(withNullGroup(df(before))), mt.changesBetween(0, 1, Seq("k")),
        groupKeys = Seq("s"), sumCols = Seq("v"))
      val full = view(withNullGroup(df(after)))
      assert(incr.exceptAll(full).count() === 0, s"seed $i")
      assert(full.exceptAll(incr).count() === 0, s"seed $i")
    }
  }

  test("disjoint-key feeds commute") {
    (1 to 3).foreach { i =>
      val b = sample(i + 400)
      val u1 = sample(i + 500).map { case (k, v, s) => (k * 2, v, s) }     // even
      val u2 = sample(i + 600).map { case (k, v, s) => (k * 2 + 1, v, s) } // odd
      val ab = Merge.upsert(Merge.upsert(df(b), df(u1), Seq("k")), df(u2), Seq("k"))
      val ba = Merge.upsert(Merge.upsert(df(b), df(u2), Seq("k")), df(u1), Seq("k"))
      assert(ab.exceptAll(ba).count() === 0, s"seed $i")
      assert(ba.exceptAll(ab).count() === 0, s"seed $i")
    }
  }

  test("latestPerKey compacts a multi-version feed to one row per key") {
    val feed = Seq(
      (1L, 10, "a", 1L), (1L, 20, "b", 3L), (1L, 15, "c", 2L),
      (2L, 5, "x", 1L),
      (3L, 7, "y", 2L), (3L, 8, "z", 2L) // tie on order col
    ).toDF("k", "v", "s", "seq")
    val compacted = Merge.latestPerKey(feed, Seq("k"), "seq")
    assert(compacted.count() === 3)
    val byKey = compacted.as[(Long, Int, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(byKey(1L) === ((1L, 20, "b", 3L))) // newest seq wins
    assert(byKey(2L) === ((2L, 5, "x", 1L)))
    // tie resolves deterministically: same result on recompute
    val again = Merge.latestPerKey(feed, Seq("k"), "seq")
      .as[(Long, Int, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(byKey(3L) === again(3L))
    // compacted feed merges without fan-out
    val base = Seq((1L, 0, "base", 0L), (9L, 9, "base", 0L)).toDF("k", "v", "s", "seq")
    val merged = Merge.upsert(base, compacted, Seq("k"))
    assert(merged.count() === 4) // keys 1,2,3,9
  }

  private def cdcDf(rows: List[(Long, Int, String)], deleted: Long => Boolean) =
    rows.map { case (k, v, s) => (k, v, s, deleted(k)) }
      .toDF("k", "v", "s", "_deleted")

  test("applyCdc: matched tombstones delete, unmatched are no-ops") {
    (1 to 5).foreach { i =>
      val b = sample(i + 800)
      val u = sample(i + 900)
      val bKeys = b.map(_._1).toSet
      val del: Long => Boolean = _ % 3 == 0
      val out = Merge.applyCdc(df(b), cdcDf(u, del), Seq("k"))
        .as[(Long, Int, String)].collect().map(r => r._1 -> r).toMap
      // tombstoned keys are gone, present or not in base
      u.filter(r => del(r._1)).foreach(r => assert(!out.contains(r._1)))
      // non-tombstoned feed rows upsert (source wins)
      u.filterNot(r => del(r._1)).foreach { case (k, v, s) =>
        assert(out(k) === ((k, v, s)))
      }
      // untouched base rows persist
      val uKeys = u.map(_._1).toSet
      b.filterNot(r => uKeys.contains(r._1)).foreach { case (k, v, s) =>
        assert(out(k) === ((k, v, s)))
      }
      val expected = (bKeys ++ u.filterNot(r => del(r._1)).map(_._1))
        .diff(u.filter(r => del(r._1)).map(_._1).toSet)
      assert(out.keySet === expected, s"seed $i")
    }
  }

  test("applyCdc is idempotent: re-applying a feed changes nothing") {
    (1 to 5).foreach { i =>
      val (b, u) = (sample(i + 1000), sample(i + 1100))
      val feed = cdcDf(u, _ % 2 == 0)
      val once = Merge.applyCdc(df(b), feed, Seq("k"))
      val twice = Merge.applyCdc(once, feed, Seq("k"))
      assert(twice.exceptAll(once).count() === 0, s"seed $i")
      assert(once.exceptAll(twice).count() === 0, s"seed $i")
    }
  }

  test("applyCdc with no tombstones equals upsert") {
    (1 to 5).foreach { i =>
      val (b, u) = (sample(i + 1200), sample(i + 1300))
      val viaCdc = Merge.applyCdc(df(b), cdcDf(u, _ => false), Seq("k"))
      val viaUpsert = Merge.upsert(df(b), df(u), Seq("k"))
      assert(viaCdc.exceptAll(viaUpsert).count() === 0, s"seed $i")
      assert(viaUpsert.exceptAll(viaCdc).count() === 0, s"seed $i")
    }
  }

  test("merge commits nothing iff the feed is already applied") {
    import org.apache.spark.sql.functions.col
    (1 to 5).foreach { i =>
      val b = sample(i + 700)
      val dir = s"${sys.props("java.io.tmpdir")}/graft_test_mprop_applied_$i"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      val mt = new ManifestTable(spark, dir)
      mt.write(df(b), "overwrite") // v0
      mt.enableCdc()
      assert(mt.merge(df(b), Seq("k")) === 0, s"seed $i: re-apply committed")
      val bumped = b.map { case (k, v, s) => (k, v + 1, s) }
      assert(mt.merge(df(bumped), Seq("k")) === 1, s"seed $i")
      assert(mt.versions === Seq(0, 1), s"seed $i")
      assert(mt.changesAt(1, None)
        .filter(col("_change_type") === "update_postimage")
        .count() === b.size, s"seed $i")
    }
  }

  test("merge refuses a feed with two rows for a key the table lacks") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_mprop_dup_insert"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    val mt = new ManifestTable(spark, dir)
    mt.write(Seq((1L, 10, "a")).toDF("k", "v", "s"), "overwrite") // v0
    val feed = Seq((5L, 1, "b"), (5L, 2, "c"), (1L, 11, "a")).toDF("k", "v", "s")
    val e = intercept[IllegalArgumentException](mt.merge(feed, Seq("k")))
    assert(e.getMessage.contains("MERGE cardinality violation") &&
      e.getMessage.contains("k=5"), e.getMessage)
    assert(mt.versions === Seq(0), "a refused merge commits nothing")
    assert(mt.read().as[(Long, Int, String)].collect().toSeq === Seq((1L, 10, "a")))
    // NULL keys compare null-safely, as the merge's join does
    val nulls = Seq((None: Option[Long], 1, "b"), (None: Option[Long], 2, "c"))
      .toDF("k", "v", "s")
    intercept[IllegalArgumentException](mt.merge(nulls, Seq("k")))
    // one row per new key still inserts; a tombstone never inserts
    val ok = Seq((5L, 1, "b", false), (6L, 2, "c", false), (6L, 3, "d", true))
      .toDF("k", "v", "s", "_del")
    assert(mt.merge(ok, Seq("k"), Some("_del")) === 1)
    assert(mt.read().as[(Long, Int, String)].collect().sortBy(_._1).toSeq ===
      Seq((1L, 10, "a"), (5L, 1, "b"), (6L, 2, "c")))
  }
}
