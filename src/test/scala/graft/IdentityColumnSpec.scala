package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.functions._

/** GENERATED ALWAYS AS IDENTITY (round-18 item 4): identity values
  * derive from the T16 stable row id (`start + step * _row_id`), so
  * the commit-time allocator's guarantees — uniqueness and monotonic
  * advance across appends, merges, concurrent commits, restore and
  * clone — transfer for free, and values survive rewrites because row
  * ids do. Values are sparse (gaps between commits), the Delta
  * identity contract.
  */
class IdentityColumnSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_ident_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  test("identity: unique + monotonic across appends; start/step affine") {
    val root = scratch("basic")
    val t = new ManifestTable(spark, root)
    t.addIdentityColumn("uid", start = 100L, step = 3L)
    t.write((1 to 20).map(i => (i.toLong, s"r$i")).toDF("k", "v"),
      "overwrite") // v0
    val v0 = t.read().select("uid").as[Long].collect()
    assert(v0.length === 20 && v0.distinct.length === 20)
    assert(v0.min === 100L, "first allotted id is START")
    assert(v0.forall(u => (u - 100L) % 3L === 0L), "values follow STEP")

    t.write((21 to 30).map(i => (i.toLong, s"r$i")).toDF("k", "v"),
      "append") // v1
    val all = t.read().select("k", "uid").as[(Long, Long)].collect()
    assert(all.length === 30 && all.map(_._2).distinct.length === 30)
    val newMin = all.filter(_._1 > 20).map(_._2).min
    assert(newMin > v0.max, "later commits allot strictly larger ids")
  }

  test("identity: survives merge updates, DV delete, compaction, " +
    "restore — row ids are the identity") {
    val root = scratch("stable")
    val t = new ManifestTable(spark, root)
    t.addIdentityColumn("uid")
    t.write((1 to 30).map(i => (i.toLong, i * 1.0)).toDF("k", "amt"),
      "overwrite") // v0
    val before = t.read().select("k", "uid").as[(Long, Long)]
      .collect().toMap
    // merge: updates keep their identity, inserts get fresh LARGER ones
    t.merge(Seq((5L, 500.0), (31L, 31.0)).toDF("k", "amt"), Seq("k"))
    val after = t.read().select("k", "uid").as[(Long, Long)]
      .collect().toMap
    assert(after(5L) === before(5L), "updated row keeps its identity")
    assert(after(31L) > before.values.max, "insert allots a fresh id")
    assert(after.values.toSeq.distinct.size === after.size)
    // DV delete + compaction: survivors keep their values
    t.delete(col("k") % 7 === 0)
    t.compact()
    val compacted = t.read().select("k", "uid").as[(Long, Long)]
      .collect().toMap
    compacted.foreach { case (k, uid) => assert(uid === after(k), s"k=$k") }
    // restore to v0: the original assignment reads back
    val v = t.latestVersion.get
    t.restore(0)
    val restored = t.read().select("k", "uid").as[(Long, Long)]
      .collect().toMap
    assert(restored === before)
    assert(t.latestVersion.get > v)
    // an eager layout change rewrites every file and keeps every value
    val evolved = t.evolvePartitionSpec(Nil, Seq("bucket(2,k)"))
    assert(evolved.read().select("k", "uid").as[(Long, Long)]
      .collect().toMap === before)
  }

  test("identity: GENERATED ALWAYS — explicit values refuse on write, " +
    "merge feed, and updateWhere") {
    val root = scratch("always")
    val t = new ManifestTable(spark, root)
    t.addIdentityColumn("uid")
    t.write(Seq((1L, "a")).toDF("k", "v"), "overwrite")
    val w = intercept[IllegalArgumentException] {
      t.write(Seq((2L, "b", 99L)).toDF("k", "v", "uid"), "append")
    }
    assert(w.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    val m = intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "x", 7L)).toDF("k", "v", "uid"), Seq("k"))
    }
    assert(m.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    val u = intercept[IllegalArgumentException] {
      t.updateWhere(col("k") === 1L, Map("uid" -> lit(0L)))
    }
    assert(u.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    // rename/drop route to the identity surface, not column mapping
    assert(intercept[IllegalArgumentException](
      t.renameColumn("uid", "uid2")).getMessage.contains("identity"))
    assert(intercept[IllegalArgumentException](
      t.dropColumn("uid")).getMessage.contains("identity"))
    t.dropIdentityColumn("uid")
    assert(!t.read().columns.contains("uid"))
  }

  test("identity: concurrent appends allot disjoint ranges") {
    val root = scratch("conc")
    val t = new ManifestTable(spark, root)
    t.addIdentityColumn("uid")
    t.write(Seq((0L, "seed")).toDF("k", "v"), "overwrite")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val mt = ManifestTable.forRoot(spark, root)
            mt.write(((w * 100) to (w * 100 + 24))
              .map(i => (i.toLong, s"w$w")).toDF("k", "v"), "append")
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val ids = t.read().select("uid").as[Long].collect()
    assert(ids.length === 101)
    assert(ids.distinct.length === 101,
      "concurrent commits must never collide on identity values")
  }

  test("identity: SQL procedures + clone carries the assignment") {
    val s = extensionsSession("graft-identity-sql")
    val root = scratch("sqlproc")
    val t = new ManifestTable(s, root)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "overwrite")
    s.sql(s"CALL graft.identity_add('$root', 'uid', 10, 2)").collect()
    val got = s.sql(s"CALL graft.describe_schema('$root')").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got("uid") === "identity")
    val ids = ManifestTable.forRoot(s, root).read()
      .select("uid").as(org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(ids.distinct.length === 2 && ids.min === 10L)
    assert(ids.forall(u => (u - 10L) % 2L === 0L))
    // a shallow clone re-reads the SAME values for carried rows only
    // if the identity declaration travels — it does not (only the
    // layout config of the metadata record travels; the rest is
    // per-root, the rename/mapping semantics); the clone's reads
    // simply omit the derived column until declared there
    val cloneRoot = scratch("sqlclone")
    ManifestTable.forRoot(s, root).shallowClone(cloneRoot)
    val cl = ManifestTable.forRoot(s, cloneRoot)
    assert(!cl.read().columns.contains("uid"))
    cl.addIdentityColumn("uid", 10L, 2L)
    val cloneIds = cl.read().select("uid")
      .as(org.apache.spark.sql.Encoders.scalaLong).collect()
    assert(cloneIds.sorted.toSeq === ids.sorted.toSeq,
      "carried rows keep their row ids, so identity re-derives equal")
    s.sql(s"CALL graft.identity_drop('$root', 'uid')").collect()
    assert(!ManifestTable.forRoot(s, root).read().columns.contains("uid"))
  }
}
