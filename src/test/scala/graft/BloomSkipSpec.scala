package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.functions._

/** Bloom-filter file skipping: equality probes on a high-cardinality
  * UNSORTED column must prune >90% of files exactly where zone maps
  * prune none (every file's [min,max] spans the whole domain), with
  * zero false negatives (the probed row is always found).
  */
class BloomSkipSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_test_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // 10k rows, key = md5(id): random-looking, unsorted, high-cardinality
  private def docs = spark.range(10000)
    .select(col("id"), md5(col("id").cast("string")).as("key"))

  test("equality probe prunes >90% of files where zone maps prune none") {
    val mt = new ManifestTable(spark, scratch("bloom_prune"),
      statsCol = Some("key"), bloomCol = Some("key"))
    mt.write(docs.repartition(20), "overwrite")
    assert(mt.filesOf(0).size === 20)

    val probe = md5Hex("42")
    // zone maps are useless here: every file's md5 range spans ~the
    // whole hex domain, so the range [probe, probe] intersects ~all
    val zoneKept = mt.filesFor(col("key").between(probe, probe)).size
    assert(zoneKept >= 15, s"zone maps unexpectedly pruned: kept $zoneKept/20")
    // the bloom prunes to (nearly) just the file holding the key
    val bloomKept = mt.filesFor(col("key") === probe)
    assert(bloomKept.size <= 2, s"bloom kept ${bloomKept.size}/20 files")
    // zero false negatives: the probed row is found
    val rows = mt.readEq("key", probe).select("id").as[Long].collect()
    assert(rows.toSeq === Seq(42L))
  }

  test("absent key prunes everything; readEq returns empty, not error") {
    val mt = new ManifestTable(spark, scratch("bloom_absent"),
      bloomCol = Some("key"))
    mt.write(docs.repartition(10), "overwrite")
    val kept = mt.filesFor(col("key") === "no-such-key")
    assert(kept.isEmpty, s"absent key kept ${kept.size} files")
    assert(mt.readEq("key", "no-such-key").count() === 0)
  }

  test("files committed before the bloom existed are kept, never pruned") {
    val root = scratch("bloom_legacy")
    val pre = new ManifestTable(spark, root) // no bloom configured
    pre.write(docs.filter(col("id") < 5000).repartition(5), "overwrite")
    // reopen with a bloom; append new files that DO carry blooms
    val mt = new ManifestTable(spark, root, bloomCol = Some("key"))
    mt.write(docs.filter(col("id") >= 5000).repartition(5), "append")
    val probeOld = md5Hex("7")
    // all 5 legacy files kept (no bloom recorded) + ≤1 new file
    val kept = mt.filesFor(col("key") === probeOld)
    assert(kept.size >= 5 && kept.size <= 6, s"kept ${kept.size}")
    assert(mt.readEq("key", probeOld).select("id").as[Long].collect()
      .toSeq === Seq(7L))
  }

  test("bloom survives compact, shallow clone, and numeric columns") {
    val mt = new ManifestTable(spark, scratch("bloom_compact"),
      bloomCol = Some("id"))
    mt.write(docs.repartition(8), "overwrite")
    // numeric column: probe value is the string rendering
    assert(mt.readEq("id", "4242").select("id").as[Long].collect()
      .toSeq === Seq(4242L))
    mt.compact(4) // rewrite recomputes blooms for the new files
    val keptAfter = mt.filesFor(col("id") === 4242L)
    assert(keptAfter.size <= 2, s"post-compact kept ${keptAfter.size}/4")
    assert(mt.readEq("id", "4242").select("id").as[Long].collect()
      .toSeq === Seq(4242L))
    val clone = mt.shallowClone(scratch("bloom_clone"))
    assert(clone.readEq("id", "77").select("id").as[Long].collect()
      .toSeq === Seq(77L))
  }
}
