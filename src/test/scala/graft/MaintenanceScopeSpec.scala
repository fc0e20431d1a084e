package graft

import graft.lake.ManifestTable
import org.apache.spark.sql.functions._

/** Partition-scoped maintenance (the `OPTIMIZE ... WHERE` surface):
  * compact / compactSmall / reorgPurge / optimizeByZ with a partition
  * predicate rewrite ONLY the selected tuples' files — every other
  * file carries forward by reference (asserted on the file-list diff),
  * data is identical before and after, and predicates off the
  * partition layout refuse. At 100 TB one compacts yesterday's
  * partition, never the table; these specs pin that contract.
  */
class MaintenanceScopeSpec extends SparkTestBase {
  quiet()

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_scope_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  /** Relative data-file paths of the latest version. */
  private def files(t: ManifestTable): Set[String] =
    t.filesDf().select("file").collect().map(_.getString(0)).toSet

  private def freshTable(name: String): (ManifestTable, String) = {
    val root = scratch(name)
    val t = new ManifestTable(spark, root, partitionCol = Some("k"))
    // several appends → many small files in every partition
    (0 until 3).foreach(i =>
      t.write(spark.range(30L * i, 30L * (i + 1))
        .select(col("id"), (col("id") % 3).as("k"),
          concat(lit("v"), col("id")).as("s")), if (i == 0) "overwrite"
        else "append"))
    (t, root)
  }

  test("scoped compact rewrites only the selected partition's files") {
    val (t, _) = freshTable("compact")
    val before = files(t)
    val beforeData = t.read().collect().toSet
    val k1 = before.filter(_.contains("k=1"))
    assert(k1.size > 1, "fixture must hold multiple k=1 files")
    t.compact(1, Some(col("k") === 1))
    val after = files(t)
    // untouched partitions carry forward by reference
    assert((before -- k1).subsetOf(after), "out-of-scope files must carry")
    assert((after -- (before -- k1)).forall(_.contains("k=1")),
      "every new file must live in the scoped partition")
    assert(after.filter(_.contains("k=1")).size === 1)
    assert(t.read().collect().toSet === beforeData)
  }

  test("scoped compactSmall packs only in-scope candidates") {
    val (t, _) = freshTable("small")
    val before = files(t)
    val k0 = before.filter(_.contains("k=0"))
    t.compactSmall(1L << 20, scope = Some(col("k") === 0))
    val after = files(t)
    assert((before -- k0).subsetOf(after))
    assert(after.filter(_.contains("k=0")).size === 1)
    // a second scoped pass is a no-op (one packed file left in scope)
    val v = t.latestVersion.get
    assert(t.compactSmall(1L << 20, scope = Some(col("k") === 0)) === v)
  }

  test("scoped reorgPurge materializes only in-scope deletion vectors") {
    val (t, _) = freshTable("reorg")
    t.delete(col("id") % 10 === 0) // DVs land in every partition
    val before = files(t)
    val withDv = t.filesDf().filter(col("dv_sidecar").isNotNull)
      .select("file").collect().map(_.getString(0)).toSet
    assert(withDv.exists(_.contains("k=0")) && withDv.exists(!_.contains("k=0")),
      "fixture must hold DVs inside and outside the scope")
    val beforeData = t.read().collect().toSet
    t.reorgPurge(0.0, Some(col("k") === 0))
    val after = files(t)
    assert((before -- withDv.filter(_.contains("k=0"))).subsetOf(after),
      "only in-scope DV'd files may rewrite")
    val dvAfter = t.filesDf().filter(col("dv_sidecar").isNotNull)
      .select("file").collect().map(_.getString(0)).toSet
    assert(dvAfter.forall(!_.contains("k=0")), "scope must be DV-free now")
    assert(dvAfter === withDv.filterNot(_.contains("k=0")),
      "out-of-scope DVs must survive untouched")
    assert(t.read().collect().toSet === beforeData)
  }

  test("scoped optimizeByZ clusters only the selected partition; " +
      "numeric predicate compares typed, not lexically") {
    val t = new ManifestTable(spark, scratch("zorder"),
      partitionCol = Some("k"), statsCol = Some("a"))
    t.write(spark.range(300)
      .select(col("id"), (col("id") % 12).as("k"), (col("id") * 7 % 100).as("a"),
        (col("id") * 13 % 100).as("b")), "overwrite")
    t.write(spark.range(300, 600)
      .select(col("id"), (col("id") % 12).as("k"), (col("id") * 7 % 100).as("a"),
        (col("id") * 13 % 100).as("b")), "append")
    val before = files(t)
    val beforeData = t.read().collect().toSet
    // typed comparison: k < 2 must select partitions 0 and 1 — a
    // lexical compare on path strings would also admit k=10, k=11
    val inScope = before.filter(f => f.contains("k=0/") || f.contains("k=1/"))
    val offScope = before -- inScope
    assert(before.exists(_.contains("k=10")), "fixture needs 2-digit keys")
    t.optimizeByZ(Seq("a", "b"), 2, Some(col("k") < 2))
    val after = files(t)
    assert(offScope.subsetOf(after), "k>=2 files (incl. k=10) must carry")
    assert((after -- offScope)
      .forall(f => f.contains("k=0/") || f.contains("k=1/")))
    assert(t.read().collect().toSet === beforeData)
  }

  test("full and scoped compaction keep declared-only columns out of " +
      "the files, so deprecateColumns still hides them") {
    Seq(None, Some(col("k") >= 0)).foreach { scope =>
      val (t, _) = freshTable(s"declared_${scope.isDefined}")
      t.addColumns("note STRING")
      t.compact(1, scope)
      t.deprecateColumns(Seq("note"))
      assert(t.read().columns.toSeq.sorted === Seq("id", "k", "s"),
        s"scope = $scope")
    }
  }

  test("scope predicates off the partition layout refuse; empty scope " +
      "is a no-op commit-wise") {
    val (t, _) = freshTable("refuse")
    val e = intercept[IllegalArgumentException](t.compact(1, Some(col("s") === "v1")))
    assert(e.getMessage.contains("partition columns only"))
    val unpart = new ManifestTable(spark, scratch("unpart"))
    unpart.write(spark.range(10).toDF("id"), "overwrite")
    val e2 = intercept[IllegalArgumentException](
      unpart.compact(1, Some(col("id") === 1)))
    assert(e2.getMessage.contains("partition columns only"))
    val v = t.latestVersion.get
    assert(t.compact(1, Some(col("k") === 99)) === v, "empty scope: no commit")
  }

  test("maintenance advisor recommends SCOPED commands when the need " +
      "concentrates in a minority of partitions — and they run") {
    val root = scratch("advisor")
    val t = new ManifestTable(spark, root, partitionCol = Some("k"))
    // one well-packed (padded past the threshold) file per key 0..7,
    // then fragment ONLY k=3: the compact_small advice must scope to it
    t.write(spark.range(800)
      .select(col("id"), (col("id") % 8).as("k"),
        // incompressible pad: keeps base files above the threshold
        sha2(concat(lit("a"), col("id").cast("string")), 512).as("pad"))
      .repartition(1), "overwrite")
    (0 until 3).foreach(i => t.write(
      spark.range(1000L + i, 1001L + i)
        .select(col("id"), lit(3L).as("k"), lit("y").as("pad")),
      "append"))
    val plan = t.maintenancePlan(3000L)
    val cmd = plan.find(_._2 == "compact_small").map(_._4).getOrElse(
      fail("advisor must flag the fragmented partition"))
    assert(cmd.contains("IN (''3'')"), s"expected a k=3 scope in: $cmd")
    // the recommended command is runnable and touches only k=3
    val before = files(t)
    val k3 = before.filter(_.contains("k=3"))
    val s = extensionsSession("graft-scope-advisor")
    s.sql(cmd).collect()
    val after = files(ManifestTable.forRoot(s, root))
    assert((before -- k3).subsetOf(after), "out-of-scope files must carry")
    // the three fragment files pack into one; the compliant base file
    // carries — two k=3 files remain
    assert(after.filter(_.contains("k=3")).size === 2)
    // a uniformly fragmented table gets the UNscoped form
    val root2 = scratch("advisor_uniform")
    val t2 = new ManifestTable(spark, root2, partitionCol = Some("k"))
    (0 until 3).foreach(i => t2.write(
      spark.range(4L * i, 4L * i + 4).select(col("id"), (col("id") % 2).as("k")),
      if (i == 0) "overwrite" else "append"))
    val cmd2 = t2.maintenancePlan(32L << 20)
      .find(_._2 == "compact_small").map(_._4).get
    assert(!cmd2.contains(" IN ("), s"uniform need must stay unscoped: $cmd2")
  }

  test("SQL surface: CALL graft.optimize/zorder/reorg with a predicate " +
      "scope; clone + backfill_row_ids procedures") {
    val s = extensionsSession("graft-scope-sql")
    val (t, root) = freshTable("sql")
    val before = files(t)
    val k2 = before.filter(_.contains("k=2"))
    s.sql(s"CALL graft.optimize('$root', 1, 'k = 2')").collect()
    val after = files(ManifestTable.forRoot(s, root))
    assert((before -- k2).subsetOf(after))
    assert(after.filter(_.contains("k=2")).size === 1)
    // clone: dest reads the same rows with zero data copy
    val dest = scratch("sql_clone")
    s.sql(s"CALL graft.clone('$root', '$dest')").collect()
    val cloned = ManifestTable.forRoot(s, dest)
    assert(cloned.read().collect().toSet ===
      ManifestTable.forRoot(s, root).read().collect().toSet)
  }
}
