package graft

import graft.lake.{ManifestTable, MergeInsertClause, MergeUpdateClause}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L27 generated columns (Delta GENERATED ALWAYS AS): registered
  * expressions every writer computes when the column is absent,
  * validates in-job when present (a disagreeing value fails the
  * write), and that pin both their own name and the names they read
  * against renames.
  */
class GeneratedColumnSpec extends SparkTestBase {
  quiet()
  import spark.implicits._

  private def scratch(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_gen_$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    dir
  }

  private def base: DataFrame =
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"))
      .toDF("id", "amt", "tag")

  private def deepMsg(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("absent column is computed on write; explicit NULL means compute") {
    val mt = new ManifestTable(spark, scratch("compute"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    mt.write(Seq((4L, 5.0, "c")).toDF("id", "amt", "tag"), "append")
    val got = mt.read().filter(col("id") === 4)
      .select("amt_x2").as[Double].head()
    assert(got === 10.0)
    // pre-registration rows simply lack the column (mergeSchema nulls)
    assert(mt.read().filter(col("id") === 1).select("amt_x2").head().isNullAt(0))
    // an explicit NULL in the incoming frame means "compute it"
    mt.write(Seq((5L, 7.0, "d", null.asInstanceOf[java.lang.Double]))
      .toDF("id", "amt", "tag", "amt_x2"), "append")
    assert(mt.read().filter(col("id") === 5)
      .select("amt_x2").as[Double].head() === 14.0)
  }

  test("a present value disagreeing with the expression fails the write; table untouched") {
    val mt = new ManifestTable(spark, scratch("validate"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    mt.write(Seq((4L, 5.0, "c", 10.0)).toDF("id", "amt", "tag", "amt_x2"),
      "append") // agreeing value: fine
    val v = mt.latestVersion.get
    val ex = intercept[Exception] {
      mt.write(Seq((5L, 5.0, "c", 11.0)).toDF("id", "amt", "tag", "amt_x2"),
        "append")
    }
    assert(deepMsg(ex).contains("amt_x2"))
    assert(mt.latestVersion.get === v, "drifting write must not commit")
    assert(mt.read().count() === 4)
  }

  test("renames refuse on both sides: the generated column and its inputs") {
    val mt = new ManifestTable(spark, scratch("rename"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    mt.write(Seq((4L, 5.0, "c")).toDF("id", "amt", "tag"), "append")
    // renaming the generated column would duplicate it on next write
    val e1 = intercept[IllegalArgumentException](mt.renameColumn("amt_x2", "twice"))
    assert(e1.getMessage.contains("generated"))
    // renaming a column the expression reads breaks stored-SQL resolution
    val e2 = intercept[IllegalArgumentException](mt.renameColumn("amt", "amount"))
    assert(e2.getMessage.contains("amt_x2"))
    // unreferenced columns still rename freely
    mt.renameColumn("tag", "label")
    assert(mt.read().columns.contains("label"))
    // dropping the generated column lifts both refusals
    mt.dropGeneratedColumn("amt_x2")
    mt.renameColumn("amt", "amount")
    assert(mt.read().columns.contains("amount"))
  }

  test("merge computes generated columns for sources that omit them") {
    val mt = new ManifestTable(spark, scratch("merge"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    mt.write(Seq((4L, 5.0, "c")).toDF("id", "amt", "tag"), "append")
    mt.merge(Seq((4L, 50.0, "c"), (9L, 90.0, "z")).toDF("id", "amt", "tag"),
      Seq("id"))
    val got = mt.read().filter(col("id").isin(4, 9))
      .select(col("id"), col("amt_x2")).as[(Long, Double)].collect().toMap
    assert(got === Map(4L -> 100.0, 9L -> 180.0))
  }

  test("merge right after registering a generated column no file holds yet") {
    val mt = new ManifestTable(spark, scratch("merge_fresh"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    val feed = Seq((2L, 21.0, "b"), (9L, 90.0, "z")).toDF("id", "amt", "tag")
    val v = mt.merge(feed, Seq("id"))
    val got = mt.read().filter(col("id").isin(2, 9))
      .select(col("id"), col("amt_x2")).as[(Long, Double)].collect().toMap
    assert(got === Map(2L -> 42.0, 9L -> 180.0))
    assert(mt.read().count() === 4)
    // a feed carrying the (agreeing) generated column is the same feed
    assert(mt.merge(feed.withColumn("amt_x2", col("amt") * 2), Seq("id")) === v,
      "re-applying the feed must commit nothing")
  }

  test("DV updates recompute generated columns the SET leaves alone") {
    val mt = new ManifestTable(spark, scratch("dvupdate"))
    mt.write(base, "overwrite")
    mt.addGeneratedColumn("amt_x2", "amt * 2")
    mt.write(base, "overwrite") // every row carries amt_x2
    mt.enableCdc()
    def x2(v: Int): Map[(Long, String), Double] = mt.changesAt(v, None)
      .select(col("id"), col("_change_type"), col("amt_x2"))
      .as[(Long, String, Double)].collect()
      .map { case (id, t, x) => (id, t) -> x }.toMap
    val v2 = mt.updateWhere(col("id") === 3L, Map("amt" -> lit(31.0)))
    val v3 = mt.mergeInto(
      Seq((2L, 21.0), (7L, 70.0)).toDF("s_id", "s_amt"),
      col("s_id") === col("id"),
      matched = Seq(MergeUpdateClause(None, Map("amt" -> col("s_amt")))),
      notMatched = Seq(MergeInsertClause(None,
        Map("id" -> col("s_id"), "amt" -> col("s_amt"), "tag" -> lit("n")))))
    val got = mt.read().select(col("id"), col("amt_x2"))
      .as[(Long, Double)].collect().toMap
    assert(got === Map(1L -> 20.0, 2L -> 42.0, 3L -> 62.0, 7L -> 140.0))
    // the recorded change rows agree with the written rows
    assert(x2(v2) === Map((3L, "update_preimage") -> 60.0,
      (3L, "update_postimage") -> 62.0))
    assert(x2(v3) === Map((2L, "update_preimage") -> 40.0,
      (2L, "update_postimage") -> 42.0, (7L, "insert") -> 140.0))
  }
}
