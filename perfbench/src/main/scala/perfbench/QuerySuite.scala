package perfbench

import graft.SparkEntry

/** `query_suite`: read-only analytics over the plain parquet tables. Each
  * op runs one declared query, builds its DataFrame and materialises it
  * through a noop write, as `graft.Bench` does. The list spans the
  * aggregate, join, window, subquery, dedup, similarity, text and
  * graph/iterative families and holds no query that builds a lake table.
  * The persisted-index query s9 builds its index once per
  * `java.io.tmpdir`; that build is the workload's set-up, and every later
  * s9 op loads the index it left. Results of one pass are written as
  * parquet for the DuckDB oracle check, s9's from the loaded index.
  */
object QuerySuite {
  val Queries: Seq[String] = Seq(
    "a2_count_distinct", "a12_heavy_hitters",
    "j4_semi_join", "j7_asof_join",
    "w5_first_last_nth", "sub3_exists",
    "d1_exact_dedup", "d5_embedding_neardup",
    "s1_cosine_topk", "s9_pq_persisted",
    "tx_bigrams", "tx_token_stats",
    "d9_triangles")
  private val IndexQueries = Seq("s9_pq_persisted")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val all = SparkEntry.queries
    def noop(name: String): Unit =
      all(name)(spark, h.dataDir).write.format("noop").mode("overwrite").save()

    def freshTmp(name: String): Unit = {
      val tmp = s"${h.workDir}/tmp/$name"
      new java.io.File(tmp).mkdirs()
      System.setProperty("java.io.tmpdir", tmp)
    }

    // warm-up: one pass whose results the oracle check reads
    freshTmp("warm")
    val out = s"${h.workDir}/results"
    def result(n: String): Unit =
      all(n)(spark, h.dataDir).coalesce(1).write.parquet(s"$out/$n")
    Queries.filterNot(IndexQueries.contains).foreach(result)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.render(oracles))
    h.extra("results_dir") = out
    h.phase("warm-up")

    h.setup(3) { r =>
      freshTmp(s"index$r")
      IndexQueries.foreach(noop)
    }
    // checked results of the index queries come through the load path the
    // timed ops take: java.io.tmpdir still holds the last set-up's index
    IndexQueries.foreach(result)

    val rng = new scala.util.Random(h.seed)
    h.loop(cycleSeconds = 6, traceCycles = 2) { _ =>
      rng.shuffle(Queries).foreach { n =>
        h.op(n, "read") {
          val df = h.call("queries", "build")(all(n)(spark, h.dataDir))
          h.call("queries", "execute")(
            df.write.format("noop").mode("overwrite").save())
        }
      }
    }
  }
}
