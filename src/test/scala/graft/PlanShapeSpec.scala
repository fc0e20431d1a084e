package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions (SURVEY.md §4): the optimizations we rely on
  * for 100 TB scale must actually appear in the physical plan —
  * predicate pushdown to parquet, column pruning, broadcast joins,
  * top-k via TakeOrderedAndProject, partial aggregation.
  */
class PlanShapeSpec extends SparkTestBase {
  quiet()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("flagship: filters are pushed to the parquet scan") {
    val p = plan("flagship_q3_topk")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("flagship: top-k compiles to TakeOrderedAndProject") {
    assert(plan("flagship_q3_topk").contains("TakeOrderedAndProject"))
  }

  test("p1: read schema is pruned to selected columns") {
    val p = plan("p1_project_rename")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_extendedprice"), "unused column not pruned:\n" + p)
  }

  test("j2: dimension join is broadcast") {
    assert(plan("j2_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("j5 star: all dimension joins broadcast, no cartesian") {
    val p = plan("j5_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("l1 merge: target side is anti-joined, never full-outer shuffled") {
    // the anti-join + union MERGE shape: with a small CDC feed the
    // target table is probed via a broadcast anti join — the 100 TB
    // side is never hash-shuffled (a full-outer join would shuffle
    // both sides unconditionally and is not broadcastable)
    val df = SparkEntry.queries("l1_merge")(spark, sf)
    df.collect() // AQE finalizes the join strategy at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FullOuter"), "merge regressed to a full-outer join:\n" + p)
    assert(p.contains("LeftAnti"), p)
    // the broadcast claim depends on autoBroadcastJoinThreshold and AQE
    // runtime stats; the structural invariant above must survive a
    // config tweak, so only assert broadcast when broadcasting is on
    if (spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1")
      assert(p.contains("BroadcastHashJoin"), "small feed should broadcast:\n" + p)
  }

  test("a1: aggregation is two-phase (partial + final)") {
    val p = plan("a1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), "no partial (map-side) aggregation:\n" + p)
  }

  test("o2: top-k avoids global sort") {
    assert(plan("o2_topk").contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the flagship pipeline") {
    // codegen spans only appear in the finalized adaptive plan
    val df = SparkEntry.queries("flagship_q3_topk")(spark, sf)
    df.collect()
    // codegen stages print as "*(n) Operator" in the final plan string
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("sub1: correlated scalar subquery is decorrelated into a join") {
    val p = plan("sub1_correlated_scalar")
    // Catalyst rewrites the per-part scalar subquery into an aggregate
    // joined on the correlation key — never a per-row re-execution
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p)
  }

  test("u3 set-ops: pruned pushed-down scans + AQE broadcast semi/anti join") {
    // Each branch scans orders with ITS status filter pushed down (two
    // pruned scans beat one shared wide scan — each reads only matching
    // row groups of 2 columns), and AQE must turn the set-op's join into
    // a broadcast semi/anti, not a full shuffle join. Final plan exists
    // only after execution.
    Seq("u3_intersect" -> "LeftSemi", "u3_except" -> "LeftAnti").foreach {
      case (name, joinType) =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("EqualTo(o_orderstatus,F)"), s"$name F-pushdown:\n$p")
        assert(p.contains("EqualTo(o_orderstatus,O)"), s"$name O-pushdown:\n$p")
        assert(p.contains(s"BroadcastHashJoin") && p.contains(joinType),
          s"$name should broadcast $joinType:\n$p")
        assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>"),
          s"$name scan not pruned to 2 columns:\n$p")
    }
  }

  test("r1 pivot with explicit values is a single-scan single-aggregate plan") {
    val p = plan("r1_pivot")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      "pivot should not re-scan to discover values:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("mix1 hash sampling is scan+filter only — no aggregate/join exchange") {
    val p = plan("mix1_hash_sample")
    assert(!p.contains("hashpartitioning"),
      "row-wise sampler must not shuffle:\n" + p)
    assert(p.contains("rangepartitioning"), "only the final sort exchanges:\n" + p)
  }

  test("d2 inverted-index jaccard has no cartesian/nested-loop join") {
    val p = plan("d2_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("j4 semi/anti joins plan as semi/anti, not inner+distinct") {
    assert(plan("j4_semi_join").contains("LeftSemi"))
    assert(plan("j4_anti_join").contains("LeftAnti"))
  }

  test("d7 contamination joins through the inverted n-gram index — no cartesian") {
    val p = plan("d7_contamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a8 descriptive stats is one partial-aggregated pass, no join") {
    val p = plan("a8_descriptive_stats")
    assert(p.contains("partial_"), "sufficient stats must map-side combine:\n" + p)
    assert(!p.contains("Join"), "single-pass moments must not join:\n" + p)
    // one hash exchange for the agg + one range exchange for the output
    // order — any more means the sufficient-statistics pass re-shuffles
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("mix5 stratified split is scan + partial/final agg (no extra shuffle)") {
    val p = plan("mix5_stratified_split")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
  }

  test("j6b bucketed range join is an equi-join with residual, never nested-loop") {
    val p = plan("j6b_bucketed_range")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the (user, bucket) key must make this a hash/SMJ equi-join:\n" + p)
  }

  test("s7 PQ: the corpus side of the ADC join carries codes, not vectors") {
    // the whole point of PQ at 100 TB: the corpus-wide scan→join path
    // moves 16 small ints per row, never the 64-double embedding. The
    // plan's join reads `codes` and the probe-side lut — if `v` (the
    // full vector) appears in the join's corpus-side output, the
    // compression bought nothing.
    val df = graft.queries.Similarity.s7PqAnn(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
    // root whose children aren't visible to collect() before execution
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty)
    val adc = joins.head // innermost-listed join = the codes⋈probes ADC join
    val corpusSideCols =
      (adc.left.output ++ adc.right.output).map(_.name)
    assert(corpusSideCols.contains("codes"), corpusSideCols.mkString(","))
    assert(!corpusSideCols.contains("v"),
      s"ADC join must not carry the raw vector: $corpusSideCols")
  }

  test("dynamic partition pruning fires on a partitioned fact ⋈ filtered dim") {
    // the 100 TB join pattern: a date-partitioned fact joined to a dim
    // filtered at runtime — Spark must inject a DPP subquery so the
    // fact scan reads only the dim-selected partitions, not all of them
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dpp_fact"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    Q.t(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(dir)
    val dimDir = s"${sys.props("java.io.tmpdir")}/graft_dpp_dim"
    val pd = new org.apache.hadoop.fs.Path(dimDir)
    pd.getFileSystem(spark.sessionState.newHadoopConf()).delete(pd, true)
    Q.t(spark, sf, "events")
      .select(to_date(col("ts")).as("day")).distinct()
      .write.parquet(dimDir)
    val fact = spark.read.parquet(dir)
    // a SELECTIVE runtime predicate on the dim (not on the join key
    // statically) — exactly the shape DPP exists for
    val dim = spark.read.parquet(dimDir)
      .filter(dayofmonth(col("day")) <= 3)
    val joined = fact.join(dim, Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning") ||
      planStr.contains("DynamicPruning") ||
      planStr.contains("SubqueryBroadcast"),
      s"expected a DPP filter on the fact scan:\n$planStr")
    // and it actually executes correctly
    assert(joined.collect().map(_.getLong(1)).sum > 0)
  }

  test("mix2: packing cumsum windows are bucketed, input shuffled once") {
    // The running token sum must NEVER be a Window.partitionBy(lang)
    // over raw per-doc rows — lang is low-cardinality + Zipf-skewed,
    // so that plan funnels most of a 100 TB corpus through one task.
    // PrefixSum's two-pass form instead windows on (lang, _psb range
    // bucket); the per-bucket totals agg rides the SAME exchange.
    val df = SparkEntry.queries("mix2_seq_packing")(spark, sf)
    df.collect() // finalize AQE plan
    val p = df.queryExecution.executedPlan.toString
    val windowSpecs = p.linesIterator
      .filter(l => l.contains("Window ") && l.contains("windowspecdefinition"))
      .toSeq
    val rawCumsum = windowSpecs.filter(l =>
      l.contains("n_tokens") && !l.contains("_psb"))
    assert(rawCumsum.isEmpty,
      s"per-doc cumsum window not bucket-partitioned:\n${rawCumsum.mkString("\n")}")
    assert(p.contains("_psb"), "expected PrefixSum bucket key in plan:\n" + p)
    assert(p.contains("ReusedExchange"),
      "bucket-totals agg should reuse the window exchange (one shuffle of the corpus):\n" + p)
  }

  test("ts3: rolling-extrema windows are (type, group)-bucketed") {
    // same 100 TB guarantee for the trailing-24 max: every window over
    // event rows must be partitioned by (event_type, _brg group), never
    // by the low-cardinality event_type alone
    val df = SparkEntry.queries("ts3_extrema")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val rawWindows = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition") &&
        l.contains("event_type") && !l.contains("_brg")).toSeq
    assert(rawWindows.isEmpty,
      s"rolling window not group-partitioned:\n${rawWindows.mkString("\n")}")
    assert(p.contains("_brg"), p)
  }

  test("mix8: same bucketed-cumsum guarantee on the full curation pipeline") {
    val df = SparkEntry.queries("mix8_curation_pipeline")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val rawCumsum = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition") &&
        l.contains("n_tokens") && !l.contains("_psb")).toSeq
    assert(rawCumsum.isEmpty,
      s"per-doc cumsum window not bucket-partitioned:\n${rawCumsum.mkString("\n")}")
    assert(p.contains("_psb"), p)
  }

  private def executedPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def rawKeyWindows(p: String, key: String, bucket: String) =
    p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition") &&
        l.contains(key) && !l.contains(bucket)).toSeq

  test("mix3/mix6: rank windows are range-bucketed, never bare lang/source") {
    // same 100 TB guarantee for the ranking family: a percent-rank /
    // row-number over raw docs must window on (key, _psb), never the
    // low-cardinality key alone
    val p3 = executedPlanOf("mix3_quality_filter")
    assert(rawKeyWindows(p3, "lang", "_psb").isEmpty &&
      p3.contains("_psb"), p3)
    val p6 = executedPlanOf("mix6_temperature")
    assert(rawKeyWindows(p6, "source", "_psb").isEmpty &&
      p6.contains("_psb"), p6)
  }

  test("a13 exact quantiles: rank windows are range-bucketed") {
    // both the per-status and the GLOBAL rank must ride (…, _psb)
    // windows over the price-grain frame — a global row_number over
    // raw rows is the single-task sort the exact form used to pay
    val p = executedPlanOf("a13_quantile_exact")
    val bare = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition") &&
        !l.contains("_psb")).toSeq
    assert(bare.isEmpty, s"un-bucketed window:\n${bare.mkString("\n")}")
    assert(p.contains("_psb"), p)
  }

  test("w1/mix4: constant-k rank filters get partial WindowGroupLimit") {
    // the one low-cardinality-window shape Spark distributes natively:
    // InferWindowGroupLimit must plan a PARTIAL per-input-partition
    // top-k in front of the exchange, so the final per-key sort sees
    // ≤ k·(map tasks) rows — if this ever stops firing (regression,
    // non-constant quota, frame change), the queries must move to the
    // PrefixSum/bucketed form like mix3/mix6
    val p1 = executedPlanOf("w1_rank_topn")
    assert(p1.contains("WindowGroupLimit") && p1.contains("Partial"), p1)
    val p4 = executedPlanOf("mix4_quota_sample")
    assert(p4.contains("WindowGroupLimit") && p4.contains("Partial"), p4)
  }

  test("w4 ntile: no single-partition global window") {
    // ntile/percent_rank/cume_dist over ALL customers must never plan
    // the global Window (Exchange SinglePartition + one-task sort);
    // the distributed form's only windows are PrefixSum's bucketed ones
    val p = executedPlanOf("w4_ntile")
    val bare = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition") &&
        !l.contains("_psb")).toSeq
    assert(bare.isEmpty, s"un-bucketed window:\n${bare.mkString("\n")}")
    assert(p.contains("_psb"), p)
  }

  test("l6 exact dedup: first-per-key is an aggregate, not a window") {
    val p = executedPlanOf("l6_exact_dedup")
    assert(!p.contains("windowspecdefinition"),
      "l6 must not sort per (lang, source) in a window:\n" + p)
    assert(p.contains("min_by") && p.contains("partial_min_by"), p)
  }

  test("w3 range frame: windows the day grain, joins back broadcast") {
    val p = executedPlanOf("w3_range_by_value")
    // the window's input must be the (priority, day) aggregate —
    // partial aggregation present — and rows rejoin via broadcast
    assert(p.contains("HashAggregate") && p.contains("ord_day"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    val windowLines = p.linesIterator.filter(l =>
      l.contains("Window ") && l.contains("windowspecdefinition")).toSeq
    assert(windowLines.forall(_.contains("day_total")),
      s"window must aggregate day totals, not raw rows:\n${windowLines.mkString("\n")}")
  }

  /** Shuffle-exchange counts of the data-file writes `op` runs under
    * `root`, one per write, from the executed plans a
    * QueryExecutionListener sees. A table's data write is one SQL
    * execution named `graft <operation> <table root>`.
    */
  private def writeShuffles(root: String)(op: => Unit): Seq[Int] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f.startsWith("graft ") && f.endsWith(root)) writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      op
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    writes.asScala.toSeq.map(p =>
      helper.collect(p) { case s: ShuffleExchangeExec => s }.size)
  }

  test("maintenance rewrites on partitioned tables plan one shuffle: " +
      "the write's own tuple hash") {
    import graft.lake.ManifestTable
    val base = s"${sys.props("java.io.tmpdir")}/graft_plan_rewrite_${System.nanoTime()}"
    val rows = spark.range(200).select(col("id"), (col("id") % 3).as("k"),
      (col("id") * 7 % 50).as("a"), (col("id") * 13 % 50).as("b"))
    // a transform puts a projection between a layout step and the
    // write's shuffle, so a layout step there would plan its own
    val bucketed = new ManifestTable(spark, s"$base/bucketed",
      partitionSpec = Seq("bucket(4,id)"))
    bucketed.write(rows, "overwrite")
    bucketed.write(rows.withColumn("id", col("id") + 200), "append")
    assert(writeShuffles(s"$base/bucketed")(bucketed.compact(2)) === Seq(1))
    // Morton clustering would add a range exchange before the write's
    val byK = new ManifestTable(spark, s"$base/identity", partitionCol = Some("k"))
    byK.write(rows, "overwrite")
    val before = byK.read().collect().toSet
    assert(writeShuffles(s"$base/identity")(
      byK.optimizeByZ(Seq("a", "b"), 4)) === Seq(1))
    assert(byK.read().collect().toSet === before)
  }
}
