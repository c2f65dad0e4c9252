package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan audits: the properties that decide whether a query
  * survives a 100× scale-up — filters pushed into the parquet scan,
  * columns pruned, dimensions broadcast, candidate generation via
  * equality joins (never CartesianProduct/BroadcastNestedLoop except the
  * deliberate broadcast-the-query-set scans in ANN), no single-task
  * funnels. */
class PlanSpec extends SparkSuite {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  private def planString(df: DataFrame): String = {
    df.collect() // let AQE finalize; toString then renders the final plan
    df.queryExecution.executedPlan.toString()
  }

  test("q1_pricing: shipdate filter is pushed into the parquet scan; columns pruned") {
    val scan = q("q1_pricing").queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(scan.contains("LessThanOrEqual(l_shipdate"), s"shipdate not pushed: $scan")
    // projection pruning: the scan must not read unused money columns
    val read = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_suppkey"), s"unpruned scan: $read")
  }

  test("sample_stride: modulo filter evaluated on a 2-column scan only") {
    val scan = q("sample_stride").queryExecution.executedPlan.toString()
    val read = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("n_chars") && !read.contains("text"),
      s"scan reads more than the projection: $read")
  }

  test("q5_local: nation/region broadcast; supplier NOT force-broadcast at plan time") {
    // hints survive only in the ANALYZED plan (the optimizer erases
    // ResolvedHint nodes, so scanning optimizedPlan would always pass)
    val analyzed = q("q5_local").queryExecution.analyzed.toString()
    val hinted = "(?s)UnresolvedHint|ResolvedHint".r.findAllIn(analyzed).length
    assert(hinted == 2, s"expected exactly 2 broadcast hints (nation, region), got $hinted:\n$analyzed")
  }

  test("dedup_minhash and ann_ivf_topk build candidates by equality join (no cartesian)") {
    Seq("dedup_minhash", "ann_ivf_topk").foreach { name =>
      val p = planString(q(name))
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
  }

  test("q2_mincost: per-part min is a partitioned window — lineitem scanned once") {
    // AQE toString renders Final + Initial sections; audit the final one
    val full = planString(q("q2_mincost"))
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // one pass: the aggregate+self-join decorrelation would plan TWO
    // lineitem scans (or lean on ReusedExchange); the window form is
    // structurally single-scan
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"expected 1 lineitem scan, got $lineitemScans:\n$p")
    assert(p.contains("Window"), s"per-part min is not a window:\n$p")
    // the window must be keyed on l_partkey (an unpartitioned global
    // window renders windowspecdefinition(specifiedwindowframe(...))
    // with no partition column before the frame)
    assert("windowspecdefinition\\(l_partkey".r.findFirstIn(p).isDefined,
      s"q2_mincost window is not partitioned by l_partkey:\n$p")
  }

  test("range_join bands to an equality join — no nested-loop from the inequality") {
    val p = planString(q("range_join"))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("dedup_jaccard: inverted-index self-join is a shuffled equality join") {
    val p = planString(q("dedup_jaccard"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"jaccard join degenerated:\n$p")
  }

  // (ranking's multi-partition property is asserted in CoreOpsSpec on a
  // dataset big enough that AQE doesn't legitimately coalesce it to 1.)

  test("stride_plan executes through the custom StrideSampleExec node") {
    val df = q("stride_plan")
    val plan = planString(df)
    // physical nodes render without the Exec suffix
    assert(plan.contains("StrideSample"), s"custom node not planned:\n$plan")
    // agrees with the modulo-on-doc_id definition (doc_ids are dense here)
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids == ids.sorted)
    assert(ids.forall(id => (id - 2) % 10 == 0))
  }

  test("dedup_embedding_lsh_indexed: re-rank probes the BUCKETED vector " +
      "store — no corpus broadcast, no raw-store shuffle") {
    // The broadcast twin ships the whole vector table to every executor
    // (impossible at 10⁹ vectors); the indexed form must instead read
    // vec_store as a bucketed scan so the re-rank equality joins
    // co-locate on vec_id with NO Exchange above the raw store scan.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val full = planString(q("dedup_embedding_lsh_indexed"))
      val p = full.indexOf("== Initial Plan ==") match {
        case -1 => full
        case i  => full.substring(0, i)
      }
      // bucketed read actually engaged on the store scans
      assert(p.contains("SelectedBucketsCount"),
        s"vec_store not read as a bucketed table:\n$p")
      // the only BroadcastExchange allowed is the 64-row plane table of
      // the candidate generator (its subtree scans no parquet store)
      val bxSubtrees = p.split("BroadcastExchange").drop(1)
      assert(bxSubtrees.length <= 1,
        s"unexpected broadcasts (vector table must NOT be broadcast):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("q3_topk compiles to TakeOrderedAndProject (no full global sort)") {
    val p = planString(q("q3_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("seq_pack has no unpartitioned Window (runs on the two-phase prefix sum)") {
    // the global running token total must come from prefixSumLong's
    // range-partition + driver-carry design — a Window.orderBy would be a
    // single-task funnel at scale
    val p = planString(q("seq_pack"))
    assert(!p.contains("Window"), s"seq_pack fell back to a window funnel:\n$p")
  }

  test("census sweep: no gate plans an unpartitioned Window over row-scale data") {
    // WindowExec with an empty partitionSpec funnels EVERYTHING through
    // one task — the classic silent scale-killer. A global window is
    // admissible only over a provably bounded input (an aggregate whose
    // cardinality is a domain, not the row count); each whitelist entry
    // records that proof. Anything else failing here means a new gate
    // shipped a global sort-window it shouldn't have.
    val whitelist: Map[String, String] = Map(
      // suffix-min over min-price-per-size: |p_size domain| ~ 50 rows,
      // bounded by the domain (Analytics.scala "skyline_parts")
      "skyline_parts" -> "window over per-size aggregate, O(|size domain|)")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.toSet == whitelist.keySet,
      s"unpartitioned windows: unexpected=${offenders.toSet -- whitelist.keySet} " +
        s"stale-whitelist=${whitelist.keySet -- offenders.toSet}")
  }

  test("rep_tokens and split_assign are scan-side only (no joins, no windows)") {
    Seq("rep_tokens", "split_assign").foreach { name =>
      val p = planString(q(name))
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$name should be a map-only scan + aggregate:\n$p")
    }
  }

  test("bucketed_join runs a SortMergeJoin over bucketed scans with no join-key re-shuffle") {
    val df = q("bucketed_join")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin"), s"merge hint not honored:\n$p")
    assert(p.contains("Bucketed: true") || p.contains("SelectedBucketsCount"),
      s"scan does not read the bucket layout:\n$p")
    // the join keys must never be re-shuffled — bucketing already
    // co-located them (the groupBy/orderBy exchanges downstream are fine)
    assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
      !p.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join re-shuffled its keys:\n$p")
  }

  test("q6_forecast: all four predicates reach the scan; only referenced columns read") {
    // formatted mode prints the scan's full PushedFilters list (the
    // tree-string truncates it)
    val p = q("q6_forecast").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach(f =>
      assert(p.contains(f), s"predicate $f not pushed:\n$p"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"scan reads columns the query never references: $read")
  }

  test("q15_topsupp: the one-row max side joins by broadcast HASH join, not nested loop") {
    val p = planString(q("q15_topsupp"))
    assert(p.contains("BroadcastHashJoin"), s"max-equality join not a BHJ:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"nested-loop fallback for the scalar-max join:\n$p")
  }

  test("triangle_count: sparsification is TakeOrderedAndProject, co-occurrence a key join") {
    // Since the r7 session-scoped coPairs cache, the GATE plan starts from
    // the localCheckpoint'ed edge set — the top-k and self-join live in the
    // build plan, which is what a fresh session (or production
    // materialization job) pays. Audit both.
    val bp = planString(graft.algos.Graph.coPairsBuild(spark, sfDir))
    assert(bp.contains("TakeOrderedAndProject"),
      s"top-2000 support cut compiles to a full global sort:\n$bp")
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoop"),
      s"pair generation degenerated to a non-key join:\n$bp")
    val p = planString(q("triangle_count"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"wedge closure degenerated to a non-key join:\n$p")
  }

  test("topk_per_group: phase-1 window is salted; no window runs over the bare group key alone on the full input") {
    val p = planString(q("topk_per_group"))
    // two DISTINCT Window nodes (the AQE tree-string repeats each in its
    // Initial and Final sections): (lang, salt) first, then lang over
    // the <=16k survivors
    val windows = "(?m)^.*\\+- Window .*$".r.findAllIn(p).map(_.trim).toSet
    assert(windows.size == 2, s"expected 2 distinct window nodes:\n$p")
    assert(windows.count(_.contains("salt")) == 1,
      s"exactly one window must carry the salt key:\n$p")
  }

  test("ngram_topk: vocabulary top-k is TakeOrderedAndProject, not a global sort") {
    val p = planString(q("ngram_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"top-25 grams compiled to a full sort:\n$p")
  }

  test("grouping_sets: compiles to one Expand (replication factor 3, not cube's 4)") {
    val p = planString(q("grouping_sets"))
    assert(p.contains("Expand"), s"grouping sets did not plan an Expand:\n$p")
  }

  test("mode_per_group: two hash aggregates, no Window over the raw events") {
    val p = planString(q("mode_per_group"))
    assert(!p.contains("Window"), s"mode fell back to a window funnel:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("collect_topids: the only window carries the salt key (bounded partitions)") {
    val p = planString(q("collect_topids"))
    val windows = "(?m)^.*\\+- Window .*$".r.findAllIn(p).map(_.trim).toSet
    assert(windows.size == 1 && windows.head.contains("salt"),
      s"collect_topids must rank inside (lang, salt) slices only:\n$p")
  }

  test("salted_join: the join condition carries the salt key alongside the natural key") {
    val qe = q("salted_join").queryExecution
    val joinLine = qe.optimizedPlan.toString().linesIterator
      .find(_.contains("Join Inner")).getOrElse("")
    assert(joinLine.contains("user_id") && joinLine.contains("salt"),
      s"salt not part of the join keys: $joinLine")
  }

  test("merge_upsert: latest-wins is a key-grouped argmax, no Window over the change stream") {
    val p = planString(q("merge_upsert"))
    assert(!p.contains("Window"), s"merge fell back to a window funnel:\n$p")
  }

  /** The final plan of the one eager cut ([[graft.core.Truncate]]) a
    * gate's build runs: the gate's own plan only scans the cut's blocks. */
  private def cutPlan(name: String): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan.toString())
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { q(name); org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"$name ran ${plans.size} cuts")
    plans.peek()
  }

  test("median_mad: cumulative windows keyed by event_type; stat tables return by broadcast") {
    val p = cutPlan("median_mad")
    val windows = "(?m)^.*\\+- Window .*$".r.findAllIn(p).map(_.trim).toSet
    assert(windows.nonEmpty && windows.forall(_.contains("event_type")),
      s"cumulative window not keyed by event_type:\n$p")
    // the totals/median tables are O(groups) rows — they must come back
    // as broadcast builds, not shuffle the full event stream again
    assert(p.contains("BroadcastHashJoin"), s"stat tables not broadcast:\n$p")
  }

  test("skyline_parts: frontier rejoin is a broadcast HASH join (equality on size+price)") {
    val p = planString(q("skyline_parts"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoop"),
      s"skyline rejoin is not a broadcast hash join:\n$p")
  }

  test("gap_fill: LOCF window partitions by user_id; densify is a Generate, not a join") {
    val p = planString(q("gap_fill"))
    val windows = "(?m)^.*\\+- Window .*$".r.findAllIn(p).map(_.trim).toSet
    assert(windows.nonEmpty && windows.forall(_.contains("user_id")),
      s"fill window not user-partitioned:\n$p")
    assert(p.contains("Generate"), s"hour grid not densified via explode:\n$p")
  }

  test("reservoir_sample: phase-1 window carries the salt; phase 2 ranks survivors only") {
    val p = planString(q("reservoir_sample"))
    val windows = "(?m)^.*\\+- Window .*$".r.findAllIn(p).map(_.trim).toSet
    assert(windows.size == 2, s"expected 2 distinct window nodes:\n$p")
    assert(windows.count(_.contains("salt")) == 1,
      s"exactly one window must carry the salt key:\n$p")
  }

  test("zorder_layout: map-only bit math + one hash aggregate — no join, no window") {
    val p = planString(q("zorder_layout"))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"z-order layout must be a pure scan+aggregate:\n$p")
  }

  test("bloom_join: prefilter runs map-side before the exact join's shuffle") {
    // AQE's toString renders Final + Initial sections; audit the final one
    val full = planString(q("bloom_join"))
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // the one-row bloom broadcast is the only nested-loop; the exact join
    // stays a hash join on the (prefiltered) key
    val bnl = "BroadcastNestedLoop".r.findAllIn(p).length
    assert(bnl == 1, s"expected exactly the one-row bloom broadcast, got $bnl:\n$p")
    assert(p.contains("shiftright"), s"bloom membership test missing from the plan:\n$p")
    // the membership probe must sit BELOW the exact equi-join (prefilter
    // before the join) — deeper nodes print later
    val joinPos = p.indexOf("HashJoin")
    val probePos = p.indexOf("shiftright")
    assert(joinPos >= 0 && probePos > joinPos,
      s"bloom probe is not below the exact join in the plan:\n$p")
  }

  test("global sweep: no cartesian anywhere; nested-loop joins only in the deliberate ANN scans") {
    // The blanket scale rule: candidate generation must always be a key
    // join. CartesianProduct is banned with NO exceptions. The ANN
    // queries deliberately broadcast the tiny query/centroid set against
    // the full scan — that IS the one-full-scan baseline — so
    // BroadcastNestedLoopJoin is whitelisted for exactly those two, plus
    // mix_weights and q22_global, whose build side is a ONE-ROW global
    // aggregate (the scalar-subquery shape: broadcasting a single scalar
    // row is O(1) data at any corpus size); dedup_embedding_lsh broadcasts its
    // 64-row constant hyperplane table (O(1) in the corpus) the same
    // way; anywhere else a nested-loop fallback is a planning
    // regression.
    // approx_topk joined the one-row-scalar club in round 6: its
    // certificate broadcasts the single-row token-count aggregate
    // against the per-token exact counts.
    // ann_ivf_indexed's probe step broadcasts the K-row centroid INDEX
    // table against the NQUERY query rows — O(K) data, same club as its
    // inline sibling.
    // q11_value joined the one-row-scalar club in round 9: its HAVING
    // threshold broadcasts the single-row regional-total aggregate.
    // dedup_embedding_lsh_indexed shares the lsh candidate generator's
    // 64-row hyperplane broadcast (r12) — same O(1)-in-the-corpus class.
    // flexdice_clusters broadcasts its 4-row constant DIRECTION table
    // (±x/±y) against the dense-cell list (r13) — O(1) in the corpus,
    // same class as the hyperplane broadcast.
    // lsh_bucket_stats (r14) is the occupancy census over the same
    // signature pipeline — the identical O(bands·bits)-row hyperplane
    // broadcast, nothing else joins.
    val bnlOk = Set("ann_cosine_topk", "ann_ivf_topk", "ann_ivf_indexed",
      "ann_rerank",
      "mix_weights", "dedup_embedding_lsh", "dedup_embedding_lsh_indexed",
      "q22_global", "bm25_topk",
      "collocations", "bloom_join", "approx_topk", "q11_value", "q20_excess",
      "flexdice_clusters", "lsh_bucket_stats")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      // initial physical plan only — no execution; side-effecting ingest
      // queries still run their writes in fn(), cheap at sf0.001
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
      if (!bnlOk(name))
        assert(!p.contains("BroadcastNestedLoop"),
          s"$name degenerated to a nested-loop join:\n$p")
    }
  }
}
