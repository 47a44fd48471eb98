package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical audit of the scale posture the plans must keep
  * (the brief's `.explain` discipline, as regression tests):
  *  - no production plan ends in a global range sort (determinism sorts
  *    live in Verify, not in measured plans);
  *  - no unintended cartesian products;
  *  - projected scans prune columns at the parquet reader;
  *  - ep1's dims ride broadcast joins.
  */
class PlanAuditSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no registered query plans a global range sort or cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("rangepartitioning"),
        s"$name plans a global sort:\n${p.take(500)}")
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("s1: column-pruned scan, zero exchanges") {
    val p = plan("s1_scan_project")
    assert(!p.contains("Exchange"), "projection-only query must not shuffle")
    assert(p.contains("ReadSchema: struct<l_orderkey"))
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"),
      "scan reads columns the query never uses")
  }

  test("ep1: part dim is broadcast, fact is not") {
    val p = plan("ep1_consolidar_relatorio")
    assert(p.contains("BroadcastHashJoin"), "part dim should broadcast")
  }

  test("ep1: every fact exchange is the one l_partkey repartition, nothing re-shuffles") {
    // each pruned fact scan feeds one `repartition(l_partkey)`; the
    // aggregates, the sales-traffic join and the window reuse it, so
    // EnsureRequirements adds no exchange
    val exec = SparkEntry.queries("ep1_consolidar_relatorio")(spark, sf)
      .queryExecution.executedPlan
    // the plan after EnsureRequirements, before any stage runs
    val physical = exec match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shuffles = physical.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty && shuffles.size <= 2,
      s"ep1 plans ${shuffles.size} shuffles:\n$physical")
    shuffles.foreach { e =>
      assert(e.shuffleOrigin == REPARTITION_BY_COL,
        s"ep1 plans a ${e.shuffleOrigin} exchange:\n$e")
      val keys = e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      }
      assert(keys == Seq("l_partkey"), s"ep1 exchange keyed on $keys")
    }
  }

  test("dim joins broadcast their small side") {
    for (name <- Seq("j1_join_map_inner", "j2_join_cost_left", "k3_update_searched")) {
      assert(plan(name).contains("BroadcastHashJoin"), s"$name should broadcast")
    }
  }

  test("s2: date predicate is unwrapped and pushed to the parquet scan") {
    val p = plan("s2_filter_date")
    // Catalyst's UnwrapCastInBinaryComparison turns the DATE-cast filter
    // into raw timestamp bounds the reader can push.
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || p.contains("(o_orderdate#"), s"filter not pushed:\n${p.take(600)}")
  }

  test("sketch twins keep their scale shapes: bounded exchanges, TakeOrdered limit") {
    // sk7: the bottom-k rank filter must plan as a two-phase
    // WindowGroupLimit (Partial prunes to <= k per group MAP-SIDE, before
    // the exchange), and the readout windows + final agg must reuse the
    // group partitioning — exactly ONE exchange, nothing joins. A second
    // exchange would mean the fixed-size-sample claim leaks a shuffle.
    val p7 = plan("sk7_kmv_quantiles")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p7).size == 1,
      s"sk7 must shuffle exactly once:\n${p7.take(800)}")
    assert(p7.contains("WindowGroupLimit") && p7.contains("Partial"),
      s"sk7 rank filter should partial-prune map-side:\n${p7.take(800)}")
    assert(!p7.contains("Join"), "sk7 should be windows + one agg, no join")
    // sk8: the deterministic top-15 must plan as TakeOrderedAndProject,
    // never a global sort of the token aggregate.
    val p8 = plan("sk8_sampled_freq")
    assert(p8.contains("TakeOrderedAndProject"),
      s"sk8 limit should be a TakeOrdered:\n${p8.take(800)}")
  }

  test("w6: top-k plans as one exchange with a map-side WindowGroupLimit prune") {
    val p = plan("w6_rank_topk")
    assert("Exchange hashpartitioning".r.findAllMatchIn(p).size == 1,
      s"w6 must shuffle exactly once:\n${p.take(800)}")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"w6 rank filter should partial-prune map-side:\n${p.take(800)}")
  }

  test("dedup candidates come from bucket equi-joins, not nested loops") {
    for (name <- Seq("dedup_minhash", "dedup_ngram_jaccard")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name nested-loops")
    }
  }

  test("round-4 headliners keep their scale shapes") {
    // prefix filter: rows born from the Generator, candidates from
    // equi-joins only
    val pf = plan("dedup_prefix_filter")
    assert(pf.contains("shingle_explode"), "generator missing from the plan")
    assert(!pf.contains("BroadcastNestedLoopJoin") && !pf.contains("CartesianProduct"))
    // BOTH adjacency lookups broadcast AT THIS SCALE (the size gate
    // sees the persisted adj under budget — the edge list then never
    // exchanges; `HubSafeGraphSpec` audits the over-budget shuffle-hash
    // regime and its value equivalence). Only the plan above the cache
    // boundary counts: InMemoryRelation dumps replay the orientation
    // build's own joins. (edge_jaccard's joins sit behind its
    // localCheckpoint and aren't in the final plan string — triangles
    // carries the same shape)
    val tri = plan("graph_triangles").split("InMemoryRelation").head
    assert(tri.contains("BroadcastHashJoin"), "triangles: adj lookups must broadcast")
    assert(!tri.contains("ShuffledHashJoin"),
      "triangles: an under-budget adj lookup must not shuffle the edge list")
    // PIT join: interval containment must ride the custkey EQUI join —
    // a pure range condition would degrade to a nested loop
    assert(!plan("t8_pit_join").contains("BroadcastNestedLoopJoin"),
      "t8 interval join degraded to a nested loop")
    // fuzzy ER: quadratic confined to equi-join blocks, no nested loop
    val er = plan("er_fuzzy_blocked")
    assert(er.contains("levenshtein") && !er.contains("BroadcastNestedLoopJoin"))
    // PassJoin ER: candidates MUST ride the (l_i, j, seg) equi-join —
    // a nested loop or cartesian would mean the pigeonhole key was lost
    val pj = plan("er_fuzzy_passjoin")
    assert(pj.contains("levenshtein") &&
      !pj.contains("BroadcastNestedLoopJoin") &&
      !pj.contains("CartesianProduct"),
      "er_fuzzy_passjoin lost its segment equi-join")
    // star join: date predicate reaches the orders scan
    assert(plan("j11_star_join_volume").contains("PushedFilters: [IsNotNull(o_orderdate)"),
      "j11 date filter not pushed to the orders scan")
  }

  test("loader spread is conditional: well-split scans don't reshuffle") {
    // A corpus that already yields >= cores splits must NOT pay a full
    // shuffle on load; the single-file fixture must still spread.
    val tmp = tempDir("graft-splits").toString
    val par = spark.sparkContext.defaultParallelism
    Tables.load(spark, sf, "documents").repartition(par)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldCost = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      // shrink split size so each written file is its own split
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      spark.conf.set("spark.sql.files.openCostInBytes", "4096")
      val df = Tables.documents(spark, tmp)
      assert(df.rdd.getNumPartitions >= par, "premise: scan is well-split")
      assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
        "well-split scan must load shuffle-free")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldCost)
    }
    val p = Tables.documents(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("Exchange"), "split-starved fixture scan must spread")
  }

  test("scan-speed family plans at most the loader spread, no other exchange") {
    // These claim "map-only, runs at parquet scan speed" — hold them to
    // it: the only allowed Exchange is the fixture loader's conditional
    // split-starvation spread (one RoundRobin repartition).
    for (name <- Seq("ta_langid", "ta_quality", "ta_token_stats",
        "ta_fingerprint", "ta_scrub_pii", "ta_repetition",
        "ta_sample_stratified", "mm_metadata", "mm_frame_sample", "mm_resize",
        "mm_byte_histogram")) {
      val p = plan(name)
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 1, s"$name plans $exchanges exchanges:\n${p.take(600)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles on a key — not map-only")
    }
  }

  test("range and as-of joins plan as equi-joins, never nested loops") {
    // a raw BETWEEN/inequality join would nested-loop; the banded and
    // union-window forms must keep everything equi-keyed
    for (name <- Seq("range_join_purchases_1h", "asof_join_last_purchase",
        "asof_join_next_purchase")) {
      assert(!plan(name).contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
    }
  }

  test("ta_lm_score never broadcasts the unigram table") {
    // A web-scale corpus's vocabulary is unbounded, so the freqs→tokens
    // probe must be a shuffle join. The only broadcast allowed in this
    // plan is the 1-row corpus total riding the crossJoin.
    val p = plan("ta_lm_score")
    assert(!p.contains("BroadcastHashJoin"),
      s"unigram table must shuffle-join, not broadcast:\n${p.take(800)}")
    assert(p.contains("ShuffledHashJoin"), "expected a shuffle hash join")
  }
}
