package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hub posture of the graph family, exercised for real: a planted
  * hub-heavy graph runs with a slice size small enough to force
  * multi-slice adjacency AND a broadcast budget of zero to force the
  * shuffle-hash fallback — both regimes must be value-identical to the
  * default (single-slice, broadcast) plan, and the plans must actually
  * differ the way the size gate promises. */
class HubSafeGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Symmetric edge list of: hub 0 — {1..40}, plus triangles
    * (0,1,2), (0,3,4) via leaf-leaf edges 1–2 and 3–4, plus an
    * off-hub triangle (50,51,52). Hub degree 40 ≫ sliceK=8. */
  private def plantedEdges() = {
    val oneWay =
      (1L to 40L).map(i => (0L, i)) ++
        Seq((1L, 2L), (3L, 4L), (50L, 51L), (51L, 52L), (50L, 52L))
    val sym = oneWay ++ oneWay.map { case (a, b) => (b, a) }
    sym.toDF("src", "dst")
  }

  private val expectedTriangles = Map(
    0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    50L -> 1L, 51L -> 1L, 52L -> 1L)

  test("triangles: sliced + shuffle-fallback regime matches the broadcast regime and the planted truth") {
    val edges = plantedEdges()
    val default = GraphOps.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hubSafe = GraphOps.triangleCounts(edges, sliceK = 8, broadcastBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(default == expectedTriangles)
    assert(hubSafe == expectedTriangles,
      "multi-slice + shuffle-hash fallback changed triangle counts")
  }

  test("the degree hint is typed: a raw Long or a hand-made MaxRawDeg does not compile") {
    val edges = plantedEdges()
    assertCompiles("GraphOps.triangleCounts(edges, knownMaxRawDeg = None)")
    assertDoesNotCompile("GraphOps.triangleCounts(edges, knownMaxRawDeg = Some(3L))")
    assertDoesNotCompile("GraphOps.edgeJaccardTopK(edges, knownMaxRawDeg = Some(3L))")
    assertDoesNotCompile("new graft.operators.MaxRawDeg(3L)")
  }

  test("triangles: the size gate actually flips the second lookup's join strategy") {
    val edges = plantedEdges()
    // only the plan ABOVE the cache boundary counts: the persisted
    // `oriented` relation prints its own upstream deg-orientation
    // broadcasts inside the InMemoryRelation dump, which are not part
    // of the lookup joins under test
    def planOf(budget: Long): String =
      GraphOps.triangleCounts(edges, sliceK = 8, broadcastBudget = budget)
        .queryExecution.executedPlan.toString
        .split("InMemoryRelation").head
    // generous budget → the adjacency second lookup broadcasts
    assert(planOf(Long.MaxValue).contains("BroadcastHashJoin"),
      "under budget: second lookup must broadcast")
    // zero budget → both lookups ride shuffle-hash with adj as build
    val fallback = planOf(0L)
    assert(!fallback.contains("BroadcastHashJoin"),
      "over budget: second lookup must NOT broadcast")
    assert("ShuffledHashJoin".r.findAllIn(fallback).size >= 2,
      "over budget: both adjacency lookups ride shuffle-hash joins")
  }

  test("edge jaccard: sliced + shuffle-fallback regime matches the broadcast regime") {
    val edges = plantedEdges()
    def run(sliceK: Int, budget: Long) =
      GraphOps.edgeJaccardTopK(edges, k = 5, sliceK = sliceK, broadcastBudget = budget)
        .select(col("node"), col("rnk"), col("similar_node"), col("common"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val default = run(GraphOps.AdjSliceK, GraphOps.BroadcastBudgetBytes)
    val hubSafe = run(3, 0L)
    assert(default == hubSafe,
      "multi-slice + shuffle-hash fallback changed jaccard rankings")
    // sanity on the planted truth: the off-hub triangle nodes see both
    // other corners with |N(u)∩N(v)| = 1 (the third corner)
    assert(default.exists { case (n, _, s, c) => n == 50L && s == 51L && c == 1L })
  }

  test("edge jaccard: the pre-agg (hub) adjacency regime matches the set regime through the public entry point") {
    // r6 verdict directive: edgeJaccardTopK now routes through
    // adaptiveAdjacency — forcing the degree gate (limit 1 → every node
    // is a "hub") must swap in the bounded-buffer hash-slice build with
    // identical rankings, through the public signature
    val edges = plantedEdges()
    def run(limit: Long) =
      GraphOps.edgeJaccardTopK(edges, k = 5, sliceK = 8, hubDegreeLimit = limit)
        .select(col("node"), col("rnk"), col("similar_node"), col("common"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val setRegime = run(Long.MaxValue)
    assert(setRegime == run(1L),
      "hash-sliced (pre-agg) adjacency changed jaccard rankings")
    assert(setRegime.exists { case (n, _, s, c) => n == 50L && s == 51L && c == 1L })
  }

  test("edge jaccard: an empty edge list returns an empty result, not an NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.edgeJaccardTopK(empty).count() == 0L)
  }

  test("hub adjacency really slices: ceil(deg/K) rows per node, full degree on every slice") {
    // the hub (deg 40, K=8) must cut into exactly 5 sequential slices of
    // 8, every row carrying the full degree; duplicated input pairs must
    // change nothing (the set aggregation dedups)
    val edges = plantedEdges()
    val rows = GraphOps.hubSafeAdjacency(edges.unionByName(edges), sliceK = 8)
    val hub = rows.filter(col("src") === 0L)
      .select(col("slice"), size(col("nbrs")), col("deg"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(hub.length == 5, s"deg-40 hub at K=8 must produce 5 slices, got ${hub.length}")
    assert(hub.forall(_._2 == 8), "sequential slices of a deg-40 hub are all 8 wide")
    assert(hub.forall(_._3 == 40L), "every slice must carry the full degree")
    assert(hub.map(_._1).sorted.toSeq == Seq(0, 1, 2, 3, 4))
    // leaves (deg ≤ K) stay single-slice — the registered queries' plans
    // are unchanged on any corpus whose max degree fits one slice
    val leaf = rows.filter(col("src") === 5L).collect()
    assert(leaf.length == 1 && leaf.head.getAs[Long]("deg") == 1L)
  }

  /** (src, deg, nbr) content of an adjacency frame — the invariant both
    * build forms must share (slice ASSIGNMENT may differ). */
  private def adjContent(adj: org.apache.spark.sql.DataFrame) =
    adj.select(col("src"), col("deg"), explode(col("nbrs")).as("nbr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("pre-agg hash-slice adjacency: same per-node content as the set form, bounded slice ids, no empty-slice assumption") {
    val edges = plantedEdges()
    val e = edges.distinct()
    val degrees = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val preAgg = GraphOps.preAggAdjacency(e, degrees, sliceK = 8)
    // identical neighbor sets and degrees — only the slicing differs
    assert(adjContent(preAgg) == adjContent(GraphOps.hubSafeAdjacency(edges, 8)))
    // slice ids live in [0, ceil(deg/K)) and no (src, slice) repeats
    val rows = preAgg.select(col("src"), col("slice"), col("deg"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.forall { case (_, s, d) => s >= 0 && s < (d + 7) / 8 })
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // duplicate input pairs change nothing IF pre-distincted (the
    // contract: preAggAdjacency takes DISTINCT edges)
    assert(adjContent(GraphOps.preAggAdjacency(
      edges.unionByName(edges).distinct(), degrees, 8)) == adjContent(preAgg))
  }

  test("adaptive adjacency: the measured max-degree gate picks the set form under the limit, the pre-agg form past it") {
    val edges = plantedEdges()
    // hub degree 40: limit 64 → set form (collect_set in the plan)
    val setForm = GraphOps.adaptiveAdjacency(edges, sliceK = 8, hubDegreeLimit = 64)
    assert(setForm.queryExecution.analyzed.toString.contains("collect_set"),
      "under the degree limit the single-pass set build must be chosen")
    // limit 10 → the 40-degree hub trips the gate → pre-agg form
    val preForm = GraphOps.adaptiveAdjacency(edges, sliceK = 8, hubDegreeLimit = 10)
    assert(preForm.queryExecution.analyzed.toString.contains("collect_list"),
      "past the degree limit the bounded-buffer pre-agg build must be chosen")
    assert(adjContent(setForm) == adjContent(preForm),
      "the two builds must carry identical adjacency content")
    setForm.unpersist(); preForm.unpersist()
  }

  test("pagerank fixpoint: identical ranks under the set and pre-agg adjacency regimes") {
    val edges = plantedEdges()
    def ranks(limit: Long) =
      GraphOps.pagerankToConvergence(edges, tolMicro = 100L, maxRounds = 30,
        sliceK = 8, hubDegreeLimit = limit)
        .select(col("node"), col("rank_micro"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(Long.MaxValue) == ranks(1L),
      "hash-sliced (pre-agg) adjacency changed converged pageranks")
  }

  test("every build side in the family is gated: zero budget leaves NO broadcast join anywhere in the triangles plan") {
    // drop caches left by prior tests: the cache manager matches plans
    // MODULO join hints, so a default-budget run's cached `oriented`
    // (broadcasts inside) would be reused here and fail the audit
    spark.catalog.clearCache()
    val edges = plantedEdges()
    // full plan string INCLUDING cached relations — the degree
    // orientation joins live inside the persisted `oriented` build
    val full = GraphOps.triangleCounts(edges, sliceK = 8, broadcastBudget = 0L)
      .queryExecution.executedPlan.toString
    assert(!full.contains("BroadcastHashJoin"),
      "budget 0 must push every family join — adjacency lookups AND " +
        "degree orientation — off the broadcast path")
  }

  test("default budget BROADCASTS the degree orientation joins — the gate must read materialized stats, not estimates") {
    // regression guard: gating the degree aggregate BEFORE its cache
    // materializes made Catalyst propagate the upstream self-join's
    // multiplicative row estimate through it, silently flipping these
    // tiny joins to shuffle-hash (+1.5 s at sf0.1). With deg
    // persisted+counted the gate sees actual bytes and must broadcast
    // at any sane budget.
    spark.catalog.clearCache()
    val full = GraphOps.triangleCounts(plantedEdges(), sliceK = 8)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(full).size >= 3,
      "default budget must broadcast both deg orientation joins and " +
        "the adjacency second lookup — an estimate-driven gate flip " +
        "means a build side was measured unmaterialized")
  }

  test("countGatedJoin: the measured row count picks the regime — checkpointed stats never consulted") {
    val stream = (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
    // checkpointed build side whose ORIGIN stats are irrelevant to the gate
    val build = (1L to 50L).map(i => (i, s"x$i")).toDF("k", "name")
      .localCheckpoint(eager = true)
    val rows = build.count()
    val small = GraphOps.countGatedJoin(stream, build, Seq("k"), rows,
      budgetBytes = 256L << 20)
    assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "50 skinny measured rows must broadcast")
    val big = GraphOps.countGatedJoin(stream, build, Seq("k"), rows,
      budgetBytes = 0L)
    assert(!big.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "zero budget must push the build side to shuffle-hash")
    // both regimes return identical rows
    assert(small.collect().map(_.toSeq).toSet == big.collect().map(_.toSeq).toSet)
  }

  test("bfs fixpoint: the frontier gate's shuffle regime matches the broadcast regime") {
    val edges = plantedEdges()
    val seeds = Seq(0L).toDF("node")
    def dists(budget: Long) =
      GraphOps.bfsToFixpoint(edges, seeds, broadcastBudget = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val broadcastRegime = dists(Long.MaxValue)
    assert(broadcastRegime == dists(0L),
      "shuffle-hash frontier join changed BFS distances")
    // sanity on the planted truth: leaves at hop 1, off-hub island
    // unreachable from the hub seed
    assert(broadcastRegime(1L) == 1L && !broadcastRegime.contains(50L))
  }
}
