package graft

import java.nio.file.{Files, Paths}

/** Reproducible `.explain` evidence: dumps the formatted physical plan of
  * each headline query plus the scale property the plan must exhibit, to
  * PLANS.md. Re-run with `sbt "runMain graft.PlanDump"` after any plan
  * change; `PlanAuditSpec` enforces the same properties mechanically.
  */
object PlanDump {

  private val headline: Seq[(String, String)] = Seq(
    "s1_scan_project" ->
      "Column-pruned scan, zero exchanges: ReadSchema carries only the projected columns.",
    "s2_filter_date" ->
      "Date predicate unwrapped to raw bounds and pushed into PushedFilters at the parquet reader.",
    "j1_join_map_inner" ->
      "Small dim rides a BroadcastHashJoin; the fact side never shuffles for the join.",
    "ep1_consolidar_relatorio" ->
      ("One `l_partkey` repartition per pruned fact scan (sales, traffic); the aggregates, " +
       "the shuffle-hash sales-traffic join and the window reuse it, so no " +
       "ENSURE_REQUIREMENTS exchange; `part` is broadcast; no global sort."),
    "w6_rank_topk" ->
      ("Two-phase top-k via WindowGroupLimit: the Partial phase prunes to k rows per " +
       "group per input partition map-side, so the one exchange never carries the " +
       "whole fact."),
    "dedup_minhash" ->
      ("Candidates only from (band, signature) equi-join buckets; exact-Jaccard verify " +
       "co-counts exploded shingles (skinny rows, no arrays in shuffle flight)."),
    "dedup_minhash_native" ->
      ("Same pipeline as ONE custom operator (SimilarityJoin); threshold pushdown folds a " +
       "jaccard filter into the node; candidate volume surfaced as a SQL metric."),
    "ann_topk_bruteforce" ->
      "Tiny query set broadcast; candidates stream map-side; two-phase rank.",
    "ann_topk_ivf_multiprobe" ->
      ("Cell ranking on the tiny queries-x-cells relation; corpus joins a broadcast probe " +
       "list — the big relation never shuffles."),
    "ann_topk_lsh" ->
      ("Map-only LSH signatures (hyperplane matrix baked in as literals); queries probe " +
       "own + Hamming-1 buckets via a broadcast list — the corpus never shuffles."),
    "range_join_purchases_1h" ->
      ("Banded interval join: 1h time cells, equi-join on (user, cell) with 3-cell probe, " +
       "exact post-filter — no nested loop anywhere."),
    "ta_lm_score" ->
      ("Unigram table shuffle-hash-joined (never broadcast — vocabulary is unbounded at " +
       "corpus scale); only the 1-row total broadcasts."),
    "ta_repetition" ->
      ("Map-only: runs at parquet scan speed, one WholeStageCodegen span, no exchange " +
       "beyond the fixture loader's conditional spread."),
    "emb_gramian" ->
      ("Distributed X^T X: nested-HOF pair expansion feeds a d^2-key hash aggregate with " +
       "map-side partial combine — the exchange carries O(d^2 x partitions) rows, " +
       "independent of corpus size."),
    "cdc_snapshot_diff" ->
      ("ONE co-partitioned full-outer join on the PK; both snapshots hash-partition on " +
       "the same key, unchanged rows die at the join."),
    "ta_corpus_prep" ->
      ("Dedup -> quality gate -> shard packing in two shuffles (fingerprint groups, " +
       "source shards); the quality stage is map-only between them."),
    "ta_mixture_budget" ->
      ("Only the bounded language-rate table broadcasts; token counts reduce map-side " +
       "into the tiny per-language aggregate."),
    "graph_pagerank" ->
      ("Pregel layout: cached per-node adjacency arrays (one collect_set shuffle carries " +
       "dedup + degree + graph); each round is a node-sized join plus a narrow explode " +
       "into one map-combined shuffle — integer-exact fixed-point ranks."),
    "dedup_prefix_filter" ->
      ("LOSSLESS similarity join, array-free: shingle_explode Generator births rows " +
       "directly; df via count-over-window on the shingle key; candidates only from " +
       "prefix-token equi-join + size gate; verify co-counts skinny rows. Oracle is " +
       "the full quadratic join — zero misses by construction."),
    "er_fuzzy_blocked" ->
      ("Blocked record linkage: quadratic confined to (brand, size-band) blocks; " +
       "length gate prunes before any edit-distance DP; thresholded levenshtein " +
       "early-exits. The probe side spreads to cluster parallelism when the dim " +
       "scan is split-starved (the sf1 rehearsal caught in-block scoring " +
       "serialized on 2 splits), and the build side broadcasts — in-block pair " +
       "scoring parallelizes instead of re-collapsing onto the dim's splits."),
    "er_fuzzy_passjoin" ->
      ("UNBLOCKED lossless fuzzy ER: PassJoin segment pigeonhole — candidates " +
       "only from the (length, segment-index, segment) equi-join, the shift " +
       "window |d| + |dl - d| <= tau enforced at generation; starved dim scan " +
       "spreads before the explode chain; verification joins broadcast the " +
       "dim slice. The quadratic oracle hash-checks recall 1.0 — the blocking " +
       "key comes from the name itself, so no cross-brand match can escape."),
    "sky1_pareto_front" ->
      ("Sort-based skyline: per-price hash agg, strict-prefix max hierarchically " +
       "(bucket windows, then one window over the constant-size bucket maxima) — " +
       "no global range sort, no quadratic dominance join."),
    "ta_inverted_index" ->
      ("Posting cap enforced BEFORE arrays exist: per-term row_number <= 10 prunes " +
       "map-side via WindowGroupLimit, so a stopword's posting never materializes; " +
       "df aggregates separately; global top-50 is a TakeOrdered, not a sort."),
    "sk7_kmv_quantiles" ->
      ("KMV bottom-k via two-phase WindowGroupLimit: the Partial phase prunes " +
       "row_number <= k map-side BEFORE the one exchange; readout windows and the " +
       "final agg reuse the group partitioning — fixed-size sample state, no join, " +
       "no global sort."),
    "sk8_sampled_freq" ->
      ("Hash-gated 1-in-4 doc sample applied at the scan (map-side filter), one token " +
       "aggregate, deterministic top-15 as TakeOrderedAndProject — never a global sort."),
    "j10b_auto_salted" ->
      ("Measured-S skew cure end-to-end: the audit finds the planted 75%-hot key, " +
       "derives S = ceil(hot rows / healthy task), salts the fact deterministically " +
       "and explodes the dim xS — the join runs on (key, salt) with no single " +
       "oversized task; S=1 inputs skip the machinery entirely."),
    "graph_triangles" ->
      ("Compact-forward orientation: node-sized degree table persisted then " +
       "size-gated broadcast into BOTH orientation joins (materialized stats, " +
       "not estimates); sliced adjacency arrays intersect in codegen; BOTH " +
       "adjacency lookups ride the size gate, so under budget the oriented " +
       "edge list never exchanges at all."),
    "ta_bm25" ->
      ("BM25: the IN-list prunes the exploded token stream before any exchange; " +
       "df reuses the tf aggregate (3 rows, broadcast); dl joins on doc_id; " +
       "top-15 is TakeOrderedAndProject, never a global sort."),
    "sk9_hll_fast_distinct" ->
      ("sk1's register pipeline on the portable Feistel integer hash — no md5 " +
       "in the scan; same m-row mergeable exchange, same estimate contract."),
    "ts5_interval_overlap" ->
      ("Interval x interval overlap via 1 h cell banding: candidates from a " +
       "cell equi-join with the exact overlap predicate inside the join — " +
       "never a nested loop; distinct collapses multi-cell hits."),
    "dedup_embedding_cosine" ->
      ("Occupancy-scaled cells: map-only 16-bit hyperplane signatures (matrix " +
       "baked in as literals), masked to the width the corpus size calls for " +
       "(1-row broadcast count) — pair volume stays linear in N; candidates " +
       "only from the cell equi-join, cosine verified in the join filter."),
    "dedup_embedding_cosine_mp" ->
      ("Hamming-1 multiprobe widening of the cell join: the ordered side " +
       "explodes own cell + b single-bit flips; a Hamming<=1 pair matches on " +
       "exactly one probe, so no distinct and no double-score — (bits+1)x " +
       "candidate volume, still linear, recall 0.07 -> 0.30 measured."))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local("4", logLevel = "ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence for the headline queries\n\n"
    sb ++= s"Generated by `graft.PlanDump` at sf dir `$sfDir` " +
      "(`sbt \"runMain graft.PlanDump\"`). Each section states the scale\n" +
      "property the plan must show; `PlanAuditSpec` asserts the same\n" +
      "properties in CI. Plans are pre-AQE (`queryExecution.explainString`),\n" +
      "the shape Catalyst commits to before runtime re-planning.\n"
    for ((name, note) <- headline) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).trim
      sb ++= "\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
