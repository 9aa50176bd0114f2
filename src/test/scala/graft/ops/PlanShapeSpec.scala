package graft.ops

import graft.SparkTestBase

/** Plan-shape regression pins: the scale properties PLANS.md narrates,
  * asserted against the actual physical plans so a refactor that
  * silently loses a broadcast, a pushed filter, or a group-limit
  * pushdown fails CI instead of only showing up in a 100× run. All at
  * sf0.001 — plan SHAPE, not timing. */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String = {
    val d = graft.SparkEntry.defs.find(_.name == name).get
    d.fn(spark, dir).queryExecution.executedPlan.toString
  }

  test("tfidf joins the vocabulary by broadcast, never shuffling the tf stage twice") {
    val p = plan("tfidf_top_terms")
    assert(p.contains("BroadcastHashJoin"), p)
    // the tf stage is a persisted stage table read by both consumers
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("latest_per_key pushes the rank-1 filter into a window group limit") {
    val p = plan("latest_per_key")
    assert(p.contains("WindowGroupLimit"), p)
    // partitioned window — never a global single-partition sort
    assert(!p.contains("Window [") || p.contains("windowspecdefinition(o_custkey"), p)
  }

  test("scan_filter_project reaches the parquet reader with filter and projection") {
    val p = plan("scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), p)
  }

  test("similarity_topk broadcasts the query set and never shuffles the corpus") {
    val p = plan("similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("similarity_topk_bigq pairs by partitioned block product and ships heap state, not rows") {
    val p = plan("similarity_topk_bigq")
    // SHUFFLE_REPLICATE_NL honored: no broadcast build of the query side
    assert(p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // CosTopK is object-state aggregation with a map-side partial below
    // the exchange — the shuffle carries O(k) heaps per (task, query)
    assert(p.contains("ObjectHashAggregate"), p)
    // plan text prints root-first: final agg, then the qid exchange, then
    // the map-side partial below it
    assert("(?s)Exchange hashpartitioning\\(qid.*partial_cos_topk".r
      .findFirstIn(p).isDefined, p)
  }

  test("flagship aggregates shrink before the join") {
    val p = plan("flagship_missing_stats")
    // the count-distinct side aggregates below the join: HashAggregate
    // appears before any join operator consumes lineitem
    assert(p.contains("HashAggregate"), p)
  }

  test("fuzzy match broadcasts the dimension and spreads the probe side") {
    val p = plan("fuzzy_match_entities")
    // the pair loop must fan out: a broadcast join over an explicitly
    // repartitioned probe, never a single-split nested loop
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Exchange hashpartitioning(key_a"), p)
    // the thresholded levenshtein lives in the join condition (early-exit
    // banded DP per candidate), not in a post-join filter
    assert(p.contains("levenshtein(name_a"), p)
  }

  test("bloom prune probes in the scan stage, below the aggregation exchange") {
    val p = plan("bloom_prune_join")
    // the Bloom probe must run before any exchange — fact rows that fail
    // it never shuffle; the exactness join is a broadcast semi join
    val probe = p.indexOf("bloom_might_contain")
    val exchange = p.indexOf("Exchange")
    assert(probe >= 0, p)
    assert(p.contains("BroadcastHashJoin") &&
      p.contains("LeftSemi"), p)
    // top-down plan text: the exchange prints above (before) the probe
    assert(exchange >= 0 && exchange < probe, p)
  }

  test("interval overlap joins day-bucketed with the type side broadcast") {
    val p = plan("interval_overlap_join")
    assert(p.contains("BroadcastHashJoin"), p)
    // the overlap predicate is a residual on the equi-join, not a
    // nested-loop condition
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ratio_to_total never plans a single-partition global window") {
    val p = plan("ratio_to_total")
    // the share must come from a broadcast one-row total, NOT from
    // SUM() OVER () — a Window over an all-rows single partition. (The
    // total's own scalar aggregate legitimately reduces partials to one
    // partition; that moves per-partition sums, not data rows.)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("domain_mixing and mix_apply never plan a single-partition global window") {
    for (q <- Seq("domain_mixing", "mix_apply")) {
      val p = plan(q)
      // totals come from a broadcast one-row aggregate, never SUM() OVER ()
      assert(!p.contains("Window"), s"$q: $p")
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"), s"$q: $p")
    }
  }

  test("day_over_day computes lag by dense-spine self-join, not a global window") {
    val p = plan("day_over_day")
    assert(!p.contains("Window"), p)
  }

  test("winsorize broadcasts the per-lang bounds back over the scan") {
    val p = plan("winsorize_clip")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("neardup_keep_best argmax is a hash-aggregable packed long, not max(struct)") {
    val p = plan("neardup_keep_best")
    // max over a struct buffer silently plans SortAggregate (the round-8
    // min(struct) trap, 15× on 10⁹ rows); the packed-long form must stay
    // in codegen'd HashAggregate and never sort or window the corpus
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("max(struct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("leakage_safe_split derives both split bits in-plan with one corpus join") {
    val p = plan("leakage_safe_split")
    // the representative IS the cluster_id, so its split bit is a
    // projection (md5 of the id in-plan) — never a second join against
    // a representative table, never a per-cluster argmin aggregation
    // or window over the corpus
    assert(p.contains("md5"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    // exactly one join: docs ⟕ the CC label frame (the CC loop's own
    // internal rounds are severed behind localCheckpoint scans)
    val joins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j => j.r.findAllIn(p).size).sum
    assert(joins == 1, s"expected exactly one join, got $joins:\n$p")
  }

  test("shard_shuffle digest buffers run digests, never the id sequence") {
    val p = plan("shard_shuffle_plan")
    // bounded-memory Merkle: the streamed per-run digest is a
    // MapPartitions above the (shard, run) exchange …
    assert(p.contains("MapPartitions"), p)
    assert(p.contains("Exchange hashpartitioning(shard") &&
      p.contains("run"), p)
    // … and the only collect_list in the final fold holds (run,
    // run_digest) pairs — capped at 65,536 fixed-width entries per
    // shard — NEVER the per-shard doc_id structs of the round-8 form
    assert(!p.contains("collect_list(struct(hx"), p)
    assert(!p.contains("collect_list(struct(doc_id"), p)
    assert(p.contains("collect_list(struct(run"), p)
  }

  test("embedding_neardup_adaptive projects signs once below an equi band join") {
    val p = plan("embedding_neardup_adaptive")
    // the SignProjectI64 projection feeds the band join from a cached
    // stage table (computed once, read by both sides), and the banded
    // candidate join is an equi-join on (band, bucket) — never a
    // nested-loop over the corpus
    assert(p.contains("sign_project_i64"), p)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // candidate dedup happens before vectors re-join: a (va, vb)
    // aggregate keyed exchange precedes the verify joins
    assert(p.contains("Exchange hashpartitioning(va") ||
      p.contains("HashAggregate(keys=[va"), p)
  }

  test("semdedup_adaptive assigns by packed-long hash aggregate over a broadcast centroid table") {
    val p = plan("semdedup_adaptive")
    // the centroids are a broadcast TABLE (the large-k shape — literal
    // array projection stops being codegen-reasonable past a few dozen)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    // nearest = min(d·S + cl) — ONE long, map-side-combined
    // HashAggregate; min(struct(d, cl)) silently plans SortAggregate
    // (the round-8 trap, 15× on 10⁹ rows)
    assert(!p.contains("min(struct"), p)
    assert(!p.contains("SortAggregate"), p)
    // top-2 probing is a CosTopK object aggregation, not a window sort
    assert(p.contains("cos_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("semdedup_twolevel assigns both levels by packed-long hash aggregates") {
    val p = plan("semdedup_twolevel")
    // residuals are an exact int64 zip_with subtraction; both levels'
    // nearest-centroid argmins are packed-long min — never min(struct)
    // (silent SortAggregate) and never a window over the corpus
    assert(p.contains("zip_with"), p)
    assert(!p.contains("min(struct"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
  }

  test("pq_topk encodes as a pure projection and scans codes, not vectors") {
    // the scale path: a gate-sized corpus finishes on the driver, so
    // plan the n = 500 fixture one past a gate of 499
    val p = Pq.pqTopkAt(spark, dir, 499L).queryExecution.executedPlan.toString
    // encoding is a per-row packed-long fold over the codebook PLAN
    // LITERAL — no join, no exchange, no aggregation state anywhere in
    // the encode subtree (the round-9 1000× OOM was the collect_list
    // re-assembly this shape replaces); the fold packs d²·256+j so ties
    // break to lowest j without min(struct) (the round-8 trap)
    assert(p.contains("aggregate(") && p.contains("lambdafunction"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("min(struct"), p)
    assert(!p.contains("SortAggregate"), p)
    // the ADC scan is the compressed-domain crossJoin of codes against
    // the broadcast query LUTs, folding map-side into O(k) CosTopK
    // state — partial below the qid exchange
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    assert("(?s)Exchange hashpartitioning\\(qid.*partial_cos_topk".r
      .findFirstIn(p).isDefined, p)
    assert(!p.contains("Window"), p)
  }

  test("ivfpq_rerank candidates flow through equi-joins; only the centroid table broadcasts") {
    val p = plan("ivfpq_rerank_topk")
    // cell/candidate/shortlist plumbing is all equi-join — the single
    // nested-loop is the K ≈ √n centroid broadcast (the ivf_topk shape)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    // both ADC shortlist (k=20) and exact re-rank (k=5) are CosTopK
    // object aggregations, never window sorts
    assert(p.contains("cos_topk") && !p.contains("Window"), p)
    assert(!p.contains("min(struct") && !p.contains("SortAggregate"), p)
    // codes and LUTs are per-row projections — no collect_list buffer
    // anywhere (the round-9 1000× OOM shape)
    assert(!p.contains("collect_list"), p)
  }

  test("pq_ingest_dedup keeps ingest work equi-joined and batch-sized") {
    val p = plan("pq_ingest_dedup")
    // candidate/shortlist/re-rank plumbing is all equi-join; the only
    // nested loops are the K ≈ √n centroid broadcast (probe/assign) —
    // nothing corpus-sized broadcasts, no vector rides a pair stream
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    // ADC shortlist (k=4) and exact re-rank (k=1) are CosTopK object
    // aggregations; codes/LUTs are per-row projections over the
    // codebook plan literal (the round-9 1000× OOM shapes stay dead)
    assert(p.contains("cos_topk") && !p.contains("Window"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("min(struct") && !p.contains("SortAggregate"), p)
  }

  test("ann_index_topk reads stored artifacts; no corpus-wide work at query time") {
    val p = plan("ann_index_topk")
    // the candidate and ADC joins are fed by the STORED entries table
    // (cell + 4 B code) and the probe broadcast by the STORED centroid
    // table — the amortization claim is that these are warehouse scans,
    // not recomputation
    assert(p.contains("_ann_entries"), p)
    assert(p.contains("_ann_centroids"), p)
    // exactly ONE nested-loop broadcast: the query-probe against the
    // K ≈ √n centroid table. The fresh pipeline has TWO (corpus-wide
    // cell assignment + probes); assignment happened at build time, so
    // a second one here means the query path is re-deriving the index
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    // shortlist + re-rank stay CosTopK object aggregations over
    // equi-joins (the whole PQ-family discipline)
    assert(p.contains("cos_topk") && !p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("min(struct") && !p.contains("SortAggregate"), p)
  }

  test("dup_span_coverage windows per document and counts grams off one stage table") {
    val p = plan("dup_span_coverage")
    // interval union is a PER-DOCUMENT window, never a global sort
    assert(p.contains("windowspecdefinition(doc_id"), p)
    // the gram stream is persisted — counted once, probed once
    assert(p.contains("InMemoryTableScan"), p)
    // occurrence counting shuffles on the gram hash only
    assert(p.contains("Exchange hashpartitioning(g"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("grouped count distinct: dedup branches above the spread, no Expand") {
    val p = plan("grouped_count_distinct")
    // r12 dedup-branch shape: each COUNT(DISTINCT col) is its own
    // groupBy((key, value)) → groupBy(key) branch riding the explicit
    // spread exchange — Catalyst's multi-distinct Expand(×3) rewrite
    // (1.8M expanded rows through a (key, value, gid) exchange) is gone,
    // and hash(l_orderkey) satisfies both aggregation levels so the
    // branches add NO exchange beyond their spread
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert(!p.contains("Expand"), p)
    // dedup level present: a grouping on (l_orderkey, l_suppkey)
    assert(p.contains("HashAggregate(keys=[l_orderkey") &&
      p.contains("l_suppkey"), p)
    // exactly the branch spreads exchange — no (key, value, gid) dedup
    // exchange, no post-aggregation exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected only the branch spreads, got:\n$p")
  }

  test("pit_dimension_join carries priorities in one window, with no SCD2 build") {
    val d = graft.SparkEntry.defs.find(_.name == "pit_dimension_join").get
    val p = d.fn(spark, dir).queryExecution.sparkPlan
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, p.toString)
    // the interval dimension's run grouping was an aggregate over orders
    assert(p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isEmpty, p.toString)
  }
}
