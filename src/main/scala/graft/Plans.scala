package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

/** Regenerates PLANS.md: the physical-plan audit of the headline queries,
  * with the scale commentary next to the actual `formatted` explain
  * output. Run: `sbt 'runMain graft.Plans'` (uses sf0.01). Two runs on
  * one machine write identical bytes: every plan goes through
  * [[normalise]], and the queries that store artifacts on first use
  * (`ann_index_topk`, `flagship_bucketed`) build them afresh each run
  * under `<java.io.tmpdir>/graft-plans`, which the run clears first. */
object Plans {

  /** One explain string with its run-dependent tokens made stable:
    * expression ids (`#123`), exchange ids (`plan_id=45`) and the
    * suffixes of Spark's fresh lambda variable names (`lambda x_18`, from
    * a JVM-wide counter) renumbered from 0 in first-seen order within the
    * plan; JVM object hashes of array literals
    * (`[J@1a2b3c`), lambda class names and the writer's random data-file
    * names (`<txn8>-part-00000-<uuid>`) replaced by fixed tokens; and the
    * `tmpRoot` directory written as `<tmp>`. */
  def normalise(plan: String, tmpRoot: String): String = {
    def renumber(s: String, re: Regex, token: (Regex.Match, Int) => String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        token(m, seen.getOrElseUpdate(m.group(1), seen.size))))
    }
    val ids = renumber(plan, "#(\\d+)".r, (_, i) => s"#$i")
    val lambdas = renumber(ids, "lambda (([A-Za-z]+)_\\d+)\\b".r,
      (m, i) => s"lambda ${m.group(2)}_$i")
    val stable = renumber(lambdas, "plan_id=(\\d+)".r, (_, i) => s"plan_id=$i")
      .replace(tmpRoot, "<tmp>")
    val files = "[0-9a-f]{8}-part-(\\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}".r
      .replaceAllIn(stable, "txn-part-$1-uuid")
    val arrays = "\\[([A-Z])@[0-9a-f]+".r.replaceAllIn(files, "[$1@obj")
    "\\$\\$Lambda[$/]?[\\w/$]*(@[0-9a-f]+)?".r
      .replaceAllIn(arrays, Regex.quoteReplacement("$$Lambda"))
  }

  private val notes: Seq[(String, String)] = Seq(
    "flagship_missing_stats" ->
      ("Aggregate-before-join: the COUNT(DISTINCT) side is shrunk to one row " +
        "per key before the join, so the shuffle carries keys, not lineitems. " +
        "Filters push into the parquet scan; the join is Catalyst's choice " +
        "(broadcast at this sf, SMJ at scale) — the plan shape survives 100×."),
    "scan_filter_project" ->
      ("The pushdown proof: PushedFilters and a 3-column ReadSchema on the " +
        "scan node — predicate and projection both reach the reader; a full-" +
        "width scan here would be wrong."),
    "similarity_topk" ->
      ("One corpus scan, query set broadcast, no corpus shuffle; per-query " +
        "top-k via WindowGroupLimit pushdown (per-partition heap before the " +
        "single window sort)."),
    "minhash_lsh_neardup" ->
      ("The 100 TB near-dup path: signatures from one groupBy over shingle " +
        "hashes (no shingle self-join), banded candidate join bounded by " +
        "bucket sizes (256 pairs at sf0.1 vs 1.13M from the exact shingle " +
        "join), array_intersect verify map-side after broadcast joins."),
    "tumbling_window_counts" ->
      ("Windowed groupBy = one shuffle on (window,type) after map-side " +
        "partial aggregation; DECIMAL sums keep the aggregate exact and " +
        "order-independent."),
    "asof_click_view" ->
      ("As-of join with NO join operator: union the tagged streams, one " +
        "window pass per user carries the last-seen view timestamp " +
        "forward, keep clicks. One shuffle on user_id; a backward range " +
        "join would be O(clicks × views-per-user). The oracle runs " +
        "DuckDB's native ASOF JOIN — different algorithm, same rows."),
    "ivf_topk" ->
      ("IVF ANN: one broadcast-centroids pass over the corpus scores " +
        "K = ceil(sqrt(n)) centroids per vector (n*sqrt(n) dots — the " +
        "round-8 fix; a fixed divisor made this n^2/61 at 100x), cell " +
        "assignment and both rankings are native cos_topk " +
        "ObjectHashAggregates (k=1 for assignment — no window shuffle, " +
        "no per-task sort of the assignment stream), probes touch " +
        "~nprobe/sqrt(n) of the corpus, exact cosine re-ranks via the " +
        "native dot_i64 expression."),
    "ngram_jaccard_neardup" ->
      ("Round-3 rework: the shingled corpus is shuffled ONCE (window " +
        "df-count and per-shingle doc-list collection share one hash " +
        "partitioning — no second exchange between Window and " +
        "HashAggregate), pairs are generated map-side from each rare " +
        "shingle's ≤50-doc list, and an exact upper bound (shared-rare + " +
        "min-hot caps |A∩B|) prunes the 1.13M candidates to the plausible " +
        "few before any array is touched; the verify intersects 8-byte " +
        "hash arrays, not strings. 7.4s → ~2.5s at sf0.1, same rows."),
    "flagship_bucketed" ->
      ("The recurring-join discipline: both sides land hash-clustered on " +
        "the join key (16 buckets), so the count-distinct aggregate AND " +
        "the orders⋈counts join show NO Exchange anywhere in the plan — " +
        "the shuffle was paid once at write time. At this sf Catalyst " +
        "may still broadcast the small aggregate; with broadcast off " +
        "(BucketingSpec) the plan is a zero-exchange SortMergeJoin."),
    "range_join_recent" ->
      ("Interval join without a nested loop: timestamps quantize to " +
        "window-width buckets, the probe side explodes into the only two " +
        "buckets its window can reach (constant 2× fan-out), and the " +
        "exact range predicate is a residual filter on an ordinary " +
        "shuffled equi-join — candidate volume is per-(user,bucket) " +
        "activity, never n·m, and AQE can skew-split the hot users."),
    "skew_salted_join" ->
      ("Manual skew mitigation, measured: the fact side carries a random " +
        "salt, the dimension is exploded once per salt value, and the " +
        "join key becomes (user_id, salt) — a hot user's rows spread " +
        "over 8 tasks instead of one. The salt never escapes: the " +
        "result multiset is identical to the plain join (oracle-checked)."),
    "tfidf_top_terms" ->
      ("Term frequencies are the only pass over the token corpus (one " +
        "map-side-combined groupBy); document frequencies reduce that to " +
        "vocabulary size and return as a BroadcastHashJoin (vocabulary ≪ " +
        "corpus always); N is a broadcast scalar; the top-3 window " +
        "partitions by doc_id — no global sort. The explain shows the " +
        "tf stage read from InMemoryTableScan by both consumers instead " +
        "of being recomputed."),
    "neardup_clusters" ->
      ("At gate scale (≤65,536 edges — every fixture near-dup graph) the " +
        "labels come from a driver union-find whose min-id roots equal " +
        "the distributed min-label fixpoint bit-for-bit (r12: 2–4 label " +
        "rounds of join+agg+jump+pin were pure scheduler latency on a " +
        "tens-of-edges graph), so the plan below shows a LocalTableScan " +
        "for the CC labels. Past the gate the distributed loop runs " +
        "unchanged, shown in prior rounds' audits as its FINAL round's " +
        "plan (earlier rounds severed behind localCheckpoint scans — " +
        "that lineage cut is itself the scale property). Per distributed " +
        "round: one O(E) edges⋈labels shuffle, one map-side-combined " +
        "neighbor-min, two O(V) label-to-label joins — the pointer jump " +
        "applied twice, collapsing label chains 4× per round inside the " +
        "same checkpointed pass. No component member list ever " +
        "materializes on one node, so a 10⁸-copy boilerplate cluster is " +
        "not a hotspot. O(log₄ n) rounds by double pointer jumping."),
    "fuzzy_match_entities" ->
      ("Entity resolution bounded two ways: candidate volume by nation " +
        "blocking (Σ block² pairs, never n²), per-pair cost by the " +
        "THRESHOLDED levenshtein(a,b,2) INSIDE the join condition — a " +
        "banded O(d·n) early-exit DP, with the full-DP projection only " +
        "over surviving pairs. The dimension side broadcasts; the probe " +
        "side is hash-spread with an explicit count (a column-only " +
        "repartition of a few-hundred-KB side is an AQE-coalesce target) " +
        "so the pair loop fans out across every core — the difference " +
        "between 11.9 s and 0.65 s at sf0.1."),
    "fuzzy_banded_entities" ->
      ("The entity-matching SCALE ladder's production form: MinHash-LSH " +
        "over name character 3-grams replaces the nation-blocked pair " +
        "loop — candidates come from 4-band bucket equality (salted " +
        "self-join, the BandJoin machinery), verified by the codegen'd " +
        "Jaro-Winkler kernel, so no Σ block² term exists anywhere. The " +
        "16 slot hashes are INDEPENDENT per-slot md5 chunks projected " +
        "once per gram row before the signature aggregate (agg codegen " +
        "does not CSE them), and the gram pipeline is hash-spread off " +
        "the scan partitioning with an explicit count — the shared " +
        "affine family this replaced collapsed band keys to one-gram " +
        "fingerprints and went quadratic at 1.1M names " +
        "(STRESS_r12 §4)."),
    "bloom_prune_join" ->
      ("Runtime filtering made explicit: the dimension keys build one " +
        "Bloom sketch (a separate tree-aggregated job, KBs), embedded as " +
        "a BINARY literal in the fact scan's Filter — the " +
        "bloom_might_contain probe sits BELOW every Exchange, so non-" +
        "matching fact rows (all but the fpp fraction) die in the scan " +
        "stage and never shuffle. The broadcast LeftSemi join afterwards " +
        "removes false positives; end-to-end rows are bit-identical to " +
        "the plain semi join (the oracle). At 100 TB the join moves " +
        "|matching| + fpp·|fact| rows instead of |fact|."),
    "boilerplate_scrub" ->
      ("Global chunk dedup in three bounded passes: chunking is a " +
        "map-only explode; the frequency pass groups by (xxhash64, " +
        "chunk) — the 8-byte hash leads the key, text rides only for " +
        "oracle exactness; the boiler set joins back on the same key so " +
        "the partitioning is reused; reassembly is ONE groupBy(doc_id) " +
        "whose order restoration is array_sort over collected " +
        "(chunk_no, chunk) structs — no window, no global sort, nothing " +
        "quadratic anywhere."),
    "embedding_neardup_strict" ->
      ("Production-band sign-LSH (4 bands × 16 bits, cos ≥ 0.90): the " +
        "banded self-join carries only (band, bucket, id) rows and " +
        "collides for ~2⁻¹⁶ of random pairs per band, so candidates " +
        "scale with duplicate density, not corpus² — measured 12.6k " +
        "candidates vs ~80M for the 4-bit exploratory bands at a 10× " +
        "corpus (STRESS_r05.md). Vectors re-join per side only AFTER " +
        "candidate dedup; exact integer cosine (native dot_i64) " +
        "verifies the threshold."),
    "domain_mixing" ->
      ("Global total via a broadcast one-row aggregate over the per-" +
        "language frame — never SUM() OVER () (a single-partition " +
        "exchange); the repeated per-lang subtree is deduplicated by " +
        "ReuseExchange, and all mix arithmetic is integer (engine-" +
        "exact). PlanShapeSpec pins the no-Window plan."),
    "pagerank_transitions" ->
      ("The registered query's aggregated type-transition graph is " +
        "bounded by |types|² and stays under the 65,536-edge gate at ANY " +
        "corpus scale, so the ranks solve as a driver fixpoint (bit-equal " +
        "truncating-i64 recurrence; the plan is a LocalTableScan of the " +
        "solved ranks). Web-scale doc graphs blow the gate and take the " +
        "distributed loop. Per distributed round: one shuffle joining " +
        "the O(E) edge list with the O(V) " +
        "rank vector, one partial-combined aggregation onto dst, one " +
        "left join back to the vertex set; rank state is localCheckpoint-" +
        "pinned every 2nd round so the plan never grows with rounds. " +
        "All arithmetic is 64-bit integer (millionths) — bit-identical " +
        "at any partitioning, which is what lets a DuckDB CTE chain " +
        "oracle it exactly."),
    "kmeans_histogram" ->
      ("At sf0.01 (n = 500, under the 16,384-vector DriverLocal.RowGate) " +
        "the query trains AND labels on the driver from its one gate " +
        "collect and returns a local relation, so the plan below is a " +
        "LocalTableScan. Past the gate, Lloyd iteration at scale: k " +
        "centroids broadcast out, one corpus " +
        "scan per iteration, and the return shuffle carries only " +
        "(cluster, pos, partial-sum) rows — ≤ k·dim per partition, " +
        "independent of corpus size; the corpus itself never shuffles. " +
        "Init is two passes total (seed + 16k-candidate pool) instead " +
        "of k scans. Integer-exact distances and centroid updates make " +
        "the whole thing deterministic enough to oracle in SQL."),
    "semdedup_prune" ->
      ("Semantic dedup: the k-means assignment IS the candidate " +
        "generator, so the pairwise stage is an equi-join on cluster id " +
        "(hash exchange, Σnᵢ²/2 work bounded via k) — never an all-pairs " +
        "product. The census is one partial-aggregated groupBy over the " +
        "assignment. Oracle pins k = 8; the production adaptive-k / " +
        "multi-probe forms are measured in STRESS_r08.md §10.1."),
    "doc_chunk_overlap" ->
      ("Chunking is scan → slice → explode in ONE stage: no exchange " +
        "anywhere in the plan — at 100 TB this pipelines straight into " +
        "the sink. The generator runs AFTER the split projection, so the " +
        "token array is computed once per document, not per chunk."),
    "shard_shuffle_plan" ->
      ("Deterministic global shuffle without a global sort: shard = hash " +
        "mod 16 (uniform by construction, no range sampling). The order " +
        "proof is a two-level Merkle fold with bounded memory at every " +
        "step (round 9 — the round-8 single-level digest buffered " +
        "corpus/16 ids in one collect_list, a guaranteed OOM at 10^11 " +
        "docs): rows exchange on (shard, run = 4-hex-char md5 prefix), " +
        "sort within partitions, and stream through an incremental MD5 " +
        "per run (the MapPartitions node — O(1) state, the joined id " +
        "string never materializes); the final fold's collect_list " +
        "holds ≤65,536 fixed-width (run, digest) pairs per shard " +
        "(≈2.4 MB cap, independent of corpus size). DuckDB replays the " +
        "identical run boundaries from the same prefix arithmetic."),
    "neardup_keep_best" ->
      ("Keep-best dedup over near-dup clusters: the CC labels are the " +
        "neardup_clusters machinery unchanged (driver union-find at gate " +
        "scale, distributed loop past it); the per-cluster winner is ONE " +
        "map-side-combined packed-long max — q in the high bits, " +
        "complemented doc_id below, with an out-of-range raise guard — " +
        "NOT max(struct(q, -doc_id)), whose struct buffer silently " +
        "plans SortAggregate (the round-8 min(struct) trap, 15× on " +
        "10⁹ rows). No window over the corpus, no member list on any " +
        "node: a 10⁸-member boilerplate cluster shuffles one partial " +
        "per partition; the verdict join moves (cluster_id, q, id) " +
        "triples, never text."),
    "semdedup_adaptive" ->
      ("The production semantic-dedup form, oracle-checked (round 9): " +
        "k comes from the self-balancing formula (target = max(floor, " +
        "sqrt(2n)) keeps assignment n·k and pairwise n·target/2 both " +
        "~n^1.5 — the oracle replays the formula from COUNT(*), it is " +
        "not pinned); centroids are a broadcast TABLE; the nearest-" +
        "centroid argmin is min(d·S + cl) over ONE packed long — a " +
        "map-side-combined HashAggregate, where min(struct) silently " +
        "plans SortAggregate (round-8 trap); top-2 multi-probe is a " +
        "CosTopK object aggregation (no window sort); candidates are " +
        "an equi-join on shared probed cluster id — never all-pairs; " +
        "the census is one partial-aggregated groupBy."),
    "semdedup_twolevel" ->
      ("The past-the-pack-bound capacity mechanism (round 9): K1 = " +
        "ceil(sqrt(k)) coarse centroids over the corpus, K2 fine " +
        "centroids over the exact-int64 RESIDUALS (zip_with " +
        "subtraction — one projection, no extra pass), cell = " +
        "coarse*K2 + fine for k1*k2 <= ~1e9 cells where the flat " +
        "packed-long assignment stops at 32,768. Both levels are the " +
        "same broadcast-table + packed-long-min HashAggregate shape; " +
        "the fine codebook is GLOBAL, so training is two ordinary " +
        "k-means runs, never K1 independent ones. Measured 4.7x " +
        "cheaper training than flat k=1,000 at 2M vectors " +
        "(STRESS_r09.md §5) at the documented single-assignment " +
        "recall trade."),
    "embedding_neardup_adaptive" ->
      ("The production embedding near-dup path: SignProjectI64 computes " +
        "each vector's B(n) band buckets in ONE cached projection " +
        "(InMemoryTableScan feeds both join sides — the signs are never " +
        "recomputed); candidates come from an equi-join on (band, " +
        "bucket) — never a nested loop — and are deduped by a (va, vb) " +
        "hash aggregate BEFORE vectors re-join for the exact integer-" +
        "cosine verify, so the expensive arrays touch only surviving " +
        "pairs. Geometry (R, B)(n) adapts to corpus size: measured " +
        "sub-quadratic candidates and 100% planted recall at 10×-1000× " +
        "(STRESS_r08.md §9)."),
    "pq_topk" ->
      ("At sf0.01 (n = 500, under the 16,384-vector gate) the codebook, " +
        "codes, LUTs and ADC top-5 come from the one gate collect on the " +
        "driver, so the plan below is a LocalTableScan; PlanShapeSpec " +
        "pins the past-gate plan. Past the gate, product " +
        "quantization's compressed-domain scan (the ADC analogue " +
        "of similarity_topk's exactness-baseline designation): encoding " +
        "is a PURE PROJECTION — per subspace a packed-long aggregate() " +
        "fold over the ~128 KB codebook plan literal (d²·256 + j, ties " +
        "to lowest j), zero joins, zero exchanges, zero aggregation " +
        "state (the collect_list re-assembly this replaces OOMed at " +
        "1000× — STRESS_r09 §6) — and the ADC scan reads the 4-byte " +
        "code column against broadcast query LUTs (M element_at lookups " +
        "per candidate, no per-dimension arithmetic, the full-width " +
        "vectors never re-join). Per-query top-5 folds map-side into " +
        "O(k) cos_topk heaps below the qid exchange."),
    "ivfpq_rerank_topk" ->
      ("THE production ANN composition (FAISS IVFx,PQy + refine): IVF " +
        "probe-2 candidate generation (the only nested-loop is the " +
        "K ≈ √n centroid broadcast — ivf_topk's shape), ADC scoring of " +
        "candidates from M code bytes via equi-joins on cid/qid (nothing " +
        "corpus-sized broadcasts), cos_topk shortlist at 4× the final k, " +
        "then the exact integer-cosine re-rank touches full-width " +
        "vectors for ≤20 pairs per query — a fetch, not a scan, with " +
        "the query vectors broadcast so no vector rides the pair-stream " +
        "exchanges (both round-9 1000× OOM fixes, STRESS_r09 §6). At " +
        "10¹¹ vectors the per-query working set is 2√n code rows + 20 " +
        "vectors; the code table is 4 B/vector, 128× under the raw " +
        "corpus (12.4× measured in-cache at 2M)."),
    "pq_ingest_dedup" ->
      ("Dedup-on-ingest against the compressed index (the embedding " +
        "analogue of incremental_neardup): the planted arrival batch " +
        "(near-copies of every 37th vector at cos ≈ 0.999, novel " +
        "+800000-perturbed copies of every 41st at cos ≈ 0.2 — both " +
        "derived identically in the oracle, so BOTH verdict classes " +
        "are hash-checked) probes the existing corpus's top-2 IVF " +
        "cells, ADC-shortlists cell members to 4 candidates from the " +
        "4 B/vector code table, exact-re-ranks the ≤4 fetched vectors, " +
        "and verdicts at the family's cos ≥ 0.90 threshold. Per-arrival " +
        "work is probe + ~2√n code rows + ≤4 vector fetches — ingest " +
        "cost ∝ batch, never the corpus — and the resident state is " +
        "codes (88 MB vs 1.1 GB of vectors at the measured 2M decade), " +
        "which is what makes dedup-at-the-door affordable at 10¹¹ " +
        "vectors."),
    "ann_auto_topk" ->
      ("The ANN router: the corpus size n (the gate collect's row " +
        "count; a COUNT only past 16,384 vectors) dispatches " +
        "to exact (n ≤ 784 — the arithmetic crossover of the family's " +
        "q = n/25 cost model: n²/25 exact dots vs (28/25)·n^1.5 for " +
        "IVF build+probe+score), IVF probe-2 (784 < n ≤ 500k), or " +
        "IVF-PQ-rerank (n > 500k — the residency threshold where the " +
        "520 B/vector payload passes a 256 MB cache budget; at the " +
        "measured 2M-vector decade the vectors cache at 1.1 GB vs 88 MB " +
        "of PQ codes, STRESS_r09 §6). The routed plan IS the branch's " +
        "registered plan — AnnRouterSpec asserts row equality against " +
        "the branch bodies, and the DuckDB oracle replays the same " +
        "thresholds from COUNT(*), gating all three branch pipelines on " +
        "n. At sf0.01 (n = 500) the dispatch lands on the exact branch, " +
        "which at n ≤ 784 finishes on the driver from the collected rows " +
        "(same i64 dots, double cosine and cos_topk ranking), so the " +
        "plan below is a LocalTableScan. Past the gate the exact branch " +
        "is similarity_topk_bigq's cos_topk body with a broadcast query " +
        "subset; see ivf_topk and ivfpq_rerank_topk for the plans the " +
        "other two branches reuse."),
    "dup_span_coverage" ->
      ("Exact duplicate-span coverage (Lee et al. ACL 2022 re-expressed " +
        "at w-gram granularity): LINEAR, never pairwise — the hashed " +
        "w-gram stream is persisted once (InMemoryTableScan feeds the " +
        "occurrence count AND the dup-position probe), counting shuffles " +
        "on the gram hash only, a span repeated in 10⁶ docs contributes " +
        "10⁶ rows not 10¹² pairs, and the interval-union window " +
        "partitions by doc_id — never a global sort. Short docs pass " +
        "through the left join with zero coverage."),
    "ann_index_topk" ->
      ("The stored-index (AnnIndex) query path — the amortized form of " +
        "ivfpq_rerank_topk: every index artifact is READ BACK from " +
        "warehouse parquet instead of re-derived, so the plan must show " +
        "(a) the centroid table scanned once under a BroadcastExchange " +
        "(K ≈ √n rows), (b) the entries table (cell + 4 B PQ code, " +
        "~16 B/row of information vs 520 B of vector) feeding BOTH the " +
        "candidate equi-join and the ADC shortlist join, and (c) the " +
        "full-width embeddings parquet appearing ONLY under the final " +
        "re-rank fetch (one cid equi-join of ≤ shortlist·q rows) — no " +
        "encode projection over the corpus anywhere: encoding happened " +
        "once at build time. At 10¹¹ vectors the per-batch working set " +
        "is the probe broadcast + 2·√n code rows per query + 20 full " +
        "vectors per query; the 52 TB corpus is never scanned after " +
        "build."))

  def main(args: Array[String]): Unit = {
    // pinned at local[4] (not SPARK_GRAFT_CPUS): the committed plans
    // record this partitioning
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"), "graft-plans")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    val spark = HarnessSession.build(cpus = "4", logLevel = "ERROR")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append("Generated by `sbt 'runMain graft.Plans'` at sf0.01; the scale\n")
    sb.append("commentary is the point, the plans are the evidence.\n\n")
    sb.append("""## Memory-pressure addendum (round 5, measured)

The whole suite completes spill-clean in a 1 GB JVM with
`spark.memory.fraction=0.05` (see `scripts/verify_constrained.sh`,
BENCH_NOTES.md) — with ONE deployment caveat that the constrained run
surfaced: the iterative operators (`neardup_clusters`' CC loop,
PageRank, k-means) pin per-round state via `localCheckpoint`, and
Spark's default `spark.memory.storageFraction=0.5` PROTECTS cached
blocks from eviction. Under a tiny pool the protected half starves
execution below the hash-aggregate's first 256 KB page
(`UNABLE_TO_ACQUIRE_MEMORY`, observed). Rule for pressured clusters:
size the storage floor to the pinned state (`0.1` sufficed here) —
checkpointed loop state spills fine; it must not be allowed to squat.
""")
    notes.foreach { case (name, note) =>
      val d = SparkEntry.defs.find(_.name == name).get
      val df = d.fn(spark, dir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(normalise(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim, tmp.toString))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${notes.size} plans)")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
