package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Connected components over a pair graph — the step that turns near-dup
  * PAIR detection into near-dup GROUPS: transitively-linked documents
  * form one cluster, and exactly one canonical survivor per cluster is
  * kept (the reference's dedup surface stops at pairwise `drop_duplicates`
  * — `transform_functions.py` has no transitive grouping — but any real
  * corpus dedup needs it: A~B and B~C must not keep both A and C).
  *
  * Algorithm: iterative min-label propagation WITH pointer jumping, pure
  * DataFrame ops. Each round does (1) a neighbor step — every vertex
  * takes the min of its own label and its neighbors' — and (2) a pointer
  * jump — every vertex then takes its label's label (well-defined: a
  * label is always some vertex's id, and labels only ever decrease). The
  * neighbor step alone needs O(diameter) rounds (a 10⁶-long chain of
  * near-dups would need 10⁶ shuffles); the jump collapses label chains
  * geometrically, giving O(log n) rounds on any graph shape — the same
  * doubling idea as the large-star/small-star MapReduce CC algorithm.
  * Per round: one shuffle of the edge list joined with labels (O(E)),
  * one label aggregation (O(V+E)), one label-to-label join (O(V)) — no
  * step ever materializes a component's member list on one node, so a
  * cluster of any size (the pathological "same boilerplate 10⁸ times"
  * case) is never a hotspot.
  */
object Components {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Connected components of the undirected graph given by `edges` (two
    * id columns; direction ignored). Returns (id, cluster_id) for every
    * vertex that appears in some edge, where cluster_id is the MINIMUM
    * vertex id of the component — deterministic at any partitioning.
    * Empty edge sets return an empty frame with that schema.
    *
    * Graphs of at most [[DriverLocal.EdgeGate]] edges resolve the labels
    * on the driver, decided and collected by one [[DriverLocal.rowsUpTo]]
    * job. At fixture scale every registered near-dup graph has tens of
    * edges, yet the label loop costs 2–4 rounds × (join + agg + two
    * pointer jumps + an eager pin) — pure scheduler latency over frames
    * smaller than one shuffle block (guide §1.2: fix the distributed
    * algorithm first). The local path is a min-root union-find —
    * bit-equal labels, because attaching the larger root under the
    * smaller keeps every set's root at its minimum id, exactly the
    * distributed min-label fixpoint (ComponentsSpec pins parity on the
    * 10k-ring topology). Graphs past the bound, non-long id types, and
    * null endpoints all take the distributed loop unchanged. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 40): DataFrame = {
    val s = edges.sparkSession
    val e = edges.toDF("src", "dst")
    val longIds = e.schema.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (!longIds) ccDistributed(e, maxIters, unpersistInput = false)
    // One limit-collect gates the driver path and IS its input
    // ([[DriverLocal.rowsUpTo]]); only the distributed branch pins the
    // edge frame its rounds re-read.
    else DriverLocal.rowsUpTo(e, DriverLocal.EdgeGate) match {
      case Some(rows) if rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)) =>
        ccLocal(s, rows)
      case _ =>
        ccDistributed(e.persist(StageLevels.pinned(s)), maxIters,
          unpersistInput = true)
    }
  }

  /** Driver-side union-find for gate-sized graphs: min-id roots with
    * path compression — the identical min-label semantics as the
    * distributed fixpoint. Output vertex order is first-seen over the
    * collected edges (deterministic for a deterministic collect; the
    * consumers and the driver compare order-independently). */
  private def ccLocal(s: SparkSession,
                      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) { parent(a) = a; order += a }
      if (!parent.contains(b)) { parent(b) = b; order += b }
      val ra = find(a); val rb = find(b)
      // larger root under smaller: every set's root stays its minimum
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val outRows: java.util.List[Row] =
      java.util.Arrays.asList(order.map(id => Row(id, find(id))).toSeq: _*)
    s.createDataFrame(outRows, StructType(Seq(
      StructField("id", LongType), StructField("cluster_id", LongType))))
  }

  /** The distributed label loop — every graph past [[DriverLocal.EdgeGate]].
    * Package-visible so ComponentsSpec / CheckpointModeSpec can exercise
    * the loop (and its pins) directly below the gate. */
  private[ops] def ccDistributed(edges: DataFrame, maxIters: Int = 40,
                                 unpersistInput: Boolean = false): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.toDF("src", "dst")
    // undirected: propagate both ways; persisted — read every round.
    // Pool-adaptive level, as is every localCheckpoint below (see
    // StageLevels): pinned loop state must not occupy the unified
    // pool's PROTECTED storage region when the pool is squeezed —
    // measured UNABLE_TO_ACQUIRE_MEMORY in this very loop at a 36 MB
    // pool — but unconditional DISK_ONLY measured 2.7× on the hot path,
    // so the operator checks the pool's capacity and only yields to
    // disk when memory is genuinely scarce.
    val lvl = StageLevels.pinned(s)
    val sym = e.union(e.select($"dst", $"src")).persist(lvl)
    // Every round ends in an eager LoopState.pin: the pointer-jump
    // SELF-join references the round's plan twice, so without lineage
    // truncation the logical plan doubles per round — exponential plan
    // size that OOMs the driver before any data moves. Pinning each
    // round's labels (O(V), the only state) restarts the plan from it;
    // superseded rounds are reclaimed by the context cleaner once
    // unreferenced. Default pin is localCheckpoint (fast, but executor
    // loss mid-loop is unrecoverable); clusters with routine executor
    // churn set spark.graft.checkpointDir for reliable checkpoints —
    // see LoopState for the resilience contract.
    // Seed = the first neighbor step fused into vertex discovery: with
    // initial labels id→id, round 1's "min of own + neighbors' labels" is
    // just least(id, min(dst)) — one aggregation over the edge list
    // replaces the distinct AND the first loop round's three joins.
    var labels = LoopState.pin(sym.groupBy($"src".as("id"))
      .agg(least($"id", min($"dst")).as("cluster_id")), lvl)
    var converged = sym.isEmpty
    // the seed pin's eager aggregate materialized sym's cache, so the
    // gate's pinned input frame (if any) is no longer read
    if (unpersistInput) edges.unpersist()
    var iter = 0
    while (!converged && iter < maxIters) {
      // (1) neighbor step: min over own + neighbors' labels. Formulated
      // as aggregate-then-join rather than union-then-aggregate: the
      // map-side-combined neighbor min shuffles ≤ one row per vertex
      // (not one per edge), and a Union whose branches share the
      // checkpointed frame's attributes trips Catalyst's union
      // constraint rewriting. The pre-step label rides along as `prev`
      // so convergence is an `observe` metric on the same pass that
      // materializes the round — no separate compare-join job.
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select($"dst".as("id"), $"cluster_id")
        .groupBy($"id").agg(min($"cluster_id").as("nbr"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select($"id", $"cluster_id".as("prev"),
          least($"cluster_id", coalesce($"nbr", $"cluster_id")).as("cluster_id"))
      // (2) pointer jump, applied TWICE: label := label(label(label(…))).
      // The joined row always exists (labels covers every vertex id, and
      // every label IS a vertex id), and labels only decrease, so the
      // map can be applied repeatedly; two applications collapse label
      // chains 4× per round instead of 2× — same number of jobs, one
      // more join inside the same checkpointed pass. (log₄ vs log₂
      // halves the rounds on deep-chain graphs like the 10k-ring stress
      // case; near-dup cliques converge in 2–3 rounds either way.)
      val jumpMap = stepped.select($"id".as("cluster_id"),
        $"cluster_id".as("jump"))
      val obs = org.apache.spark.sql.Observation()
      val next = stepped.as("x")
        .join(jumpMap, "cluster_id")
        .select($"id", $"jump".as("cluster_id"), $"x.prev".as("prev"))
        .join(jumpMap, "cluster_id")
        .select($"id", $"jump".as("cluster_id"), $"prev")
        .observe(obs, sum(when($"cluster_id" =!= $"prev", 1L)
          .otherwise(0L)).as("changed"))
      // eager: the observed action of this round
      val pinnedNext = LoopState.pin(next, lvl)
      val changed = obs.get("changed") match {
        case l: Long           => l
        case l: java.lang.Long => l.longValue()
        case other => throw new IllegalStateException(s"bad metric: $other")
      }
      labels = pinnedNext.select($"id", $"cluster_id")
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    require(converged,
      s"connected components did not converge in $maxIters rounds " +
        "(doubling reaches 2^40 vertices — this indicates a bug, not scale)")
    labels
  }

  /** Registered form: MinHash-LSH near-dup pairs over `documents` →
    * components → per-doc cluster assignment with the cluster's member
    * count and the keep/drop verdict (keep = the cluster's minimum
    * doc_id — deterministic canonical survivor). The oracle reuses the
    * pair query's CTE chain verbatim and closes it transitively with a
    * recursive min-label CTE — same fixpoint, so Spark's iterative
    * propagation is checked end-to-end against an independent
    * formulation. */
  val neardupClusters: QueryDef =
    QueryDef.sql(
      "neardup_clusters",
      s"""WITH RECURSIVE ${TextOps.mhPairsCteSql},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |cc AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |cs AS (SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id)
        |SELECT cc.doc_id, cc.cluster_id, cs.n_members,
        |  CAST(CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cc JOIN cs USING (cluster_id)""".stripMargin) { (s, dir) =>
      import s.implicits._
      // pool-adaptive stage tables (StageLevels): under a squeezed pool
      // the pair stage's caches must not hold the protected storage
      // region through the CC loop that follows; with an ample pool
      // they stay resident
      val docs = t(s, dir, "documents")
      val pairs = TextOps.minhashNeardupPairs(docs,
          StageLevels.pinnedFor(docs))
        .select($"doc_a", $"doc_b")
      val cc = connectedComponents(pairs).withColumnRenamed("id", "doc_id")
      val sizes = cc.groupBy($"cluster_id")
        .agg(count(lit(1)).as("n_members"))
      cc.join(sizes, "cluster_id")
        .select($"doc_id", $"cluster_id", $"n_members",
          when($"doc_id" === $"cluster_id", 1L).otherwise(0L).as("keep"))
    }

  /** CLUSTER-LEVEL KEEP-BEST dedup — the end step a training-data
    * pipeline actually runs after near-dup detection: every document is
    * assigned to its near-dup cluster (its own doc_id when it has no
    * near-dups), and the cluster's SURVIVOR is the member with the
    * highest quality score (ties to the lowest doc_id) rather than
    * [[neardupClusters]]'s blind minimum id. Covers the whole corpus —
    * singletons trivially keep themselves — so `WHERE keep = 1` IS the
    * deduplicated training set.
    *
    * Scale shape: the CC loop is [[connectedComponents]] unchanged; the
    * winner is ONE map-side-combined packed-long `max` per cluster
    * (hash-aggregable — see the packing note in [[keepBestVerdicts]];
    * no window over the corpus, no member list on any node —
    * a 10⁸-member boilerplate cluster shuffles one partial per
    * partition), and the verdict join moves (cluster_id, q, doc_id)
    * triples, never text. Oracle: the pair CTE chain + recursive
    * closure reused from [[neardupClusters]], winner via QUALIFY
    * ROW_NUMBER — an independent formulation of the same argmax. */
  val neardupKeepBest: QueryDef =
    QueryDef.sql(
      "neardup_keep_best",
      s"""WITH RECURSIVE ${TextOps.mhPairsCteSql},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |cc AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id, ${TextOps.SCORE_SQL} AS q FROM documents),
        |cl AS (
        |  SELECT q.doc_id, COALESCE(cc.cluster_id, q.doc_id) AS cluster_id, q.q
        |  FROM q LEFT JOIN cc ON cc.doc_id = q.doc_id),
        |win AS (
        |  SELECT cluster_id, doc_id AS wdoc FROM cl
        |  QUALIFY ROW_NUMBER() OVER (
        |    PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) = 1)
        |SELECT cl.doc_id, cl.cluster_id, cl.q AS quality_score,
        |  CAST(CASE WHEN cl.doc_id = w.wdoc THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cl JOIN win w USING (cluster_id)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val pairs = TextOps.minhashNeardupPairs(docs, StageLevels.pinnedFor(docs))
        .select($"doc_a", $"doc_b")
      keepBestVerdicts(docs, pairs)
    }

  /** doc_id bound for the packed-long argmax in [[keepBestVerdicts]]:
    * packed = q·2⁶⁰ + (2⁶⁰−1−doc_id) with q ∈ {0..3} stays under 2⁶²,
    * so any corpus with doc_id ∈ [0, 2⁶⁰) (a 100 TB corpus is ≪ 2⁶⁰
    * docs) packs without overflow; out-of-range ids raise instead of
    * silently corrupting the winner. */
  private val KeepBestIdBound = 1L << 60

  /** The keep-best machinery behind [[neardupKeepBest]], reusable with
    * any pair detector: `docs` is (doc_id, text, …), `pairs` is two
    * doc-id columns from a near-dup detector. Returns (doc_id,
    * cluster_id, quality_score, keep) covering EVERY document. */
  def keepBestVerdicts(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cc = connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val scored = docs.select($"doc_id", TextOps.qualityScore($"text").as("q"))
    val cl = scored.join(cc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"),
        $"q")
    // argmax(q) with min-doc_id tiebreak as ONE associative aggregate.
    // NOT max(struct(q, -doc_id)): a struct buffer cannot hash-aggregate
    // and Spark silently plans SortAggregate — the exact trap the
    // round-8 min(struct) fix measured at 15× on 10⁹ rows. A packed
    // long keeps the argmax in codegen'd HashAggregate: larger q wins
    // the high bits; within a q, smaller doc_id → larger complement.
    val packed = when($"doc_id".between(0L, KeepBestIdBound - 1),
        $"q".cast("long") * KeepBestIdBound + (lit(KeepBestIdBound - 1) - $"doc_id"))
      .otherwise(raise_error(concat(
        lit(s"keepBestVerdicts: doc_id out of packable range [0, $KeepBestIdBound): "),
        $"doc_id".cast("string"))))
    val winners = cl.groupBy($"cluster_id")
      .agg(max(packed).as("p"))
      .select($"cluster_id",
        (lit(KeepBestIdBound - 1) - ($"p" % KeepBestIdBound)).as("wdoc"))
    cl.join(winners, "cluster_id")
      .select($"doc_id", $"cluster_id", $"q".as("quality_score"),
        when($"doc_id" === $"wdoc", 1L).otherwise(0L).as("keep"))
  }

  /** Validation fraction of [[leakageSafeSplit]] in basis points of the
    * md5 bucket space — 5%, the conventional held-out slice. */
  private val ValBp = 500L

  /** GROUP-AWARE TRAIN/VAL SPLIT WITH A NEAR-DUP LEAKAGE GUARD — the
    * split step a training pipeline runs AFTER near-dup detection.
    * A naive per-document hash split leaks: a near-duplicate pair
    * straddling the boundary puts a paraphrase of a validation document
    * into training, and the eval overstates generalization (the
    * train-test overlap Lee et al., ACL 2022 §6.2 measured on C4/Wiki40B
    * — eval perplexity on leaked examples is spuriously low). The fix
    * is the group-shuffle-split discipline: the ATOM of splitting is the
    * near-dup CLUSTER, never the document.
    *
    *   1. provisional split: md5-bucket of doc_id < 5% → val (the
    *      [[Curation.stratifiedSample]] hash idiom — deterministic,
    *      engine-portable, no RNG);
    *   2. clusters: MinHash-LSH pairs → [[connectedComponents]]
    *      (singletons form their own cluster);
    *   3. final split: every member takes the provisional split of the
    *      cluster's REPRESENTATIVE (its minimum doc_id — exactly the
    *      cluster_id, so the lookup is one join against the provisional
    *      frame, no argmin pass). No pair can straddle the final split:
    *      pairs live inside clusters and clusters move atomically.
    *
    * Output per document: (doc_id, cluster_id, is_val0, is_val, moved)
    * — `moved` marks docs whose split changed, i.e. exactly the leakage
    * the naive split would have shipped. Scale shape: steps 1 and 3 are
    * a map-side hash and one (cluster_id, bit) equi-join; the pair+CC
    * machinery is [[neardupClusters]]'s unchanged (O(E log n), no
    * member list ever on one node), so the guard costs nothing beyond
    * the dedup pass the pipeline already ran. Reference anchor: the
    * reference has no split stage (`transform_functions.py` stops at
    * drop_duplicates); this is the extension a 100 TB training corpus
    * requires before any eval is trustworthy. */
  val leakageSafeSplit: QueryDef =
    QueryDef.sql(
      "leakage_safe_split",
      s"""WITH RECURSIVE ${TextOps.mhPairsCteSql},
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |cc AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |s0 AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 10000 < $ValBp THEN 1 ELSE 0 END AS is_val0
        |  FROM documents),
        |cl AS (
        |  SELECT s0.doc_id, COALESCE(cc.cluster_id, s0.doc_id) AS cluster_id,
        |    s0.is_val0
        |  FROM s0 LEFT JOIN cc ON cc.doc_id = s0.doc_id)
        |SELECT cl.doc_id, cl.cluster_id,
        |  CAST(cl.is_val0 AS BIGINT) AS is_val0,
        |  CAST(rep.is_val0 AS BIGINT) AS is_val,
        |  CAST(CASE WHEN cl.is_val0 <> rep.is_val0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS moved
        |FROM cl JOIN s0 rep ON rep.doc_id = cl.cluster_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val docs = t(s, dir, "documents")
        val pairs = TextOps.minhashNeardupPairs(docs,
            StageLevels.pinnedFor(docs))
          .select($"doc_a", $"doc_b")
        splitVerdicts(docs, pairs)
    }

  /** The provisional-split bit: md5-bucket of the id below [[ValBp]]
    * basis points → validation. */
  private def isVal(id: Column): Column =
    when(conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000L < ValBp, 1L).otherwise(0L)

  /** The split machinery behind [[leakageSafeSplit]], reusable with any
    * pair detector. Returns (doc_id, cluster_id, is_val0, is_val,
    * moved) covering EVERY document. */
  def splitVerdicts(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cc = connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val cl = docs.select($"doc_id", isVal($"doc_id").as("is_val0"))
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"),
        $"is_val0")
    // the representative IS the cluster_id, so its split bit derives
    // from the id directly — no second scan, no argmin aggregation
    cl.select($"doc_id", $"cluster_id", $"is_val0",
        isVal($"cluster_id").as("is_val"))
      .withColumn("moved",
        when($"is_val0" =!= $"is_val", 1L).otherwise(0L))
  }

  val all: Seq[QueryDef] =
    Seq(neardupClusters, neardupKeepBest, leakageSafeSplit)
}
