package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Weighted PageRank over an edge list — the second member of the
  * iterative-graph family (with [[Components]]): importance scores for
  * link/transition graphs (site authority for web-corpus curation,
  * event-flow importance, citation weighting).
  *
  * Determinism discipline: ranks are fixed-point integers (millionths),
  * every per-edge contribution is `rank · d · w div totw` in 64-bit
  * integer arithmetic, and the iteration runs a FIXED round count — so
  * the result is bit-identical at any partitioning and any cluster
  * size, unlike float PageRank whose sums drift with reduce order.
  * Integer division truncates (leaked mass stays un-redistributed, the
  * standard simplification for dangling nodes too); scores therefore
  * slightly undershoot the textbook fixpoint but ORDER — what curation
  * consumes — is preserved.
  *
  * Scale shape per round: one shuffle joining the edge list with the
  * rank vector on src (O(E)), one aggregation onto dst (O(E) partial-
  * combined), one left join back onto the vertex set (O(V)); state
  * between rounds is the O(V) rank vector, pinned per round
  * ([[LoopState.pin]] — localCheckpoint by default, reliable
  * `checkpoint()` under `spark.graft.checkpointDir`) so the plan never
  * grows with the round count (same discipline as
  * [[Components.connectedComponents]]).
  */
object PageRank {

  /** PageRank over `edges` (src, dst, w) with damping d6/1e6 (default
    * 0.85) for a fixed `rounds`. Returns (id, rank_q6) over every vertex
    * appearing as src or dst. Σ rank_q6 ≤ N·1e6 (truncation + dangling
    * leak are not redistributed).
    *
    * An aggregated edge list of at most [[DriverLocal.EdgeGate]] rows
    * runs the fixpoint on the driver, decided and collected by one
    * [[DriverLocal.rowsUpTo]] job. The rank iteration is O(E + V)
    * integer arithmetic per round; at that size ten distributed rounds
    * are pure scheduler latency: ~30 jobs over frames smaller than one
    * shuffle block. The local path runs the IDENTICAL truncating-i64
    * recurrence (bit-equal ranks — PageRankSpec pins parity against the
    * distributed loop), so callers see the same frame either way; graphs
    * past the bound take the distributed loop unchanged. Type-vocabulary
    * transition graphs (the registered query) are bounded by |types|²
    * and stay local at ANY corpus scale; web-scale doc graphs blow the
    * bound and distribute. */
  def pageRank(edges: DataFrame, d6: Long = 850000L,
               rounds: Int = 10): DataFrame = {
    val e = edges.toDF("src", "dst", "w")
    // guide §1.2/"the distributed algorithm": don't pay 3 jobs/round on a
    // bounded graph. The gate job IS the local path's collect; only the
    // distributed branch persists the edge list its rounds re-read.
    DriverLocal.rowsUpTo(localEdges(e), DriverLocal.EdgeGate) match {
      case Some(rows) => pageRankRows(e, rows, d6, rounds)
      case None => pageRankDistributed(e.persist(), d6, rounds)
    }
  }

  /** The distributed round loop — every graph past [[DriverLocal.EdgeGate]].
    * Takes ownership of the persisted `e` and unpersists it on exit.
    * Package-visible so PageRankSpec can pin local/distributed parity on
    * the same edge frame. */
  private[ops] def pageRankDistributed(e: DataFrame, d6: Long,
                                       rounds: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val nodes = e.select($"src".as("id"))
      .union(e.select($"dst".as("id"))).distinct().persist()
    val out = e.groupBy($"src").agg(sum($"w").as("totw"))
    val ew = e.join(out, "src")
      .select($"src", $"dst", $"w", $"totw").persist()
    val base = 1000000L - d6 // (1-d) in millionths, per node
    // pool-adaptive checkpoints (same rationale as Components, see
    // StageLevels): pinned rank state yields to disk only when the
    // unified pool is squeezed; O(V) rows per round read once.
    // LoopState.pin upgrades to reliable checkpoints when
    // spark.graft.checkpointDir is set (executor-loss safety — see
    // LoopState's resilience contract).
    val lvl = StageLevels.pinned(nodes.sparkSession)
    var rank = LoopState.pin(
      nodes.select($"id", lit(1000000L).as("rank_q6")), lvl)
    try for (r <- 1 to rounds) {
      val contrib = ew.join(rank, ew("src") === rank("id"))
        .select($"dst",
          // damp first (bounded by rank), then per-edge share — all i64
          // (`div`, never Column./ which is double division on longs)
          expr(s"rank_q6 * $d6 div 1000000 * w div totw").as("c"))
        .groupBy($"dst").agg(sum($"c").as("in_q6"))
      rank = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select($"id",
          (lit(base) + coalesce($"in_q6", lit(0L))).as("rank_q6"))
      // Lineage pin every SECOND round (and on the last): each round
      // references `rank` once, so two unrolled rounds only double the
      // plan — half the eager checkpoint jobs for the same bounded-plan
      // guarantee (rounds are latency-dominated on small graphs).
      if (r % 2 == 0 || r == rounds)
        rank = LoopState.pin(rank, lvl)
    } finally {
      // The final rank is an eager pin, so nothing below it
      // is needed again — release the loop-scoped caches so repeated
      // invocations (bench median-of-3, determinism re-runs) don't
      // accumulate partitions until LRU eviction.
      ew.unpersist(); nodes.unpersist(); e.unpersist()
    }
    rank
  }

  /** Driver-side fixpoint for gate-sized graphs — the IDENTICAL
    * recurrence as the distributed loop, in the same truncating 64-bit
    * integer arithmetic (Scala `/` on non-negative longs ≡ Spark `div`),
    * so ranks are bit-equal. One collect of the aggregated edge list
    * (≤ [[DriverLocal.EdgeGate]] rows; under [[pageRank]] it is the gate's own
    * [[DriverLocal.rowsUpTo]] job), zero distributed rounds; the result
    * returns as a local relation. */
  private[ops] def pageRankLocal(e: DataFrame, d6: Long,
                                 rounds: Int): DataFrame =
    pageRankRows(e, localEdges(e).collect(), d6, rounds)

  /** (src, dst, w as i64) — the rows the driver-side fixpoint reads. */
  private def localEdges(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"),
      col("w").cast(org.apache.spark.sql.types.LongType))

  /** [[pageRankLocal]] over already-collected [[localEdges]] rows of `e`
    * (whose schema types the output's id column). */
  private def pageRankRows(e: DataFrame,
                           rows: Array[org.apache.spark.sql.Row], d6: Long,
                           rounds: Int): DataFrame = {
    val s = e.sparkSession
    val idType = e.schema("src").dataType
    val edges = rows.map(r => (r.get(0), r.get(1), r.getLong(2)))
    val totw = scala.collection.mutable.HashMap.empty[Any, Long]
    edges.foreach { case (src, _, w) =>
      totw(src) = totw.getOrElse(src, 0L) + w
    }
    // deterministic, insertion-ordered vertex set (src-first, as seen)
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    edges.foreach { case (src, dst, _) => nodes += src; nodes += dst }
    val base = 1000000L - d6
    var rank = scala.collection.mutable.HashMap.empty[Any, Long]
    nodes.foreach(id => rank(id) = 1000000L)
    for (_ <- 1 to rounds) {
      val in = scala.collection.mutable.HashMap.empty[Any, Long]
      edges.foreach { case (src, dst, w) =>
        // damp first (bounded by rank), then per-edge share — all i64
        // truncating division, exactly the distributed expression
        val c = rank(src) * d6 / 1000000L * w / totw(src)
        in(dst) = in.getOrElse(dst, 0L) + c
      }
      val next = scala.collection.mutable.HashMap.empty[Any, Long]
      nodes.foreach(id => next(id) = base + in.getOrElse(id, 0L))
      rank = next
    }
    val outRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.toSeq.map(id =>
        org.apache.spark.sql.Row(id, rank(id))): _*)
    s.createDataFrame(outRows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("rank_q6",
        org.apache.spark.sql.types.LongType))))
  }

  /** Registered form: PageRank of the event-type transition graph — per
    * user, consecutive events define weighted type→type edges (a Markov
    * transition structure); rank scores which event types flows settle
    * into.
    *
    * Hash-green oracle: because every per-round operation is integer
    * arithmetic over a FIXED round count, the whole iteration is
    * expressible as plain SQL — the oracle unrolls the 10 rounds as a
    * generated CTE chain (r0..r10), each round the same
    * contributions-grouped-by-dst left-joined back onto the vertex set.
    * (An unrolled chain, not a recursive CTE: grouped aggregation over
    * the recursive working table has engine-specific semantics; the
    * unrolled form is the identical dataflow with none.) DuckDB `//` is
    * floor division vs Spark `div` truncation — equal here because every
    * operand (ranks, weights, totals) is non-negative. */
  val pagerankTransitions: QueryDef = {
    val rounds = 10
    val oracle = {
      val ctes = Seq(
        """edges AS (
          |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
          |    SELECT event_type AS src,
          |      lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
          |    FROM events) WHERE dst IS NOT NULL GROUP BY src, dst)""".stripMargin,
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "ew AS (SELECT src, dst, w, CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS totw FROM edges)",
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank_q6 FROM nodes)") ++
        (1 to rounds).map { i =>
          s"""r$i AS (
             |  SELECT n.id, CAST(150000 + COALESCE(c.in_q6, 0) AS BIGINT) AS rank_q6
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, CAST(SUM(p.rank_q6 * 850000 // 1000000 * e.w // e.totw) AS BIGINT) AS in_q6
             |    FROM r${i - 1} p JOIN ew e ON e.src = p.id GROUP BY e.dst) c
             |  ON n.id = c.dst)""".stripMargin
        }
      ctes.mkString("WITH ", ",\n", "") +
        s"\nSELECT id, rank_q6 FROM r$rounds"
    }
    QueryDef.sql("pagerank_transitions", oracle) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val edges = Tables.load(s, dir, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .where($"next_type".isNotNull)
        .groupBy($"event_type".as("src"), $"next_type".as("dst"))
        .agg(count(lit(1)).as("w"))
      // the vertex set is the event-type vocabulary at any corpus size:
      // one partition sorts it without a range-partitioning exchange
      pageRank(edges, rounds = rounds).coalesce(1)
        .sortWithinPartitions($"rank_q6".desc, $"id")
    }
  }

  val all: Seq[QueryDef] = Seq(pagerankTransitions)
}
