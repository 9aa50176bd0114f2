package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-stat-driven dispatch across the ANN ladder — the engine picks
  * the decade-appropriate retrieval algorithm instead of the user
  * knowing which decade they're in (SURVEY §2.10). One registered query,
  * `ann_auto_topk`, whose result IS the chosen branch's result:
  *
  *   - n ≤ 784        → exact top-k ([[Similarity.exactTopkFrom]]; on
  *                      the driver from the gate collect's rows)
  *   - 784 < n ≤ 500k → IVF probe-2 + exact scoring ([[Similarity.ivfTopkFrom]])
  *   - n > 500k       → IVF-PQ + exact re-rank ([[Pq.ivfpqFrom]])
  *
  * Both thresholds come from the family's own evidence, not taste:
  *
  * EXACT→IVF at n = 784 is the arithmetic crossover of the family's
  * measured cost model at its q = n/25 query convention. Exact work is
  * q·n = n²/25 dot products; IVF work is assignment n·K + probe q·K +
  * scoring q·(nprobe·n/K) with K = ⌈√n⌉ and nprobe = 2, i.e.
  * n^1.5·(1 + 1/25 + 2/25) = (28/25)·n^1.5. Equal when √n/25 = 28/25 ⇒
  * n = 28² = 784. Below it the index build costs more dots than it
  * saves (and brute force has perfect recall for free); above it the
  * gap widens as √n.
  *
  * IVF→IVF-PQ at n = 500,000 is a RESIDENCY budget, not a FLOP
  * crossover: STRESS_r09 §6 measured exact-IVF and IVF-PQ at query-side
  * wall parity at 2M vectors, while the full-width int64 corpus cached
  * at 1,096 MB vs 88 MB for the 4 B/vector code column (12.4×). PQ's
  * win is what stays resident — at 500k vectors the ~520 B/vector
  * payload passes a 256 MB per-executor cache budget (500k·520 B ≈
  * 260 MB), the fixture-scaled analogue of "the vectors no longer fit";
  * a deployment recomputes T2 as budgetBytes/520 from its executor
  * memory. Recall is NOT the trade here: IVF-PQ's measured hit sets
  * equal exact-IVF's at every decade (the ceiling is IVF probe-2
  * candidate generation, common to both branches).
  *
  * The DuckDB oracle replays the SAME dispatch from COUNT(*): all three
  * branch pipelines are gated by scalar-subquery predicates on n, so a
  * Spark/oracle disagreement on either the thresholds or any branch's
  * arithmetic is a hash mismatch. The gates sit on the branch CTE
  * INPUTS (xdots/idots/padc), not just the output union (round-9
  * ADVICE): DuckDB folds the scalar predicate into the scans, so a
  * dead branch — in particular the quadratic exact all-pairs — prunes
  * instead of executing at every fixture size. The fixture scales exercise exact
  * (n = 500 at sf0.001/sf0.01) and IVF (n = 2,000 at sf0.1); the
  * IVF-PQ branch is dispatch-tested in AnnRouterSpec and measured at
  * the 1000× decade (2M vectors) in the scale harness.
  *
  * Reference anchor: the reference routes each pipeline run to a
  * per-source handler by inspecting the source descriptor
  * (`main.py:14-90` dispatch table); this is the same decide-then-run
  * shape driven by corpus statistics instead of source names.
  */
object AnnRouter {

  /** Exact→IVF crossover: n²/25 = (28/25)·n^1.5 ⇒ n = 28². */
  val T1 = 784L

  /** IVF→IVF-PQ residency threshold: 256 MB budget / 520 B per
    * full-width vector row (see object scaladoc). */
  val T2 = 500000L

  /** The dispatch decision — pure, spec-tested at the boundaries, and
    * replayed by the oracle's gating predicates. */
  def choose(n: Long): String =
    if (n <= T1) "exact" else if (n <= T2) "ivf" else "ivfpq"

  /** The re-deriving branch of [[choose]] over a quantized corpus of
    * `n` rows — the registered `ann_auto_topk` plan. */
  private def rederive(base: DataFrame, n: Long): DataFrame =
    choose(n) match {
      case "exact" => Similarity.exactTopkFrom(base, 5)
      case "ivf"   => Similarity.ivfTopkFrom(base, n)
      case _       => Pq.ivfpqFrom(base, n)
    }

  val annAutoTopk: QueryDef = {
    val exact = "(SELECT n FROM nn) <= 784"
    val ivf = "(SELECT n FROM nn) > 784 AND (SELECT n FROM nn) <= 500000"
    val ivfpq = "(SELECT n FROM nn) > 500000"
    QueryDef.sql(
      "ann_auto_topk",
      Similarity.oraclePrefix + ",\n" + Similarity.ivfCellsSql + ",\n" +
        Pq.pqSql + ",\n" +
        Similarity.cosSql("x", None, exact) + ",\n" +
        Similarity.topkSql("x", 5, out = "xout") +
        """,
          |rcand AS (
          |  SELECT DISTINCT p.qid, a.vec_id AS cid
          |  FROM probes p JOIN assign a ON a.cell = p.cell
          |  WHERE a.vec_id <> p.qid),
          |""".stripMargin +
        Similarity.cosSql("i", Some(("rcand", "c")), ivf) + ",\n" +
        Similarity.topkSql("i", 5, out = "iout") +
        s""",
          |padc AS (
          |  SELECT c.qid, c.cid, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
          |  FROM rcand c
          |  JOIN codes x ON x.vec_id = c.cid
          |  JOIN qlut l ON l.qid = c.qid AND l.m = x.m AND l.j = x.code
          |  WHERE $ivfpq
          |  GROUP BY 1, 2),
          |pshort AS (
          |  SELECT qid, cid FROM padc
          |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) <= 20),
          |""".stripMargin + Similarity.cosSql("pr", Some(("pshort", "s"))) +
        ",\n" + Similarity.topkSql("pr", 5, out = "pout") +
        s"""
          |SELECT qid, cid, cos_q6 FROM xout
          |WHERE $exact
          |UNION ALL
          |SELECT qid, cid, cos_q6 FROM iout
          |WHERE $ivf
          |UNION ALL
          |SELECT qid, cid, cos_q6 FROM pout
          |WHERE $ivfpq""".stripMargin) { (s, dir) =>
      annAutoTopkAt(s, dir, DriverLocal.RowGate)
    }
  }

  /** The `ann_auto_topk` body with the corpus gate as a parameter (specs
    * pin parity on both sides of it). n comes from the gate collect
    * ([[Similarity.gatedCorpus]]): at n ≤ [[T1]] the exact branch
    * finishes on the driver from those very rows
    * ([[Similarity.exactTopkLocal]]); up to the gate the re-deriving
    * plan runs at n = their count; past it a `count()` sizes it, as
    * before. */
  private[ops] def annAutoTopkAt(s: SparkSession,
                                 dir: String, gate: Long): DataFrame =
    Similarity.gatedCorpus(s, dir, gate) match {
      case Some(rows) if choose(rows.length) == "exact" =>
        Similarity.exactTopkLocal(s, rows, 5)
      case Some(rows) => rederive(Similarity.quantized(s, dir), rows.length)
      case None =>
        val base = Similarity.quantized(s, dir)
        rederive(base, base.count())
    }

  val all: Seq[QueryDef] = Seq(annAutoTopk)
}
