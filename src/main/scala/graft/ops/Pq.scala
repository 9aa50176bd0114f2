package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Kit

/** Product quantization (PQ) over the embedding corpus — the memory leg
  * of the ANN ladder (SURVEY §2.10). The existing family trades compute:
  * [[Similarity.similarityTopk]] (exact, quadratic),
  * [[Similarity.annLshTopk]] (bucketed), [[Similarity.ivfTopk]] (cell
  *-pruned). All of them still hold the full 64-dim int64 vectors
  * (512 B/vector — 51 TB of vector payload alone at 10¹¹ vectors). PQ
  * attacks the PAYLOAD: split each vector into M = 4 subspaces of 16
  * dims, quantize each subvector to its nearest of Ks codebook entries,
  * and keep only the M code bytes — 4 B/vector, a 128× compression — so
  * the candidate scan runs entirely in the compressed domain via ADC
  * (asymmetric distance computation: the query stays exact, per-subspace
  * distances to every codebook entry are table-lookups). Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", IEEE
  * TPAMI 2011 — the design FAISS's IVF-PQ indexes implement.
  *
  * Engine-parity design (same contract as the rest of the family):
  * everything is exact integer arithmetic over the floor(x·10⁶) int64
  * quantization, so Spark and DuckDB derive byte-identical codes, LUTs,
  * and ADC distances — the oracle replays PQ bit-for-bit, not
  * approximately. Codebooks are SAMPLED deterministically (the ⌈√n⌉
  * vectors with `vec_id % ⌈n/Ks⌉ == 0`, j ordered by vec_id) rather than
  * k-means-trained: no RNG, no iteration count to replay, and the
  * recall-vs-exact ladder is measured, not assumed (STRESS_r09). A
  * trained codebook drops in by swapping `sampledCodebook` for
  * [[Clustering.kmeansCentroids]] over each subspace's slices — the
  * encode/ADC plumbing is codebook-agnostic.
  *
  * Reference anchor: the reference's pipelines materialize full-width
  * staging tables before analysis (`datasources.py:480` fulltable
  * loads); this family is the corresponding capability re-expressed for
  * embedding payloads at a scale where full width cannot be held.
  */
object Pq {

  /** Subspace geometry for the 64-dim corpus: M = 4 slices of 16 dims.
    * M is the memory/accuracy dial (M bytes per encoded vector); 4 keeps
    * the fixture ADC exact-integer budget far inside the 2⁵³ double-
    * exact window (see [[adcD2]]). */
  val M = 4
  val Ds = 16

  /** Codebook size Ks(n) = clamp(⌈√n⌉, 16, 256): tracks ⌈√n⌉ at fixture
    * scales so the sampled codebook stays a constant fraction of the
    * corpus, saturating at the classic 256 (one byte per code) where PQ
    * memory math lives at production scale. The oracle replays the same
    * clamp from COUNT(*). */
  def pqKs(n: Long): Int =
    math.min(256, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Codebook sampling modulus: ⌈n/Ks⌉ ⇒ ~Ks codebook vectors spread
    * evenly across the id space (not the first Ks — those could share a
    * generator shard's local geometry). */
  def pqCbm(n: Long): Long =
    math.ceil(n.toDouble / pqKs(n)).toLong

  /** Packed (d², j) argmin shift — codes are < 256 always (Ks ≤ 256), so
    * a fixed 256 shift keeps the pack layout independent of n. Same
    * hash-aggregable packed-long argmin as [[Clustering.kmeansAssignJoin]]
    * (min(struct) would silently fall back to sort-based aggregation —
    * the round-8 trap). */
  private val Shift = 256L
  private val MaxD = (Long.MaxValue - (Shift - 1)) / Shift

  /** Subspace-`m` codebook as a PLAN LITERAL: ordered-by-j array of
    * (j, csub, cnrm) structs — all M literals together are M·Ks·16
    * longs ≈ 128 KB, shipped inside the serialized plan like the
    * k-means centroid literals in [[Clustering.nearest]]. This is what
    * makes [[encode]]/[[luts]] pure per-row maps: the codebook needs no
    * join, no broadcast table, no exploded (vec_id, m, j) stream.
    *
    * Round-9 1000× finding (the motivation): the previous formulation
    * exploded a (vec_id, m, j, d2) stream — n·M·Ks ≈ 2·10⁹ rows at 2M
    * vectors — and re-assembled codes and LUTs with collect_list
    * aggregations. The LUT collect buffers (256 × ~100 B per (qid, m)
    * group, thousands of groups resident per task, 32 concurrent tasks)
    * OOMed the default 8 GiB heap inside `Collect.serialize` — the same
    * unbounded-aggregation-buffer trap class as round 8's
    * `shard_shuffle_plan` digest, caught by the same decade ladder. A
    * per-vector argmin against a 128 KB constant never needed
    * aggregation state at all. */
  private def cbEntries(cb: Seq[Seq[Long]], m: Int): Column =
    typedLit(cb.zipWithIndex.map { case (c, j) =>
      val sub = c.slice(m * Ds, (m + 1) * Ds)
      (j.toLong, sub, sub.map(v => v * v).sum)
    })

  /** (vec_id, sub0..subM−1, snrm0..snrmM−1): the subvector slices and
    * their norms projected ONCE per row, so the per-entry lambda in
    * [[encode]]/[[luts]] reads bound fields instead of re-slicing the
    * 64-dim array Ks times per subspace. */
  private def withSubs(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val sliced = base.select($"vec_id" +:
      (0 until M).map(m => slice($"qe", m * Ds + 1, Ds).as(s"sub$m")): _*)
    sliced.select($"vec_id" +: (0 until M).flatMap(m => Seq(
      col(s"sub$m"),
      Kit.dotI64(col(s"sub$m"), col(s"sub$m")).as(s"snrm$m"))): _*)
  }

  /** d²(row's subvector m, codebook entry `e`) — the expansion
    * ‖s‖² − 2·s·c + ‖c‖² over the pre-projected slice columns. */
  private def entryD2(m: Int, e: Column): Column =
    col(s"snrm$m") - lit(2L) * Kit.dotI64(col(s"sub$m"), e.getField("_2")) +
      e.getField("_3")

  /** The deterministic sampled codebook: full 64-dim quantized vectors
    * with `vec_id % cbm == 0`, j = rank by vec_id. Bounded driver
    * collect (≤ 257 rows — same class as the k-means centroid tables),
    * so the rank is taken by sorting on the driver: a distributed
    * `orderBy` would add a range-sampling job and a sort for it. */
  private[ops] def sampledCodebook(base: DataFrame, cbm: Long): Seq[Seq[Long]] =
    codebookOf(corpusRows(base.where(col("vec_id") % cbm === 0)).collect(),
      cbm)

  /** [[sampledCodebook]] over collected (vec_id, qe) rows. */
  private[ops] def codebookOf(rows: Array[(Long, Seq[Long])],
                         cbm: Long): Seq[Seq[Long]] =
    rows.filter(_._1 % cbm == 0).sortBy(_._1).map(_._2).toSeq

  private def corpusRows(base: DataFrame) = {
    val s = base.sparkSession
    import s.implicits._
    base.select($"vec_id", $"qe").as[(Long, Seq[Long])]
  }

  /** PQ codes: (vec_id, codes ARRAY<INT> length M) — the compressed
    * corpus, M bytes of information per vector. ONE narrow projection
    * over the corpus scan: per subspace, a packed-long `aggregate` fold
    * over the [[cbEntries]] literal (min of d²·256+j — ties to lowest j
    * exactly like everywhere else), then % 256. Zero shuffles, zero
    * aggregation state — encoding 10¹¹ vectors is a map job whose only
    * output is the 4-byte column. The overflow guard raises on
    * non-unit-scaled input instead of corrupting codes silently (same
    * contract as kmeansAssignJoin's round-8 ADVICE fix). */
  private[ops] def encode(base: DataFrame, cb: Seq[Seq[Long]]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    withSubs(base).select($"vec_id", array((0 until M).map { m =>
      val packed = aggregate(cbEntries(cb, m), lit(Long.MaxValue),
        (acc, e) => {
          val d2 = entryD2(m, e)
          val g = when(d2.between(0L, MaxD), d2)
            .otherwise(raise_error(concat(
              lit(s"Pq.encode: subspace distance outside packable range " +
                s"[0, $MaxD] (non-unit-scaled embeddings?): "),
              d2.cast(StringType))))
          least(acc, g * Shift + e.getField("_1"))
        })
      (packed % Shift).cast(IntegerType)
    }: _*).as("codes"))
  }

  /** Query-side ADC lookup tables: (qid, luts ARRAY<ARRAY<BIGINT>>,
    * M × Ks) — luts[m][j] = d²(query's subvector m, codebook entry j)
    * for every row of `queries` (callers pass the family's `vec_id % 25`
    * subset, or the arrival frame for ingest dedup). Like [[encode]], a
    * pure projection: per subspace a `transform` over the ordered
    * [[cbEntries]] literal, so j-order is the literal's order and no
    * collect_list ever holds a partial LUT (the round-9 1000× OOM — see
    * [[cbEntries]]). */
  private[ops] def luts(queries: DataFrame, cb: Seq[Seq[Long]]): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    withSubs(queries)
      .select($"vec_id".as("qid"), array((0 until M).map { m =>
        transform(cbEntries(cb, m), e => entryD2(m, e))
      }: _*).as("luts"))
  }

  /** ADC approximate distance: Σₘ luts[m][codes[m]] — M array lookups
    * per candidate, no per-dimension arithmetic. Integer-exact in the
    * double-typed CosTopK score: d² ≤ 64·(1.2·10⁶)² ≈ 9.2·10¹³ < 2⁵³. */
  private[ops] def adcD2(codes: Column, lutsCol: Column): Column =
    (0 until M)
      .map(m => element_at(element_at(lutsCol, m + 1),
        element_at(codes, m + 1) + 1))
      .reduce(_ + _)

  /** Shared oracle CTE block: codebook sampling, per-subspace distances,
    * codes, and query LUT rows — the SQL form of
    * [[sampledCodebook]]+[[encode]]+[[luts]] (the oracle keeps the flat
    * (vec_id, m, j, d2) formulation; the Spark side computes the same
    * arithmetic as per-row folds over the codebook literal). Appended
    * after [[Similarity.oraclePrefix]]. DuckDB `//` is integer
    * division; flat `i` is 1-based so subspace m = (i−1)//16. */
  private[ops] val pqSql: String =
    """nn AS (SELECT COUNT(*) AS n FROM embeddings),
      |ksm AS (
      |  SELECT CAST(CEIL(CAST(n AS DOUBLE)
      |      / LEAST(256, GREATEST(16, CAST(CEIL(SQRT(n)) AS BIGINT)))) AS BIGINT) AS cbm
      |  FROM nn),
      |cb AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vec_id AS cb_vid
      |  FROM embeddings, ksm WHERE vec_id % cbm = 0),
      |subd AS (
      |  SELECT f.vec_id, CAST((f.i - 1) // 16 AS INT) AS m, c.j,
      |    CAST(SUM((f.v - g.v) * (f.v - g.v)) AS BIGINT) AS d2
      |  FROM flat f
      |  JOIN cb c ON true
      |  JOIN flat g ON g.vec_id = c.cb_vid AND g.i = f.i
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, m, j AS code FROM subd
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) = 1),
      |qlut AS (SELECT vec_id AS qid, m, j, d2 FROM subd WHERE vec_id % 25 = 0)""".stripMargin

  /** COMPRESSED-DOMAIN EXACTNESS BASELINE (the ADC analogue of
    * [[Similarity.similarityTopk]]'s designation): every query scans the
    * FULL code table — queries × corpus ADC lookups, quadratic in n at
    * the family's n/25 query convention BY DEFINITION. Its role is to
    * calibrate what PQ compression alone does to ranking quality
    * (recall-vs-exact, measured in STRESS_r09) with no cell-pruning
    * confound; [[ivfpqRerankTopk]] is the production composition. The
    * plan shape within that contract is right: codes (4 B/vector) are
    * the only corpus-wide operand — the scan reads the compressed
    * column, never the vectors — and the per-query stream folds map-side
    * into O(k) CosTopK state. */
  val pqTopk: QueryDef = QueryDef.sql(
    "pq_topk",
    Similarity.oraclePrefix + ",\n" + pqSql +
      """,
        |adc AS (
        |  SELECT l.qid, x.vec_id AS cid, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
        |  FROM codes x
        |  JOIN qlut l ON l.m = x.m AND l.j = x.code AND l.qid <> x.vec_id
        |  GROUP BY 1, 2)
        |SELECT qid, cid, adc_d2 FROM adc
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) <= 5""".stripMargin) { (s, dir) =>
    pqTopkAt(s, dir, DriverLocal.RowGate)
  }

  /** The `pq_topk` body with the corpus gate as a parameter (specs pin
    * parity on both sides of it). A gate-sized corpus is sized, sampled,
    * encoded and scored on the driver from the gate collect's rows
    * ([[pqTopkLocal]]); past it a count sizes the distributed sample and
    * the codes-against-broadcast-LUTs plan below scores it. */
  private[ops] def pqTopkAt(s: SparkSession, dir: String,
                            gate: Long): DataFrame = {
    import s.implicits._
    Similarity.gatedCorpus(s, dir, gate) match {
      case Some(rows) => pqTopkLocal(s, rows)
      case None =>
        val base = Similarity.quantized(s, dir)
        val cb = sampledCodebook(base, pqCbm(base.count()))
        val scored = encode(base, cb)
          .crossJoin(broadcast(luts(base.where($"vec_id" % 25 === 0), cb)))
          .where($"vec_id" =!= $"qid")
          .select($"qid", $"vec_id".as("cid"),
            (-adcD2($"codes", $"luts")).cast(DoubleType).as("nega"))
        Kit.topKRows(scored, "qid", $"nega", $"cid", 5)
          .select($"qid", $"t.cid".as("cid"),
            (-$"t.cos").cast(LongType).as("adc_d2"))
    }
  }

  /** Per subspace, the slice of `v` and its squared norm: [[withSubs]]
    * on the driver (and, over a codebook vector, [[cbEntries]]). */
  private def subsLocal(v: Seq[Long]): Array[(Array[Long], Long)] =
    Array.tabulate(M) { m =>
      val sub = v.slice(m * Ds, (m + 1) * Ds).toArray
      (sub, sub.foldLeft(0L)((acc, x) => acc + x * x))
    }

  /** [[entryD2]] on the driver, in ANSI's overflow-checked i64
    * arithmetic around the wrapping dot of
    * [[graft.functions.DotProductI64]]. */
  private def entryD2Local(sub: (Array[Long], Long),
                           e: (Array[Long], Long)): Long =
    Math.addExact(Math.subtractExact(sub._2,
      Math.multiplyExact(2L, Clustering.dotLocal(sub._1, e._1))), e._2)

  /** `pq_topk` over collected (vec_id, qe) rows, returned as a local
    * relation — [[codebookOf]], then [[encode]]'s packed `d²·256+j`
    * argmin under its range guard (which raises the same message), the
    * family queries' [[luts]], and ADC as Σₘ LUT, ranked by CosTopK's
    * heap on the same negated-double score. */
  private[ops] def pqTopkLocal(s: SparkSession,
                               rows: Array[(Long, Seq[Long])]): DataFrame = {
    val cb = codebookOf(rows, pqCbm(rows.length)).map(subsLocal).toArray
    val subs = rows.map(r => subsLocal(r._2))
    val codes = subs.map { v =>
      Array.tabulate(M) { m =>
        var packed = Long.MaxValue
        var j = 0
        while (j < cb.length) {
          val d2 = entryD2Local(v(m), cb(j)(m))
          if (d2 < 0L || d2 > MaxD)
            throw new IllegalStateException(
              s"Pq.encode: subspace distance outside packable range " +
                s"[0, $MaxD] (non-unit-scaled embeddings?): $d2")
          packed = math.min(packed, d2 * Shift + j)
          j += 1
        }
        (packed % Shift).toInt
      }
    }
    val lut = subs.indices.map { q =>
      if (rows(q)._1 % 25 != 0) null
      else Array.tabulate(M, cb.length)((m, j) => entryD2Local(subs(q)(m), cb(j)(m)))
    }
    val scored = Similarity.topkLocal(rows.map(_._1), 5) { (q, c) =>
      var adc = 0L
      var m = 0
      while (m < M) { adc += lut(q)(m)(codes(c)(m)); m += 1 }
      (-adc).toDouble
    }.map { case (q, c, nega) => (q, c, (-nega).toLong) }
    Similarity.topkRelation(s, scored, "adc_d2")
  }

  /** THE PRODUCTION ANN PIPELINE — IVF cell pruning × PQ compression ×
    * exact re-rank, the FAISS `IVFx,PQy + refine` composition:
    *
    *   1. probe: each query's top-2 of the K ≈ √n cells
    *      ([[Similarity.ivfAssignProbes]] — candidates ≈ 2n/K ≈ 2√n per
    *      query, never the corpus);
    *   2. ADC shortlist: candidates scored from M code bytes + the
    *      query's LUT (equi-joins on cid/qid — no broadcast of anything
    *      corpus-sized), top-20 per query by packed-exact ADC distance;
    *   3. exact re-rank: full-width vectors fetched for the ≤ 20
    *      shortlisted pairs ONLY, exact integer cosine, top-5.
    *
    * At 10¹¹ vectors the working set per query is 2√n code rows + 20
    * full vectors; the full-width corpus is touched only by the
    * shortlist equi-join (a fetch, not a scan). Recall vs the exact
    * baseline and the ADC-vs-exact wall ratio are measured per decade in
    * STRESS_r09 — the shortlist width 20 (4× the final k) is the
    * re-rank insurance for ADC ranking inversions. */
  val ivfpqRerankTopk: QueryDef = QueryDef.sql(
    "ivfpq_rerank_topk",
    Similarity.oraclePrefix + ",\n" + Similarity.ivfCellsSql + ",\n" + pqSql +
      """,
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS cid
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE a.vec_id <> p.qid),
        |adc AS (
        |  SELECT c.qid, c.cid, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
        |  FROM cand c
        |  JOIN codes x ON x.vec_id = c.cid
        |  JOIN qlut l ON l.qid = c.qid AND l.m = x.m AND l.j = x.code
        |  GROUP BY 1, 2),
        |short AS (
        |  SELECT qid, cid FROM adc
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) <= 20),
        |""".stripMargin + Similarity.cosSql("r", Some(("short", "s"))) + "\n" +
      Similarity.topkSql("r", 5)) { (s, dir) =>
    val base = Similarity.quantized(s, dir)
    ivfpqFrom(base, base.count())
  }

  /** The `ivfpq_rerank_topk` body over an already-quantized corpus —
    * shared with [[AnnRouter]]'s large-corpus branch (same probe, ADC
    * shortlist, and re-rank plan as the registered query).
    *
    * No distinct() on candidates: (qid, cid) unique by construction (one
    * cell per vector, distinct probe cells) — see ivfTopkFrom's round-9
    * note. */
  private[ops] def ivfpqFrom(base: DataFrame, n: Long): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val qs = base.where($"vec_id" % 25 === 0)
    val (assign, probes) =
      Similarity.ivfAssignProbes(base, qs, Similarity.ivfModulus(n), 2)
    val cb = sampledCodebook(base, pqCbm(n))
    val cand = probes.join(codedAssign(assign, base, cb), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"codes")
    val short = adcShortlistCoded(cand, qs, cb, 20)
    Similarity.scoreCandidates(short, base, qs, k = 5)
      .select($"qid", $"cid", Kit.quantize($"cos", 6).as("cos_q6"))
  }

  /** ADC shortlist of a CODED candidate stream — (qid, cid, codes)
    * rows, the codes RIDING THE CELL JOIN that produced the candidates
    * — to the top-`r` per query by compressed-domain distance.
    *
    * Round-11 redesign, forced by the 8M-vector decade's disk wall:
    * the previous shape joined a bare (qid, cid) stream to the code
    * table on cid and to a per-query LUT TABLE on qid — two sort-merge
    * exchanges of the q·nprobe·|cell| candidate stream (~1.8·10⁹ rows
    * at 8M), whose sort spill alone (~90 GB) overran the box's scratch
    * budget (`No space left on device` inside UnsafeExternalSorter).
    * Now the candidate stream is NEVER exchanged:
    *
    *   - codes arrive WITH the candidates (every call site's cell join
    *     has them on the entries/assignment side at narrow-row cost);
    *   - the query side broadcasts as pre-sliced subvectors (~0.6
    *     KB/query — one BHJ, zero candidate movement), and the ADC
    *     distance is computed DIRECTLY against the codebook literal:
    *     [[entryD2]] with e = [[cbEntries]](cb, m)[codes[m]], the SAME
    *     integer the LUT entry held, so shortlists are bit-identical
    *     to the LUT formulation (oracle hashes unchanged; ~16× more
    *     arithmetic per candidate, all inside whole-stage codegen —
    *     compute is cheaper than exchange at every measured decade);
    *   - the CosTopK partial combines map-side over the cell-clustered
    *     stream: distinct qids per task ≈ probes-per-cell ×
    *     cells-per-task (~20k at 8M — under the 65,536 object-hash
    *     fallback bar), so the only exchange left carries the combined
    *     partials (≤ q·nprobe·r rows ≈ 13M at 8M, vs the 1.8·10⁹ it
    *     replaced).
    *
    * The broadcast scales with the QUERY count, not the corpus — past
    * [[AdcQueryChunkBound]] queries the frame is CHUNKED (qid mod
    * nChunks slices, each broadcast-joined independently, unioned):
    * per-qid top-k is independent across qids, so the union is
    * bit-identical to the single shot (spec-pinned with a forced tiny
    * bound), and a huge query frame degrades to more passes instead of
    * a driver-OOM/broadcast-limit failure (round-11 ADVICE — the guard
    * was comment-only). The guard costs one pruned-column count of the
    * query frame per call — O(q) id rows next to the ADC pass itself. */
  private[ops] def adcShortlistCoded(candCoded: DataFrame,
                                     queries: DataFrame,
                                     cb: Seq[Seq[Long]],
                                     r: Int,
                                     chunkBound: Long = AdcQueryChunkBound)
      : DataFrame = {
    val s = candCoded.sparkSession
    import s.implicits._
    val d2 = (0 until M).map { m =>
      entryD2(m,
        element_at(cbEntries(cb, m), element_at($"codes", m + 1) + 1))
    }.reduce(_ + _)
    def shot(qs: DataFrame): DataFrame = {
      val q = withSubs(qs.select($"vec_id", $"qe"))
        .withColumnRenamed("vec_id", "qid")
      Kit.topKRows(candCoded
        .join(broadcast(q), Seq("qid"))
        .select($"qid", $"cid", (-d2).cast(DoubleType).as("nega")),
        "qid", $"nega", $"cid", r)
        .select($"qid", $"t.cid".as("cid"))
    }
    val qn = queries.select($"vec_id").count()
    val nChunks = math.max(1L, (qn + chunkBound - 1) / chunkBound).toInt
    if (nChunks == 1) shot(queries)
    else (0 until nChunks).map { i =>
      shot(queries.where(pmod($"vec_id", lit(nChunks)) === lit(i)))
    }.reduce(_ unionByName _)
  }

  /** Queries-per-shot bound for [[adcShortlistCoded]]'s query-side
    * broadcast: at ~0.6 KB per pre-sliced query row, 4M queries ≈
    * 2.4 GB — inside Spark's 8 GB broadcast-table cap with margin for
    * the deserialized hash relation. */
  private[ops] val AdcQueryChunkBound: Long = 4L * 1000 * 1000

  /** (vec_id, cell, codes) — an IVF assignment frame with the PQ codes
    * attached by ONE narrow O(n) equi-join, the shape whose cell join
    * hands [[adcShortlistCoded]] its coded candidates. The stored-index
    * path ([[AnnIndex]]) reads this shape directly from its entries
    * table; the fresh paths compose it inline. */
  private[ops] def codedAssign(assign: DataFrame, base: DataFrame,
                               cb: Seq[Seq[Long]]): DataFrame =
    assign.join(encode(base, cb), Seq("vec_id"))

  /** DEDUP-ON-INGEST AGAINST THE COMPRESSED INDEX — the embedding
    * analogue of [[TextOps.incrementalNeardup]]'s contract, closing the
    * gap between the dedup family (which re-derives candidates from raw
    * payloads) and the PQ family (whose whole point is that raw payloads
    * can't stay resident): an arrival batch is deduplicated against the
    * EXISTING corpus using only its 4 B/vector code table and IVF cell
    * assignment, the two artifacts production stores once per corpus
    * (see [[AnnIndex]], which stores them). Per arrival:
    *
    *   1. probe the existing corpus's top-2 IVF cells (centroids and
    *      codebook are built from EXISTING rows only — the index knows
    *      nothing of the batch, exactly the production asymmetry);
    *   2. ADC-shortlist the probed cells' members to 4 candidates from
    *      code bytes (equi-joins on cid/qid; the full-width existing
    *      corpus is not scanned);
    *   3. exact re-rank of the ≤ 4 fetched vectors; best match at the
    *      family's cos ≥ 0.90 detection threshold ⇒ (dup_of, cos_q6),
    *      else is_new — [[TextOps.incrementalNeardup]]'s verdict shape.
    *
    * The arrival batch is PLANTED IN-QUERY (the family's
    * `embedding_neardup_planted` protocol — the driver fixture's random
    * unit vectors carry no cross-batch geometry, so a modulus split
    * would verify green on an all-is_new result): every 37th corpus
    * vector re-arrives with +5000 on every 7th quantized dim (cos ≈
    * 0.999 — a true near-dup the verdict must flag) and every 41st with
    * +800000 on every 2nd dim (cos ≈ 0.2 — genuinely novel, must pass).
    * Both engines derive the same batch, so BOTH verdict classes are
    * oracle-exercised at every fixture scale.
    *
    * Ingest cost scales with the BATCH (probe + 2√n code rows + ≤ 4
    * vector fetches per arrival), never the corpus — and the resident
    * working state is the code table: at the measured 2M-vector decade
    * that is 88 MB vs 1.1 GB of vectors (STRESS_r09 §6), which is what
    * makes always-on dedup-at-the-door affordable at 10¹¹ vectors. The
    * oracle replays the whole pipeline — plants, existing-only
    * centroids and codebook, ADC, re-rank, threshold — from first
    * principles in SQL. */
  val pqIngestDedup: QueryDef = QueryDef.sql(
    "pq_ingest_dedup",
    Similarity.plantBaseSql + """,
      |aflat AS (
      |  SELECT vec_id + (SELECT o FROM poff) AS vec_id, i,
      |    v + CASE WHEN (i - 1) % 7 = 0 THEN 5000 ELSE 0 END AS v
      |  FROM flat0 WHERE vec_id % 37 = 0
      |  UNION ALL
      |  SELECT vec_id + 2 * (SELECT o FROM poff), i,
      |    v + CASE WHEN (i - 1) % 2 = 0 THEN 800000 ELSE 0 END
      |  FROM flat0 WHERE vec_id % 41 = 0),
      |flat AS (
      |  SELECT * FROM flat0 UNION ALL SELECT * FROM aflat),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm
      |  FROM flat GROUP BY vec_id)""".stripMargin +
      """,
        |inn AS (SELECT COUNT(*) AS n FROM embeddings),
        |imm AS (SELECT CAST(CEIL(SQRT(n)) AS BIGINT) AS m FROM inn),
        |icents AS (
        |  SELECT vec_id AS cent_id FROM embeddings, imm WHERE vec_id % m = 0),
        |icd AS (
        |  SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * g.v) AS BIGINT) AS dot
        |  FROM flat f
        |  JOIN icents c ON true
        |  JOIN flat g ON g.vec_id = c.cent_id AND g.i = f.i
        |  GROUP BY 1, 2),
        |""".stripMargin +
      Similarity.simsSql("iccos", "icd", "vec_id", "cent_id", "d") +
      """,
        |iassign AS (
        |  SELECT vec_id, cent_id AS cell FROM iccos
        |  WHERE vec_id < (SELECT o FROM poff)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) = 1),
        |iprobes AS (
        |  SELECT vec_id AS qid, cent_id AS cell FROM iccos
        |  WHERE vec_id >= (SELECT o FROM poff)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) <= 2),
        |icand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS cid
        |  FROM iprobes p JOIN iassign a ON a.cell = p.cell),
        |iksm AS (
        |  SELECT CAST(CEIL(CAST(n AS DOUBLE)
        |      / LEAST(256, GREATEST(16, CAST(CEIL(SQRT(n)) AS BIGINT)))) AS BIGINT) AS cbm
        |  FROM inn),
        |icb AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vec_id AS cb_vid
        |  FROM embeddings, iksm WHERE vec_id % cbm = 0),
        |isubd AS (
        |  SELECT f.vec_id, CAST((f.i - 1) // 16 AS INT) AS m, c.j,
        |    CAST(SUM((f.v - g.v) * (f.v - g.v)) AS BIGINT) AS d2
        |  FROM flat f
        |  JOIN icb c ON true
        |  JOIN flat g ON g.vec_id = c.cb_vid AND g.i = f.i
        |  GROUP BY 1, 2, 3),
        |icodes AS (
        |  SELECT vec_id, m, j AS code FROM isubd
        |  WHERE vec_id < (SELECT o FROM poff)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) = 1),
        |iqlut AS (
        |  SELECT vec_id AS qid, m, j, d2 FROM isubd
        |  WHERE vec_id >= (SELECT o FROM poff)),
        |iadc AS (
        |  SELECT c.qid, c.cid, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
        |  FROM icand c
        |  JOIN icodes x ON x.vec_id = c.cid
        |  JOIN iqlut l ON l.qid = c.qid AND l.m = x.m AND l.j = x.code
        |  GROUP BY 1, 2),
        |ishort AS (
        |  SELECT qid, cid FROM iadc
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_d2, cid) <= 4),
        |""".stripMargin + Similarity.cosSql("ir", Some(("ishort", "s"))) +
      """,
        |ibest AS (
        |  SELECT qid, cid, cos FROM irsims
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) = 1)
        |SELECT a.vec_id,
        |  CASE WHEN b.cos >= 0.90 THEN b.cid END AS dup_of,
        |  CASE WHEN b.cos >= 0.90
        |    THEN CAST(FLOOR(b.cos * 1000000) AS BIGINT) END AS cos_q6,
        |  (b.cos IS NULL OR b.cos < 0.90) AS is_new
        |FROM (SELECT DISTINCT vec_id FROM aflat) a
        |LEFT JOIN ibest b ON b.qid = a.vec_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val existing = Similarity.quantized(s, dir)
    val nEx = existing.count()
    val arrivals = ingestArrivals(existing)
    val (assign, probes) = Similarity.ivfAssignProbes(
      existing, arrivals, Similarity.ivfModulus(nEx), 2)
    // (qid, cid) unique by construction; qid/cid sets are DISJOINT, so
    // no self-pair filter is needed
    val cb = sampledCodebook(existing, pqCbm(nEx))
    val cand = probes.join(codedAssign(assign, existing, cb), Seq("cell"))
      .select($"qid", $"vec_id".as("cid"), $"codes")
    val short = adcShortlistCoded(cand, arrivals, cb, 4)
    val best = Similarity.scoreCandidates(short, existing, arrivals, k = 1)
    // each arrival left-joined to its best match, in
    // [[TextOps.incrementalNeardup]]'s (vec_id, dup_of, cos_q6, is_new)
    // shape at cos ≥ 0.90
    arrivals.select($"vec_id")
      .join(best.select($"qid".as("vec_id"), $"cid", $"cos"), Seq("vec_id"),
        "left")
      .select($"vec_id",
        when($"cos" >= 0.90, $"cid").as("dup_of"),
        when($"cos" >= 0.90, Kit.quantize($"cos", 6)).as("cos_q6"),
        ($"cos".isNull || $"cos" < 0.90).as("is_new"))
  }

  /** The planted arrival batch over a quantized corpus (the oracle's
    * `aflat`): every 37th vector re-arrives near-identical (+5000 on
    * every 7th quantized dim, cos ≈ 0.999) at vec_id + o, every 41st
    * arrives genuinely novel (+800000 on every 2nd dim, cos ≈ 0.2) at
    * vec_id + 2o, with o = GREATEST(10⁶, MAX(vec_id)+1) — the
    * collision-free offset rule from [[Similarity.plantedOraclePrefix]]
    * (the two plant families cannot alias each other either: 2o ≥
    * o + max + 1). */
  private def ingestArrivals(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val off = math.max(1000000L,
      base.agg(max($"vec_id")).as[Option[Long]].head().getOrElse(0L) + 1L)
    val near = base.where($"vec_id" % 37 === 0)
      .select(($"vec_id" + off).as("vec_id"),
        expr("transform(qe, (x, i) -> x + CASE WHEN i % 7 = 0 " +
          "THEN CAST(5000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)").as("qe"))
    val fresh = base.where($"vec_id" % 41 === 0)
      .select(($"vec_id" + 2 * off).as("vec_id"),
        expr("transform(qe, (x, i) -> x + CASE WHEN i % 2 = 0 " +
          "THEN CAST(800000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)").as("qe"))
    near.union(fresh).withColumn("nrm", Kit.dotI64($"qe", $"qe"))
  }

  val all: Seq[QueryDef] = Seq(pqTopk, ivfpqRerankTopk, pqIngestDedup)
}
