package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Kit
import graft.sources.Tables

/** Embedding similarity search over the `embeddings` fixture
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`, dim 64) — the
  * north-star extension surface (SURVEY §2.10): brute-force cosine top-k
  * as the exactness baseline, sign-random-projection LSH (SimHash-style
  * buckets) as the 100 TB scale path, and a banded-LSH near-duplicate
  * detector.
  *
  * Engine-parity design: every cosine is computed from QUANTIZED INTEGER
  * vectors — `floor(cast(float as double) * 1e6) as bigint` per element.
  * float→double widening is exact, the multiply and floor are IEEE-
  * deterministic, so Spark and DuckDB derive byte-identical integer
  * vectors; integer dot products and norms are then order-independent
  * exactly (no floating-point summation-order hazard across 32 threads or
  * 1000 executors), and the final `dot / (sqrt(na)*sqrt(nb))` is the same
  * double in both engines. Outputs carry `floor(cos * 1e6)` so hashes
  * match.
  *
  * Vector shaping uses higher-order array functions (`transform`); the
  * hot loop — one dot product per candidate pair — is the native
  * codegen'd [[graft.functions.DotProductI64]] expression (higher-order
  * `aggregate`/`zip_with` are interpreted per row and allocate an
  * intermediate array; the native expression is a primitive long loop
  * inside whole-stage codegen). No UDFs anywhere.
  */
object Similarity {

  /** Adaptive sign-LSH bucket width for [[annLshTopk]]:
    * b = clamp(⌈log₂(n/256)⌉, 8, 16), so the bucket count tracks n/256
    * and expected bucket SIZE stays ~constant as the corpus grows —
    * candidates ∝ n, not n² (the fixed 8-bit bucket measured 156M pairs
    * at n = 200k, STRESS_r08.md §4). The floor of 8 keeps every fixture
    * scale (n ≤ 20k) byte-identical to the pre-adaptive results; the
    * oracle SQL computes the identical clamp from COUNT(*). */
  def adaptiveBits(n: Long): Int =
    math.max(8, math.min(16,
      math.ceil(math.log(n / 256.0) / math.log(2)).toInt))

  /** Stride between the dims a b-bit bucket reads (64-dim vectors):
    * ⌊64/b⌋, so planes stay evenly spread; b = 8 reads dims 0,8,…,56 —
    * the original fixed geometry. */
  def bitStride(bits: Int): Int = 64 / bits

  /** IVF centroid modulus for [[ivfTopk]]: m = ⌈√n⌉ ⇒ K ≈ √n cells of
    * ~√n members — assignment n·√n dots, probe nprobe·√n per query, the
    * standard IVF balance (the fixed divisor 61 measured n²/61 = 656M
    * assignment dots at n = 200k, STRESS_r08.md §4). Oracle replays the
    * same ⌈√COUNT(*)⌉. */
  def ivfModulus(n: Long): Long =
    math.ceil(math.sqrt(n.toDouble)).toLong

  /** vec_id, qe (quantized int64 vector), nrm (int64 squared norm).
    * Persisted: the interpreted `transform` would otherwise re-evaluate
    * under downstream self-joins/explodes (per consumer, and per OUTPUT
    * row under a generator — the pathology measured in TextOps); every
    * similarity query reads this stage table instead. The harness clears
    * the cache between queries. */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame = {
    // Parallelism floor BEFORE the persist (see [[ParallelismFloor]]):
    // every family member's compute-bound corpus pass — ivf_topk's n·√n
    // assignment dots, ann_lsh bucket projection, the block products —
    // reads THIS cache, and a single-file fixture otherwise caches as
    // 1-2 partitions, starving all but 1-2 cores (measured on k-means at
    // 100×: 111 s starved vs 9.4 s floored, same arithmetic).
    val base = ParallelismFloor(quantizedScan(s, dir), s"$dir/embeddings.parquet")
      .withColumn("nrm", Kit.dotI64(col("qe"), col("qe")))
    // SIZE the persist against the source (the stage-table doctrine,
    // StageLevels.pinnedFor) — found missing here by the 2000×-vector
    // decade (4M): the deserialized in-heap cache plus the index
    // build's join spike exhausted the default heap (GCLocker thrash →
    // OutOfMemoryError in the cache read-ahead, STRESS_r10 §6), while
    // 2M measured safe. Expansion 3, not the text tables' 6: these are
    // fixed-width int64-array rows (~2–3× their parquet bytes, no
    // string blowup), and 6 would flip the measured-safe 1000× decade
    // to disk while 3 flips exactly where the OOM starts.
    val lvl = graft.ops.StageLevels.pinnedFor(base, expansion = 3)
    graft.ops.StageLevels.tuneCacheBatchFor(s, lvl)
    base.persist(lvl)
  }

  /** (vec_id, qe): the embeddings scan with every element quantized to
    * floor(x·10⁶) as int64 — the family's one spelling of the
    * quantization, unpersisted. */
  private def quantizedScan(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("qe"))

  /** The quantized corpus of `dir` as (vec_id, qe) rows when it holds at
    * most `gate` vectors ([[DriverLocal.RowGate]] in production),
    * decided and collected by one [[DriverLocal.rowsUpTo]] job straight
    * off the scan; `None` past the gate. Nothing is persisted here: only
    * a caller's distributed branch reads (and so persists) the
    * [[quantized]] stage table, as [[PageRank.pageRank]] does. */
  private[ops] def gatedCorpus(s: SparkSession, dir: String, gate: Long)
      : Option[Array[(Long, Seq[Long])]] = {
    import s.implicits._
    DriverLocal.rowsUpTo(quantizedScan(s, dir).as[(Long, Seq[Long])], gate)
  }

  /** The [[Kit.topKRows]] fold on the driver, over collected rows: for
    * every family query (`vec_id % 25 = 0`) among `ids`, the `k` best
    * `score(q, c)` over every row `c` with another id, kept by
    * CosTopK's own heap (score DESC, id ASC). (qid, cid, score) rows. */
  private[ops] def topkLocal(ids: Array[Long], k: Int)(
      score: (Int, Int) => Double): Seq[(Long, Long, Double)] =
    ids.indices.filter(ids(_) % 25 == 0).flatMap { q =>
      val heap = new graft.functions.TopKHeap(k)
      var c = 0
      while (c < ids.length) {
        if (ids(c) != ids(q)) heap.insert(score(q, c), ids(c))
        c += 1
      }
      heap.sortedPairs.map { case (sc, cid) => (ids(q), cid, sc) }
    }

  /** [[exactTopkFrom]] (default pairing) over collected (vec_id, qe)
    * rows, returned as a local relation: the same i64 dot and norms,
    * [[cosCol]]'s `dot / (√qn · √nrm)` in doubles and [[Kit.quantize]]'s
    * `floor(cos · 10⁶)`. A null vector scores no pair, as a null cosine
    * never enters the aggregate; a zero norm raises like ANSI division. */
  private[ops] def exactTopkLocal(s: SparkSession,
      rows: Array[(Long, Seq[Long])], k: Int): DataFrame = {
    val live = rows.filter(_._2 != null)
    val vecs = live.map(_._2.toArray)
    val nrms = vecs.map(v => Clustering.dotLocal(v, v).toDouble)
    val scored = topkLocal(live.map(_._1), k) { (q, c) =>
      val den = math.sqrt(nrms(q)) * math.sqrt(nrms(c))
      if (den == 0.0) throw new ArithmeticException(
        s"[DIVIDE_BY_ZERO] Division by zero: zero-norm vector in the cosine of (${live(q)._1}, ${live(c)._1})")
      Clustering.dotLocal(vecs(c), vecs(q)).toDouble / den
    }.map { case (q, c, cos) => (q, c, math.floor(cos * 1000000.0).toLong) }
    topkRelation(s, scored, "cos_q6")
  }

  /** (qid, cid, `score`) BIGINT rows as a local relation, built from
    * rows and a schema as [[PageRank]]'s local result is: no encoder
    * projection is generated for it. */
  private[ops] def topkRelation(s: SparkSession, rows: Seq[(Long, Long, Long)],
                                score: String): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(rows.map { case (q, c, v) => Row(q, c, v) }: _*),
      StructType(Seq("qid", "cid", score).map(StructField(_, LongType))))

  private[ops] def cosCol(dot: Column, na: Column, nb: Column): Column =
    dot.cast(DoubleType) /
      (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  /** Shared oracle CTE prefix: quantized flat (vec_id, position, value)
    * rows + integer norms. DuckDB arrays are 1-based (`qe[1]`); the Spark
    * side uses 0-based `qe[0]` — positions are aligned by construction. */
  private[ops] val oraclePrefix: String =
    """WITH flat AS (
      |  SELECT vec_id, i,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm
      |  FROM flat GROUP BY vec_id)""".stripMargin

  /** Oracle CTE `name`: the exact cosine of every (`l`, `r`) row of the
    * `dots` CTE, from the integer `norms`. `alias`, when given, names
    * `dots` and qualifies its columns. */
  private[ops] def simsSql(name: String, dots: String, l: String, r: String,
                           alias: String = ""): String = {
    val a = if (alias.isEmpty) "" else alias + "."
    val from = if (alias.isEmpty) dots else s"$dots $alias"
    s"""$name AS (
       |  SELECT $a$l, $a$r,
       |    CAST(${a}dot AS DOUBLE)
       |      / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))) AS cos
       |  FROM $from
       |  JOIN norms na ON na.vec_id = $a$l
       |  JOIN norms nb ON nb.vec_id = $a$r)""".stripMargin
  }

  /** Oracle CTEs `${p}dots` and `${p}sims`: exact (qid, cid) cosines.
    * `cand` = (CTE, alias) scores a candidate CTE's pairs; `None` scores
    * every family query (`vec_id % 25 = 0`) against the whole corpus.
    * `gate` is an extra predicate on the dots scan. */
  private[ops] def cosSql(p: String, cand: Option[(String, String)],
                          gate: String = ""): String = {
    val dots = cand match {
      case None =>
        val and = if (gate.isEmpty) "" else s" AND $gate"
        s"""${p}dots AS (
           |  SELECT a.vec_id AS qid, b.vec_id AS cid,
           |    CAST(SUM(a.v * b.v) AS BIGINT) AS dot
           |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
           |  WHERE a.vec_id % 25 = 0$and
           |  GROUP BY 1, 2)""".stripMargin
      case Some((from, c)) =>
        val where = if (gate.isEmpty) "" else s"\n  WHERE $gate"
        s"""${p}dots AS (
           |  SELECT $c.qid, $c.cid, CAST(SUM(fa.v * fb.v) AS BIGINT) AS dot
           |  FROM $from $c
           |  JOIN flat fa ON fa.vec_id = $c.qid
           |  JOIN flat fb ON fb.vec_id = $c.cid AND fb.i = fa.i$where
           |  GROUP BY 1, 2)""".stripMargin
    }
    dots + ",\n" + simsSql(s"${p}sims", s"${p}dots", "qid", "cid")
  }

  /** The top-`k` (cos DESC, cid) rows per qid of `${p}sims`, cosine
    * quantized: the final SELECT, or the CTE `out` when one is named. */
  private[ops] def topkSql(p: String, k: Int, out: String = ""): String = {
    val rows =
      s"""SELECT qid, cid, CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_q6
         |FROM ${p}sims
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= $k""".stripMargin
    if (out.isEmpty) rows
    else s"$out AS (\n" + rows.linesIterator.map("  " + _).mkString("\n") + ")"
  }

  /** Oracle tail of the band near-dup detectors: distinct colliding
    * pairs of the `bands` CTE (vec_id, band, bkt), then their exact
    * cosine, kept at `verifyCos` and up. */
  private def pairVerifySql(bands: String, verifyCos: String): String =
    s"""cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM $bands a
       |  JOIN $bands b ON a.band = b.band AND a.bkt = b.bkt
       |    AND a.vec_id < b.vec_id),
       |dots AS (
       |  SELECT va, vb, CAST(SUM(fa.v * fb.v) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN flat fa ON fa.vec_id = va
       |  JOIN flat fb ON fb.vec_id = vb AND fb.i = fa.i
       |  GROUP BY va, vb),
       |""".stripMargin + simsSql("sims", "dots", "va", "vb") +
      s"""
         |SELECT va AS vec_a, vb AS vec_b, CAST(FLOOR(cos * 1000000) AS BIGINT) AS cos_q6
         |FROM sims WHERE cos >= $verifyCos""".stripMargin

  /** (qid, cid, cos) for every family query (`vec_id % 25 = 0`) against
    * every other corpus vector; `pairing` places the query side
    * (broadcast, or a shuffle hint). */
  private def exactCos(base: DataFrame, pairing: DataFrame => DataFrame)
      : DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val qs = base.where($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"qe".as("qqe"), $"nrm".as("qn"))
    base.crossJoin(pairing(qs))
      .where($"vec_id" =!= $"qid")
      .withColumn("dot", Kit.dotI64($"qe", $"qqe"))
      .select($"qid", $"vec_id".as("cid"),
        cosCol($"dot", $"qn", $"nrm").as("cos"))
  }

  /** Top-`k` of a (qid, cid, cos) stream per qid by the CosTopK fold:
    * (qid, cid, cos_q6). */
  private def topkQ6(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    Kit.topKRows(scored, "qid", $"cos", $"cid", k)
      .select($"qid", $"t.cid".as("cid"), Kit.quantize($"t.cos", 6).as("cos_q6"))
  }

  /** EXACTNESS BASELINE — VERIFICATION-GRADE, not the production path
    * (same designation as the exact n-gram family in TextOps): brute-force
    * cosine top-k is O(queries × corpus) BY DEFINITION — measured 67× wall
    * time at a 10× corpus with 10× queries (STRESS_r05.md), i.e. it does
    * exactly the quadratic work it promises. Use it to calibrate recall of
    * the registered scale paths ([[annLshTopk]] — sub-quadratic via
    * bucketing; [[ivfTopk]] — touches ~nprobe/K of the corpus per query),
    * or when the query set is genuinely tiny.
    *
    * Within that contract the plan is the best available shape: every 25th
    * vector is a query; the query set is broadcast against a single scan
    * of the corpus, so the corpus is read once and never shuffled; only
    * the (queries × k) result rows move. At 100 TB with a SMALL query set
    * the same plan holds — broadcast queries, one pass over the embedding
    * table, per-partition partial top-k via the window's rank pushdown
    * (Spark optimizes rn<=k to a per-partition heap via
    * WindowGroupLimit). What does NOT scale is the arithmetic itself when
    * queries grow with the corpus. */
  val similarityTopk: QueryDef = QueryDef.sql(
    "similarity_topk",
    oraclePrefix + ",\n" + cosSql("", None) + "\n" + topkSql("", 10)) { (s, dir) =>
    import s.implicits._
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"cid".asc)
    exactCos(quantized(s, dir), broadcast(_))
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 10)
      .select($"qid", $"cid", Kit.quantize($"cos", 6).as("cos_q6"))
  }

  /** EXACT top-k for query sets too large to broadcast — the missing
    * regime between [[similarityTopk]] (tiny query set, broadcast) and
    * the ANN paths (recall traded for sub-quadratic work). Same answer as
    * `similarity_topk` (same oracle SQL, verified independently), two
    * deliberate plan changes:
    *
    *  - pairing is a SHUFFLE_REPLICATE_NL block product, not a broadcast:
    *    both sides stay partitioned and each (corpus-split × query-split)
    *    task streams its block. No driver-side broadcast build, no
    *    8 GB/executor-memory broadcast ceiling on the query side — the
    *    shape that survives when queries grow with the corpus (the exact
    *    arithmetic is O(n·q) either way, by definition).
    *  - per-query top-k is [[graft.functions.CosTopK]] aggregation, not a
    *    rank window: map-side partials fold each task's candidate stream
    *    into O(k) heap state per query, the exchange moves serialized
    *    heaps instead of candidate rows, and the final merge needs no
    *    per-group sort. With q queries and P pair tasks the shuffle is
    *    ≤ P·q·k pairs of primitives regardless of corpus size.
    *
    * The body is [[exactTopkFrom]] at k = 10 with the shuffle hint as
    * its `pairing`; [[AnnRouter]]'s exact branch is the same body with
    * the broadcast pairing.
    */
  val similarityTopkBigq: QueryDef = QueryDef(
    "similarity_topk_bigq",
    // Corpus-side parallelism comes from the [[quantized]] cache's
    // scan-bytes floor (P=2 vs P=32 measured 95.8 vs 6.6 s on the 10×
    // corpus's block product — ShuffleProbe/STRESS_r08.md §2).
    (s, dir) => exactTopkFrom(quantized(s, dir), 10,
      _.hint("shuffle_replicate_nl")),
    similarityTopk.oracle)

  /** ANN top-k via sign-random-projection bucketing (SimHash over axis
    * planes): a b-bit bucket from the signs of b evenly-strided dims;
    * candidates are vectors sharing the bucket; exact cosine ranks
    * within bucket. The self-join shuffles on the bucket key — candidate
    * volume is sum(bucket²) instead of n². Hot buckets are NOT left to
    * AQE (its skew split reads shuffle bytes, blind to join fan-out —
    * measured in STRESS_r06.md): [[BandJoin.selfCandidates]] salts
    * buckets past a size threshold across salt² pinned join keys.
    * Recall is traded for never touching n².
    *
    * BUCKET BITS SCALE WITH THE CORPUS (round 8): b = clamp(⌈log₂(n/256)⌉,
    * 8, 16), i.e. the bucket count tracks n/256 so expected bucket SIZE
    * — and with it per-query candidate count and total candidate volume
    * ÷ n — stays ~constant as the corpus grows. The round-8 100× run
    * measured why: at n = 200k the former fixed 8-bit bucketing left
    * 256 buckets of ~780 vectors → 156M candidate pairs and a 296 s
    * warm wall (quadratic/256, STRESS_r08.md §4). The floor of 8 keeps
    * every fixture scale (n ≤ 20k → b = 8) byte-identical to the
    * pre-adaptive results; the cap of 16 is the tested envelope (dims
    * are strided ⌊64/b⌋ apart, so up to 64 planes are available past
    * it). The DuckDB oracle computes the SAME b from COUNT(*), so the
    * contract is replayed, not approximated. Final per-query ranking is
    * [[graft.functions.CosTopK]] aggregation, not a rank window — the
    * window form local-sorts the full candidate stream per task before
    * its partial limit (measured 2× wall at 10×, STRESS_r08.md §2). */
  val annLshTopk: QueryDef = QueryDef.sql(
    "ann_lsh_topk",
    oraclePrefix +
      """,
        |bb AS (
        |  SELECT b, CAST(64 // b AS INT) AS st FROM (
        |    SELECT GREATEST(8, LEAST(16,
        |      CAST(CEIL(LOG2(COUNT(*) / 256.0)) AS INT))) AS b
        |    FROM embeddings)),
        |sigs AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN 1 << CAST((i - 1) // st AS INT) ELSE 0 END) AS BIGINT) AS bkt
        |  FROM flat, bb WHERE (i - 1) % st = 0 AND (i - 1) // st < b
        |  GROUP BY vec_id),
        |dots AS (
        |  SELECT fa.vec_id AS qid, fb.vec_id AS cid,
        |    CAST(SUM(fa.v * fb.v) AS BIGINT) AS dot
        |  FROM sigs a
        |  JOIN sigs b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  GROUP BY 1, 2),
        |""".stripMargin + simsSql("sims", "dots", "qid", "cid") + "\n" +
      topkSql("", 5)) { (s, dir) =>
    import s.implicits._
    val base0 = quantized(s, dir)
    // adaptive bucket width (see scaladoc): same clamp formula as the
    // oracle's bb CTE; the count is a cache-table scan
    val b = adaptiveBits(base0.count())
    val st = bitStride(b)
    val bktExpr = (0 until b).map(j =>
      s"CASE WHEN qe[${st * j}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val base = base0
      .withColumn("bkt", expr(s"CAST($bktExpr AS BIGINT)"))
    // skew-aware bucket self-join (one logical band): a hot bucket's
    // pairs are enumerated across salt² shuffle keys instead of one
    // straggler task — see BandJoin; AQE cannot split this (fan-out
    // skew is invisible to its shuffle-bytes heuristic, measured in
    // STRESS_r06.md)
    // dedup = false: ONE band per vector means a pair can only collide
    // once — the distinct would shuffle the full candidate volume for
    // nothing
    val und = BandJoin.selfCandidates(
      base.select($"vec_id", lit(0L).as("band"), $"bkt"), dedup = false)
    // ranking is per-query over BOTH directions of each undirected pair;
    // CosTopK aggregation, not a rank window — candidates stream into
    // O(k) heap state per query with no per-task sort of the candidate
    // stream, and the exchange moves serialized heaps
    val cand = und.select($"va".as("qid"), $"vb".as("cid"))
      .union(und.select($"vb".as("qid"), $"va".as("cid")))
    topkQ6(cand
      .join(base.select($"vec_id".as("qid"), $"qe".as("qa"), $"nrm".as("na")),
        Seq("qid"))
      .join(base.select($"vec_id".as("cid"), $"qe".as("qb"), $"nrm".as("nb")),
        Seq("cid"))
      .withColumn("dot", Kit.dotI64($"qa", $"qb"))
      .select($"qid", $"cid", cosCol($"dot", $"na", $"nb").as("cos")), 5)
  }

  /** PRODUCTION-configured embedding near-dup: 4 bands × 16 sign bits
    * (all 64 dims) at cos ≥ 0.90 — the scale-safe replacement for the
    * retired 8 bands × 4 bits at cos ≥ 0.40. The band width is the
    * candidate-volume dial: a 4-bit band collides for ~1/16 of ALL
    * random pairs (measured 100× wall-time at a 10× corpus — quadratic,
    * see STRESS_r05.md), a 16-bit band for ~1/65536 — candidate volume
    * drops from corpus² to ~planted-duplicate density. The price is the
    * LSH S-curve: recall ≈ 89% for near-identical pairs (cos ≥ 0.99),
    * ~43% at 0.93, ~30% at the 0.90 boundary — the right trade for DEDUP, where targets are
    * re-encoded/rescaled copies near cos 1.0 and boundary pairs are
    * judgement calls. (Boundary-recall-critical deployments add
    * independent random-projection bands; raw sign bits keep this
    * oracle-replayable.) */
  val embeddingNeardupStrict: QueryDef = QueryDef.sql(
    "embedding_neardup_strict",
    oraclePrefix +
      """,
        |bands AS (
        |  SELECT vec_id, (i - 1) // 16 AS band,
        |    CAST(SUM(CASE WHEN v > 0 THEN 1 << CAST((i - 1) % 16 AS INT) ELSE 0 END) AS BIGINT) AS bkt
        |  FROM flat
        |  GROUP BY 1, 2),
        |""".stripMargin + pairVerifySql("bands", "0.90")) { (s, dir) =>
    embeddingNeardupStrictPairs(quantized(s, dir))
  }

  /** The strict detector over any quantized (vec_id, qe, nrm) frame —
    * unit-testable on literal vectors. */
  def embeddingNeardupStrictPairs(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val bktExpr = (0 until 16).map(j =>
      s"CASE WHEN qe[16 * band + $j] > 0 THEN ${1 << j} ELSE 0 END").mkString(" + ")
    val bands = base
      .select($"vec_id", $"qe", explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkt", expr(s"CAST($bktExpr AS BIGINT)"))
      .select($"vec_id", $"band".cast(LongType).as("band"), $"bkt")
    // scale telemetry, as in the text near-dup stages
    verifyPairs(bands, base, 0.90, "strict_candidates")
  }

  /** The band detectors' shared tail: band-collision (va, vb) pairs of
    * `bands` (vec_id, band, bkt) via the skew-aware [[BandJoin]]
    * (identical pair set, hot buckets salted across salt² shuffle keys),
    * counted under the `obs` observation, then each pair's exact
    * quantized cosine from `base`, kept at `verifyCos` and up:
    * (vec_a, vec_b, cos_q6). */
  private def verifyPairs(bands: DataFrame, base: DataFrame,
                          verifyCos: Double, obs: String): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val cand = BandJoin.selfCandidates(bands)
      .observe(obs, count(lit(1)).as("n_pairs"))
    val left = base.select($"vec_id".as("va"), $"qe".as("qa"), $"nrm".as("na"))
    val right = base.select($"vec_id".as("vb"), $"qe".as("qb"), $"nrm".as("nb"))
    cand.join(left, Seq("va")).join(right, Seq("vb"))
      .withColumn("dot", Kit.dotI64($"qa", $"qb"))
      .select($"va".as("vec_a"), $"vb".as("vec_b"),
        cosCol($"dot", $"na", $"nb").as("cos"))
      .where($"cos" >= verifyCos)
      .select($"vec_a", $"vec_b", Kit.quantize($"cos", 6).as("cos_q6"))
  }

  /** Sign-LSH band-count derivation (the S-curve solved for the band
    * count): a pair at cosine θ agrees with one hyperplane with
    * probability p(θ) = 1 − arccos(θ)/π, collides in a B-bit band with
    * p(θ)^B, and is caught by at least one of R bands with
    * 1 − (1 − p(θ)^B)^R — so the bands needed for `recall` at detection
    * threshold θ are R = ⌈ln(1 − recall) / ln(1 − p(θ)^B)⌉. The SAME
    * formula reproduces the hand-tuned [[embeddingNeardupProj]] config:
    * projBands(0.90, 16, 0.50) = 8. Band WIDTH stays the candidate-
    * safety dial — a random pair collides with ~R·2^−B of all pairs, so
    * B is chosen for the corpus budget and R then buys recall. */
  def projBands(detectCos: Double, bits: Int, recall: Double): Int = {
    require(detectCos > 0 && detectCos < 1 && recall > 0 && recall < 1)
    val p = 1.0 - math.acos(detectCos) / math.Pi
    math.max(1, math.ceil(
      math.log1p(-recall) / math.log1p(-math.pow(p, bits))).toInt)
  }

  /** ⌈log₂ x⌉ by bit position — exact integer arithmetic, because the
    * oracle must replay it and `ceil(log2(x))` in floating point can
    * land on either side of 2^k boundaries depending on the engine's
    * libm. Mirrors DuckDB's `LENGTH(bin(x - 1))` for x ≥ 2. */
  def ceilLog2(x: Long): Int = {
    require(x >= 1, s"ceilLog2 of $x")
    if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
  }

  /** ADAPTIVE projection-band geometry — the §9.6 closure. The fixed
    * 16-bit band admits random-pair collisions at R·2⁻¹⁶ of ALL pairs
    * (∝ n² in the limit); holding the expected random collisions PER
    * VECTOR at the fixture-calibrated ~25 (n = 200k, B = 16, R = 8 →
    * n·R/2^B ≈ 24.4) requires 2^B ∝ n, i.e. band width growing with
    * ⌈log₂ n⌉:
    *
    *   B(n) = clamp(⌈log₂(n·8/25)⌉, 16, 32)     (integer arithmetic)
    *   R(n) = projBands(0.90, B(n), 0.50)        (recall re-bought)
    *
    * The floor of 16 keeps every fixture scale up to n ≈ 200k on the
    * hand-tuned [[embeddingNeardupProj]] geometry (byte-identical
    * results); the cap of 32 bounds the band table the oracle embeds
    * (R ≤ 99) and covers corpora to ~10¹⁰ vectors. Growing B costs
    * recall, so R is recomputed from the S-curve for the same 50%
    * recall at the cos-0.90 detection threshold — R grows ~1.17× per
    * bit (R ∝ p(θ)⁻ᴮ ∝ n^0.22). Net: random collisions per vector are
    * ≤ R·25/8 (grows only with R, ∝ n^0.22), total candidates and
    * projection work both ~n^1.22 — the sub-quadratic price that
    * replaces the fixed geometry's n²·2⁻¹⁶. Recall at the planted cos-0.999
    * pairs stays ≈ 1 at every geometry this returns (p(0.999)^32 ≈ 0.63,
    * and R ≥ 8 bands) — measured, not assumed: see STRESS_r08 §8. */
  def adaptiveProjGeometry(n: Long): (Int, Int) = {
    val bits = math.max(16, math.min(32, ceilLog2(math.max(2L, n * 8L / 25L))))
    (projBands(0.90, bits, 0.50), bits)
  }

  /** RANDOM-PROJECTION LSH near-dup — the recall upgrade over
    * [[embeddingNeardupStrict]]'s raw-sign-bit bands: 64 dims cap raw
    * bands at 64 total bits, and 4×16 of them leave ~50% recall at the
    * cos 0.90 boundary; PROJECTED bits are unlimited, so 8 bands × 16
    * bits = 128 hyperplanes lift recall to ~99.5% at cos 0.99 / ~67% at
    * 0.93 while a 16-bit band still collides for only ~2⁻¹⁶ of random
    * pairs (candidates stay ∝ duplicate density).
    *
    * The twist that keeps it ORACLE-REPLAYABLE (the reason §9 deferred
    * it): the projection matrix is not RNG state — weight w(b,t,d) is
    * derived from md5("b_t_d") (15 hex digits → int, mod-centred), and
    * md5 is bit-identical in Spark and DuckDB, so the oracle rebuilds
    * the same matrix from `range()`s and replays the whole pipeline.
    * Spark computes the weights ONCE driver-side (same md5) and bakes
    * them as literal vectors into the native integer dot product.
    *
    * This builder makes every threshold-parameterized form of it
    * (Spark pipeline + DuckDB oracle from one geometry): md5-derived
    * projection weights (oracle-replayable), `bands` × `bits` packed
    * sign buckets via the native [[graft.functions.SignProjectI64]],
    * band-collision candidates, exact quantized-cosine verification at
    * `verifyCos`. */
  private def projNeardup(name: String, bands: Int, bits: Int,
                          verifyCos: String, obs: String,
                          plant: Boolean = false): QueryDef = {
    val dim = 64
    // `plant = true` (embedding_neardup_planted): the corpus is the
    // fixture PLUS a deterministic near-duplicate of every 37th vector
    // (vec_id + 1_000_000, +5000 on every 7th quantized dim — ~0.5% of
    // a typical component, cos ≈ 0.999) applied identically in Spark
    // and the oracle. The random-vector fixture yields zero true pairs
    // (CORRECTNESS_r06 verified this family green on 0 rows), so the
    // planted variant is what makes the driver's own sweep exercise the
    // SignProjectI64 weights, band packing, and candidate verification
    // on NON-EMPTY output — the in-protocol form of the round-6
    // scripts/verify_planted.sh cross-engine evidence run.
    val prefix = if (!plant) oraclePrefix else plantedOraclePrefix
    QueryDef.sql(
      name,
      prefix + ",\n" + projOracleTail(
        s"range($bands) r1(b), range($bits) r2(t), range($dim) r3(d)",
        verifyCos)) { (s, dir) =>
      val base = if (plant) plantedQuantized(s, dir) else quantized(s, dir)
      projPipeline(base, bands, bits, verifyCos.toDouble, obs)
    }
  }

  /** Oracle CTE tail shared by the fixed and adaptive projection
    * detectors: the md5 hyperplane weights `w` (b, t, d, wv) over the
    * `ranges` FROM list, project, pack band buckets, band-collision
    * candidates, exact quantized-cosine verify at `verifyCos`. */
  private def projOracleTail(ranges: String, verifyCos: String): String =
    s"""w AS (
       |  SELECT b, t, d,
       |    CAST(concat('0x', substring(md5(
       |      concat(CAST(b AS VARCHAR), '_', CAST(t AS VARCHAR), '_', CAST(d AS VARCHAR))
       |    ), 1, 15)) AS BIGINT) % 2001 - 1000 AS wv
       |  FROM $ranges),
       |projs AS (
      |  SELECT f.vec_id, w.b, w.t,
      |    CASE WHEN SUM(w.wv * f.v) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM flat f JOIN w ON w.d = f.i - 1
      |  GROUP BY f.vec_id, w.b, w.t),
      |bkts AS (
      |  SELECT vec_id, b AS band,
      |    CAST(SUM(bit << CAST(t AS INT)) AS BIGINT) AS bkt
      |  FROM projs GROUP BY vec_id, b),
      |""".stripMargin + pairVerifySql("bkts", verifyCos)

  /** The planted corpora's shared oracle head: the fixture's quantized
    * flat rows `flat0` and the plant offset `poff` (see
    * [[plantedOraclePrefix]]); [[Pq]]'s ingest oracle plants its
    * arrival batch on the same head. */
  private[ops] val plantBaseSql: String =
    """WITH flat0 AS (
      |  SELECT vec_id, i,
      |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
      |poff AS (
      |  SELECT GREATEST(1000000, COALESCE(MAX(vec_id), 0) + 1) AS o
      |  FROM embeddings)""".stripMargin

  /** The planted-corpus oracle prefix: the fixture's quantized flat
    * rows ∪ the planted copies (see [[plantedQuantized]]), plus norms.
    * Package-visible: [[Clustering]]'s semantic-dedup oracle reuses the
    * same planted corpus so its expected output is non-empty.
    *
    * Plant offset = GREATEST(10⁶, MAX(vec_id)+1): 10⁶ for every driver
    * fixture (max id ≤ ~205k → outputs byte-identical to the original
    * fixed-10⁶ protocol), but COLLISION-FREE at any corpus — the fixed
    * offset silently aliased planted ids onto real vectors once base
    * ids crossed 10⁶ (caught on the 1000× synthetic corpus: ids reach
    * 1,999,999, so copy-of-0 took id 1,000,000 = a real vector). Both
    * engines compute the same rule, so the driver compare stays exact. */
  private[ops] val plantedOraclePrefix: String =
    plantBaseSql + """,
      |flat AS (
      |  SELECT vec_id, i, v FROM flat0
      |  UNION ALL
      |  SELECT vec_id + (SELECT o FROM poff), i,
      |    v + CASE WHEN (i - 1) % 7 = 0 THEN 5000 ELSE 0 END
      |  FROM flat0 WHERE vec_id % 37 = 0),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nrm
      |  FROM flat GROUP BY vec_id)""".stripMargin

  /** The [[quantized]] corpus ∪ the oracle's planted copies, in the
    * quantized integer domain (transform's lambda index is 0-based =
    * the oracle's i - 1): every 37th vector re-appears as vec_id +
    * offset (GREATEST(10⁶, MAX(vec_id)+1) — see [[plantedOraclePrefix]])
    * with +5000 on every 7th quantized dim — cos ≈ 0.999. */
  private[ops] def plantedQuantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b0 = quantized(s, dir)
    val offset = math.max(1000000L,
      b0.agg(max($"vec_id")).as[Option[Long]].head().getOrElse(0L) + 1L)
    val copies = b0.where($"vec_id" % 37 === 0)
      .select(($"vec_id" + offset).as("vec_id"),
        expr("transform(qe, (x, i) -> x + CASE WHEN i % 7 = 0 " +
          "THEN CAST(5000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
          .as("qe"))
      .withColumn("nrm", Kit.dotI64($"qe", $"qe"))
    b0.select($"vec_id", $"qe", $"nrm")
      .union(copies.select($"vec_id", $"qe", $"nrm"))
  }

  /** md5-derived flattened projection weight matrix (driver-side, the
    * identical arithmetic the oracle replays from `range()`s),
    * projection p = band · bits + t: ALL hyperplanes evaluate in ONE
    * native expression's tight loop (bands × bits separate dot-product
    * expressions in one Project measured 9× superlinear — see
    * SignProjectI64's scaladoc). */
  private def projWeights(bands: Int, bits: Int, dim: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def weight(b: Int, t: Int, d: Int): Long = {
      val hex = md.digest(s"${b}_${t}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
    Array.tabulate(bands * bits * dim) { i =>
      val p = i / dim; val d = i % dim
      weight(p / bits, p % bits, d)
    }
  }

  /** Shared Spark pipeline of the projection detectors: native
    * sign-projection buckets, band-collision candidates via the
    * skew-aware [[BandJoin]], exact quantized-cosine verification. */
  private def projPipeline(base: DataFrame, bands: Int, bits: Int,
                           verifyCos: Double, obs: String): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val dim = 64
    val bks = org.apache.spark.sql.GraftExpr.column(
      graft.functions.SignProjectI64(
        org.apache.spark.sql.GraftExpr.expression($"qe"),
        projWeights(bands, bits, dim), dim, bits))
    // stage table: projections computed once per vector, persisted
    // BEFORE the band explode (the explode would otherwise re-run the
    // projection per output row — the minhashBands trap)
    val withBkts = base.select($"vec_id", bks.as("bks")).persist()
    val bandsDf = withBkts
      .select($"vec_id", posexplode($"bks").as(Seq("band", "bkt")))
      .select($"vec_id", $"band".cast(LongType).as("band"), $"bkt")
    verifyPairs(bandsDf, base, verifyCos, obs)
  }

  /** The hand-tuned 8 × 16-bit random-projection detector at cos ≥ 0.90
    * (see [[projNeardup]] and round-5 scaladoc history): ~99.5% recall at
    * cos 0.99, ~67% at 0.93; a 16-bit band admits ~2⁻¹⁶ of random
    * pairs, so candidates stay ∝ duplicate density. */
  val embeddingNeardupProj: QueryDef =
    projNeardup("embedding_neardup_proj", 8, 16, "0.90", "proj_candidates")

  /** THRESHOLD-DERIVED near-dup — the round-6 replacement for the retired
    * quadratic 8 bands × 4 raw sign bits detector: same verification
    * contract (report candidate pairs down to cos ≥ 0.40, the calibration
    * regime), but the band geometry comes from [[projBands]] instead of
    * hand tuning —
    * B = 24-bit bands hold the random-pair collision budget at
    * R·2⁻²⁴ of all pairs (density-proportional candidates at any corpus
    * the fixture family reaches), and R = projBands(0.95, 24, 0.99)
    * bands buy ≥ 99% candidate recall at the cos 0.95 DETECTION
    * threshold (≈100% at 0.99, ~79% at 0.90, fading below — the
    * S-curve). Pairs reported between 0.40 and ~0.90 are therefore a
    * calibration SAMPLE, not an enumeration; enumerating cos-0.40 pairs
    * is provably quadratic: a 4-bit band collides for ~1/16 of ALL random
    * pairs (1.02 s → 101.9 s at a 10× corpus, STRESS_r05.md), and at
    * θ = 0.40 the per-hyperplane agreement p = 1 − arccos(0.40)/π ≈ 0.63
    * barely separates from a random pair's 0.5, so no banding both
    * enumerates cos-0.40 pairs with high recall and stays sub-quadratic. */
  val embeddingNeardupAuto: QueryDef =
    projNeardup("embedding_neardup_auto", projBands(0.95, 24, 0.99), 24,
      "0.40", "auto_candidates")

  /** PLANTED-PAIR in-protocol proof for the projection family: the
    * random-vector fixture contains no true near-dups, so
    * `embedding_neardup_proj`/`_auto` verify green on ZERO rows — this
    * variant plants deterministic near-duplicates inside the query
    * (fixture ∪ perturbed copies, identically in Spark and DuckDB — see
    * [[projNeardup]]'s plant note) so the driver's own sweep checks the
    * SignProjectI64 weight matrix, band packing, and exact-cosine
    * verification on NON-EMPTY output: every planted pair sits at
    * cos ≈ 0.999 where the 8 × 16-bit geometry's recall is ~99.5%. */
  val embeddingNeardupPlanted: QueryDef =
    projNeardup("embedding_neardup_planted", 8, 16, "0.90",
      "planted_candidates", plant = true)

  /** ADAPTIVE-GEOMETRY projection near-dup — the §9.6 closure, planted
    * so recall is measurable IN-PROTOCOL at every scale: band width
    * B(n) and count R(n) come from [[adaptiveProjGeometry]] at runtime
    * (one count over the cached corpus), so the random-collision
    * candidate budget stays ∝ n where the fixed 16-bit geometry's grows
    * ∝ n²·2⁻¹⁶. At fixture scales (n ≤ ~200k) the clamp returns the
    * hand-tuned (8, 16) and results are byte-identical to
    * `embedding_neardup_planted`; past it, B grows with ⌈log₂ n⌉ and R
    * re-buys the same 50% S-curve recall at cos 0.90 (planted cos-0.999
    * recall stays ≈ 1 — measured at 100×, STRESS_r08 §8).
    *
    * Oracle replay of a DATA-DEPENDENT geometry: B is integer-exact in
    * both engines (`LENGTH(bin(x-1))` ≡ 64 − numberOfLeadingZeros(x−1);
    * no floating log2 whose libm could land either side of a 2^k
    * boundary), and the B→R table is embedded as LITERALS computed by
    * [[projBands]] at registration — the oracle never evaluates the
    * S-curve's transcendentals, so cross-engine ulp drift cannot flip a
    * ceil. The `w` CTE ranges over the 32 × 99 maximum and filters by
    * the geometry, so only the chosen hyperplanes are evaluated. */
  val embeddingNeardupAdaptive: QueryDef = {
    val bandsByBits = (16 to 32)
      .map(b => s"WHEN $b THEN ${projBands(0.90, b, 0.50)}")
      .mkString(" ")
    QueryDef.sql(
      "embedding_neardup_adaptive",
      plantedOraclePrefix +
        s""",
          |geo AS (
          |  SELECT bits, CAST(CASE bits $bandsByBits END AS INT) AS bands
          |  FROM (
          |    SELECT GREATEST(16, LEAST(32, LENGTH(bin(
          |      GREATEST((SELECT COUNT(*) FROM norms) * 8 // 25, 2) - 1)))) AS bits)),
          |""".stripMargin + projOracleTail(
          "range(99) r1(b), range(32) r2(t), range(64) r3(d), geo\n" +
            "  WHERE b < geo.bands AND t < geo.bits", "0.90")) { (s, dir) =>
      val base = plantedQuantized(s, dir)
      // ONE count job over the (cached-underneath) corpus prices the
      // geometry; at 100 TB this is the metadata the embedding table's
      // stats already carry
      val (bands, bits) = adaptiveProjGeometry(base.count())
      projPipeline(base, bands, bits, 0.90, "adaptive_candidates")
    }
  }

  /** Shared oracle CTE block for the IVF cell structures (the SQL form
    * of [[ivfAssignProbes]] at queryEvery = 25, nprobe = 2) — appended
    * after [[oraclePrefix]] by [[ivfTopk]] and [[Pq]]'s IVF-PQ oracle. */
  private[ops] val ivfCellsSql: String =
    """mm AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS m FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id FROM embeddings, mm WHERE vec_id % m = 0),
      |cdots AS (
      |  SELECT f.vec_id, c.cent_id, CAST(SUM(f.v * g.v) AS BIGINT) AS dot
      |  FROM flat f
      |  JOIN cents c ON true
      |  JOIN flat g ON g.vec_id = c.cent_id AND g.i = f.i
      |  GROUP BY 1, 2),
      |""".stripMargin + simsSql("ccos", "cdots", "vec_id", "cent_id", "d") +
      """,
      |assign AS (
      |  SELECT vec_id, cent_id AS cell FROM ccos
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) = 1),
      |probes AS (
      |  SELECT vec_id AS qid, cent_id AS cell FROM ccos
      |  WHERE vec_id % 25 = 0
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) <= 2)""".stripMargin

  /** IVF-style ANN top-k — the coarse-quantizer counterpart to the sign-
    * LSH variant (brief: "an IVF or LSH-bucketed variant as the scale
    * path"; this engine ships both). Deterministic coarse quantizer so
    * the DuckDB oracle replays it exactly: centroids = every m-th vector
    * with m = ⌈√n⌉, each vector is assigned to its max-cosine centroid,
    * a query probes its 2 nearest cells, and exact cosine re-ranks the
    * probed candidates to top-5.
    *
    * CENTROID COUNT IS ⌈√n⌉ (round 8) — the standard IVF balance:
    * K ≈ √n cells of ~√n members puts assignment at n·√n dots and
    * per-query probe work at nprobe·√n, both sub-quadratic. The
    * round-8 100× run measured what the former fixed divisor (every
    * 61st vector → K = n/61) does instead: assignment degenerates to
    * n²/61 dots — 656M at n = 200k, 573 s warm (STRESS_r08.md §4).
    * The DuckDB oracle computes the same m from COUNT(*). Assignment
    * and both rankings are [[graft.functions.CosTopK]] aggregations
    * (k = 1 for assignment), not rank windows — no window shuffle or
    * per-task sort of the n·K assignment stream.
    *
    * At 100 TB: assignment is one broadcast-centroids pass over the
    * corpus (written as a stage table alongside the embeddings), and a
    * query touches ~nprobe/√n of the corpus instead of all of it. */
  val ivfTopk: QueryDef = QueryDef.sql(
    "ivf_topk",
    oraclePrefix + ",\n" + ivfCellsSql +
      """,
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS cid
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE a.vec_id <> p.qid),
        |""".stripMargin + cosSql("", Some(("cand", "c"))) + "\n" +
      topkSql("", 5)) { (s, dir) =>
    val base = quantized(s, dir)
    ivfTopkFrom(base, base.count())
  }

  /** The `ivf_topk` body over an already-quantized corpus — shared with
    * [[AnnRouter]] so the router's IVF branch IS this plan (same stats
    * pass, same candidate shape), not a re-derivation.
    *
    * (qid, cid) pairs are unique BY CONSTRUCTION — assign gives every
    * vector exactly one cell and a query's nprobe probe cells are
    * distinct CosTopK entries — so no distinct() re-aggregates the
    * n^1.5-row candidate stream (the oracle's SELECT DISTINCT is the
    * same no-op). Round-9 1000× finding: scoring joins must NOT carry
    * vectors on the pair stream — 2n^1.5/25 candidates × 520 B of
    * attached qe OOMed the default heap at 2M vectors (a ~120 GB
    * exchange). Shape: ONE equi-join on cid fetches the corpus vector,
    * the query vectors come as a BROADCAST (n/25 × 520 B — 42 MB at
    * 2M), and the cosine is projected out in the same stage, so every
    * exchange after the cell join moves 16-byte pairs or O(k) heap
    * state, never vectors. */
  private[ops] def ivfTopkFrom(base: DataFrame, n: Long): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val qs = base.where($"vec_id" % 25 === 0)
    val (assign, probes) = ivfAssignProbes(base, qs, ivfModulus(n), 2)
    val cand = probes.join(assign, Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"))
    scoreCandidates(cand, base, qs, k = 5)
      .select($"qid", $"cid", Kit.quantize($"cos", 6).as("cos_q6"))
  }

  /** Exact cosine top-`k` over an already-quantized corpus by the
    * CosTopK fold (no rank window) — the one body behind
    * [[similarityTopkBigq]] (k = 10, `pairing` a SHUFFLE_REPLICATE_NL
    * hint) and [[AnnRouter]]'s small-corpus branch (k = 5, the default
    * BROADCAST query side: by construction the whole corpus, and a
    * fortiori its n/25 query subset, is far under the broadcast
    * threshold). */
  private[ops] def exactTopkFrom(base: DataFrame, k: Int,
                                 pairing: DataFrame => DataFrame = broadcast(_))
      : DataFrame =
    topkQ6(exactCos(base, pairing), k)

  /** Exact-cosine scoring of a (qid, cid) candidate stream → top-`k`
    * per query: candidate `cid`s fetched from `corpus` by ONE equi-join,
    * query vectors broadcast from `queriesDf` (the family's n/25 query
    * subset, or the arrivals the ingest-dedup path scores against the
    * existing corpus), cosine projected before the CosTopK partial — no
    * vector ever rides a pair-stream exchange (see ivfTopk's round-9
    * 1000× note). Returns (qid, cid, cos). */
  private[ops] def scoreCandidates(cand: DataFrame, corpus: DataFrame,
                                   queriesDf: DataFrame, k: Int)
      : DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val queries = queriesDf
      .select($"vec_id".as("qid"), $"qe".as("qa"), $"nrm".as("na"))
    val scored = cand
      .join(corpus.select($"vec_id".as("cid"), $"qe".as("qb"), $"nrm".as("nb")),
        Seq("cid"))
      .join(broadcast(queries), Seq("qid"))
      .select($"qid", $"cid",
        cosCol(Kit.dotI64($"qa", $"qb"), $"na", $"nb").as("cos"))
    Kit.topKRows(scored, "qid", $"cos", $"cid", k)
      .select($"qid", $"t.cid".as("cid"), $"t.cos".as("cos"))
  }

  /** Repartition `df` so each map task holds well under the object-hash
    * aggregation's 65,536-group fallback threshold during a per-vector
    * fold. A partition with more distinct vec_ids silently converts the
    * PARTIAL aggregation to sort-based — over the K-times blown-up
    * probe stream, which is the catastrophic form: found at the
    * 4M-vector decade (125k groups/task → fallback → a 250M-row sort
    * per task → heap death), while 2M sat just under the bar at
    * 62.5k/task (STRESS_r10 §6). Costs one narrow exchange of the
    * corpus; a no-op when the frame is already wide enough. */
  private[ops] def boundedGroups(df: DataFrame, rows: Long): DataFrame = {
    val parts = math.ceil(rows / 60000.0).toInt
    if (parts <= df.rdd.getNumPartitions) df
    else df.repartition(parts)
  }

  /** Probe cells for `queries` against an EXPLICIT centroid frame
    * ((cent_id, ce, cn) — read back from a stored index rather than
    * re-sampled from the corpus): one broadcast of the centroid table,
    * CosTopK fold per query, (qid, cell) out — the probe half of
    * [[ivfAssignProbes]] with the centroid SOURCE decoupled, which is
    * what [[AnnIndex]]'s query path needs (its centroids come from a
    * warehouse table written at build time; the corpus is never scanned
    * to find them). Same tie-breaking (cos DESC, cent_id) as everywhere
    * else, so a stored-index probe reproduces the fresh pipeline's cells
    * bit-for-bit. */
  private[ops] def probeCells(queries: DataFrame, cents: DataFrame,
                              nprobe: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    Kit.topKRows(centroidCos(queries, cents), "vec_id", $"cos", $"cent_id",
      nprobe, out = "qid")
      .select($"qid", $"t.cid".as("cell"))
  }

  /** (vec_id, cent_id, cos) of every row of `df` against every centroid
    * of the broadcast `cents` table (cent_id, ce, cn). */
  private def centroidCos(df: DataFrame, cents: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.crossJoin(broadcast(cents))
      .select($"vec_id", $"cent_id",
        cosCol(Kit.dotI64($"qe", $"ce"), $"nrm", $"cn").as("cos"))
  }

  /** IVF cell structures shared by [[ivfTopk]] and [[Pq]]'s IVF-PQ
    * pipelines: cosine assignment of every `corpus` vector to its
    * nearest of the K ≈ √n centroids sampled from it (`vec_id % m == 0`),
    * and the top-`nprobe` probe cells ([[probeCells]]) of every row of
    * `queries` — the family's `vec_id % 25` subset, or ARRIVALS probed
    * against an index built on the EXISTING corpus only (ingest dedup).
    * Both are CosTopK folds over one broadcast of the centroid table —
    * the n·K assignment stream folds map-side into O(k) state per
    * vector; no window shuffle, no per-task sort. Both frames carry
    * (vec_id, qe, nrm). Returns (assign: (vec_id, cell), probes:
    * (qid, cell)). */
  private[ops] def ivfAssignProbes(corpus: DataFrame, queries: DataFrame,
                                   m: Long, nprobe: Int)
      : (DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    val cents = corpus.select($"vec_id".as("cent_id"), $"qe".as("ce"),
      $"nrm".as("cn")).where($"cent_id" % m === 0)
    // bound groups-per-task through the corpus-wide fold (m = ⌈√n⌉, so
    // m² estimates the corpus rows without an extra count)
    val assign = centroidCos(boundedGroups(corpus, m * m), cents)
      .groupBy($"vec_id")
      .agg(Kit.cosTopK($"cos", $"cent_id", 1).as("top"))
      .select($"vec_id", $"top"(0)("cid").as("cell"))
    (assign, probeCells(queries, cents, nprobe))
  }

  /** Multimodal-column plumbing: treat content as an opaque binary column
    * with typed metadata — byte length, content hash, header bytes, and a
    * deterministic stub feature vector (surfaced as scalar columns). The
    * real decode (image/audio libs) is the stub here; the Spark-side
    * shapes — binary column, per-row features, codegen'd extraction — are
    * the production plumbing (SURVEY §2.10 / builder brief). */
  val multimodalFeatures: QueryDef = QueryDef.sql(
    "multimodal_features",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5,
      |  substr(hex(encode(text)), 1, 16) AS header_hex,
      |  ascii(substr(text, 1, 1)) AS f0,
      |  ascii(substr(text, 17, 1)) AS f1,
      |  ascii(substr(text, 33, 1)) AS f2,
      |  CAST(octet_length(encode(text)) % 251 AS BIGINT) AS f3
      |FROM documents""") { (s, dir) =>
    import s.implicits._
    Tables.load(s, dir, "documents").select(
      $"doc_id",
      octet_length($"text").cast(LongType).as("n_bytes"),
      md5($"text").as("content_md5"),
      substring(hex(encode($"text", "UTF-8")), 1, 16).as("header_hex"),
      ascii(substring($"text", 1, 1)).as("f0"),
      ascii(substring($"text", 17, 1)).as("f1"),
      ascii(substring($"text", 33, 1)).as("f2"),
      (octet_length($"text") % 251).cast(LongType).as("f3"))
  }

  val all: Seq[QueryDef] = Seq(
    similarityTopk, similarityTopkBigq, annLshTopk, ivfTopk,
    embeddingNeardupStrict, embeddingNeardupProj, embeddingNeardupAuto,
    embeddingNeardupPlanted, embeddingNeardupAdaptive, multimodalFeatures)
}
