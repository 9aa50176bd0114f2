package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.Kit

/** Distributed k-means over the embedding corpus — the training-data
  * curation primitive behind IVF coarse quantizers, diversity sampling,
  * and cluster-balanced dataset mixes. Pure DataFrame expressions, no
  * UDFs, and DETERMINISTIC BY CONSTRUCTION:
  *
  *   - vectors are the engine's quantized int64 form (floor(x·1e6));
  *     distances are exact integer arithmetic via the native codegen'd
  *     dot product (d² = |x|² − 2x·c + |c|², never a float sum)
  *   - centroid updates are element-wise INTEGER sums (associative →
  *     order-independent across any partitioning) with integer division;
  *     a double-average would make centroids depend on partition order
  *   - init is farthest-first from the lowest vec_id, or the k lowest
  *     vec_ids for the dynamic-k forms — reproducible, no RNG
  *
  * Per distributed Lloyd iteration of [[kmeansCentroids]]: k literal
  * centroids out, one shuffle of map-side-combined (cluster, position)
  * partial sums back — k·dim rows per partition, independent of corpus
  * size. The corpus itself is scanned once per iteration and never
  * shuffled. This is the plan Spark MLlib's KMeans runs, expressed in
  * the engine's own operator vocabulary (broadcast + partial
  * aggregation), at any scale.
  */
object Clustering {

  /** Squared L2 distance from quantized vector column `qe` (with cached
    * squared norm `nrm`) to a literal centroid. */
  private def dist2(qe: Column, nrm: Column, centroid: Seq[Long]): Column = {
    val c = typedLit(centroid)
    val cNorm = centroid.map(v => v * v).sum
    nrm - lit(2L) * Kit.dotI64(qe, c) + lit(cNorm)
  }

  /** Index (0-based) of the nearest of `centroids` for each row. Ties
    * break to the lowest index (array_position finds the first min). */
  private def nearest(qe: Column, nrm: Column,
                      centroids: Seq[Seq[Long]]): Column = {
    val ds = array(centroids.map(c => dist2(qe, nrm, c)): _*)
    (array_position(ds, array_min(ds)) - 1).cast("int")
  }

  /** Run `iters` Lloyd iterations over (vec_id, qe) rows from the
    * deterministic farthest-first init; returns the final centroids.
    * `quantized` must carry int64 vectors of equal dimension. */
  def kmeansCentroids(quantized: DataFrame, k: Int,
                      iters: Int): Seq[Seq[Long]] =
    train(quantized, k, iters, lowId = false)

  /** [[kmeansCentroids]] with LOWEST-vec_id init (cluster i = the
    * (i+1)-th lowest vec_id's vector) and, past [[DriverLocal.RowGate]], the
    * broadcast-join labelling of [[kmeansAssignJoin]] — the large-k
    * form. This init's oracle form stays expressible at DYNAMIC k — one
    * ROW_NUMBER against a k computed from COUNT(*) — where
    * farthest-first would need k unrolled CTE picks and therefore a k
    * frozen at query-definition time. Init choice is orthogonal to what
    * [[semdedupAdaptive]] verifies (the k-formula, the packed-long
    * assignment, top-2 probing, the census arithmetic). */
  def kmeansCentroidsLowId(quantized: DataFrame, k: Int,
                           iters: Int): Seq[Seq[Long]] =
    train(quantized, k, iters, lowId = true)

  /** `quantized` with its cached squared norm column `nrm`. */
  private def withNrm(quantized: DataFrame): DataFrame =
    if (quantized.columns.contains("nrm")) quantized
    else quantized.withColumn("nrm",
      Kit.dotI64(col("qe"), col("qe")))

  /** The one k-means trainer: an init, then `iters` Lloyd rounds.
    *
    * Init is either the k lowest vec_ids (`lowId`) or deterministic
    * farthest-first (no RNG), which is TWO passes regardless of k: seed
    * with the lowest vec_id, then ONE scan takes the 16·k points
    * farthest from the seed (ties to lowest vec_id) as a candidate
    * pool, and the remaining k−1 seeds are chosen by exact greedy
    * farthest-first over that pool DRIVER-SIDE ([[farthestFirst]]).
    * Spreads seeds across the data's modes like the classic k−1-scan
    * farthest-first, but init cost no longer multiplies the corpus scan
    * by k (at 100 TB, 2 scans instead of k+1). When the corpus is
    * smaller than the pool — every unit-test fixture — the pool IS the
    * corpus and the result is exact farthest-first.
    *
    * Gate-sized corpora ([[DriverLocal.RowGate]], one [[DriverLocal.rowsUpTo]]
    * job) run ALL of it on the collected rows: the init (the k lowest
    * vec_ids, or [[seedPoolLocal]] — the same i64 arithmetic and ties as
    * [[seedPoolDistributed]]) and the Lloyd rounds ([[lloydLocal]]),
    * since every distributed round ends in a driver collect of k
    * centroids anyway. Past the gate the corpus is cached (unless the
    * caller already did) for the distributed init and
    * [[lloydDistributed]], labelled by [[joinLabels]] (`lowId`) or
    * [[nearestLabels]]. */
  private def train(quantized: DataFrame, k: Int, iters: Int,
                    lowId: Boolean): Seq[Seq[Long]] =
    new TrainSet(quantized).train(k, iters, lowId)

  /** A corpus as [[train]] reads it: its (vec_id, qe) rows when it holds
    * at most [[DriverLocal.RowGate]] vectors (one [[DriverLocal.rowsUpTo]]
    * job), else only the frame. A caller that sizes k from the corpus
    * takes n from the same collect ([[n]]), so a gate-sized corpus is
    * counted by no job of its own. */
  private final class TrainSet(val q: DataFrame) {
    val rows: Option[Array[(Long, Seq[Long])]] = {
      val s = q.sparkSession
      import s.implicits._
      DriverLocal.rowsUpTo(q.select($"vec_id", $"qe").as[(Long, Seq[Long])],
        DriverLocal.RowGate)
    }

    /** The corpus's row count: the collect's length, or a count past the
      * gate. */
    lazy val n: Long = rows.fold(q.count())(_.length.toLong)

    def train(k: Int, iters: Int, lowId: Boolean): Seq[Seq[Long]] =
      rows match {
        case Some(r) => trainRows(r, k, iters, lowId)
        case None    => trainDistributed(q, k, iters, lowId)
      }
  }

  /** [[train]] over collected (vec_id, qe) rows. */
  private def trainRows(rows: Array[(Long, Seq[Long])], k: Int, iters: Int,
                        lowId: Boolean): Seq[Seq[Long]] = {
    val init =
      if (lowId) rows.sortBy(_._1).take(k).map(_._2).toSeq
      else {
        val (seed, pool) = seedPoolLocal(rows, k)
        farthestFirst(seed, pool, k)
      }
    lloydLocal(rows.map(_._2.toArray), init, iters)
  }

  /** [[train]] past the gate: the distributed init and Lloyd rounds. */
  private def trainDistributed(quantized: DataFrame, k: Int, iters: Int,
                               lowId: Boolean): Seq[Seq[Long]] = {
    val base0 = withNrm(quantized)
    // reuse the caller's cached (vec_id, qe, nrm) frame if it has one
    // — re-persisting a superset here would double-cache the corpus
    val ownCache =
      base0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val base = if (ownCache) base0.persist() else base0
    try {
      val init =
        if (lowId) lowIdInit(base, k)
        else {
          val (seed, pool) = seedPoolDistributed(base, k)
          farthestFirst(seed, pool, k)
        }
      lloydDistributed(base, init, iters)(
        if (lowId) joinLabels else nearestLabels)
    } finally { if (ownCache) base.unpersist(); () }
  }

  /** The k lowest vec_ids' vectors in vec_id order — one distributed
    * top-k over `base` (vec_id, qe). */
  private[ops] def lowIdInit(base: DataFrame, k: Int): Seq[Seq[Long]] = {
    val s = base.sparkSession
    import s.implicits._
    base.orderBy($"vec_id").limit(k).select($"qe").as[Seq[Long]]
      .collect().toSeq
  }

  /** The seed (lowest vec_id) and the 16·k pool farthest from it by
    * `nrm − 2·⟨qe, seed⟩ + |seed|²`, ordered (d desc, vec_id asc) —
    * two distributed scans of `base` (vec_id, qe, nrm). */
  private[ops] def seedPoolDistributed(base: DataFrame, k: Int)
      : (Seq[Long], Seq[(Long, Seq[Long])]) = {
    val s = base.sparkSession
    import s.implicits._
    val seed = lowIdInit(base, 1).head
    val pool = base
      .select($"vec_id", $"qe", dist2($"qe", $"nrm", seed).as("d"))
      .orderBy($"d".desc, $"vec_id".asc).limit(16 * k)
      .select($"vec_id", $"qe").as[(Long, Seq[Long])].collect().toSeq
    (seed, pool)
  }

  /** [[seedPoolDistributed]] over collected (vec_id, qe) rows: the same
    * i64 distance (squared norm minus twice the dot over the common
    * prefix plus the seed's squared norm — [[dist2]]'s arithmetic) and
    * the same ties (lowest vec_id first). */
  private[ops] def seedPoolLocal(rows: Array[(Long, Seq[Long])], k: Int)
      : (Seq[Long], Seq[(Long, Seq[Long])]) = {
    val seed = rows.minBy(_._1)._2
    val sd = seed.toArray
    val cNorm = dotLocal(sd, sd)
    def d(v0: Seq[Long]): Long = {
      val v = v0.toArray
      dotLocal(v, v) - 2L * dotLocal(v, sd) + cNorm
    }
    val pool = rows.map(r => (d(r._2), r))
      .sortWith((x, y) => x._1 > y._1 || (x._1 == y._1 && x._2._1 < y._2._1))
      .take(16 * k).map(_._2).toSeq
    (seed, pool)
  }

  /** The i64 dot product over the common prefix of `a` and `b` — the
    * [[graft.functions.DotProductI64]] rule, on the driver. */
  private[ops] def dotLocal(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Exact greedy farthest-first over the pool, driver-side: starting
    * from `seed`, repeatedly add the pool point farthest from its
    * nearest chosen centroid, ties to the lowest vec_id (then pool
    * order) — the rule the classic per-scan farthest-first applies.
    * Each pick only compares against the LAST added centroid (cached
    * running min), so k picks cost O(k·pool), not O(k²·pool). Picked
    * points stay in the pool (their running min drops to 0), which
    * keeps the degenerate all-zero-distance pool well-defined. */
  private[ops] def farthestFirst(seed: Seq[Long],
      pool: Seq[(Long, Seq[Long])], k: Int): Seq[Seq[Long]] = {
    def sqDist(a: Seq[Long], b: Seq[Long]): Long = {
      var acc = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val pts = pool.toIndexedSeq
    val minD = pts.map { case (_, v) => sqDist(v, seed) }.toArray
    var centroids: Seq[Seq[Long]] = Seq(seed)
    while (centroids.size < k && pts.nonEmpty) {
      var best = 0
      var i = 1
      while (i < pts.length) {
        if (minD(i) > minD(best) ||
            (minD(i) == minD(best) && pts(i)._1 < pts(best)._1)) best = i
        i += 1
      }
      val next = pts(best)._2
      centroids = centroids :+ next
      i = 0
      while (i < pts.length) {
        minD(i) = math.min(minD(i), sqDist(pts(i)._2, next))
        i += 1
      }
    }
    centroids
  }

  /** Driver-local Lloyd rounds — the IDENTICAL integer arithmetic as
    * [[lloydDistributed]] under either labelling ([[nearestLabels]]'
    * expression form, [[joinLabels]]' packed-min join form): squared
    * distance `nrm − 2·⟨v,c⟩ + |c|²`
    * with the dot over the common prefix (the [[graft.functions.DotProductI64]]
    * rule), argmin ties to the LOWEST cluster index, per-(cluster,
    * position) i64 sums divided with truncation toward zero (Scala `/`
    * ≡ Spark `div` — the oracle's documented convention), empty
    * clusters keep their previous centroid. ClusteringSpec pins
    * centroid-for-centroid parity against the distributed loop under
    * both labellings. */
  private[ops] def lloydLocal(vecs: Array[Array[Long]],
      init: Seq[Seq[Long]], iters: Int): Seq[Seq[Long]] = {
    var centroids: Array[Array[Long]] = init.map(_.toArray).toArray
    val nrms = vecs.map(v => dotLocal(v, v))
    for (_ <- 1 to iters) {
      val k = centroids.length
      val cnorms = centroids.map(c => dotLocal(c, c))
      // per-cluster, per-position sums and counts (counts per position:
      // bit-exact with the distributed groupBy(cl, pos) on ragged input)
      val dim = vecs.foldLeft(0)((m, v) => math.max(m, v.length))
      val sums = Array.ofDim[Long](k, dim)
      val counts = Array.ofDim[Long](k, dim)
      var vi = 0
      while (vi < vecs.length) {
        val v = vecs(vi)
        val best = nearestLocal(v, nrms(vi), centroids, cnorms)
        var i = 0
        while (i < v.length) {
          sums(best)(i) += v(i)
          counts(best)(i) += 1L
          i += 1
        }
        vi += 1
      }
      centroids = centroids.indices.map { c =>
        // positions with no contributing member exist only when EVERY
        // member is shorter than `dim` at that position — the
        // distributed collect_list simply has no row there, so the
        // local centroid also ends at the last populated position
        val last = counts(c).lastIndexWhere(_ > 0L)
        if (last < 0) centroids(c) // empty cluster keeps its centroid
        else Array.tabulate(last + 1)(i =>
          if (counts(c)(i) > 0L) sums(c)(i) / counts(c)(i) else 0L)
      }.toArray
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Index of the centroid nearest to `v` (squared norm `nrm`) by
    * `nrm − 2·⟨v,c⟩ + |c|²` (`cnorms` the centroids' squared norms), ties
    * to the LOWEST index — [[nearest]]'s argmin, on the driver. */
  private def nearestLocal(v: Array[Long], nrm: Long,
      centroids: Array[Array[Long]], cnorms: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = nrm - 2L * dotLocal(v, centroids(c)) + cnorms(c)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Assign every vector to its final cluster. */
  def kmeansAssign(quantized: DataFrame,
                   centroids: Seq[Seq[Long]]): DataFrame = {
    val s = quantized.sparkSession
    import s.implicits._
    val base = withNrm(quantized)
    base.select($"vec_id", nearest($"qe", $"nrm", centroids).as("cluster"))
  }

  /** Oracle for the registered form: because init (farthest-first over a
    * deterministic pool) and every Lloyd step are fixed-count integer
    * arithmetic, the whole algorithm unrolls into plain SQL — seed, one
    * 16·k pool scan, k−1 greedy picks, `iters` assign/update rounds —
    * over the long (vec_id, pos, v) form. CTEs are MATERIALIZED: the
    * pick/centroid chain references each predecessor 2–3×, and inlining
    * would replicate the base scan ~3^k times. Engine-portability notes:
    * DuckDB `//` floors while Spark `div` truncates, so the centroid
    * update wraps negative sums (embedding values go negative) in an
    * explicit toward-zero CASE; nearest-centroid ties break to the
    * lowest cluster index in both (array_position-first-min ≡
    * ROW_NUMBER ordered by (d, cl)). */
  private def kmeansOracleSql(k: Int, iters: Int, poolMult: Int): String =
    materialized { cte =>
      cte("q",
        """SELECT vec_id,
          |  list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
          |FROM embeddings""".stripMargin)
      cte("ql",
        """SELECT vec_id, CAST(i AS INT) AS pos, qe[i+1] AS v
          |FROM q, UNNEST(range(len(qe))) t(i)""".stripMargin)
      cte("sd", "SELECT qe FROM q ORDER BY vec_id LIMIT 1")
      cte("sl",
        """SELECT CAST(i AS INT) AS pos, qe[i+1] AS v
          |FROM sd, UNNEST(range(len(qe))) t(i)""".stripMargin)
      kmeansChain(cte, k, iters, poolMult)
    }.mkString("WITH ", ",\n", "") +
      "\nSELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM af GROUP BY cl"

  /** The CTEs `emit` writes through its `cte(name, body)` argument, in
    * order, each as `name AS MATERIALIZED (body)`. */
  private def materialized(
      emit: ((String, String) => Unit) => Unit): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    emit((name, body) => ctes += s"$name AS MATERIALIZED ($body)")
    ctes.result()
  }

  /** The k-means CTE chain shared by [[kmeansOracleSql]] and the
    * semantic-dedup oracle: pool seeding, k−1 greedy farthest-first
    * picks, `iters` Lloyd rounds, final assignment `af` (vec_id, cl).
    * Callers must already have emitted `ql` (vec_id, pos, v — the long
    * corpus) and `sl` (pos, v — the lowest-vec_id seed vector). */
  private def kmeansChain(cte: (String, String) => Unit,
                          k: Int, iters: Int, poolMult: Int): Unit = {
    cte("pool",
      s"""SELECT l.vec_id FROM ql l JOIN sl s ON l.pos = s.pos
         |GROUP BY l.vec_id
         |ORDER BY SUM((l.v - s.v)*(l.v - s.v)) DESC, l.vec_id ASC
         |LIMIT ${poolMult * k}""".stripMargin)
    cte("pl", "SELECT l.* FROM ql l JOIN pool USING (vec_id)")
    cte("c0", "SELECT CAST(0 AS INT) AS cl, pos, v FROM sl")
    for (i <- 1 until k) {
      cte(s"pick$i",
        s"""SELECT vec_id FROM (
           |  SELECT vec_id, MIN(d) AS mind FROM (
           |    SELECT p.vec_id, c.cl, SUM((p.v - c.v)*(p.v - c.v)) AS d
           |    FROM pl p JOIN c${i - 1} c ON p.pos = c.pos GROUP BY p.vec_id, c.cl)
           |  GROUP BY vec_id)
           |ORDER BY mind DESC, vec_id ASC LIMIT 1""".stripMargin)
      cte(s"c$i",
        s"""SELECT * FROM c${i - 1} UNION ALL
           |SELECT CAST($i AS INT) AS cl, p.pos, p.v
           |FROM pl p JOIN pick$i USING (vec_id)""".stripMargin)
    }
    cte("k0", s"SELECT * FROM c${k - 1}")
    lloydChain(cte, iters)
  }

  /** The Lloyd half of the oracle chain — `iters` assign/update rounds
    * from an existing centroid table `${p}k0` (cl, pos, v) over the long
    * corpus `${p}ql`, ending in the final assignment `${p}af` (vec_id,
    * cl). k-AGNOSTIC: every round is a table join, so the same SQL
    * serves the unrolled fixed-k chain AND the dynamic-k adaptive
    * oracle whose k is computed from COUNT(*) at run time. The prefix
    * `p` (default "" — all original names unchanged) lets a second
    * chain coexist in one query: the two-level quantizer oracle runs
    * the identical Lloyd over the RESIDUAL corpus under prefix "r". */
  private def lloydChain(cte: (String, String) => Unit, iters: Int,
                         p: String = ""): Unit = {
    for (j <- 1 to iters) {
      cte(s"${p}a$j", nearestSql(s"${p}ql", s"${p}k${j - 1}", "= 1"))
      cte(s"${p}s$j",
        s"""SELECT a.cl, l.pos, CAST(SUM(l.v) AS BIGINT) AS sv,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM ${p}ql l JOIN ${p}a$j a USING (vec_id) GROUP BY a.cl, l.pos""".stripMargin)
      cte(s"${p}k$j",
        s"""SELECT cl, pos,
           |  CASE WHEN sv >= 0 THEN sv // n ELSE -((-sv) // n) END AS v FROM ${p}s$j
           |UNION ALL
           |SELECT * FROM ${p}k${j - 1} WHERE cl NOT IN (SELECT cl FROM ${p}s$j)""".stripMargin)
    }
    cte(s"${p}af", nearestSql(s"${p}ql", s"${p}k$iters", "= 1"))
  }

  /** Each vector of the long corpus `ql` with its nearest centroids of
    * `cents` (cl, pos, v): the ROW_NUMBER over (d, cl) satisfies
    * `rank` ("= 1" for the nearest, ties to the lowest cl). */
  private def nearestSql(ql: String, cents: String, rank: String): String =
    s"""SELECT vec_id, cl FROM (
       |  SELECT l.vec_id, c.cl, SUM((l.v - c.v)*(l.v - c.v)) AS d
       |  FROM $ql l JOIN $cents c ON l.pos = c.pos GROUP BY l.vec_id, c.cl)
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) $rank""".stripMargin

  /** Registered form: k=8, 3 iterations over the embeddings fixture;
    * output is the per-cluster population histogram (compact at any
    * scale). Hash-green against the unrolled-SQL oracle above; the
    * convergence/determinism contract is additionally unit-tested
    * (ClusteringSpec). */
  val kmeansHistogram: QueryDef =
    QueryDef.sql("kmeans_histogram",
      kmeansOracleSql(k = 8, iters = 3, poolMult = 16)) { (s, dir) =>
      kmeansHistogramAt(s, dir, DriverLocal.RowGate)
    }

  /** The `kmeans_histogram` body with the corpus gate as a parameter
    * (specs pin parity on both sides of it). A gate-sized corpus trains
    * AND labels on the driver from the gate collect's rows
    * ([[Similarity.gatedCorpus]]): the final labels are
    * [[nearestLocal]]'s argmin over [[lloydLocal]]'s centroids, and a
    * cluster no vector chose has no row, as under `groupBy`. Past the
    * gate the persisted [[Similarity.quantized]] stage table (norms and
    * parallelism floor included — every Lloyd pass is a compute-bound
    * scan of it) is trained and labelled by distributed passes. */
  private[ops] def kmeansHistogramAt(s: SparkSession, dir: String,
                                     gate: Long): DataFrame = {
    import s.implicits._
    val (k, iters) = (8, 3)
    Similarity.gatedCorpus(s, dir, gate) match {
      case Some(rows) =>
        val vecs = rows.map(_._2.toArray)
        val cs = trainRows(rows, k, iters, lowId = false).map(_.toArray).toArray
        val cnorms = cs.map(c => dotLocal(c, c))
        val sizes = vecs.map(v => nearestLocal(v, dotLocal(v, v), cs, cnorms))
          .groupBy(identity).toSeq
          .map { case (cl, members) => Row(cl, members.length.toLong) }
        s.createDataFrame(java.util.Arrays.asList(sizes: _*), StructType(Seq(
          StructField("cluster", IntegerType), StructField("n_vecs", LongType))))
      case None =>
        val q = Similarity.quantized(s, dir)
        kmeansAssign(q, trainDistributed(q, k, iters, lowId = false))
          .groupBy($"cluster")
          .agg(count(lit(1)).as("n_vecs"))
    }
  }

  /** Oracle for [[semdedupPrune]]: the planted-corpus flat/norms prefix
    * (shared with the projection near-dup family), the k-means chain
    * over it, then exact intra-cluster pairwise cosine and the
    * keep-lowest-id verdict. */
  private def semdedupOracleSql(k: Int, iters: Int, poolMult: Int,
                                tau: String): String =
    semdedupOracle(tau, census = "af") { cte =>
      cte("sl",
        """SELECT CAST(i - 1 AS INT) AS pos, v FROM flat
          |WHERE vec_id = (SELECT MIN(vec_id) FROM flat)""".stripMargin)
      kmeansChain(cte, k, iters, poolMult)
      cte("pairs",
        """SELECT a.vec_id AS va, b.vec_id AS vb
          |FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id""".stripMargin)
    }

  /** The semantic-dedup oracle shared by the three registered forms:
    * the planted-corpus prefix, the long corpus `ql`, then the CTEs of
    * `candidates`, which must end in `pairs` (va, vb), and the shared
    * tail: exact pair dot products (`pdots`), the higher-id side of
    * every pair at cosine ≥ `tau` (`drops`) and the per-cluster census
    * over the assignment CTE `census` (vec_id, cl). */
  private def semdedupOracle(tau: String, census: String)(
      candidates: ((String, String) => Unit) => Unit): String =
    Similarity.plantedOraclePrefix + ",\n" +
      materialized { cte =>
        cte("ql",
          "SELECT vec_id, CAST(i - 1 AS INT) AS pos, v FROM flat")
        candidates(cte)
        cte("pdots",
          """SELECT p.va, p.vb, CAST(SUM(fa.v * fb.v) AS BIGINT) AS dot
            |FROM pairs p
            |JOIN ql fa ON fa.vec_id = p.va
            |JOIN ql fb ON fb.vec_id = p.vb AND fb.pos = fa.pos
            |GROUP BY p.va, p.vb""".stripMargin)
        cte("drops",
          s"""SELECT DISTINCT d.vb AS vec_id
             |FROM pdots d
             |JOIN norms na ON na.vec_id = d.va
             |JOIN norms nb ON nb.vec_id = d.vb
             |WHERE CAST(d.dot AS DOUBLE)
             |  / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE)))
             |  >= $tau""".stripMargin)
      }.mkString(",\n") +
      s"""
        |SELECT a.cl AS cluster,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(COALESCE(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
        |  CAST(COUNT(*) - SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM $census a LEFT JOIN drops dr ON dr.vec_id = a.vec_id
        |GROUP BY a.cl""".stripMargin

  /** The adaptive oracles' `kv` CTE: [[semdedupK]]'s k from COUNT(*). */
  private def semdedupKCte(cte: (String, String) => Unit,
                           targetFloor: Long): Unit =
    cte("kv",
      s"""SELECT GREATEST(8, (n + t - 1) // t) AS k FROM (
         |  SELECT COUNT(*) AS n,
         |    GREATEST($targetFloor,
         |      CAST(CEIL(SQRT(2.0 * COUNT(*))) AS BIGINT)) AS t
         |  FROM norms)""".stripMargin)

  /** Lowest-vec_id init over the long corpus `${p}ql`: `${p}init`
    * (vec_id, cl) numbers the first `kv.k` vec_ids of `norms` — `kv`
    * a one-row CTE, `k` its column — and `${p}k0` (cl, pos, v) holds
    * their vectors, the initial centroids of [[lloydChain]]. */
  private def lowIdInitChain(cte: (String, String) => Unit, kv: String,
                             k: String, p: String = ""): Unit = {
    cte(s"${p}init",
      s"""SELECT vec_id, CAST(rn - 1 AS INT) AS cl FROM (
         |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
         |  FROM norms), $kv
         |WHERE rn <= $kv.$k""".stripMargin)
    cte(s"${p}k0",
      s"SELECT i.cl, l.pos, l.v FROM ${p}ql l JOIN ${p}init i USING (vec_id)")
  }

  /** Cosine threshold above which two same-cluster vectors are semantic
    * duplicates. Planted copies sit at cos ≈ 0.999; the fixture's random
    * unit vectors pair at cos ~ N(0, 1/√64), so 0.90 is ≈ 7σ above the
    * chance tail — the verdict is deterministic in both engines. */
  private val SemdedupTau = "0.90"

  /** Oracle for [[semdedupAdaptive]] — the DYNAMIC-k form: k is not a
    * constant baked into an unrolled CTE chain but `kv`, computed from
    * COUNT(*) by the SAME ⌈n / max(floor, ⌈√(2n)⌉)⌉ arithmetic as
    * [[semdedupK]] (integer ceil-division; `SQRT`/`CEIL` are
    * correctly-rounded IEEE doubles in both engines, so the k the two
    * engines derive is identical at any corpus size — the same
    * replay-the-formula discipline as the adaptive LSH/IVF/geometry
    * oracles). Init is the k lowest vec_ids (ROW_NUMBER ≤ k — the
    * dynamic-k-expressible init, see [[kmeansCentroidsLowId]]), Lloyd is
    * the k-agnostic [[lloydChain]], and candidate generation replays
    * [[kmeansProbeAssign]]'s top-2 multi-probe as ROW_NUMBER ≤ 2 over
    * (d, cl). */
  private def semdedupAdaptiveOracleSql(targetFloor: Long, iters: Int,
                                        tau: String): String =
    semdedupOracle(tau, census = "af") { cte =>
      semdedupKCte(cte, targetFloor)
      lowIdInitChain(cte, "kv", "k")
      lloydChain(cte, iters)
      cte("p2", nearestSql("ql", s"k$iters", "<= 2"))
      cte("pairs",
        """SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          |FROM p2 a JOIN p2 b ON a.cl = b.cl AND a.vec_id < b.vec_id""".stripMargin)
    }

  /** SEMANTIC dedup (SemDeDup-style: cluster the embedding space with
    * k-means, then exact pairwise cosine WITHIN each cluster only;
    * cross-cluster pairs are never considered — the clustering IS the
    * candidate generator): a vector is dropped when a lower-vec_id
    * vector in its cluster is within cosine [[SemdedupTau]]. Runs on
    * the planted corpus (every 37th vector duplicated at cos ≈ 0.999,
    * the same plant as `embedding_neardup_planted`) so the driver's
    * sweep checks the drop verdict on NON-EMPTY output; output is the
    * per-cluster (n_vecs, n_dropped, n_kept) census — compact at any
    * scale.
    *
    * Scale design: the pairwise stage is hash-partitioned by cluster
    * id, so its cost is Σᵢ nᵢ²/2, bounded by k — at 100 TB you grow k
    * with the corpus (k ≈ n / target-cluster-size, e.g. SemDeDup's
    * 50k clusters for 1e9 embeddings) so per-cluster pairwise stays a
    * constant-size block and the whole stage is one shuffle wide.
    * With k fixed at the fixture's 8 the join has only 8 distinct
    * keys — correct but deliberately small-scale; the adaptive-k form
    * is the [[Similarity.adaptiveProjGeometry]] pattern applied to k
    * and is exercised by the stress protocol, not the oracle (the
    * unrolled-CTE oracle's cost is linear in k). Deduplication against
    * an ANN index instead of exact intra-cluster pairs is the
    * `embedding_neardup_*` family. */
  val semdedupPrune: QueryDef = QueryDef.sql(
    "semdedup_prune",
    semdedupOracleSql(k = 8, iters = 3, poolMult = 16, tau = SemdedupTau)) {
    (s, dir) =>
      val q = Similarity.plantedQuantized(s, dir).persist()
      // persisted because the census reads the assignment 3x (both pair
      // sides + the final census join) and caching is the CALLER's job
      // there (round-9 ADVICE; same convention as semdedupAdaptive)
      val asg = kmeansAssign(q, kmeansCentroids(q, k = 8, iters = 3)).persist()
      semdedupCensus(q, asg, SemdedupTau.toDouble)
  }

  /** The pairwise half of semantic dedup, over any (vec_id, qe, nrm) ×
    * (vec_id, cluster) assignment: exact intra-cluster cosine at `tau`,
    * keep-lowest-vec_id verdict, per-cluster census. Hash-partitioned by
    * cluster id — Σᵢ nᵢ²/2 work, so the caller controls cost through k
    * (see [[semdedupK]]).
    *
    * `candAsg` (default: the assignment itself) is the CANDIDATE
    * assignment — pass [[kmeansProbeAssign]]'s top-m multi-probe rows to
    * recover pairs that straddle a Voronoi boundary (the recall-vs-k
    * slope measured in STRESS_r08.md §10.1): a pair is considered when
    * ANY probed cluster is shared, the census still groups by the
    * primary cluster. Pairwise cost scales ×m² worst-case.
    *
    * CACHING IS THE CALLER'S JOB: `asg0` is read 3× (both pair sides +
    * the final census join) and `candAsg` 2×, so pass them persisted
    * when they are expensive (a broadcast-join assignment at large k) —
    * SemdedupScale does. Persisting here would leak a cached frame per
    * call: the census is lazy, and this function has no hook at which
    * the caller has materialized it (round-8 ADVICE). */
  def semdedupCensus(q: DataFrame, asg0: DataFrame, tau: Double,
                     candAsg: Option[DataFrame] = None): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val asg = asg0
    val m = q.join(candAsg.getOrElse(asg), Seq("vec_id"))
    val a = m.select($"cluster", $"vec_id".as("va"), $"qe".as("qa"),
      $"nrm".as("na"))
    val b = m.select($"cluster", $"vec_id".as("vb"), $"qe".as("qb"),
      $"nrm".as("nb"))
    val drops = a.join(b, Seq("cluster"))
      .where($"va" < $"vb" &&
        Kit.dotI64($"qa", $"qb").cast(DoubleType)
          / (sqrt($"na".cast(DoubleType)) * sqrt($"nb".cast(DoubleType)))
          >= tau)
      .select($"vb".as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(1L))
    asg.join(drops, Seq("vec_id"), "left")
      .groupBy($"cluster")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(coalesce($"dropped", lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce($"dropped", lit(0L)))).as("n_kept"))
  }

  // ---------------------------------------------------------------------
  // Large-k forms — the 100 TB shape of semantic dedup
  // ---------------------------------------------------------------------

  /** Corpus-adaptive cluster count: k = max(8, ⌈n / target⌉) with the
    * EFFECTIVE target = max(targetClusterSize, ⌈√(2n)⌉), so both halves
    * of semantic dedup stay balanced at every corpus size:
    *
    *   - intra-cluster pairwise cost ≈ n·target/2 (never the fixed-k
    *     n²/k quadratic),
    *   - assignment cost = n·k = n²/target — with a FIXED target this
    *     is the quadratic half once k = n/target keeps growing
    *     (measured: at n = 10⁶ / k = 977 the census was 11.9 s of a
    *     188 s wall — assignment already dominated, round-8 verdict).
    *
    * Setting target = √(2n) makes both terms n^1.5 (k = √(n/2) — the
    * calculus balance point): at n = 10⁶ the floor kicks in at target
    * 1,415 / k = 708; below n ≈ 524k the caller's floor (default 1,024,
    * SemDeDup's cluster-size regime) wins and the behavior of every
    * prior measurement is unchanged. Past k = 32,768 (n ≈ 2.1·10⁹)
    * [[kmeansAssignJoin]]'s pack bound requires a coarse/fine two-level
    * quantizer instead — scaladoc'd there. The oracle-pinned fixture
    * queries keep small k (the unrolled-CTE oracle is linear in k);
    * this rule is the production path, measured in STRESS_r09.md. */
  def semdedupK(n: Long, targetClusterSize: Long = 1024L): Int = {
    val balanced = math.ceil(math.sqrt(2.0 * n)).toLong
    val target = math.max(targetClusterSize, balanced)
    math.max(8L, (n + target - 1) / target).toInt
  }

  /** Broadcast-join assignment — the large-k form of [[kmeansAssign]].
    * [[nearest]] inlines k literal centroids into ONE Catalyst
    * projection, which is the right shape for k ≤ a few dozen but stops
    * being codegen-friendly (and starts re-evaluating a k-wide array
    * per row) as k grows; here the centroids become a broadcast TABLE,
    * the corpus joins it (n·k rows, each one codegen'd dot product),
    * and the nearest is min(d·S + cl) with S the next power of two ≥ k
    * — ONE long, so the aggregation is a map-side-partial HashAggregate,
    * and ties break to the lowest cluster index exactly as [[nearest]]'s
    * array_position-first-min does (parity spec). min(struct(d, cl))
    * would give the same verdict but CANNOT hash-aggregate (struct
    * buffers aren't mutable-hashmap types) and silently falls to
    * SortAggregate — measured at 500×: one straggler task sorting the
    * 10⁹-row join output for 380+ s, the same trap class as the
    * ObjectHashAggregate fallback threshold. Packing bound: d ≤
    * 64·(2·10⁶)² ≈ 2.6·10¹⁴ for unit-vector quantization, so S ≤ 2¹⁵
    * keeps d·S within int64 → k ≤ 32,768 (a coarse/fine two-level
    * quantizer is the right tool past that, not a wider pack). */
  def kmeansAssignJoin(quantized: DataFrame,
                       centroids: Seq[Seq[Long]]): DataFrame = {
    require(centroids.size <= 32768,
      s"kmeansAssignJoin supports k <= 32768 (got ${centroids.size}); " +
        "use a two-level coarse/fine quantizer beyond that")
    val s = quantized.sparkSession
    import s.implicits._
    val shift = java.lang.Long.highestOneBit(
      math.max(1L, centroids.size.toLong - 1)) << 1
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c, c.map(v => v * v).sum) }
      .toDF("cl", "cqe", "cnrm")
    val base = withNrm(quantized)
    // overflow guard (round-8 ADVICE): the d·S+cl pack is only valid for
    // d ≤ (2⁶³−1−(S−1))/S. Unit-quantized embeddings sit far under that
    // (≈2.6·10¹⁴ vs ≈2.8·10¹⁴ at S=2¹⁵), but non-unit-scaled input would
    // silently overflow and corrupt assignments — raise instead. A
    // negative d can only mean the dot product itself overflowed
    // upstream; same verdict. One codegen'd branch per row.
    val maxD = (Long.MaxValue - (shift - 1)) / shift
    val d = $"nrm" - lit(2L) * Kit.dotI64($"qe", $"cqe") + $"cnrm"
    base.join(broadcast(cdf))
      .select($"vec_id",
        when(d.between(0L, maxD), d * lit(shift) + $"cl")
          .otherwise(raise_error(concat(
            lit(s"kmeansAssignJoin: squared distance outside packable " +
              s"range [0, $maxD] (non-unit-scaled embeddings?): "),
            d.cast("string")))).as("packed"))
      .groupBy($"vec_id")
      .agg(min($"packed").as("p"))
      .select($"vec_id", ($"p" % lit(shift)).cast("int").as("cluster"))
  }

  /** Top-`probes` nearest centroids per vector — multi-probe candidate
    * assignment for [[semdedupCensus]] (the IVF `nprobe` idea applied to
    * semantic dedup): a near-duplicate pair straddling a Voronoi
    * boundary is invisible to single-assignment candidate generation,
    * but both sides' top-2 probe sets almost surely intersect. Same
    * broadcast-join shape as [[kmeansAssignJoin]]; the ranking is a
    * [[graft.functions.CosTopK]] aggregation (score = −d, so ties break
    * to the lowest cluster index like everywhere else) — map-side O(m)
    * state per vector, no window sort. Exactness: d ≤ 64·(2·10⁶)² <
    * 2⁵³, so the double-typed score is integer-exact. */
  def kmeansProbeAssign(quantized: DataFrame, centroids: Seq[Seq[Long]],
                        probes: Int): DataFrame =
    probeAssignScored(quantized, centroids, probes).drop("negd")

  /** [[kmeansProbeAssign]] WITH the negated squared distance `negd` of
    * each probed centroid (the CosTopK score it ranks by). */
  private def probeAssignScored(quantized: DataFrame,
                                centroids: Seq[Seq[Long]],
                                probes: Int): DataFrame = {
    val s = quantized.sparkSession
    import s.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c, c.map(v => v * v).sum) }
      .toDF("cl", "cqe", "cnrm")
    val base = withNrm(quantized)
    val scored = base.join(broadcast(cdf))
      .select($"vec_id", $"cl".cast("long").as("cll"),
        (-($"nrm" - lit(2L) * Kit.dotI64($"qe", $"cqe") + $"cnrm"))
          .cast(DoubleType).as("negd"))
    Kit.topKRows(scored, "vec_id", $"negd", $"cll", probes)
      .select($"vec_id", $"t.cid".cast("int").as("cluster"),
        $"t.cos".as("negd"))
  }

  /** The distributed Lloyd loop of [[train]]: `iters` assign/update
    * rounds from an arbitrary initial centroid set (the Spark mirror of
    * the oracle's [[lloydChain]]). `label` gives each vector's cluster
    * as (cl, qe) rows; then ONE narrow shuffle: (cluster, pos, value)
    * partial-sums map-side to ≤ k·dim rows per partition before moving.
    * Exact-integer updates; empty clusters keep their previous
    * centroid. Package-visible so ClusteringSpec can pin parity with
    * [[lloydLocal]] under both labellings. */
  private[ops] def lloydDistributed(base: DataFrame, init: Seq[Seq[Long]],
      iters: Int)(label: (DataFrame, Seq[Seq[Long]]) => DataFrame)
      : Seq[Seq[Long]] = {
    val s = base.sparkSession
    import s.implicits._
    var centroids = init
    for (_ <- 1 to iters) {
      val sums = label(base, centroids)
        .select($"cl", posexplode($"qe").as(Seq("pos", "v")))
        .groupBy($"cl", $"pos")
        .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
        // `div` is exact integer division — `/` on two longs is DOUBLE
        // division then truncation, which rounds for |sv| > 2^53 and
        // would break the all-integer determinism contract above
        .groupBy($"cl")
        .agg(array_sort(collect_list(struct($"pos",
          expr("sv div n").as("cv")))).as("vec"))
        .select($"cl", expr("transform(vec, x -> x.cv)").as("centroid"))
        .as[(Int, Seq[Long])].collect().toMap
      centroids = centroids.indices.map(i => sums.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** [[lloydDistributed]]'s labelling for [[kmeansCentroids]]: the k
    * literal distances of [[nearest]] in one projection, no shuffle. */
  private[ops] def nearestLabels(base: DataFrame,
                                 centroids: Seq[Seq[Long]]): DataFrame =
    base.select(nearest(col("qe"), col("nrm"), centroids).as("cl"),
      col("qe"))

  /** [[lloydDistributed]]'s labelling for [[kmeansCentroidsLowId]]:
    * [[kmeansAssignJoin]]'s broadcast-table assignment joined back to
    * the vectors — the large-k form (same clusters, ties included). */
  private[ops] def joinLabels(base: DataFrame,
                              centroids: Seq[Seq[Long]]): DataFrame =
    kmeansAssignJoin(base, centroids)
      .join(base.select(col("vec_id"), col("qe")), Seq("vec_id"))
      .select(col("cluster").as("cl"), col("qe"))

  /** Oracle for [[semdedupTwoLevel]]: the adaptive k-formula (shared
    * arithmetic with [[semdedupAdaptiveOracleSql]]) split into K1 =
    * ⌈√k⌉ coarse × K2 = ⌈k/K1⌉ fine cells; the coarse Lloyd runs over
    * `ql`, the fine Lloyd runs the IDENTICAL chain (prefix "r") over
    * the integer RESIDUAL corpus `rql` (v − coarse-centroid component —
    * exact int64 in both engines), and the census cell is
    * coarse·K2 + fine. */
  private def semdedupTwoLevelOracleSql(targetFloor: Long, iters: Int,
                                        tau: String): String =
    semdedupOracle(tau, census = "cellaf") { cte =>
      semdedupKCte(cte, targetFloor)
      cte("kv2",
        """SELECT k, k1, (k + k1 - 1) // k1 AS k2 FROM (
          |  SELECT k, CAST(CEIL(SQRT(k)) AS BIGINT) AS k1 FROM kv)""".stripMargin)
      lowIdInitChain(cte, "kv2", "k1")
      lloydChain(cte, iters)
      cte("rql",
        s"""SELECT l.vec_id, l.pos, l.v - c.v AS v
           |FROM ql l
           |JOIN af a USING (vec_id)
           |JOIN k$iters c ON c.cl = a.cl AND c.pos = l.pos""".stripMargin)
      lowIdInitChain(cte, "kv2", "k2", p = "r")
      lloydChain(cte, iters, p = "r")
      cte("cellaf",
        """SELECT a1.vec_id, CAST(a1.cl * kv2.k2 + a2.cl AS INT) AS cl
          |FROM af a1 JOIN raf a2 USING (vec_id), kv2""".stripMargin)
      cte("pairs",
        """SELECT a.vec_id AS va, b.vec_id AS vb
          |FROM cellaf a JOIN cellaf b ON a.cl = b.cl AND a.vec_id < b.vec_id""".stripMargin)
    }

  /** The PRODUCTION form of semantic dedup, oracle-checked at fixture
    * scale (round-8 verdict #5): everything the 100 TB scale story
    * rests on is in the registered plan — `semdedupK`'s self-balancing
    * k-formula (replayed from COUNT(*) by the oracle, not pinned),
    * [[kmeansAssignJoin]]'s broadcast-table packed-long assignment,
    * [[kmeansProbeAssign]]'s top-2 multi-probe candidate generation
    * (the probe-2 recall path measured at 98–100% across four decades),
    * and the intra-cluster-only pairwise census. `targetFloor = 64`
    * (not the production 1,024) so the √(2n) branch and a k well past
    * the fixture's pinned 8 are BOTH exercised at sf0.01 (n ≈ 2.1k →
    * k = 32) and sf0.1 (n ≈ 20.5k → k = 101); [[semdedupPrune]] remains
    * the k=8 farthest-first-init baseline. Runs on the planted corpus
    * so the drop verdict is non-empty. */
  val semdedupAdaptive: QueryDef = QueryDef.sql(
    "semdedup_adaptive",
    semdedupAdaptiveOracleSql(targetFloor = 64L, iters = 3,
      tau = SemdedupTau)) { (s, dir) =>
    val q = Similarity.plantedQuantized(s, dir).persist()
    val corpus = new TrainSet(q)
    val cs = corpus.train(semdedupK(corpus.n, targetClusterSize = 64L),
      iters = 3, lowId = true)
    val asg = kmeansAssignJoin(q, cs).persist()
    val cand = kmeansProbeAssign(q, cs, 2).persist()
    semdedupCensus(q, asg, SemdedupTau.toDouble, candAsg = Some(cand))
  }

  // ---------------------------------------------------------------------
  // Coarse/fine two-level quantizer — past the single-level pack bound
  // ---------------------------------------------------------------------

  /** Split a cell budget into the two-level factors: K1 = ⌈√k⌉ coarse,
    * K2 = ⌈k/K1⌉ fine — each within [[kmeansAssignJoin]]'s 32,768 pack
    * bound up to k ≈ 10⁹ cells, i.e. corpora of ~10¹² vectors at the
    * √(2n) balance where the flat quantizer stops at n ≈ 2.1·10⁹. */
  def twoLevelSplit(k: Int): (Int, Int) = {
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = (k + k1 - 1) / k1
    require(k1 <= 32768 && k2 <= 32768,
      s"two-level split $k1 x $k2 exceeds the per-level pack bound; " +
        "k <= ~1e9 cells supported")
    (k1, k2)
  }

  /** Train both levels at (K1, K2): coarse Lloyd over the corpus, fine
    * Lloyd over the RESIDUALS (IVF-with-residual-codebook shape — the
    * fine codebook is GLOBAL, not per-cell, so training is two ordinary
    * k-means runs instead of K1 independent ones). Lowest-id init at
    * both levels keeps the whole thing dynamic-k oracle-expressible (see
    * [[kmeansCentroidsLowId]]). Also returns the persisted
    * [[coarseResiduals]] the fine level trained on, so the cell
    * assignment ([[cellsOf]]) reads that frame instead of rebuilding it.
    * The caller unpersists it. */
  private def trainLevels(corpus: TrainSet, k1: Int, k2: Int, iters: Int)
      : (Seq[Seq[Long]], Seq[Seq[Long]], DataFrame) = {
    require(k1 <= 32768 && k2 <= 32768,
      s"two-level split $k1 x $k2 exceeds the per-level pack bound")
    val cs1 = corpus.train(k1, iters, lowId = true)
    val r = coarseResiduals(corpus.q, cs1)
    val cs2 = try kmeansCentroidsLowId(r, k2, iters)
      catch { case e: Throwable => r.unpersist(); throw e }
    (cs1, cs2, r)
  }

  /** The residual corpus: each vector minus its nearest coarse centroid
    * ([[kmeansAssignJoin]]), with the coarse cell carried alongside —
    * exact int64 subtraction (`zip_with`), so the fine level trains and
    * assigns in the same integer-deterministic domain as the coarse.
    * Residual magnitudes stay far inside the pack-guard bound for
    * unit-quantized input: |r|² ≤ d(q, nearest coarse) ≤ 4·10¹², so fine
    * distances are ≤ ~1.6·10¹³ vs the 2.8·10¹⁴ guard. Persisted as a
    * stage table: the fine level trains on it and the cell assignment
    * references it twice (coarse carry + fine assignment) — the repo's
    * harness-clearCache() convention, same as the BandJoin stage
    * tables. */
  private def coarseResiduals(q: DataFrame, cs1: Seq[Seq[Long]]): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val cdf = cs1.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("coarse", "cqe")
    kmeansAssignJoin(q, cs1).withColumnRenamed("cluster", "coarse")
      .join(q.select($"vec_id", $"qe"), Seq("vec_id"))
      .join(broadcast(cdf), Seq("coarse"))
      .select($"vec_id", $"coarse",
        expr("zip_with(qe, cqe, (a, b) -> a - b)").as("qe"))
      .withColumn("nrm", Kit.dotI64($"qe", $"qe"))
      .persist()
  }

  /** Single two-level cell assignment (vec_id, cluster = coarse·K2 +
    * fine) over built [[coarseResiduals]] — both levels broadcast-join
    * packed-long assignments. */
  private def cellsOf(r: DataFrame, cs2: Seq[Seq[Long]]): DataFrame = {
    val s = r.sparkSession
    import s.implicits._
    val k2 = cs2.size
    r.select($"vec_id", $"coarse")
      .join(kmeansAssignJoin(r, cs2).withColumnRenamed("cluster", "fine"),
        Seq("vec_id"))
      .select($"vec_id",
        ($"coarse" * k2 + $"fine").cast("int").as("cluster"))
  }

  /** Train + single assignment over a fresh [[TrainSet]] — exactly the
    * `semdedup_twolevel` body's assignment, for specs that pin its
    * cells. */
  private[ops] def semdedupTwoLevelAssign(q: DataFrame, k: Int,
                             iters: Int): DataFrame =
    twoLevelAssign(new TrainSet(q), k, iters)

  /** [[semdedupTwoLevelAssign]] over a [[TrainSet]]. */
  private def twoLevelAssign(corpus: TrainSet, k: Int,
                             iters: Int): DataFrame = {
    val (k1, k2) = twoLevelSplit(k)
    val (_, cs2, r) = trainLevels(corpus, k1, k2, iters)
    cellsOf(r, cs2)
  }

  /** Semantic dedup through the TWO-LEVEL quantizer, oracle-checked:
    * the documented escape hatch past [[kmeansAssignJoin]]'s k ≤ 32,768
    * pack bound, registered so the mechanism itself is verified rather
    * than only scaladoc'd. Same adaptive k-formula as
    * [[semdedupAdaptive]] (the oracle replays k, K1 = ⌈√k⌉, K2 =
    * ⌈k/K1⌉ from COUNT(*)); cells = coarse·K2 + fine. Single
    * assignment, no probing — multi-probe composes at either level but
    * the registered form pins the base mechanism; boundary-pair recall
    * at scale is the probed flat form's job (STRESS_r09.md §2). */
  val semdedupTwoLevel: QueryDef = QueryDef.sql(
    "semdedup_twolevel",
    semdedupTwoLevelOracleSql(targetFloor = 64L, iters = 3,
      tau = SemdedupTau)) { (s, dir) =>
    val q = Similarity.plantedQuantized(s, dir).persist()
    val corpus = new TrainSet(q)
    val asg = twoLevelAssign(corpus,
      semdedupK(corpus.n, targetClusterSize = 64L), iters = 3).persist()
    semdedupCensus(q, asg, SemdedupTau.toDouble)
  }

  val all: Seq[QueryDef] =
    Seq(kmeansHistogram, semdedupPrune, semdedupAdaptive, semdedupTwoLevel)
}
