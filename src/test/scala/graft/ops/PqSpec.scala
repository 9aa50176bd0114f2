package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Behavioral proof of the PQ family — the oracle harness proves
  * Spark==DuckDB; this proves the quantizer actually quantizes (codes
  * are the true per-subspace argmins), ADC is the sum the LUT promises,
  * and the IVF-PQ-rerank pipeline's outputs are EXACT cosines whose
  * recall against the brute-force top-5 is pinned, not hoped for. All
  * driver-side reference arithmetic is the same integer math on ≤ 500
  * vectors. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def corpus(): Map[Long, Seq[Long]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("qe"))
      .as[(Long, Seq[Long])].collect().toMap

  private def d2(a: Seq[Long], b: Seq[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  test("geometry formulas: Ks clamps to [16, 256], modulus yields ~Ks entries") {
    assert(Pq.pqKs(100) == 16)      // floor of the clamp
    assert(Pq.pqKs(500) == 23)      // ceil(sqrt(500))
    assert(Pq.pqKs(1000000) == 256) // production saturation: 1 byte/code
    assert(Pq.pqCbm(500) == 22)
    // sampled ids 0, 22, ..., 484 -> 23 entries = Ks
    assert((0L until 500L).count(_ % Pq.pqCbm(500) == 0) == Pq.pqKs(500))
  }

  test("the codebook sampled from collected rows is the distributed one, in order") {
    val vecs = corpus()
    // shuffled rows over several partitions: the rank by vec_id must not
    // depend on arrival order on either side
    val rows = scala.util.Random.shuffle(vecs.toSeq)
    val base = rows.toDF("vec_id", "qe").repartition(5)
    for (cbm <- Seq(1L, Pq.pqCbm(vecs.size), 7L)) {
      val dist = Pq.sampledCodebook(base, cbm)
      assert(Pq.codebookOf(rows.toArray, cbm) == dist, s"cbm = $cbm")
      assert(dist == vecs.toSeq.filter(_._1 % cbm == 0).sortBy(_._1).map(_._2))
    }
  }

  test("codes are the true per-subspace argmins (ties to lowest j)") {
    val vecs = corpus()
    val base = vecs.toSeq.toDF("vec_id", "qe")
    val cb = Pq.sampledCodebook(base, Pq.pqCbm(vecs.size))
    val codes = Pq.encode(base, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == vecs.size)
    for ((vid, v) <- vecs.toSeq.sortBy(_._1).take(25); m <- 0 until Pq.M) {
      val sub = v.slice(m * Pq.Ds, (m + 1) * Pq.Ds)
      val dists = cb.map(c => d2(sub, c.slice(m * Pq.Ds, (m + 1) * Pq.Ds)))
      val expected = dists.zipWithIndex.minBy { case (d, j) => (d, j) }._2
      assert(codes(vid)(m) == expected, s"vec $vid subspace $m")
    }
  }

  test("pq_topk ADC distances equal the codebook-reconstruction sum exactly") {
    val vecs = corpus()
    val base = vecs.toSeq.toDF("vec_id", "qe")
    val cb = Pq.sampledCodebook(base, Pq.pqCbm(vecs.size))
    val codes = Pq.encode(base, cb).as[(Long, Seq[Int])].collect().toMap
    val out = graft.SparkEntry.defs.find(_.name == "pq_topk").get
      .fn(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    for ((qid, cid, adc) <- out.take(50)) {
      val expected = (0 until Pq.M).map { m =>
        val qsub = vecs(qid).slice(m * Pq.Ds, (m + 1) * Pq.Ds)
        val csub = cb(codes(cid)(m)).slice(m * Pq.Ds, (m + 1) * Pq.Ds)
        d2(qsub, csub)
      }.sum
      assert(adc == expected, s"($qid, $cid)")
    }
  }

  test("ivfpq_rerank_topk emits exact cosines with pinned recall vs brute force") {
    val vecs = corpus()
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(d2(a, Seq.fill(a.length)(0L)).toDouble) *
        math.sqrt(d2(b, Seq.fill(b.length)(0L)).toDouble))
    }
    val out = graft.SparkEntry.defs.find(_.name == "ivfpq_rerank_topk").get
      .fn(spark, dir)
      .as[(Long, Long, Long)].collect()
    val qids = vecs.keys.filter(_ % 25 == 0).toSeq.sorted
    assert(out.map(_._1).toSet == qids.toSet)
    // 3. re-rank is EXACT: every emitted score is the true cosine
    for ((qid, cid, q6) <- out)
      assert(q6 == math.floor(cos(vecs(qid), vecs(cid)) * 1e6).toLong,
        s"($qid, $cid)")
    // recall@5 vs the brute-force top-5 (excluding self), pinned at the
    // fixture's measured value — a probe/codebook regression that drops
    // candidates fails this before any stress run would see it. The
    // fixture number decomposes as: the IVF probe-2-of-22-sampled-cells
    // candidate set holds 0.32 of the truth at n = 500 (the same
    // geometry ivf_topk runs; general top-5 neighbors scatter across
    // arbitrary cells at this size), and the ADC shortlist + exact
    // re-rank preserve 75% of that ceiling (0.24 absolute). Planted-
    // pair recall at real decades is the STRESS_r09 measurement.
    val hits = qids.map { qid =>
      val truth = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (cos(vecs(qid), v), id) }
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
      (out.filter(_._1 == qid).map(_._2).toSet & truth).size
    }.sum
    val recall = hits.toDouble / (qids.size * 5)
    assert(recall >= 0.20, f"recall@5 = $recall%.3f")
  }

  test("pq_ingest_dedup: every near-plant flags its own source, every novel plant passes") {
    val vecs = corpus()
    val out = graft.SparkEntry.defs.find(_.name == "pq_ingest_dedup").get
      .fn(spark, dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(3))).toSeq
    val off = 1000000L // fixture max id ≪ 10⁶
    val nearIds = vecs.keys.filter(_ % 37 == 0).map(_ + off).toSet
    val freshIds = vecs.keys.filter(_ % 41 == 0).map(_ + 2 * off).toSet
    // verdict covers the arrival batch exactly, one row each
    assert(out.map(_._1).toSet == nearIds ++ freshIds)
    assert(out.size == nearIds.size + freshIds.size)
    val byId = out.map(t => t._1 -> t).toMap
    // RECALL: the +5000-on-every-7th-dim perturbation keeps cos ≈ 0.999,
    // and the probe-2 + ADC-shortlist-4 pipeline recovers each plant's
    // own source — 100% at the fixture, with dup_of exact, not just
    // "some dup". A probe/codebook/shortlist regression that loses true
    // near-dups fails here before any stress run would see it.
    for (id <- nearIds) {
      val (_, dupOf, isNew) = byId(id)
      assert(!isNew, s"near-plant $id escaped as new")
      assert(dupOf.contains(id - off), s"near-plant $id matched $dupOf")
    }
    // PRECISION on the novel class: +800000 on every 2nd dim leaves
    // cos ≈ 0.2 against everything — none may be flagged.
    for (id <- freshIds) {
      val (_, dupOf, isNew) = byId(id)
      assert(isNew && dupOf.isEmpty, s"novel plant $id flagged as dup")
    }
  }

  test("adcShortlistCoded chunked query broadcast is bit-identical to one shot") {
    // The >AdcQueryChunkBound guard path never fires at test scale, so
    // force it: a chunk bound of 7 splits the ~20-query frame into 3
    // qid-mod slices, each broadcast-joined independently. Per-qid top-r
    // is independent across qids, so the union must equal the single
    // shot EXACTLY — the graceful-degradation contract of the round-11
    // ADVICE fix.
    val base = Similarity.quantized(spark, dir)
    val n = base.count()
    val (assign, probes) = Similarity.ivfAssignProbes(
      base, base.where($"vec_id" % 25 === 0), Similarity.ivfModulus(n), 2)
    val cb = Pq.sampledCodebook(base, Pq.pqCbm(n))
    val cand = probes.join(Pq.codedAssign(assign, base, cb), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"codes")
      .persist()
    try {
      val queries = base.where($"vec_id" % 25 === 0)
      def rows(bound: Long): Set[(Long, Long)] =
        Pq.adcShortlistCoded(cand, queries, cb, 20, chunkBound = bound)
          .as[(Long, Long)].collect().toSet
      val single = rows(Long.MaxValue)
      val chunked = rows(7L)
      assert(single.nonEmpty)
      assert(chunked == single,
        s"chunked shortlist diverged: ${chunked.size} vs ${single.size} rows")
    } finally { cand.unpersist(); () }
  }
}
