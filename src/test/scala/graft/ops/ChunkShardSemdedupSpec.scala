package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Semantics of the round-8 batch-shaping/semantic-dedup additions:
  * chunk windows cover every token with the documented overlap, the
  * shard shuffle is a verified permutation, and semantic dedup drops
  * exactly the planted duplicates. */
class ChunkShardSemdedupSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("chunkdocs")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // -------------------------------------------------------------------
  // doc_chunk_overlap  (W = 32, S = 24)
  // -------------------------------------------------------------------

  test("chunking: short doc is exactly one whole-doc chunk") {
    val dir = writeDocs(Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))))
    val out = Curation.docChunkOverlap.fn(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("chunk_id") === 0L)
    assert(out.head.getAs[Long]("n_tok") === 10L)
    assert(out.head.getAs[String]("chunk") ===
      (1 to 10).map(i => s"t$i").mkString(" "))
  }

  test("chunking: 40-token doc → two chunks overlapping by W−S=8 tokens") {
    val toks = (1 to 40).map(i => s"t$i")
    val dir = writeDocs(Seq((1L, toks.mkString(" "))))
    val out = Curation.docChunkOverlap.fn(spark, dir)
      .orderBy("chunk_id").collect()
    assert(out.length === 2) // ceil((40-32)/24)+1
    assert(out(0).getAs[String]("chunk") === toks.take(32).mkString(" "))
    // chunk 1 starts at token 25 (0-based 24) and runs to the end
    assert(out(1).getAs[String]("chunk") === toks.drop(24).mkString(" "))
    assert(out(1).getAs[Long]("n_tok") === 16L)
  }

  test("chunking laws on the fixture: coverage, width cap, last reaches end") {
    import spark.implicits._
    val chunks = Curation.docChunkOverlap.fn(spark, sfDir)
    // every chunk ≤ W tokens; non-final chunks exactly W
    val perDoc = chunks.groupBy($"doc_id")
      .agg(max($"chunk_id").as("last"), max($"n_tok").as("max_tok"),
        min($"n_tok").as("min_tok"), count(lit(1)).as("n_chunks"))
    assert(perDoc.where($"max_tok" > 32).count() === 0)
    val joined = chunks.join(perDoc, "doc_id")
    assert(joined.where($"chunk_id" < $"last" && $"n_tok" =!= 32)
      .count() === 0)
    // the last chunk reaches the document end: last·S + n_tok_last = n
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select($"doc_id", size(split($"text", " ", -1)).cast("long").as("n"))
    val lastRows = joined.where($"chunk_id" === $"last").join(docs, "doc_id")
    assert(lastRows.where($"last" * 24 + $"n_tok" =!= $"n").count() === 0)
  }

  // -------------------------------------------------------------------
  // shard_shuffle_plan  (16 shards, md5 order)
  // -------------------------------------------------------------------

  test("sharding: conserves docs and tokens, digests are deterministic") {
    import spark.implicits._
    val plan = Curation.shardShufflePlan.fn(spark, sfDir).collect()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    assert(plan.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val totTok = docs
      .agg(sum(size(split($"text", " ", -1)).cast("long"))).as[Long].head()
    assert(plan.map(_.getAs[Long]("tok_sum")).sum === totTok)
    val again = Curation.shardShufflePlan.fn(spark, sfDir).collect()
    assert(plan.map(r => r.getAs[Long]("shard") -> r.getAs[String]("order_digest")).toMap ===
      again.map(r => r.getAs[Long]("shard") -> r.getAs[String]("order_digest")).toMap)
  }

  test("sharding: digest matches a locally computed md5-ordered permutation") {
    val docIds = Seq(3L, 17L, 40L, 55L, 101L, 9999L)
    val dir = writeDocs(docIds.map(id => (id, "a b c")))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // two-level Merkle: run = first 4 hex chars of hx; run digest = md5
    // of comma-joined ids in (hx, id) order; shard digest = md5 of run
    // digests comma-joined in ascending run order
    val expected = docIds
      .map { id =>
        val hx = md5hex(id.toString)
        (java.lang.Long.parseLong(hx.take(13), 16) % 16,
          java.lang.Long.parseLong(hx.take(4), 16), hx, id)
      }
      .groupBy(_._1)
      .map { case (shard, rows) =>
        val runDigests = rows.groupBy(_._2).toSeq.sortBy(_._1).map {
          case (_, rs) =>
            md5hex(rs.sortBy(r => (r._3, r._4)).map(_._4).mkString(","))
        }
        shard -> md5hex(runDigests.mkString(","))
      }
    val got = Curation.shardShufflePlan.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") -> r.getAs[String]("order_digest")).toMap
    assert(got === expected)
  }

  // -------------------------------------------------------------------
  // semdedup_prune
  // -------------------------------------------------------------------

  test("semdedup: drops exactly the planted duplicates, conserves counts") {
    import spark.implicits._
    val out = Clustering.semdedupPrune.fn(spark, sfDir).collect()
    val nVecs = graft.sources.Tables.load(spark, sfDir, "embeddings").count()
    val nPlanted = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" % 37 === 0).count()
    // census conserves the planted corpus
    assert(out.map(_.getAs[Long]("n_vecs")).sum === nVecs + nPlanted)
    out.foreach(r => assert(
      r.getAs[Long]("n_vecs") ===
        r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")))
    // every planted copy (cos ≈ 0.999 to its source) is dropped; the
    // random fixture contributes no pairs at cos ≥ 0.90 (≈7σ), so the
    // drop count is EXACTLY the plant count
    assert(out.map(_.getAs[Long]("n_dropped")).sum === nPlanted)
    spark.catalog.clearCache()
  }

  // -------------------------------------------------------------------
  // large-k forms: broadcast-join assignment / training parity
  // -------------------------------------------------------------------

  private def quantizedFixture() = {
    import spark.implicits._
    graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("qe"))
      .withColumn("nrm", graft.functions.Kit.dotI64($"qe", $"qe"))
      .persist()
  }

  test("join-based k-means: assignment and training match the literal form") {
    val q = quantizedFixture()
    val lit = Clustering.kmeansCentroids(q, k = 8, iters = 3)
    // the distributed loop under the join labelling, from the
    // distributed farthest-first init: the large-k form of the training
    val (seed, pool) = Clustering.seedPoolDistributed(q, 8)
    val jn = Clustering.lloydDistributed(q,
      Clustering.farthestFirst(seed, pool, 8), iters = 3)(Clustering.joinLabels)
    assert(jn === lit) // training parity: identical centroid sequences
    val aLit = Clustering.kmeansAssign(q, lit).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val aJn = Clustering.kmeansAssignJoin(q, lit).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(aJn === aLit) // assignment parity incl. tie-breaks
    spark.catalog.clearCache()
  }

  test("semdedupK self-balances past the target floor (round-8 verdict #3)") {
    // below the crossover (n < ~524k): the caller's floor wins — every
    // prior measurement's k is unchanged
    assert(Clustering.semdedupK(20000) === 20)
    assert(Clustering.semdedupK(200000) === 196)
    // past it the effective target grows as √(2n) → k = ~√(n/2), so
    // assignment (n·k) and pairwise (n·target/2) are BOTH ~n^1.5
    assert(Clustering.semdedupK(1000000) === 707) // target 1,415 not 1,024
    assert(Clustering.semdedupK(2000000) === 1000) // target 2,000
    // balance check: n·k within 2× of n·target/2 at every decade
    for (n <- Seq(1000000L, 4000000L, 16000000L, 64000000L)) {
      val k = Clustering.semdedupK(n).toLong
      val target = (n + k - 1) / k
      assert(k.toDouble / (target / 2.0) < 2.5, s"n=$n k=$k target=$target")
      assert(target.toDouble / 2.0 / k < 2.5, s"n=$n k=$k target=$target")
    }
    // kmeansAssignJoin's pack bound (k ≤ 32,768) holds to n ≈ 2·10⁹ —
    // past that the scaladoc'd coarse/fine quantizer takes over
    assert(Clustering.semdedupK(2000000000L) <= 32768)
  }

  test("adaptive-k semdedup census still drops every planted duplicate") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val n = q.count()
    val k = Clustering.semdedupK(n, targetClusterSize = 64L) // small target → k > 8
    assert(k > 8)
    val cs = Clustering.kmeansCentroids(q, k, iters = 3)
    val census = Clustering
      .semdedupCensus(q, Clustering.kmeansAssignJoin(q, cs), tau = 0.90)
      .collect()
    val nPlanted = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" % 37 === 0).count()
    assert(census.map(_.getAs[Long]("n_vecs")).sum === n)
    // a planted copy is near-identical to its source, so both land in the
    // same cluster at ANY k and the copy is dropped; random vectors never
    // pair at cos ≥ 0.90
    assert(census.map(_.getAs[Long]("n_dropped")).sum === nPlanted)
    spark.catalog.clearCache()
  }

  test("two-level split keeps both factors inside the pack bound to ~1e9 cells") {
    for (k <- Seq(8, 9, 32, 1000, 32768, 40000, 1000000, 999950884)) {
      val (k1, k2) = Clustering.twoLevelSplit(k)
      assert(k1.toLong * k2 >= k, s"k=$k -> $k1 x $k2")
      assert(k1 <= 32768 && k2 <= 32768, s"k=$k -> $k1 x $k2")
    }
    // past ~1e9 cells even two levels can't pack — must refuse loudly
    assertThrows[IllegalArgumentException](
      Clustering.twoLevelSplit(Int.MaxValue))
  }

  test("semdedupK2: the (n/2)^(2/3) two-level balance, snapped to the measured lattice") {
    // round-12 law (STRESS_r12 §5): the (n/2)^(2/3) balance capped by
    // the measured recall-density floor (≥ ~480 vecs/cell), snapped to
    // a power of two — every default sits in the measured-green
    // [480, 960) density band: 2M stays at 64×64, 4M unfreezes to the
    // 128×64 rectangle, 8M steps to 128×128
    assert(Clustering.semdedupK2(1000000) === 2048)
    assert(Clustering.semdedupK2(2000000) === 4096)
    assert(Clustering.semdedupK2(4000000) === 8192)
    assert(Clustering.semdedupK2(8000000) === 16384)
    // density-cap-bound regime (n below ~28M): density lands in the
    // measured-green [480, 960) band; in the balance-bound regime
    // beyond, densities only get safer (larger)
    for (n <- Seq(1000000L, 2000000L, 4000000L, 8000000L)) {
      val d = n.toDouble / Clustering.semdedupK2(n)
      assert(d >= 480 && d < 960, s"density $d out of the measured band at n=$n")
    }
    for (n <- Seq(64000000L, 1000000000L))
      assert(n.toDouble / Clustering.semdedupK2(n) >= 480, s"n=$n")
    // strictly finer than the flat balance wherever both apply — the
    // whole point: census volume divides ∝ 1/k at n·2√k train cost
    for (n <- Seq(1000000L, 4000000L, 64000000L, 1000000000L))
      assert(Clustering.semdedupK2(n) > Clustering.semdedupK(n), s"n=$n")
    // at fixture scale the k >= 8 floor wins (n < 8·480); cells are
    // large, the two-level mechanism still exercised
    val kSmall = Clustering.semdedupK2(2048)
    assert(kSmall === 8 && 2048L / kSmall === 256L)
    // per-level pack bound holds at any n: side clamped to 32,768
    val (k1, k2) = Clustering.latticeSplit(
      Clustering.semdedupK2(Long.MaxValue / 4))
    assert(k1 <= 32768 && k2 <= 32768)
  }

  test("latticeSplit: equal sides at even exponents, coarse-heavy rectangle at odd") {
    assert(Clustering.latticeSplit(4096) === ((64, 64)))
    assert(Clustering.latticeSplit(8192) === ((128, 64)))
    assert(Clustering.latticeSplit(16384) === ((128, 128)))
    assert(Clustering.latticeSplit(32) === ((8, 4)))
    // non-power-of-two budgets must refuse loudly — they belong to
    // twoLevelSplit (the registered query's oracle-replayed ceil-sqrt)
    assertThrows[IllegalArgumentException](Clustering.latticeSplit(6000))
  }

  test("semdedupTwoLevelAuto: the default-lattice production path drops every plant") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val n = q.count()
    val census = Clustering.semdedupTwoLevelAuto(q).collect()
    val nPlanted = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" % 37 === 0).count()
    assert(census.map(_.getAs[Long]("n_vecs")).sum === n)
    // probe-2×2 candidates recover any boundary straddle at this scale:
    // the verdict is exactly the plant count, same as the pinned forms
    assert(census.map(_.getAs[Long]("n_dropped")).sum === nPlanted)
    spark.catalog.clearCache()
  }

  test("two-level semantic dedup drops every planted duplicate, conserves counts") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val n = q.count()
    val asg = Clustering
      .semdedupTwoLevelAssign(q, Clustering.semdedupK(n, 64L), iters = 3)
      .persist()
    // cell ids are a valid coarse·K2+fine packing: within [0, k1·k2)
    val (k1, k2) = Clustering.twoLevelSplit(Clustering.semdedupK(n, 64L))
    val cells = asg.select($"cluster").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < k1 * k2))
    val census = Clustering.semdedupCensus(q, asg, tau = 0.90).collect()
    val nPlanted = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" % 37 === 0).count()
    assert(census.map(_.getAs[Long]("n_vecs")).sum === n)
    // a planted copy's residual is near-identical to its source's, so
    // the pair shares BOTH levels' cells on this fixture and the drop
    // count is exactly the plant count (random vectors never pair at
    // cos ≥ 0.90)
    assert(census.map(_.getAs[Long]("n_dropped")).sum === nPlanted)
    spark.catalog.clearCache()
  }

  test("two-level coarse probing: probe-1 equals the single assignment, " +
    "probe-2 drops a superset") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val n = q.count()
    val (cs1, cs2) = Clustering
      .kmeansTwoLevelTrain(q, Clustering.semdedupK(n, 64L), iters = 3)
    val asg = Clustering.twoLevelCellAssign(q, cs1, cs2).persist()
    // coarse probe-1 re-derives the residual against the SAME (nearest)
    // coarse centroid, so it must reproduce the single assignment exactly
    val p1 = Clustering.twoLevelProbeCellAssign(q, cs1, cs2, 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(p1 === a1)
    val single = Clustering.semdedupCensus(q, asg, tau = 0.90).collect()
    val probed = Clustering.semdedupCensus(q, asg, tau = 0.90,
      candAsg = Some(Clustering.twoLevelProbeCellAssign(q, cs1, cs2, 2)))
      .collect()
    def total(c: Array[org.apache.spark.sql.Row], f: String) =
      c.map(_.getAs[Long](f)).sum
    assert(total(probed, "n_vecs") === total(single, "n_vecs"))
    assert(total(probed, "n_dropped") >= total(single, "n_dropped"))
    spark.catalog.clearCache()
  }

  test("pruned two-level probing: keep=all reproduces the 2x2 ladder; " +
    "keep=2 is a bounded subset that still drops every plant") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val n = q.count()
    val (cs1, cs2) = Clustering
      .kmeansTwoLevelTrain(q, Clustering.semdedupK(n, 64L), iters = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val full = rows(
      Clustering.twoLevelProbeCellAssign(q, cs1, cs2, 2, fineProbes = 2))
    // keep = probes·fineProbes, ratio = ∞ → bit-identical candidates
    assert(rows(Clustering.twoLevelProbeCellAssignPruned(
      q, cs1, cs2, 2, 2, keep = 4)) == full)
    // keep = 2: at most 2 cells per vector, always a subset of the
    // unpruned ladder (pruning can only drop candidates, never invent)
    val pruned = Clustering.twoLevelProbeCellAssignPruned(
      q, cs1, cs2, 2, 2, keep = 2).persist()
    val prs = rows(pruned)
    assert(prs.subsetOf(full))
    assert(prs.groupBy(_._1).forall(_._2.size <= 2))
    // a finite ratio bound prunes further and stays inside keep=2's set
    val ratioed = rows(Clustering.twoLevelProbeCellAssignPruned(
      q, cs1, cs2, 2, 2, keep = 2, ratio = 1.5))
    assert(ratioed.subsetOf(prs))
    // the census over the pruned candidates still catches every plant:
    // a planted copy and its source share their BEST composed cell, so
    // distance-bound pruning cannot separate them on this fixture
    val asg = Clustering.twoLevelCellAssign(q, cs1, cs2).persist()
    val census = Clustering.semdedupCensus(q, asg, tau = 0.90,
      candAsg = Some(pruned)).collect()
    val nPlanted = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .where($"vec_id" % 37 === 0).count()
    assert(census.map(_.getAs[Long]("n_dropped")).sum === nPlanted)
    spark.catalog.clearCache()
  }

  test("multi-probe census: drops a superset of single-assignment drops") {
    import spark.implicits._
    val q = Similarity.plantedQuantized(spark, sfDir).persist()
    val cs = Clustering.kmeansCentroids(q, k = 12, iters = 2)
    val asg = Clustering.kmeansAssignJoin(q, cs)
    def total(c: Array[org.apache.spark.sql.Row], f: String) =
      c.map(_.getAs[Long](f)).sum
    val single = Clustering.semdedupCensus(q, asg, tau = 0.90).collect()
    val probed = Clustering.semdedupCensus(q, asg, tau = 0.90,
      candAsg = Some(Clustering.kmeansProbeAssign(q, cs, 2))).collect()
    // probe sets include the primary cluster, so candidates (and drops)
    // can only grow; the census row count stays the primary partition
    assert(total(probed, "n_vecs") === total(single, "n_vecs"))
    assert(total(probed, "n_dropped") >= total(single, "n_dropped"))
    // top-1 of the probe assignment IS the assignment (tie-parity)
    val p1 = Clustering.kmeansProbeAssign(q, cs, 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = Clustering.kmeansAssignJoin(q, cs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(p1 === a1)
    spark.catalog.clearCache()
  }
}
