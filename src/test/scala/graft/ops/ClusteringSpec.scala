package graft.ops

import graft.SparkTestBase

/** K-means contract: planted clusters are recovered, results are
  * deterministic, and determinism survives repartitioning (the integer-
  * sum centroid update is order-independent; a double-average would
  * fail the repartition case). */
class ClusteringSpec extends SparkTestBase {
  import spark.implicits._

  // three well-separated planted clusters around (0,0), (1000,0), (0,1000)
  private def planted = {
    val pts =
      (0 until 20).map(i => (i.toLong, Seq(0L + i % 3, 0L + (i % 5)))) ++
      (20 until 40).map(i => (i.toLong, Seq(1000L + i % 3, 0L + (i % 5)))) ++
      (40 until 60).map(i => (i.toLong, Seq(0L + i % 3, 1000L + (i % 5))))
    pts.toDF("vec_id", "qe")
  }

  test("planted clusters are recovered exactly") {
    val cents = Clustering.kmeansCentroids(planted, k = 3, iters = 5)
    val assign = Clustering.kmeansAssign(planted, cents)
      .as[(Long, Int)].collect().toMap
    // every planted group lands in one cluster, and the groups differ
    val g0 = (0L until 20L).map(assign).toSet
    val g1 = (20L until 40L).map(assign).toSet
    val g2 = (40L until 60L).map(assign).toSet
    assert(g0.size == 1 && g1.size == 1 && g2.size == 1)
    assert(Set(g0.head, g1.head, g2.head).size == 3)
  }

  test("centroids are identical across runs and across repartitioning") {
    val a = Clustering.kmeansCentroids(planted, k = 3, iters = 4)
    val b = Clustering.kmeansCentroids(planted, k = 3, iters = 4)
    val c = Clustering.kmeansCentroids(planted.repartition(7), k = 3, iters = 4)
    assert(a == b)
    assert(a == c, "centroid update is not order-independent")
  }

  test("driver-local Lloyd rounds are centroid-identical to distributed") {
    // the r12 LocalTrainGate routes gate-sized corpora to lloydLocal;
    // its rounds must be BIT-equal to the distributed loop from the
    // same init under BOTH labellings (the join form of
    // kmeansCentroidsLowId, the expression form of kmeansCentroids) —
    // including a deliberately empty cluster (the far sentinel init)
    // and a ragged tie landscape
    val base = planted
      .withColumn("nrm", graft.functions.Kit.dotI64(
        org.apache.spark.sql.functions.col("qe"),
        org.apache.spark.sql.functions.col("qe")))
      .persist()
    val init = Seq(Seq(0L, 0L), Seq(900L, 50L), Seq(50L, 900L),
      Seq(100000L, 100000L)) // 4th centroid owns nothing
    val local = Clustering.lloydLocal(
      base.select("qe").as[Seq[Long]].collect().map(_.toArray),
      init, iters = 4)
    for ((name, label) <- Seq(
        "join" -> (Clustering.joinLabels _),
        "expression" -> (Clustering.nearestLabels _))) {
      val dist = Clustering.lloydDistributed(base, init, iters = 4)(label)
      assert(local == dist, name)
    }
    base.unpersist()
    assert(local(3) == Seq(100000L, 100000L)) // empty cluster kept
  }

  test("a gate-sized lowest-id init equals the distributed top-k init on shuffled partitions") {
    // vec_ids arrive out of order across 5 partitions; the driver-side
    // init (no iterations: the trainer returns its init) must pick the
    // same k lowest vec_ids, in the same order, as the distributed
    // orderBy(vec_id).limit(k) — k past the corpus size included
    val n = 23
    val rows = (0 until n).map { i =>
      val id = (i * 7L) % n * 3L + 5L
      (id, Seq(id * 11 % 13, -id, i.toLong))
    }
    val base = rows.toDF("vec_id", "qe").repartition(5)
    for (k <- Seq(1, 4, n, n + 3)) {
      val dist = Clustering.lowIdInit(base, k)
      assert(dist.size == math.min(k, n))
      assert(Clustering.kmeansCentroidsLowId(base, k, iters = 0) == dist,
        s"k = $k")
    }
  }

  test("an empty cluster keeps its previous centroid instead of vanishing") {
    // k=3 over two tight groups: one init centroid ends up owning nothing
    val pts = ((0 until 10).map(i => (i.toLong, Seq(0L, 0L))) ++
      (10 until 20).map(i => (i.toLong, Seq(1000L, 1000L)))).toDF("vec_id", "qe")
    val cents = Clustering.kmeansCentroids(pts, k = 3, iters = 3)
    assert(cents.size == 3)
    assert(cents.distinct.size >= 2) // the two populated clusters converged
  }

  test("driver-side seed and pool equal the distributed ones, ties and ragged vectors included") {
    // vec_id 3 (lowest) seeds at (0, 0); many points sit at EXACTLY the
    // same distance 25 from it — some shorter or longer than the seed
    // (the dot runs over the common prefix) — so the 16·k pool cut and
    // its (d desc, vec_id asc) order fall inside a tie
    val tied = Seq(Seq(3L, 4L), Seq(4L, 3L), Seq(5L), Seq(0L, 5L, 0L),
      Seq(-3L, -4L), Seq(0L, 0L, 5L), Seq(-5L, 0L))
    val far = Seq(Seq(9L, 9L), Seq(-7L, 8L, 1L), Seq(12L))
    val ids = Seq(41L, 17L, 8L, 33L, 25L, 12L, 50L, 29L, 21L, 10L, 44L, 6L)
    val vecs = (0 until 40).map(i =>
      if (i < 30) tied(i % tied.size) else far(i % far.size))
    val rows = (3L, Seq(0L, 0L)) +: ids.indices.map(i => (ids(i), vecs(i))) ++:
      (12 until 40).map(i => (100L + (i * 37) % 53, vecs(i)))
    val base = rows.toDF("vec_id", "qe")
      .withColumn("nrm", graft.functions.Kit.dotI64($"qe", $"qe"))
      .repartition(5)
    for (k <- Seq(1, 2)) {
      val dist = Clustering.seedPoolDistributed(base, k)
      val local = Clustering.seedPoolLocal(rows.reverse.toArray, k)
      assert(local == dist, s"k = $k")
      assert(Clustering.farthestFirst(local._1, local._2, 3) ==
        Clustering.farthestFirst(dist._1, dist._2, 3))
    }
    assert(Clustering.seedPoolLocal(rows.toArray, 1)._1 == Seq(0L, 0L))
  }
}
