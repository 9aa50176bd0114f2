package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** The gate-sized vector queries finish on the driver from their one
  * corpus collect. Each pins (1) the job budget of a run — the gate
  * collect while the query builds, then the sink's write of the local
  * relation — and (2) row parity between the driver finish and the
  * distributed plan on either side of the gate (`n = gate` finishes on
  * the driver, `n = gate + 1` runs the distributed plan), and for
  * `ann_auto_topk` at the exact/IVF boundary n = 784 / 785. */
class VectorLocalFinishSpec extends SparkTestBase {
  import spark.implicits._

  /** A fixture dir whose one-file `embeddings` table holds `n` seeded
    * random unit vectors of dim 64 (vec_id 0 until n), the fixture
    * schema. */
  private def corpusOf(n: Int): String = {
    val rng = new scala.util.Random(n)
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, i % 10)
    }
    val d = tmpDir(s"emb-$n")
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val dir = corpusOf(500)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def local(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectLeaves()
      .forall(_.nodeName == "LocalTableScan")

  private val bodies: Seq[(String, (String, Long) => DataFrame)] = Seq(
    "pq_topk" -> ((d, g) => Pq.pqTopkAt(spark, d, g)),
    "ann_auto_topk" -> ((d, g) => AnnRouter.annAutoTopkAt(spark, d, g)),
    "kmeans_histogram" -> ((d, g) => Clustering.kmeansHistogramAt(spark, d, g)))

  for ((name, _) <- bodies)
    test(s"$name starts one job to build and one to write") {
      val q = graft.SparkEntry.defs.find(_.name == name).get
      // the table's first load infers its parquet schema with a job of
      // its own, once per JVM: not part of a run
      graft.sources.Tables.load(spark, dir, "embeddings")
      try {
        val (df, built) = jobsDuring(q.fn(spark, dir))
        assert(built == 1, s"$built job(s) while $name builds")
        assert(local(df), df.queryExecution.executedPlan.toString)
        val (_, written) =
          jobsDuring(df.write.format("noop").mode("overwrite").save())
        assert(written == 1, s"$written job(s) while $name writes")
      } finally spark.catalog.clearCache()
    }

  for ((name, at) <- bodies)
    test(s"$name: the driver finish at n = gate equals the plan at n = gate + 1") {
      try {
        val atGate = at(dir, 500L)
        val past = at(dir, 499L)
        assert(local(atGate))
        assert(!local(past), past.queryExecution.executedPlan.toString)
        assert(rows(atGate).nonEmpty)
        assert(rows(atGate) == rows(past))
      } finally spark.catalog.clearCache()
    }

  test("ann_auto_topk at n = 784 is the exact branch, finished on the driver") {
    val d = corpusOf(784)
    try {
      val routed = AnnRouter.annAutoTopkAt(spark, d, DriverLocal.RowGate)
      assert(local(routed))
      val exact = rows(Similarity.exactTopkFrom(Similarity.quantized(spark, d), 5))
      assert(exact.nonEmpty)
      assert(rows(routed) == exact)
      // the same corpus one past the gate: counted, then the exact plan
      assert(rows(AnnRouter.annAutoTopkAt(spark, d, 783L)) == exact)
    } finally spark.catalog.clearCache()
  }

  test("ann_auto_topk at n = 785 runs IVF at the collect's n, with no count") {
    val d = corpusOf(785)
    try {
      val (routed, built) = jobsDuring(
        AnnRouter.annAutoTopkAt(spark, d, DriverLocal.RowGate))
      val ivf = rows(Similarity.ivfTopkFrom(Similarity.quantized(spark, d), 785L))
      assert(ivf.nonEmpty)
      assert(rows(routed) == ivf)
      assert(rows(AnnRouter.annAutoTopkAt(spark, d, 784L)) == ivf)
      // the IVF plan's own build-time jobs (centroid collect) follow the
      // gate collect; the count the past-gate branch adds does not
      val (_, pastGate) = jobsDuring(AnnRouter.annAutoTopkAt(spark, d, 784L))
      assert(built < pastGate, s"$built job(s) at the gate vs $pastGate past it")
    } finally spark.catalog.clearCache()
  }

  test("the driver-side top-k keeps CosTopK's order: score DESC, NaN first, id ASC") {
    val ids = Array(0L, 3L, 1L, 2L, 4L)
    val score = Array(0.0, 0.5, Double.NaN, 0.5, -0.0)
    val top = Similarity.topkLocal(ids, 3)((_, c) => score(c))
    assert(top.map(t => (t._1, t._2)) == Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    // the aggregate's own heap agrees
    val agg = ids.indices.filter(_ > 0).map(c => (0L, ids(c), score(c)))
      .toDF("qid", "cid", "s")
    val viaSpark = graft.functions.Kit.topKRows(agg, "qid", col("s"), col("cid"), 3)
      .select(col("t.cid")).collect().map(_.getLong(0)).toSeq
    assert(viaSpark == top.map(_._2))
  }
}
