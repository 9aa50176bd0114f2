package graft.ops

import graft.SparkTestBase

/** The router's value is dispatch correctness: the registered query must
  * BE the chosen branch (same rows, not same-ish), the thresholds in the
  * Scala dial and the oracle's gating predicates must be the same
  * numbers, and the boundaries must land where the cost model says.
  * Branch internals are pinned by their own suites (PqSpec,
  * SimilarityPlantedSpec) and the oracle harness. */
class AnnRouterSpec extends SparkTestBase {

  test("choose() lands the cost-model boundaries exactly") {
    assert(AnnRouter.choose(1) == "exact")
    assert(AnnRouter.choose(AnnRouter.T1) == "exact")      // 784: last exact
    assert(AnnRouter.choose(AnnRouter.T1 + 1) == "ivf")    // 785: first IVF
    assert(AnnRouter.choose(AnnRouter.T2) == "ivf")        // 500k: last IVF
    assert(AnnRouter.choose(AnnRouter.T2 + 1) == "ivfpq")  // first IVF-PQ
    assert(AnnRouter.choose(2000000) == "ivfpq")           // the measured decade
  }

  test("oracle gating predicates carry the same thresholds as the dial") {
    val sql = AnnRouter.annAutoTopk.oracle.get
    assert(sql.contains(s"<= ${AnnRouter.T1}"))
    assert(sql.contains(s"> ${AnnRouter.T1}"))
    assert(sql.contains(s"<= ${AnnRouter.T2}"))
    assert(sql.contains(s"> ${AnnRouter.T2}"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("sf0.001 (n=500) dispatches to exact and IS the exact branch") {
    val dir = "/root/testdata/sf0.001"
    val base = Similarity.quantized(spark, dir)
    try {
      assert(AnnRouter.choose(base.count()) == "exact")
      val routed = rows(AnnRouter.annAutoTopk.fn(spark, dir))
      assert(routed == rows(Similarity.exactTopkFrom(base, 5)))
      assert(routed.nonEmpty)
    } finally spark.catalog.clearCache()
  }

  test("sf0.1 (n=2000) dispatches to IVF and IS the IVF branch") {
    val dir = "/root/testdata/sf0.1"
    val base = Similarity.quantized(spark, dir)
    try {
      val n = base.count()
      assert(AnnRouter.choose(n) == "ivf")
      val routed = rows(AnnRouter.annAutoTopk.fn(spark, dir))
      assert(routed == rows(Similarity.ivfTopkFrom(base, n)))
      assert(routed.nonEmpty)
    } finally spark.catalog.clearCache()
  }
}
