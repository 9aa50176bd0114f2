package graft.ops

import graft.SparkTestBase
import graft.pipeline.Warehouse

/** The stored-index query path is row-for-row the fresh IVF-PQ
  * pipeline — the store changes WHERE artifacts come from, never WHAT
  * is computed — and the build records the corpus size and geometry
  * the registered query's rebuild check reads. */
class AnnIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("stored-index topk == fresh ivfpq_rerank_topk, row for row") {
    val idx = AnnIndex(Warehouse(spark, tmpDir("annidx-q")), "emb")
    assert(idx.builtN.isEmpty) // no index yet
    val base = Similarity.quantized(spark, dir)
    val meta = idx.build(base)
    assert(idx.builtN.contains(base.count()) && meta.builtN == base.count())
    // geometry formulas were evaluated at built_n
    assert(meta.ivfModulus == Similarity.ivfModulus(meta.builtN))
    assert(meta.cbm == Pq.pqCbm(meta.builtN))
    val stored = idx.topk(base.where($"vec_id" % 25 === 0), base, k = 5)
      .select($"qid", $"cid", graft.functions.Kit.quantize($"cos", 6).as("cos_q6"))
      .as[(Long, Long, Long)].collect().toSet
    val fresh = Pq.ivfpqRerankTopk.fn(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(stored.nonEmpty)
    assert(stored == fresh)
  }
}
