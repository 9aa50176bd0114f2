package graft

import graft.ops.QueryDef

class BenchSpec extends SparkTestBase {

  test("a good query reads ok") {
    val good = QueryDef("good", (s, _) => s.range(100).toDF("id"), None)
    val t = Bench.time(spark, good, "unused", reps = 1)
    assert(t.status == "ok")
    assert(t.runs.size == 1)
  }

  test("a query that throws at run time reads failed, walls still recorded") {
    val bad = QueryDef("bad",
      (s, _) => s.range(100).selectExpr("raise_error('planted failure') AS x"),
      None)
    val t = Bench.time(spark, bad, "unused", reps = 3)
    assert(t.status.startsWith("failed: "), t.status)
    assert(t.status.contains("planted failure"), t.status)
    assert(t.runs.size == 3)
  }

  test("a query that throws while building its plan reads failed") {
    val boom = QueryDef("boom",
      (_, _) => throw new IllegalStateException("planted\nsecond line"), None)
    assert(Bench.runOnce(spark, boom, "unused").contains("planted"))
    assert(Bench.time(spark, boom, "unused", reps = 1).status ==
      "failed: planted")
  }
}
