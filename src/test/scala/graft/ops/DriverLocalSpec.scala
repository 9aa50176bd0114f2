package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The one bounded-collect gate: the local/distributed decision of
  * `count() <= gate`, taken by a single `limit(gate + 1)` collect that
  * never brings more than `gate + 1` rows to the driver. */
class DriverLocalSpec extends SparkTestBase {
  import spark.implicits._

  private val gate = 5L

  test("gate-1 and gate rows come back whole; gate+1 rows do not") {
    for (n <- Seq(0L, gate - 1, gate)) {
      val got = DriverLocal.rowsUpTo(spark.range(n).as[Long], gate)
      assert(got.map(_.toSeq.sorted) == Some(0L until n), s"n = $n")
    }
    assert(DriverLocal.rowsUpTo(spark.range(gate + 1).as[Long], gate).isEmpty)
    assert(DriverLocal.rowsUpTo(spark.range(1000).toDF(), gate).isEmpty)
  }

  test("no more than gate+1 rows are ever computed for the driver") {
    // one partition whose (gate+2)-th row raises: a count() or a full
    // collect would evaluate it, the gate's limit(gate + 1) never does
    val poisoned = spark.range(0, 1000, 1, 1)
      .select(when($"id" > gate, raise_error(lit("row past gate + 1 computed")))
        .otherwise($"id").as("id"))
    assert(DriverLocal.rowsUpTo(poisoned, gate).isEmpty)
  }

  test("null-bearing gate-sized edges take the distributed label loop") {
    // the union-find needs long endpoints; rows the gate collected with
    // a null endpoint fall back to the distributed loop, which must give
    // exactly what it gives when called directly
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (Some(4L), Some(5L)), (Some(5L), Some(1L))).toDF("a", "b")
    val viaGate = Components.connectedComponents(edges)
      .as[(Option[Long], Long)].collect().toSet
    val direct = Components.ccDistributed(edges)
      .as[(Option[Long], Long)].collect().toSet
    assert(viaGate == direct)
    assert(Set(1L, 2L, 4L, 5L).forall(id => viaGate((Some(id), 1L))))
  }

  test("null-free gate-sized edges resolve on the driver, label-equal") {
    val edges = Seq((1L, 2L), (3L, 2L), (7L, 9L), (9L, 8L)).toDF("a", "b")
    val viaGate = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val direct = Components.ccDistributed(edges)
      .as[(Long, Long)].collect().toMap
    assert(viaGate == direct)
    // the driver path answers with a local relation, not a Spark job plan
    assert(Components.connectedComponents(edges).queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }
}
