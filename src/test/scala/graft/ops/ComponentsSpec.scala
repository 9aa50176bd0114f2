package graft.ops

import graft.SparkTestBase

/** Connected components: min-label correctness on awkward topologies —
  * long chains (the shape plain neighbor-propagation is slowest on, so
  * it exercises the pointer jumping), multiple components, direction
  * independence, and the empty graph. */
class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("a long chain collapses to its minimum id") {
    // path 0-1-2-...-63: diameter 63, but doubling must finish well
    // inside the 40-round guard (log2(64) neighbor+jump rounds)
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.size == 64)
    assert(got.values.toSet == Set(0L))
  }

  test("separate components keep separate minimum labels") {
    val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 21L), (22L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("edge direction and duplication do not matter") {
    val a = cc(Seq((1L, 2L), (3L, 2L)))
    val b = cc(Seq((2L, 1L), (2L, 3L), (1L, 2L), (3L, 2L)))
    assert(a == b && a.values.toSet == Set(1L))
  }

  test("an empty edge set yields an empty assignment, not an error") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("a 10k-edge mixed graph resolves exactly (deterministic pseudo-random)") {
    // 200 ring components of 50 vertices each — rings, not cliques, so
    // labels must actually travel; plus deterministic chord edges from a
    // hash, so shapes are irregular. Ground truth: component = ring.
    val ring = for {
      c <- 0L until 200L
      i <- 0L until 50L
    } yield (c * 50 + i, c * 50 + (i + 1) % 50)
    val chords = for {
      c <- 0L until 200L
      k <- 1L to 5L
      a = (k * 7919) % 50
      b = (k * 104729) % 50
    } yield (c * 50 + a, c * 50 + b)
    val got = cc(ring ++ chords)
    assert(got.size == 10000)
    // every vertex labels to its ring's minimum id
    assert(got.forall { case (id, lbl) => lbl == (id / 50) * 50 })
  }

  test("driver union-find and the distributed loop agree label-for-label") {
    // the hardest gate-sized topology (rings force labels to travel);
    // the public entry point takes the driver path at this size, so the
    // distributed loop is invoked directly for the comparison
    val ring = for {
      c <- 0L until 40L
      i <- 0L until 50L
    } yield (c * 50 + i, c * 50 + (i + 1) % 50)
    val local = cc(ring)
    val dist = Components.ccDistributed(ring.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local.size == 2000)
  }

  test("graphs past the local gate still resolve through the distributed loop") {
    // one chain longer than DriverLocal.EdgeGate: the public entry point must
    // take the distributed path and converge inside the round guard
    val n = DriverLocal.EdgeGate + 10
    val chain = (0L until n).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.size == n + 1)
    assert(got.values.toSet == Set(0L))
  }

  test("keep-best picks the highest-quality member, not the minimum id") {
    // doc 10: quality 1 (short, too-short words); doc 11: quality 3
    val good = Seq.fill(30)("word").mkString(" ") // len 149, all checks pass
    val docs = Seq(
      (10L, "a b"), (11L, good),          // clustered: 11 must win on quality
      (20L, good), (21L, good),            // tie on quality: 20 wins on id
      (50L, "solo doc never paired " + good)) // singleton keeps itself
      .toDF("doc_id", "text")
    val pairs = Seq((10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Components.keepBestVerdicts(docs, pairs)
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((10L, 1, 0L)), "low-quality min-id member dropped")
    assert(got(11L) == ((10L, 3, 1L)), "high-quality member is the survivor")
    assert(got(20L)._3 == 1L && got(21L)._3 == 0L, "quality tie breaks to min id")
    assert(got(50L) == ((50L, 3, 1L)), "singleton keeps itself")
    assert(got.size == 5)
  }

  test("leakage-safe split: clusters move atomically, no pair straddles the final split") {
    // enough ids that the 5% md5 bucket puts SOME docs in val; pair the
    // docs into chains of 3 so clusters mix provisional assignments
    val docs = (0L until 600L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (0L until 600L).filter(_ % 3 != 2)
      .map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Components.splitVerdicts(docs, pairs)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == 600)
    val byDoc = got.map(r => r._1 -> r).toMap

    // the naive split is non-degenerate on this id range (else the
    // straddle check is vacuous) and some doc actually moved
    val nVal0 = got.count(_._3 == 1L)
    assert(nVal0 > 0 && nVal0 < 600, s"degenerate provisional split: $nVal0")
    assert(got.exists(_._5 == 1L), "fixture must exhibit leakage to repair")

    // leak-freedom: every pair ends up on ONE side of the final split
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(byDoc(a)._4 == byDoc(b)._4, s"pair ($a,$b) straddles the split")
    }
    // the final split is the cluster representative's provisional one,
    // so a cluster CONTAINING its representative never moves it
    got.foreach { case (doc, cl, v0, v, moved) =>
      assert(byDoc(cl)._3 == v, s"doc $doc: rep $cl split0 != final")
      if (doc == cl) assert(moved == 0L && v0 == v, s"rep $doc moved")
    }
    // moved flags exactly the disagreements
    got.foreach { case (_, _, v0, v, moved) =>
      assert(moved == (if (v0 == v) 0L else 1L))
    }
  }
}
