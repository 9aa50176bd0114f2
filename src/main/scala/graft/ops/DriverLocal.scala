package graft.ops

import org.apache.spark.sql.Dataset

/** The one size gate between an algorithm's driver-local twin and its
  * distributed form ([[PageRank.LocalEdgeGate]],
  * [[Components.LocalEdgeGate]], [[Clustering.LocalTrainGate]]).
  *
  * Asking `count() <= gate` and then collecting the rows costs two
  * jobs, plus a persist so that the collect does not recompute the
  * count's lineage. [[rowsUpTo]] asks the same question with the collect
  * alone: one `limit(gate + 1)` job, so at most `gate + 1` rows ever
  * reach the driver, and the local branch works on the rows of the
  * very job that decided it. The decision is bit-identical to the count
  * gate: `count <= gate` holds exactly when fewer than `gate + 1` rows
  * come back. */
object DriverLocal {

  /** All rows of `ds` when there are at most `gate`; `None` otherwise.
    * Persists nothing: a caller whose distributed branch re-reads `ds`
    * persists it on that branch. */
  def rowsUpTo[T](ds: Dataset[T], gate: Long): Option[Array[T]] = {
    require(gate >= 0L && gate < Int.MaxValue,
      s"DriverLocal gate out of range: $gate")
    val rows = ds.limit(gate.toInt + 1).collect()
    if (rows.length <= gate) Some(rows) else None
  }
}
