package graft.ops

import org.apache.spark.sql.{Dataset, Row}

/** The one size gate between an algorithm's driver-local twin and its
  * distributed form, and the gate sizes its callers use ([[RowGate]],
  * [[EdgeGate]]).
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

  /** Rows a driver-local branch takes: k-means training corpora
    * ([[Clustering]]), the gate-sized vector finishes ([[Pq]],
    * [[AnnRouter]], [[Similarity]]) and the pipeline's bookkeeping
    * (`Warehouse.upsert`'s batch keys, `Expectations.check`'s rows).
    * 16,384 vectors × 64 dims × 8 B ≈ 8 MB collected — the
    * bounded-artifact class of the k-means seed pools (which already
    * collect 16·k rows). The registered queries' fixtures and the daily
    * pipeline's batches sit under it; every stress decade (200k+) runs
    * the distributed plan it measures. */
  val RowGate: Long = 16384L

  /** Edges a driver-local graph loop takes ([[PageRank]],
    * [[Components]]): ≤ 65,536 (src, dst) longs ≈ 1 MB collected. */
  val EdgeGate: Long = 65536L

  /** All rows of `ds` when there are at most `gate`; `None` otherwise.
    * Persists nothing: a caller whose distributed branch re-reads `ds`
    * persists it on that branch. */
  def rowsUpTo[T](ds: Dataset[T], gate: Long): Option[Array[T]] = {
    require(gate >= 0L && gate < Int.MaxValue,
      s"DriverLocal gate out of range: $gate")
    val rows = ds.limit(gate.toInt + 1).collect()
    if (rows.length <= gate) Some(rows) else None
  }

  /** A collected value as a key whose `equals`/`hashCode` is Spark's
    * grouping equality — what `GROUP BY`, `DISTINCT` and a `<=>` join
    * key compare by: nulls equal, −0.0 = 0.0, every NaN equal, binary
    * by content, structs and arrays field by field. A driver-local
    * census groups collected rows by it. */
  def groupingKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float  => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(groupingKey)
    case s: scala.collection.Seq[_] => s.map(groupingKey)
    case other => other
  }
}
