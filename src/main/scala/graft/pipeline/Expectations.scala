package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.DriverLocal

/** Data-quality expectations evaluated in ONE aggregation pass — the
  * engine form of the reference's scattered runtime self-checks (shape
  * assertion `datasources.py:349-353`, sentinel fills `:717-730`, empty-
  * batch guard `:756`): declare what a batch must satisfy, get one
  * violation count per rule from a single job, and let the pipeline
  * decide whether to land.
  *
  * Each rule compiles to a conditional COUNT over the same scan —
  * checking ten rules costs one pass, not ten (at 100 TB the batch is
  * read once; map-side partial aggregation reduces each partition to one
  * row of counters). Uniqueness rules fold into the SAME aggregate as
  * `rows − count_distinct(struct(keys))`: Catalyst plans the mixed
  * distinct/plain aggregate as one Expand (rows multiplied logically,
  * per distinct key set), but the batch is still scanned once — there is
  * no per-rule extra pass. A gate-sized batch skips the aggregate's
  * Expand and shuffles: [[checkAt]] decides it on the driver from one
  * collect of the same per-row predicates.
  */
object Expectations {

  sealed trait Rule { def name: String }
  /** Column must never be null. */
  final case class NotNull(col: String) extends Rule {
    def name = s"not_null($col)"
  }
  /** Column must fall in [lo, hi] when present. */
  final case class InRange(col: String, lo: Double, hi: Double) extends Rule {
    def name = s"in_range($col,$lo,$hi)"
  }
  /** Column must match the regex when present. */
  final case class Matches(col: String, regex: String) extends Rule {
    def name = s"matches($col)"
  }
  /** Arbitrary row predicate that must hold. */
  final case class Holds(name: String, predicate: Column) extends Rule
  /** Key columns must be unique across the batch. */
  final case class Unique(cols: String*) extends Rule {
    def name = s"unique(${cols.mkString(",")})"
  }

  /** Violation counts per rule name (0 = satisfied), plus "rows". */
  def check(df: DataFrame, rules: Seq[Rule]): Map[String, Long] =
    checkAt(df, rules, DriverLocal.RowGate)

  /** [[check]] with the driver gate as a parameter. A batch of at most
    * `gate` rows is decided on the driver from ONE gated collect
    * ([[DriverLocal.rowsUpTo]]) of a projection holding each rule's
    * violation flag — the same Column predicate the aggregate counts,
    * coalesced to false, so Spark still evaluates casts, NaN ordering
    * and nulls — and each `Unique` rule's key struct, counted distinct
    * by [[DriverLocal.groupingKey]] (`count_distinct`'s equality). A
    * larger batch runs the one-pass aggregate. */
  private[pipeline] def checkAt(df: DataFrame, rules: Seq[Rule],
                                gate: Long): Map[String, Long] = {
    // per rule: the row's violation predicate, or a Unique rule's key
    val tests: Seq[Column] = rules.map {
      case NotNull(c)         => col(c).isNull
      case InRange(c, lo, hi) => col(c) < lo || col(c) > hi
      case Matches(c, re)     => col(c).isNotNull && !col(c).rlike(re)
      case Holds(_, p)        => !coalesce(p, lit(false))
      case Unique(cols @ _*)  => struct(cols.map(col): _*)
    }
    val local = rules.zip(tests).map {
      case (_: Unique, key) => key
      case (_, violated)    => coalesce(violated, lit(false))
    }
    val counts = DriverLocal.rowsUpTo(df.select(local: _*), gate) match {
      case Some(rows) =>
        rows.length.toLong +: rules.indices.map { i =>
          rules(i) match {
            case _: Unique =>
              rows.length - rows.iterator
                .map(r => DriverLocal.groupingKey(r.get(i))).toSet.size.toLong
            case _ => rows.count(_.getBoolean(i)).toLong
          }
        }
      case None =>
        val counters = count(lit(1)).as("rows") +: rules.zip(tests).map {
          case (u: Unique, key) =>
            // struct() is non-null even over null fields, so every row
            // counts and null keys compare equal — same semantics as
            // distinct()
            (count(lit(1)) - count_distinct(key)).as(u.name)
          case (r, violated) => count(when(violated, 1)).as(r.name)
        }
        val row = df.agg(counters.head, counters.tail: _*).collect()(0)
        row.schema.fieldNames.indices.map(row.getLong)
    }
    ("rows" +: rules.map(_.name)).zip(counts).toMap
  }

  /** True iff every rule has zero violations. */
  def pass(df: DataFrame, rules: Seq[Rule]): Boolean =
    check(df, rules).forall { case (n, v) => n == "rows" || v == 0L }
}
