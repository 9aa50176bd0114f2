package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed to the driver harness: a Spark
  * implementation plus (when ANSI-expressible) the equivalent DuckDB SQL
  * used as correctness oracle. Column names MUST match between the two —
  * the driver sorts columns by name and hash-compares values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle.stripMargin.trim))
}
