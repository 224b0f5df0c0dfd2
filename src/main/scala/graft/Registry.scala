package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables. Keeping
  * both halves in one value guarantees the names/aliases stay in sync —
  * the driver's compare hashes columns by name, so every computed column is
  * aliased identically on both sides.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}
