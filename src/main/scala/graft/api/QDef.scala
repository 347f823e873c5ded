package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark plan plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Oracle-parity discipline used throughout:
  *   - every result is deterministically ordered (ORDER BY all key columns);
  *   - double sums go through exact DECIMAL accumulation and are cast back
  *     to DOUBLE, so engines cannot disagree via FP summation order;
  *   - derived statistics (avg, variance, rate) are scalar IEEE double
  *     expressions over those exact aggregates — bit-identical per IEEE 754;
  *   - aliases match on both sides (the driver hashes columns by name).
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, fn, Some(oracle))
}
