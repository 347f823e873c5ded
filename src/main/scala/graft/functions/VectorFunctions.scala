package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DecimalType

/** Embedding-vector math over ARRAY<FLOAT> columns. Elements are cast to
  * DOUBLE before any arithmetic and folds are strictly left-to-right, so a
  * DuckDB oracle using `list_reduce` over the same element order reproduces
  * results bit-for-bit. The dot product is the custom codegen'd
  * [[DotProduct]] expression — the composable HOF form runs interpreted and
  * dominates O(n²) similarity joins. */
object VectorFunctions {

  /** Left-to-right dot product in double precision (native codegen). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine snapped to DECIMAL(18,9) (and surfaced as DOUBLE): makes
    * ranking/threshold comparisons immune to last-ulp engine differences. */
  def cosineSnapped(a: Column, b: Column): Column =
    cosine(a, b).cast(DecimalType(18, 9)).cast("double")

  /** Snapped cosine from precomputed norms — the O(n²)-join form: norms are
    * computed once per vector, the per-pair work is one dot + one divide.
    * `normA * normB` must keep the left-operand-first order to stay
    * bit-identical with the per-pair `sqrt(aa)*sqrt(bb)` oracle form. */
  def cosineSnappedPre(a: Column, b: Column, normA: Column, normB: Column): Column =
    (dot(a, b) / (normA * normB)).cast(DecimalType(18, 9)).cast("double")

  /** DuckDB expression equivalent to [[cosineSnapped]] for oracle SQL —
    * identical element order, cast points, and fold direction. */
  def cosineSnappedSql(a: String, b: String): String = {
    def dotSql(x: String, y: String): String =
      s"list_reduce([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1, len($x) + 1)], (acc, v) -> acc + v)"
    s"CAST(CAST(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) AS DECIMAL(18,9)) AS DOUBLE)"
  }
}
