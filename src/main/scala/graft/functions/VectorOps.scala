package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT/DOUBLE>` columns as pure Catalyst
  * expressions (functions, not UDFs — no serialization wall, null-safe,
  * usable inside any operator).
  *
  * Arithmetic is done in DOUBLE with strictly sequential accumulation
  * (`aggregate` folds left over the array) so results are reproducible and
  * comparable across engines: DuckDB's list functions fold the same way, so
  * a `round(.., 6)` on both sides hash-matches.
  *
  * Scale note: for the 100 TB hot path these stay per-row projections —
  * no shuffle, no UDF boundary. The interpreted-HOF overhead of
  * zip_with/aggregate is visible in tight loops; graft.functions.DotProd
  * (native codegen expression) is the optimized variant used by the ANN
  * scale path.
  */
object VectorOps {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def normSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  def norm(a: Column): Column = sqrt(normSq(a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Euclidean distance. */
  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
}
