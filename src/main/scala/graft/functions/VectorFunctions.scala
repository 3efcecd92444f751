package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector (embedding) column math over `array<float>` columns,
  * built entirely from higher-order functions — runs as JVM
  * expressions inside the executor, no UDF boundary, no driver work.
  *
  * `dotFold` is a strict left-to-right fold over indices: bit-exact
  * reproducible across engines (the DuckDB oracle mirrors the same
  * fold), used wherever results are hash-compared.
  */
object VectorFunctions {

  /** Σ a[i]·b[i], i = 1..dim, as ((0 + p1) + p2) + … left fold. */
  def dotFold(a: Column, b: Column, dim: Int): Column =
    aggregate(
      transform(sequence(lit(1), lit(dim)),
        i => element_at(a, i).cast("double") * element_at(b, i).cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column, dim: Int): Column = sqrt(dotFold(a, a, dim))

  /** Native-expression twins for `array<float>` columns — bit-identical
    * values (same left fold), one primitive loop instead of HOF
    * allocation+boxing. Require VectorExpressions.register (callers in
    * graft.similarity do this).
    */
  def dotNative(a: Column, b: Column): Column = VectorExpressions.floatDot(a, b)
  def normNative(a: Column): Column = sqrt(VectorExpressions.floatDot(a, a))

  /** Cosine similarity, 0.0 when either vector has zero norm.
    * PERF: in pairwise operators compute each side's norm ONCE per
    * vector (materialized column) and combine with `cosineFromNorms` —
    * this form re-derives both norms per pair.
    */
  def cosine(a: Column, b: Column, dim: Int): Column =
    cosineFromNorms(dotFold(a, b, dim), norm(a, dim), norm(b, dim))

  /** dot/(na*nb) with the zero-norm guard; value-identical to
    * `cosine` (the guard/divide structure is what the SQL oracles
    * mirror), but lets callers reuse precomputed norms.
    */
  def cosineFromNorms(dot: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (na * nb))
}
