package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Dense-vector math over `array<float>` embedding columns as pure
  * Catalyst expressions (`zip_with`/`aggregate` — codegen'd, no UDF,
  * no linear-algebra dependency).
  *
  * Determinism: each element product is computed in float32 (exact
  * per-element) then widened to double and accumulated strictly
  * left-to-right, which is mirror-expressible in SQL
  * (`list_sum(list_transform(...))`) for the oracle.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision (per-element float32 multiply widened
    * to double, sequential fold) — the codegen'd [[Float32Dot]]
    * expression; [[dotHof]] is the composable-builtins equivalent.
    */
  def dot(a: Column, b: Column): Column = Float32Dot(a, b)

  /** Same semantics as [[dot]] via built-in higher-order functions —
    * kept as the portable/reference form (and to cross-check the
    * native expression in tests). ~100× slower per row.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast(DoubleType)),
      lit(0.0),
      (acc, x) => acc + x)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity in double; callers cast to FloatType when
    * cross-engine bit-stability is required.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))
}
