package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<double>` columns using Spark higher-order
  * functions — distributed, no UDFs, no collect.
  *
  * The fold order is deliberately sequential (left fold over the array) so
  * results are bit-deterministic and reproducible against the DuckDB oracle
  * (which sums lists sequentially too); final outputs are rounded anyway.
  * Round-2 plan (SURVEY.md §7): replace the hot dot-product with a custom
  * Catalyst Expression with doGenCode to get it into whole-stage codegen.
  */
object VectorFunctions {

  /** Element-wise cast to double (exact for float32 inputs). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-sum dot product — the hashing.dotProduct kernel, called
    * from generated code; same left-fold order as the HOF
    * `aggregate(zip_with(...))` form and the DuckDB oracle's list_sum, so
    * results stay bit-identical, but it stays inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftFunctions.dot_product(a, b)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity: dot / (|a| * |b|). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Structurally usable embedding: non-NULL with no NULL components.
    * The typed (Dataset[Seq[Double]]) training paths CRASH on a NULL
    * component (NOT_NULL_ASSERT_VIOLATION — found by the hostile-corpus
    * gate, GenAdversarial vec_id 1008); q39's audit is the admission
    * gate that REPORTS such rows, and serving paths skip what they
    * cannot score. Numeric degenerates (zero vector, huge magnitudes)
    * pass — they score, just possibly NULL.
    */
  def structurallyUsable(v: Column): Column =
    v.isNotNull && !exists(v, x => x.isNull)
}
