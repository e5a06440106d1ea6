package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity / distance primitives over `array<float|double>` columns.
  *
  * Capability parity with the reference's similarity kernel
  * (`/root/reference/src/vector_db_api/indexing/utils.py:4-57`): dot, norm,
  * cosine (zero-vector -> 0.0), euclidean distance/similarity, normalize
  * (zero-vector -> null), metric dispatch.
  *
  * Spark-first design notes:
  *   - Everything is a `Column` expression built from codegen'd built-ins
  *     (`zip_with`/`aggregate`/`transform` higher-order functions), so the
  *     whole scoring pipeline stays inside whole-stage codegen and runs
  *     columnar off a parquet scan — no UDF/serialization boundary, which is
  *     what makes a full-corpus scan viable at 100 TB (scan + score + top-k
  *     is one fused stage, shuffle only for the final k rows per partition).
  *   - All arithmetic is DOUBLE: inputs are cast element-wise before any
  *     multiply/add so results are deterministic (float32 inputs widen
  *     exactly) and match a DuckDB/ANSI-SQL oracle computing in DOUBLE.
  *   - Accumulation order is the array's element order (sequential fold),
  *     the same order a single-threaded oracle uses — results are bitwise
  *     reproducible regardless of executor parallelism because each score
  *     is computed from one row's arrays, never across rows.
  */
object VectorFunctions {

  /** Element-wise cast to double — exact for float32 inputs. */
  def vecAsDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold sum of an array<double> column. */
  private def arraySum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  /** Dot product (reference `utils.py:4-5`). Computed in double by the
    * fused codegen kernel (VectorExpressions.VecDot); `dotProductHof` is
    * the reference higher-order-function formulation kept for equivalence
    * tests.
    */
  def dotProduct(a: Column, b: Column): Column =
    VectorExpressions.vecDot(a, b)

  def dotProductHof(a: Column, b: Column): Column =
    arraySum(zip_with(vecAsDouble(a), vecAsDouble(b), (x, y) => x * y))

  /** L2 norm (reference `utils.py:7-8`). */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity; returns 0.0 when either vector has zero norm
    * (reference `utils.py:10-15` — asserted by its `test_flat.py:324-336`).
    * Single-pass fused kernel; `cosineSimHof` is the built-ins formulation.
    */
  def cosineSim(a: Column, b: Column): Column =
    VectorExpressions.vecCosine(a, b)

  def cosineSimHof(a: Column, b: Column): Column = {
    val na = sqrt(dotProductHof(a, a))
    val nb = sqrt(dotProductHof(b, b))
    when(na === 0.0 || nb === 0.0, 0.0)
      .otherwise(dotProductHof(a, b) / (na * nb))
  }

  /** Euclidean (L2) distance (reference `utils.py:17-21`). */
  def euclideanDist(a: Column, b: Column): Column =
    VectorExpressions.vecL2Dist(a, b)

  /** Euclidean similarity = 1/(1+dist) (reference `utils.py:23-26`). */
  def euclideanSim(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) + euclideanDist(a, b))

  /** L2-normalize; null for a zero vector (reference `utils.py:32-37` —
    * null propagation is what drops zero vectors from LSH/IVF indexes).
    * The squared norm is folded ONCE per vector and bound by the finish
    * lambda: the same sequential double sum of x*x that `l2Norm`'s VecDot
    * computes, so every element divides by the identical sqrt.
    */
  def l2Normalize(a: Column): Column = {
    val v = vecAsDouble(a)
    aggregate(v, lit(0.0), (acc, x) => acc + x * x, acc => {
      val n = sqrt(acc)
      when(n === 0.0, lit(null).cast("array<double>"))
        .otherwise(transform(v, x => x / n))
    })
  }

  /** Metric dispatch (reference `utils.py:46-57`): cosine | euclidean |
    * dot_product. Unknown metric fails at plan-build time, the analog of
    * the reference's ValueError -> HTTP 422.
    */
  def similarity(metric: String)(a: Column, b: Column): Column =
    metric match {
      case "cosine"      => cosineSim(a, b)
      case "euclidean"   => euclideanSim(a, b)
      case "dot_product" => dotProduct(a, b)
      case other =>
        throw new IllegalArgumentException(s"Unknown metric: $other")
    }

  /** First index of the maximum element, 0-based (reference `utils.py:39-44`
    * keeps the earliest max via strict `>`). `array_position` returns the
    * 1-based first occurrence, hence the -1.
    */
  def argmaxIdx(xs: Column): Column =
    (array_position(xs, array_max(xs)) - 1).cast("int")
}
