package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embedding columns.
  *
  * The hot kernels (dot, normSq) are native Catalyst expressions with
  * doGenCode (VectorExpressions) — a primitive fused loop inside
  * whole-stage codegen. The higher-order-function forms are kept as the
  * reference implementations (`dotHof`/`normSqHof`) and pinned
  * bit-equal in VectorExprSpec: accumulation is DOUBLE, left-to-right,
  * index order in both, so results stay reproducible against the
  * external oracle.
  *
  * Semantics mirror the reference's math kernel (cosine / dot / L2 norm,
  * /root/reference/src/math.rs) which backs its brute-force kNN scan
  * (/root/reference/src/search/query.rs:316-512).
  */
object VectorFns {

  /** Σ a_i * b_i, accumulated in double, index order (codegen'd). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotF(a, b)

  /** Σ a_i^2 accumulated in double (codegen'd). */
  def normSq(a: Column): Column = VectorExpressions.normSqF(a)

  /** Higher-order-function reference implementation of dot — same bits,
    * interpreted lambdas; used to pin the Expression's numeric contract.
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** Higher-order-function reference implementation of normSq. */
  private[graft] def normSqHof(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; 0.0 when either side has zero norm (matches the
    * reference's guard against zero-vectors rather than NaN propagation).
    */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }

  /** Cosine from a precomputed dot and precomputed norms — bitwise
    * identical to cosine(a, b) (the norm columns hold the very same
    * sqrt(aggregate(...)) values), but lets callers evaluate each side's
    * norm ONCE per row before a join instead of once per PAIR after it:
    * one array traversal per pair (the dot) instead of three.
    */
  def cosineFromNorms(d: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))

  // ---- integer (micro-unit) kernels: exact LONG accumulation ----
  private def bridge = org.apache.spark.sql.GraftExpressionBridge

  /** Σ a_i·b_i over array<long>, long accumulation (codegen'd) —
    * bit-equal to the HOF form pinned in VectorExprSpec; callers own
    * the no-overflow contract (micro-unit magnitudes).
    */
  def dotL(a: Column, b: Column): Column =
    bridge.column(DotProductL(bridge.expression(a), bridge.expression(b)))

  /** Σ a_i² over array<long>, long accumulation (codegen'd). */
  def normSqL(a: Column): Column =
    bridge.column(L2NormSqL(bridge.expression(a)))

  /** HOF reference implementation of dotL (pinning only). */
  private[graft] def dotLHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (p, q) => p + q)

  /** HOF reference implementation of normSqL (pinning only). */
  private[graft] def normSqLHof(a: Column): Column =
    aggregate(a, lit(0L), (acc, x) => acc + x * x)
}
