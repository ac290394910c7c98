package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Set-operation estimators over KMV sketches (`graft_kmv_sketch`
  * arrays — ascending flipped-hash values, ≤ k elements). This is the
  * capability HLL++ lacks: two sketches built independently (different
  * tables, partitions, days) compose into union / intersection /
  * Jaccard estimates with pure array arithmetic — no re-scan of the
  * data. All built-in array functions: k is small (≤ ~1024), so the
  * per-row cost is trivial and everything stays in one projection. */
object SketchOps {

  /** The sketch aggregate as a Column (groupBy agg). */
  def kmvSketch(c: Column, k: Int): Column =
    call_function("graft_kmv_sketch", c, lit(k))

  /** k smallest values of the union of two sketches (a KMV sketch of
    * the union of the underlying sets). */
  def kmvUnion(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Estimate of an array-form sketch: exact size below k, else
    * (k−1)/u from the k-th minimum (same estimator as the native
    * aggregate; element_at is 1-based). */
  def kmvEstimate(sketch: Column, k: Int): Column = {
    val kth = element_at(sketch, k)
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit(k - 1.0) /
        ((kth.cast("double") - lit(Long.MinValue.toDouble) + lit(1.0)) /
          lit(math.pow(2.0, 64))))
  }

  /** Distinct count of A ∪ B from two sketches. */
  def kmvUnionEstimate(a: Column, b: Column, k: Int): Column =
    kmvEstimate(kmvUnion(a, b, k), k)

  /** Jaccard |A∩B|/|A∪B| estimate: fraction of the union sketch
    * present in BOTH input sketches (Beyer et al. 2007). */
  def kmvJaccardEstimate(a: Column, b: Column, k: Int): Column = {
    val u = kmvUnion(a, b, k)
    size(array_intersect(u, array_intersect(a, b))).cast("double") /
      size(u).cast("double")
  }

  /** Intersection cardinality estimate: Jaccard × |A∪B|. */
  def kmvIntersectEstimate(a: Column, b: Column, k: Int): Column =
    kmvJaccardEstimate(a, b, k) * kmvUnionEstimate(a, b, k)
}
