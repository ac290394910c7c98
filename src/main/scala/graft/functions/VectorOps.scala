package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector kernel (SURVEY §2.4). Vectors are array<float>
  * columns widened to double at the edge; the per-row math is graft's
  * native codegen'd expressions (`graft_dot`, `graft_unit`,
  * `graft_lsh_bucket`, registered by GraftExtensions, which
  * `Session.local` installs) — columnar, no UDF serialization per row.
  */
object VectorOps {

  /** Sequential left-to-right dot product in double: the native
    * codegen'd graft.plans.VecDot, ~no allocation. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native fused unit-normalize (graft.plans.VecUnit): widen + norm +
    * divide in ONE codegen pass, null on zero-norm/null-element rows —
    * bit-identical to `transform(toDouble(v), x / norm)` with the
    * `nrm > 0` filter expressed as `isNotNull` (VecUnitSpec asserts
    * it). */
  def unit(a: Column): Column = call_function("graft_unit", a)

  /** Cosine similarity over precomputed norms (precompute per row
    * before a pair join: O(n) norms instead of O(n²)). */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Widen an array<float> to array<double> once, at the scan edge. */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Random-hyperplane LSH signature: nBits sign bits of dot products
    * with pseudo-random ±1 hyperplanes derived from
    * xxhash64(bitOffset + bit, dim) — deterministic, no stored model.
    * Packs to a long bucket id. Native codegen'd expression
    * (graft.plans.LshBucketSig): the ±1 signs are cached per JVM, each
    * row pays one primitive multiply-add loop. `bitOffset` selects an
    * independent hash table for multi-table LSH. */
  def lshBucket(v: Column, nBits: Int, bitOffset: Int = 0): Column =
    call_function("graft_lsh_bucket", v, lit(nBits), lit(bitOffset))

  /** Multi-probe bucket list: the primary bucket plus `nProbes − 1`
    * neighbors with the lowest-|margin| sign bits flipped — the bits
    * most likely to differ for a true near neighbor (Lv et al., VLDB
    * 2007). Margins are per-hyperplane dots, computed HOF-style: this
    * runs on the (small) query side only; candidates keep the single
    * native bucket. Probing multiplies recall without re-bucketing the
    * corpus — the knob to turn when more tables are too expensive. */
  def lshProbeBuckets(v: Column, nBits: Int, nProbes: Int,
                      bitOffset: Int = 0): Column = {
    require(nProbes >= 1 && nProbes <= nBits, s"nProbes in [1, $nBits], got $nProbes")
    val margins = transform(sequence(lit(0), lit(nBits - 1)), i =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => x * when(xxhash64(i + bitOffset, j) % 2 === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x))
    val primary = lshBucket(v, nBits, bitOffset)
    // bits ranked by |margin| ascending: cheapest to flip first
    val ranked = array_sort(zip_with(margins, sequence(lit(0), lit(nBits - 1)),
      (m, i) => struct(abs(m).as("a"), i.as("i"))))
    val powers = array((0 until nBits).map(b => lit(1L << b)): _*)
    array((0 until nProbes).map {
      case 0 => primary
      case p => primary.bitwiseXOR(
        element_at(powers, element_at(ranked, p).getField("i") + 1))
    }: _*)
  }
}
