package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** r22 differential for the fused native unit-normalize
  * (graft.plans.VecUnit): `VectorOps.unit` + `isNotNull` filter must
  * reproduce the old three-pass HOF chain (`transform(cast)` widen →
  * `sqrt(aggregate(zip_with))` norm → `nrm > 0` filter → `transform(x
  * / nrm)` divide) bit-for-bit — same surviving row set, same element
  * values — on float and double inputs including the null-element,
  * zero-vector, empty-array, NaN and ±Inf edges. */
class VecUnitSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-r22 unitPrep chain, verbatim. */
  private def hofUnit(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), VectorOps.toDouble(col("v")).as("__v"))
      .withColumn("__nrm", VectorOps.norm(col("__v")))
      .filter(col("__nrm") > 0)
      .select(col("id"), transform(col("__v"), x => x / col("__nrm")).as("u"))

  private def nativeUnit(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), VectorOps.unit(col("v")).as("u"))
      .filter(col("u").isNotNull)

  test("graft_unit matches the HOF widen+norm+divide chain bit-for-bit (double)") {
    val r = new Random(42)
    val rows = (1L to 200L).map { id =>
      (id, Seq.fill(16)(r.nextDouble() * 20 - 10))
    } ++ Seq(
      (900L, Seq.fill(16)(0.0)),            // zero norm: dropped on both paths
      (901L, Seq.empty[Double]),            // empty: norm 0, dropped
      (902L, Seq(Double.NaN, 1.0, 2.0)),    // NaN norm: KEPT on both paths
      (903L, Seq(Double.PositiveInfinity, 1.0)), // Inf norm: KEPT
      (904L, Seq(1e-300, 0.0, -1e-300))     // denormal-ish tiny norm
    )
    val df = rows.toDF("id", "v")
    val a = hofUnit(df).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = nativeUnit(df).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keySet == b.keySet, s"row sets differ: ${a.keySet.diff(b.keySet)} / ${b.keySet.diff(a.keySet)}")
    for ((id, av) <- a) {
      val bv = b(id)
      assert(av.length == bv.length, s"id $id length")
      av.zip(bv).zipWithIndex.foreach { case ((x, y), i) =>
        // bit-level compare: NaN == NaN must pass, -0.0 vs 0.0 must fail
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y),
          s"id $id elem $i: $x vs $y")
      }
    }
    assert(a.contains(902L) && a.contains(903L), "NaN/Inf rows must survive")
    assert(!a.contains(900L) && !a.contains(901L), "zero rows must drop")
  }

  test("graft_unit matches on float input (per-element widen before square)") {
    val r = new Random(7)
    val rows = (1L to 200L).map { id =>
      (id, Seq.fill(24)(r.nextFloat() * 6 - 3))
    } ++ Seq((900L, Seq.fill(8)(0.0f)))
    val df = rows.toDF("id", "v")
    val a = hofUnit(df).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = nativeUnit(df).collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keySet == b.keySet)
    for ((id, av) <- a; ((x, y), i) <- av.zip(b(id)).zipWithIndex)
      assert(java.lang.Double.doubleToRawLongBits(x) ==
        java.lang.Double.doubleToRawLongBits(y), s"id $id elem $i: $x vs $y")
  }

  test("graft_unit drops null-element rows exactly like the nrm > 0 filter") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, null, 3.0)), // null elem: dropped both paths
      (3L, null.asInstanceOf[Seq[java.lang.Double]]) // null array: dropped
    ).toDF("id", "v")
    val a = hofUnit(df).select("id").as[Long].collect().toSet
    val b = nativeUnit(df).select("id").as[Long].collect().toSet
    assert(a == Set(1L) && b == Set(1L), s"a=$a b=$b")
  }

  test("graft_unit interpreted eval matches codegen (HofFallback parity)") {
    // force the interpreted path via a filter that defeats codegen? —
    // simpler: eval the expression directly against the codegen result
    val r = new Random(13)
    val df = (1L to 50L).map(id => (id, Seq.fill(16)(r.nextDouble() * 2 - 1)))
      .toDF("id", "v")
    val viaCodegen = nativeUnit(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    df.collect().foreach { row =>
      val vec = row.getSeq[Double](1)
      val lit = Literal.create(vec, ArrayType(DoubleType))
      val out = graft.plans.VecUnit(lit).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val got = out.toDoubleArray.toSeq
      val want = viaCodegen(row.getLong(0))
      got.zip(want).zipWithIndex.foreach { case ((x, y), i) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ==
          java.lang.Double.doubleToRawLongBits(y), s"elem $i: $x vs $y")
      }
    }
  }
}
