package graft

import scala.util.Random
import graft.functions.VectorOps
import graft.plans.VecDot

/** Differential test: the native graft_dot (`VectorOps.dot`) must equal
  * the HOF dot (`KernelOracles.dotHof`) bit for bit, including its
  * null-element and length-mismatch edges, where VecDot mirrors
  * zip_with's null propagation. */
class VecDotSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot equals the HOF dot on null elements and length mismatches") {
    val rows = Seq(
      (1L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)),
      (2L, Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)),
      (3L, Array[java.lang.Double](1.0), Array[java.lang.Double](3.0, 4.0)))
    val df = rows.toDF("id", "a", "b")
      .select($"id", $"a".cast("array<double>").as("a"), $"b".cast("array<double>").as("b"))
    val d = KernelOracles.diffs(df, VectorOps.dot($"a", $"b"),
      KernelOracles.dotHof($"a", $"b"), classOf[VecDot])
    assert(d.isEmpty, d.mkString("\n"))
    val got = df.select($"id", VectorOps.dot($"a", $"b").as("d"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> Some(11.0), 2L -> None, 3L -> None))
  }

  test("graft_dot is bit-identical to the HOF dot on random vectors") {
    val rnd = new Random(19)
    val df = (1 to 100).map(i => (i.toLong,
        Array.fill(33)(rnd.nextGaussian()), Array.fill(33)(rnd.nextGaussian())))
      .toDF("id", "a", "b")
    val d = KernelOracles.diffs(df, VectorOps.dot($"a", $"b"),
      KernelOracles.dotHof($"a", $"b"), classOf[VecDot])
    assert(d.isEmpty, d.mkString("\n"))
  }
}
