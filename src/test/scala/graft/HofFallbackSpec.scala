package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.operators.Dedup
import graft.KernelOracles._

/** The kernel oracles (KernelOracles) must not reference a graft_*
  * native function anywhere in their expression tree: an oracle built
  * on the kernel it checks proves nothing (this regression appeared
  * when minhashSignatureHof was rebound onto the native shingles
  * kernel). Their agreement with the native kernels is covered by the
  * per-kernel differential specs (MinHashFamilySpec, SimHashExprSpec,
  * ShinglesSpec, FingerprintSpec, LshBucketSpec, VecDotSpec,
  * TextKernelsPropSpec).
  *
  * Detection: the shared test session registers GraftExtensions, so
  * any graft_* reference resolves to its native expression class — the
  * analyzed plan of a clean oracle must contain no expression from the
  * graft.plans package. */
class HofFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def graftCalls(c: Column): Seq[String] = {
    val plan = Seq(("x", Seq(1.0f))).toDF("t", "v").select(c)
      .queryExecution.analyzed
    plan.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.plans.") =>
        e.getClass.getSimpleName
    })
  }

  private val oracles: Seq[(String, Column)] = Seq(
    "minhashSignatureHof" -> minhashSignatureHof(col("t"), 3, 16),
    "simhash64Hof" -> simhash64Hof(col("t")),
    "fingerprintHof" -> fingerprintHof(col("t")),
    "shinglesHof" -> shinglesHof(col("t"), 3),
    "gopherShapeHof" -> gopherShapeHof(col("t")),
    "lshBucketHof" -> lshBucketHof(col("v"), 8),
    "dotHof" -> dotHof(col("v"), col("v")))

  test("detector self-check: native columns ARE detected") {
    assert(graftCalls(TextOps.shingles(col("t"), 3)).nonEmpty)
    val dv = VectorOps.toDouble(col("v"))
    assert(graftCalls(VectorOps.dot(dv, dv)).nonEmpty)
  }

  test("no HOF fallback references a graft_* native function") {
    val offenders = oracles.flatMap { case (name, c) =>
      graftCalls(c).map(fn => s"$name -> $fn")
    }
    assert(offenders.isEmpty,
      s"oracles must not use the kernels they check, found: ${offenders.mkString(", ")}")
  }

  test("minhashSignatureHof matches the native signature (regression)") {
    val df = Seq("abcdefgh", "the quick brown fox", "aaaa").toDF("t")
    val native = df.select(Dedup.minhashSignature(col("t"), 3, 32)).as[Seq[Long]].collect()
    val hof = df.select(minhashSignatureHof(col("t"), 3, 32)).as[Seq[Long]].collect()
    assert(native.toSeq == hof.toSeq)
  }
}
