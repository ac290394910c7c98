package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native random-hyperplane LSH bucket id over an array<double> vector:
  * bit i of the result is the sign of the dot product with a
  * pseudo-random ±1 hyperplane, hyperplane (i, j) sign derived from
  * xxhash64(bitOffset + i, j) — bit-identical to the
  * higher-order-function formulation, the spec oracle
  * `graft.KernelOracles.lshBucketHof` (asserted by LshBucketSpec on
  * random vectors).
  *
  * Why native: the HOF form evaluates nBits × dim interpreted lambda
  * dispatches with an xxhash64 call per element per bit — measured as
  * the hot path of s2_lsh_ann (VERDICT r1 item 3). Here the ±1 signs
  * depend only on (nBits, bitOffset, dim), so they are computed once
  * per JVM (companion-object cache) and each row pays a single
  * primitive multiply-add loop inside whole-stage codegen.
  *
  * `bitOffset` gives independent hash tables for multi-table LSH
  * (table t uses bits [t·nBits, (t+1)·nBits) of the shared hyperplane
  * family): same family as single-table nBits' > t·nBits, so recall
  * math composes.
  */
case class LshBucketSig(child: Expression, nBits: Int, bitOffset: Int)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 64, s"nBits must be in [1,64], got $nBits")
  require(bitOffset >= 0, s"bitOffset must be >= 0, got $bitOffset")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bucket expects array<double> or array<float>, got ${other.simpleString}")
  }

  /** Float elements widen to double per element before the multiply —
    * bit-identical dots (and therefore identical buckets) vs casting
    * the array to array<double> first; see VecDot. */
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val signs = LshBucketSig.signs(nBits, bitOffset, n)
    var bucket = 0L
    var i = 0
    while (i < n) {
      // HOF semantics: a null element nulls every dot → all bits 0
      if (arr.isNullAt(i)) return 0L
      i += 1
    }
    i = 0
    while (i < nBits) {
      var d = 0.0
      var j = 0
      val base = i * n
      if (isFloat)
        while (j < n) { d += arr.getFloat(j).toDouble * signs(base + j); j += 1 }
      else
        while (j < n) { d += arr.getDouble(j) * signs(base + j); j += 1 }
      if (d > 0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val signs = ctx.freshName("signs")
      val bucket = ctx.freshName("bucket")
      val nulls = ctx.freshName("hasNull")
      s"""
         |int $n = $a.numElements();
         |double[] $signs = graft.plans.LshBucketSig.signs($nBits, $bitOffset, $n);
         |long $bucket = 0L;
         |boolean $nulls = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $nulls = true; break; }
         |}
         |if (!$nulls) {
         |  for (int $i = 0; $i < $nBits; $i++) {
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $d += ${if (isFloat) s"((double) $a.getFloat($j))"
                       else s"$a.getDouble($j)"} * $signs[$i * $n + $j];
         |    }
         |    if ($d > 0) $bucket |= (1L << $i);
         |  }
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketSig {
  private val cache = new ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  /** Flattened nBits × dim ±1 sign matrix; sign(i, j) mirrors the HOF's
    * `xxhash64(lit(bitOffset + i), j) % 2 === 0` with Spark's default
    * xxhash64 seed 42 and left-to-right multi-arg chaining. */
  def signs(nBits: Int, bitOffset: Int, dim: Int): Array[Double] =
    cache.computeIfAbsent((nBits, bitOffset, dim), { key =>
      val (nb, off, d) = key
      val out = new Array[Double](nb * d)
      var i = 0
      while (i < nb) {
        val h1 = XXH64.hashInt(off + i, 42L)
        var j = 0
        while (j < d) {
          out(i * d + j) = if (XXH64.hashInt(j, h1) % 2 == 0) 1.0 else -1.0
          j += 1
        }
        i += 1
      }
      out
    })
}
