package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash over an array<string> of tokens: per-bit
  * signed vote of xxhash64(token), packed to a long — bit-identical
  * to the HOF formulation (the spec oracle
  * `graft.KernelOracles.simhash64Hof`, SimHashExprSpec).
  *
  * Why native: the HOF form evaluates 64 separate `aggregate()`
  * lambdas — Catalyst does not CSE the token-hash array across array
  * lambdas, so every bit re-hashes every token (the same 128×-measured
  * trap the minhash expression removed). Here each token is hashed
  * once and its 64 bits vote in one pass. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  /** Shared by interpreted eval and generated code. Mirrors the HOF:
    * vote_b = Σ_tokens (bit_b(xxhash64(t)) * 2 − 1); bit set iff
    * vote > 0. A null token hashes to the seed (42) — Spark's hash
    * expressions skip null children, leaving the running hash at the
    * seed, they do NOT return null — mirrored exactly here. */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = if (arr.isNullAt(j)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
