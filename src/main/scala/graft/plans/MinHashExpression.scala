package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: numHashes min-hashes over an
  * array<string> of shingles with the double-hashing family
  * h_i(s) = (h1(s) + i·h2(s)) mod p.
  *
  * The higher-order-function formulation pays interpreted lambda
  * dispatch per (shingle × lane) plus one boxed accumulator array
  * allocation per shingle; this expression is two murmur hashes per
  * shingle and a primitive long[] nested loop — the whole signature in
  * one codegen'd pass. Hash family is IDENTICAL to the HOF form (the
  * spec oracle `graft.KernelOracles.minhashSignatureHof`):
  * h1 = murmur3(s, 42) = `hash(s)`, h2 = murmur3(s, h1) = `hash(s, s)`
  * (MinHashFamilySpec).
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  import MinHashSig.P

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      val s = arr.getUTF8String(j)
      val b = s.getBytes
      val h1 = Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42)
      val h1p = MinHashSig.posMod(h1, P)
      val h2p = MinHashSig.posMod(
        Murmur3_x86_32.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h1), P)
      MinHashSig.lanes(acc, h1p, h2p)
      j += 1
    }
    new GenericArrayData(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val bytes = ctx.freshName("bytes")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      s"""
         |long[] $acc = new long[$numHashes];
         |java.util.Arrays.fill($acc, Long.MAX_VALUE);
         |int $n = $a.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  byte[] $bytes = $a.getUTF8String($j).getBytes();
         |  int ${h1}raw = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
         |    $bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, $bytes.length, 42);
         |  long $h1 = graft.plans.MinHashSig.posMod(${h1}raw, ${P}L);
         |  long $h2 = graft.plans.MinHashSig.posMod(
         |    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
         |      $bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, $bytes.length, ${h1}raw), ${P}L);
         |  graft.plans.MinHashSig.lanes($acc, $h1, $h2);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  private[plans] val P = 1000000007L

  /** Static helper shared by eval and generated code. */
  def posMod(x: Long, p: Long): Long = { val m = x % p; if (m < 0) m + p else m }

  /** Fold one shingle (h1, h2 already reduced mod p) into the lane
    * minima: lane i sees (h1 + i·h2) mod p, stepped by one add and one
    * conditional subtract instead of a `%` per lane (both terms are
    * below p, so the running value never reaches 2p). */
  def lanes(acc: Array[Long], h1: Long, h2: Long): Unit = {
    var v = h1
    var i = 0
    while (i < acc.length) {
      if (v < acc(i)) acc(i) = v
      v += h2
      if (v >= P) v -= P
      i += 1
    }
  }
}

/** `graft_minhash(graft_shingles(text, k), n)` in one pass: the
  * signature over every char k-window of `text`, each window hashed in
  * place in the string's own bytes. No shingle is copied and no
  * distinct set is built: a repeated shingle cannot move a lane's
  * minimum, so hashing every window equals hashing the distinct ones.
  * Same hash family and lane stepping as [[MinHashSig]], same windows
  * as [[Shingles]] (code-point windows; below k code points the
  * signature is all Long.MaxValue, MinHashSig's result on an empty
  * array), so signatures are identical (TextKernelsPropSpec). Not a
  * function of its own: [[FuseMinHashShingles]] swaps it in wherever a
  * plan holds that composition. */
case class MinHashShingles(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_shingles"

  override def nullSafeEval(input: Any): Any =
    MinHashShingles.compute(input.asInstanceOf[UTF8String], k, numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinHashShingles.compute($c, $k, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashShingles {
  import MinHashSig.P

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    // one code point on from byte p (a truncated last sequence ends at
    // n, as in Shingles)
    def next(p: Int): Int =
      math.min(p + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + p)), n)
    val acc = Array.fill(numHashes)(Long.MaxValue)
    var end = 0
    var c = 0
    while (c < k && end < n) { end = next(end); c += 1 }
    if (c == k) {
      var start = 0
      var more = true
      while (more) {
        val h1 = Murmur3_x86_32.hashUnsafeBytes(base, off + start, end - start, 42)
        val h2 = Murmur3_x86_32.hashUnsafeBytes(base, off + start, end - start, h1)
        MinHashSig.lanes(acc, MinHashSig.posMod(h1, P), MinHashSig.posMod(h2, P))
        if (end < n) { start = next(start); end = next(end) }
        else more = false
      }
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }
}

/** Optimizer rule: `MinHashSig(Shingles(text, k), n)` becomes the
  * one-pass [[MinHashShingles]] — the shape `Dedup.minhashSignature`
  * builds and the only way the fused kernel enters a plan. */
object FuseMinHashShingles extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case MinHashSig(Shingles(text, k), n) => MinHashShingles(text, k, n)
  }
}
