package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character k-shingles of a string — native form of the
  * HOF spec oracle `graft.KernelOracles.shinglesHof` (same result:
  * first-occurrence order, char — not byte — windows, empty array
  * below k chars; ShinglesSpec asserts equality).
  *
  * Why native: the HOF form pays an interpreted lambda dispatch and a
  * substr allocation per character, then array_distinct — profiled as
  * the dominant cost of the n-gram dedup suite (3.2 s of d4's 3.7 s at
  * sf0.1 was shingle generation). Here the char→byte offsets are
  * walked once and each shingle is a byte-range copy into a hash set.
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Shingles.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {
  private val EMPTY = new GenericArrayData(new Array[Any](0))

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // char -> starting byte offset (ASCII fast path falls out: offsets
    // are then 0,1,2,... and the walk is a single pass either way)
    var nChars = 0
    var i = 0
    val offsets = new Array[Int](nBytes + 1)
    while (i < nBytes) {
      offsets(nChars) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      nChars += 1
    }
    offsets(nChars) = nBytes
    if (nChars < k) return EMPTY
    val seen = new java.util.LinkedHashSet[UTF8String]((nChars - k + 1) * 2)
    var c = 0
    while (c + k <= nChars) {
      seen.add(UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offsets(c), offsets(c + k))))
      c += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
