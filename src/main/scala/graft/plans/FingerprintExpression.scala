package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling polynomial hash fingerprint (base 31, mod 1e9+7)
  * over a string's code points — bit-identical to the HOF form, the
  * spec oracle `graft.KernelOracles.fingerprintHof`
  * (`aggregate(sequence(1, length), 0,
  * (acc, i) => (acc*31 + ascii(substr(c, i, 1))) % p)`), which pays an
  * interpreted lambda + a substring allocation + an ascii() per
  * character. `ascii(substr(c, i, 1))` is the i-th code point (both
  * substr and ascii are code-point-based), so the native walk is a
  * single codePointAt loop. Empty string → 0 (the HOF's descending
  * sequence(1,0) folds ascii('') = 0 twice → 0). */
case class Fingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"

  override def nullSafeEval(input: Any): Any =
    Fingerprint.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Fingerprint.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fingerprint {
  private val P = 1000000007L

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }
}
