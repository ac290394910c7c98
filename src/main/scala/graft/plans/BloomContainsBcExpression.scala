package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-membership probe against a BROADCAST filter — the one probe
  * predicate `BloomMembership` builds, at every sketch size. The
  * filter ships once per executor over the torrent protocol and
  * deserializes once (`Broadcast.value` is process-cached), instead of
  * riding inside the query plan and every task binary (10⁸ keys ≈
  * 150 MB per epoch at production sizing); and the probe stays inside
  * whole-stage codegen: the generated code holds the deserialized
  * `BloomFilter` in a lazily-initialized reference slot and calls
  * `mightContainLong` on the unboxed hash — one virtual call per row,
  * no boxing, no interpreted eval.
  *
  * The broadcast handle participates in case-class equality by
  * IDENTITY, which is the semantics the plan cache wants:
  * `BloomMembership`'s content-keyed broadcast cache hands back the
  * SAME `Broadcast` instance for the same sketch bytes across
  * micro-batches, so logically-identical probe plans canonicalize
  * equal batch over batch (ADVICE r16: the per-call `udf(...)`
  * instances never did).
  *
  * Null contract mirrors Spark's `might_contain`: null hash → null
  * (UnaryExpression's default null propagation). The child must be the
  * precomputed xxhash64 long — the same one-hash-family contract as
  * the build side. */
case class BloomContainsBc(child: Expression,
                           bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_probe expects a LONG hash (xxhash64), got " +
        child.dataType.simpleString)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  // the handle is driver-constant for the expression's lifetime; the
  // VALUE is fetched lazily per executor (and memoized by Spark's
  // broadcast machinery) — interpreted eval caches the resolved
  // filter so per-row cost matches the generated code's
  @transient private lazy val filter: BloomFilter = bloom.value

  override protected def nullSafeEval(h: Any): Any =
    filter.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // the reference slot holds the HANDLE (small, serializable with
    // the generated class); .value() resolves the executor-local
    // filter once into a mutable-state field, so the per-row path is
    // a field read + mightContainLong on the primitive hash
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[Broadcast[_]].getName)
    val filterCls = classOf[BloomFilter].getName
    val f = ctx.addMutableState(filterCls, "bloomFilter",
      v => s"$v = ($filterCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $f.mightContainLong($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
