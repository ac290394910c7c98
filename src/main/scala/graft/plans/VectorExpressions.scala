package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two array<double> columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,*),
  * 0d, +)`) allocates an intermediate array per row and evaluates its
  * lambdas interpreted — measured as the hot path of the ANN/near-dup
  * pair joins. This expression generates a tight primitive loop inside
  * whole-stage codegen: no allocation, no boxing, same left-to-right
  * summation order (so results — and the DuckDB oracle hashes — are
  * bit-identical to the HOF form, the spec oracle
  * `graft.KernelOracles.dotHof`; VecDotSpec).
  *
  * Preference order per SURVEY §4: built-in ops first; custom
  * `Expression` with doGenCode only where the built-ins can't express
  * the performance shape. This is that case.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(FloatType, _) => Some(FloatType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<double> or array<float> on both sides, " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  /** Float inputs are widened to double PER ELEMENT before the multiply
    * (explicit casts in both eval paths), so the result is bit-identical
    * to casting the whole array to array<double> first — float→double
    * conversion is exact — while the pair join that feeds this kernel
    * shuffles half the bytes. Sides are independent, so a float corpus
    * column dots against a double centroid literal without widening the
    * corpus. */
  private def leftIsFloat: Boolean = elemType(left.dataType).contains(FloatType)
  private def rightIsFloat: Boolean = elemType(right.dataType).contains(FloatType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  /** Length mismatch OR any null element → null, matching the HOF
    * formulation exactly (zip_with pads with null and a null product
    * nulls the whole sum) — a silently truncated or garbage-slotted
    * dot would corrupt similarity rankings undetectably. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
      var s = 0.0
      i = 0
      while (i < n) {
        val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
        i += 1
      }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($b.numElements() != $n);
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${if (leftIsFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"}
         |      * ${if (rightIsFloat) s"((double) $b.getFloat($i))" else s"$b.getDouble($i)"};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native unit-normalize: array<float|double> → array<double>, one
  * pass, one primitive allocation.
  *
  * Fuses ProductQuantizer.unitPrep's three interpreted HOF passes
  * (`transform(cast double)` widen + `sqrt(aggregate(zip_with(v,v,*)))`
  * norm + `transform(x / nrm)` divide — each allocating a boxed array
  * per row) into a single codegen loop. Bit-exactness with the HOF
  * chain, case by case:
  * - widen-then-square equals square-of-widened (float→double is exact);
  *   the sum of squares accumulates left-to-right in double, same order;
  * - norm = sqrt(sum), then each element divides by that SAME double —
  *   identical IEEE ops in identical order;
  * - any null element → null result (zip_with's null product nulls the
  *   HOF sum, `null > 0` is false, row dropped — callers filter
  *   `isNotNull` where they filtered `nrm > 0`);
  * - zero norm (incl. empty array) → null (HOF: `0 > 0` false, dropped);
  * - NaN/Inf norms are NOT nulled: Spark's comparison treats NaN as
  *   greater than any value, so `nrm > 0` KEPT such rows in the HOF
  *   chain; here norm == 0.0 is false for NaN/Inf and the division
  *   produces the same NaN/0.0 elements.
  * VecUnitSpec asserts the equivalence differentially. */
case class VecUnit(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_unit expects array<double> or array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_unit"
  override def nullable: Boolean = true

  /** Pure function, declared non-deterministic to stop the optimizer
    * DUPLICATING it (guide §4.4, the graft_lcp_ext precedent):
    * unitPrep's `isNotNull` filter was pushed below the defining
    * projection into the parquet scan condition, so every corpus row
    * paid the normalize pass twice (measured in the s6 plan: filter
    * `isnotnull(graft_unit(embedding))` at the scan + the projection's
    * own `graft_unit(embedding)`). Non-deterministic, the filter stays
    * above and reads the attribute — one pass per row. Results are
    * unaffected: the function is pure, retries reproduce identical
    * values. */
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      i += 1
    }
    var s = 0.0
    i = 0
    while (i < n) {
      val v = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      s += v * v
      i += 1
    }
    val nrm = java.lang.Math.sqrt(s)
    if (nrm == 0.0) return null
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      val v = if (elemIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = v / nrm
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      val bad = ctx.freshName("bad")
      val get = if (elemIsFloat) s"((double) $a.getFloat($i))" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |}
         |double $s = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double v = $get;
         |    $s += v * v;
         |  }
         |}
         |double $nrm = java.lang.Math.sqrt($s);
         |if ($bad || $nrm == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $get / $nrm;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session extension registering graft's native expressions; enable
  * with `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** The Int value of a constant function argument, or an
    * IllegalArgumentException naming `fn` and its argument `what`: the
    * native expressions take these as Scala parameters, fixed at plan
    * time. */
  private def intLit(fn: String, what: String, e: Expression): Int = e match {
    case c if c.foldable => c.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn $what must be an int literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$fn $what must be a literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FuseMinHashShingles)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "graft_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_unit"),
      new ExpressionInfo(classOf[VecUnit].getName, "graft_unit"),
      (children: Seq[Expression]) => VecUnit(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) =>
        MinHashSig(children.head,
          intLit("graft_minhash", "numHashes", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketSig].getName, "graft_lsh_bucket"),
      (children: Seq[Expression]) => {
        val nBits = intLit("graft_lsh_bucket", "nBits", children(1))
        val offset =
          if (children.length > 2) intLit("graft_lsh_bucket", "bitOffset", children(2))
          else 0
        LshBucketSig(children.head, nBits, offset)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (children: Seq[Expression]) =>
        Shingles(children.head, intLit("graft_shingles", "k", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_gopher"),
      new ExpressionInfo(classOf[GopherShape].getName, "graft_gopher"),
      (children: Seq[Expression]) => GopherShape(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => Fingerprint(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv_distinct"),
      new ExpressionInfo(classOf[KmvSketch].getName, "graft_kmv_distinct"),
      (children: Seq[Expression]) =>
        KmvSketch(children.head, intLit("graft_kmv_distinct", "k", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_freq_items"),
      new ExpressionInfo(classOf[FreqItemsSketch].getName, "graft_freq_items"),
      (children: Seq[Expression]) =>
        FreqItemsSketch(children.head, intLit("graft_freq_items", "k", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketchValues].getName, "graft_kmv_sketch"),
      (children: Seq[Expression]) =>
        KmvSketchValues(children.head, intLit("graft_kmv_sketch", "k", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (children: Seq[Expression]) =>
        Winnow(children.head, intLit("graft_winnow", "k", children(1)),
          intLit("graft_winnow", "w", children(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_deflate_size"),
      new ExpressionInfo(classOf[DeflateSize].getName, "graft_deflate_size"),
      (children: Seq[Expression]) => {
        val level =
          if (children.length < 2) 6
          else intLit("graft_deflate_size", "level", children(1))
        DeflateSize(children.head, level)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lcp_ext"),
      new ExpressionInfo(classOf[LcpExtend].getName, "graft_lcp_ext"),
      (children: Seq[Expression]) =>
        LcpExtend(children.head, children(1), children(2), children(3),
          intLit("graft_lcp_ext", "k", children(4)))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_dsum"),
      new ExpressionInfo(classOf[VecDecimalSum].getName, "graft_vec_dsum"),
      (children: Seq[Expression]) =>
        VecDecimalSum(children.head).toAggregateExpression()))
    // Spark's OWN bloom-filter aggregate (the one Catalyst injects for
    // runtime join filters), surfaced as a session function for the
    // BloomMembership sketch build: a map-side-combining typed
    // aggregate over xxhash64 longs (BloomMembership applies the hash;
    // its probe is graft.plans.BloomContainsBc).
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2)).toAggregateExpression()))
  }
}
