package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting") — the
  * candidate generator of the exact-substring dedup operator
  * (`Dedup.exactSubstrPairs`, after Lee et al. 2021's ExactSubstr).
  *
  * Rolling k-gram hashes (base-31 polynomial mod 1e9+7 over code
  * points — the `Fingerprint` family) are winnowed: each window of `w`
  * consecutive hashes selects its minimum (rightmost on ties), each
  * selected position emitted once. The paper's guarantee makes the
  * downstream operator EXACT, not approximate: any substring shared by
  * two documents with length ≥ w + k − 1 contains a window fully
  * inside it on both sides, both sides select the same (aligned)
  * minimum from identical content, so at least one selected
  * fingerprint is shared. Density is ~2/(w+1): only ~2-5% of positions
  * leave the scan — the reduction that makes substring dedup
  * shuffle-viable at 100 TB (all-positions n-gram join is the job you
  * can't run).
  *
  * Returns array<struct<pos:int, h:long>> with 1-based `pos` (aligned
  * with SQL `substring`); fewer than w hashes → the global minimum
  * (every doc of length ≥ k yields ≥ 1 anchor); length < k → empty.
  * Positions are code-point-based like substring/length. */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1, s"graft_winnow k must be >= 1, got $k")
  require(w >= 1, s"graft_winnow w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Winnow.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Winnow {
  private val P = 1000000007L
  private val B = 31L

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val str = s.toString
    // code points, so positions line up with substring()/length()
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val m = n - k + 1
    val hashes = new Array[Long](m)
    // forward rolling hash: h(i+1) = (h(i) - cp(i)*B^(k-1)) * B + cp(i+k)
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow = pow * B % P; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * B + cps(i)) % P; i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = ((h - cps(i - 1) * pow % P + P * P) % P * B + cps(i + k - 1)) % P
      hashes(i) = h
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    if (m <= w) {
      // shorter than one window: emit the global rightmost minimum
      var best = 0
      i = 1
      while (i < m) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
      out += new GenericInternalRow(Array[Any](best + 1, hashes(best)))
    } else {
      var last = -1
      var start = 0
      while (start + w <= m) {
        var best = start
        i = start + 1
        while (i < start + w) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
        if (best != last) {
          out += new GenericInternalRow(Array[Any](best + 1, hashes(best)))
          last = best
        }
        start += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Fused anchor-verify + match-extension kernel of exact-substring
  * verification (r22, guide §1.2 step 2 — per-task work): ONE zero-copy
  * pass over the two texts replaces the old five-expression chain
  * `substr(pa,k) === substr(pb,k)` + `graft_lcp(reverse(substr(…)),
  * reverse(substr(…)))` + `graft_lcp(substr(…), substr(…))`, which
  * allocated ~6 KB-sized string copies PER CANDIDATE ROW (two anchor
  * substrings, two reversed prefixes, two suffixes — plus two full
  * `toString` copies inside graft_lcp). At sf0.1 that was multiple GB
  * of transient garbage across d15's ~200k-candidate verify stage; the
  * GC pressure is what made the stage degrade under high task
  * parallelism. This kernel reads both UTF8Strings byte-wise in place.
  *
  * Semantics (bit-faithful to the old chain): positions are 1-based
  * CODE POINTS (SQL substring semantics). Returns
  * struct<lext:int, run:int> where
  *  - anchor mismatch (the k code points at pa/pb differ): (0, 0) —
  *    the caller's `run >= minLen` filter drops the row exactly where
  *    the old `substr === substr` filter did (minLen > 0 always);
  *  - anchor match: lext = length of the longest common SUFFIX of the
  *    prefixes a[1, pa), b[1, pb) (the old reversed-prefix lcp) and
  *    run = lext + k + lcp of the suffixes a[pa+k, …), b[pb+k, …).
  * Code points compare as their UTF-8 byte sequences (equal code
  * points ⇔ equal bytes); only the COUNTS are code-point-based, so
  * multi-byte text behaves exactly like the substring/lcp chain. */
case class LcpExtend(first: Expression, second: Expression,
                     third: Expression, fourth: Expression, k: Int)
    extends QuaternaryExpression {
  require(k >= 1, s"graft_lcp_ext k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, IntegerType, StringType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_lcp_ext expects (string, int, string, int), got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("lext", IntegerType, nullable = false),
    StructField("run", IntegerType, nullable = false)))
  override def prettyName: String = "graft_lcp_ext"

  /** The kernel is a pure function, but it is declared non-deterministic
    * to stop the optimizer DUPLICATING it (the guide §4.4 pattern for
    * expensive expressions): the caller's `run >= minLen` filter would
    * otherwise be pushed below the defining projection — measured: it
    * landed in the verify JOIN CONDITION — so every candidate row paid
    * the kernel twice (once in the join predicate, once in the
    * projection). Marked non-deterministic, the filter stays above the
    * projection and the kernel runs exactly once per row. Determinism
    * of RESULTS is unaffected: the function is pure, so retries and
    * re-executions reproduce identical values. */
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(a: Any, pa: Any, b: Any, pb: Any): Any =
    LcpExtend.compute(a.asInstanceOf[UTF8String], pa.asInstanceOf[Int],
      b.asInstanceOf[UTF8String], pb.asInstanceOf[Int], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, pa, b, pb) =>
      s"${ev.value} = graft.plans.LcpExtend.compute($a, $pa, $b, $pb, $k);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)
}

object LcpExtend {
  private def isCont(b: Byte): Boolean = (b & 0xC0) == 0x80

  /** Byte offset of 1-based code-point position `p` (clamped to the
    * end of the string, like substring). */
  private def byteOffset(s: UTF8String, n: Int, p: Int): Int = {
    var o = 0; var c = 1
    while (c < p && o < n) {
      o += UTF8String.numBytesForFirstByte(s.getByte(o)); c += 1
    }
    math.min(o, n)
  }

  /** Shared by interpreted eval and generated code. */
  def compute(a: UTF8String, pa: Int, b: UTF8String, pb: Int, k: Int)
      : GenericInternalRow = {
    val na = a.numBytes; val nb = b.numBytes
    val oa = byteOffset(a, na, pa)
    val ob = byteOffset(b, nb, pb)
    // anchor check: the k code points at pa/pb, compared as the old
    // substr(pa,k) === substr(pb,k) — if BOTH sides truncate at the
    // same matched length the (shorter) substrings are equal, like
    // SQL substring equality (unreachable for winnow anchors, which
    // always have >= k code points ahead, but kept bit-faithful)
    var ia = oa; var ib = ob; var matched = 0
    while (matched < k) {
      if (ia >= na && ib >= nb) matched = k // both exhausted: substrings equal
      else if (ia >= na || ib >= nb) return new GenericInternalRow(Array[Any](0, 0))
      else {
        val w = UTF8String.numBytesForFirstByte(a.getByte(ia))
        if (ia + w > na || ib + w > nb)
          return new GenericInternalRow(Array[Any](0, 0))
        var j = 0
        while (j < w) {
          if (a.getByte(ia + j) != b.getByte(ib + j))
            return new GenericInternalRow(Array[Any](0, 0))
          j += 1
        }
        ia += w; ib += w; matched += 1
      }
    }
    // right extension: lcp of the suffixes beyond the anchor
    var r = 0
    var go = true
    while (go && ia < na && ib < nb) {
      val w = UTF8String.numBytesForFirstByte(a.getByte(ia))
      if (ia + w > na || ib + w > nb) go = false
      else {
        var j = 0; var eq = true
        while (j < w && eq) { eq = a.getByte(ia + j) == b.getByte(ib + j); j += 1 }
        if (eq) { ia += w; ib += w; r += 1 } else go = false
      }
    }
    // left extension: longest common suffix of the prefixes [1, pa/pb)
    var l = 0; var ja = oa; var jb = ob
    go = true
    while (go && ja > 0 && jb > 0) {
      var sa = ja - 1; while (sa > 0 && isCont(a.getByte(sa))) sa -= 1
      var sb = jb - 1; while (sb > 0 && isCont(b.getByte(sb))) sb -= 1
      if (ja - sa != jb - sb) go = false
      else {
        var j = 0; val w = ja - sa; var eq = true
        while (j < w && eq) { eq = a.getByte(sa + j) == b.getByte(sb + j); j += 1 }
        if (eq) { l += 1; ja = sa; jb = sb } else go = false
      }
    }
    new GenericInternalRow(Array[Any](l, l + k + r))
  }
}
