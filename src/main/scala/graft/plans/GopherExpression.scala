package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Gopher document-shape struct (`graft_gopher`): all nine
  * fields of the Column form (the spec oracle
  * `graft.KernelOracles.gopherShapeHof`) from ONE pass over the text's
  * UTF-8 bytes. The Column form splits the text three times (words,
  * lines twice), runs a regex lambda per word and copies the whole
  * text twelve times through `replace` (one per counted substring);
  * this walk counts the same things in place:
  *
  *   - words = the pieces of `split(trim(text), ' +')` — `trim` strips
  *     only ' ', so a piece is a maximal run of non-' ' bytes, and an
  *     empty (or all-space) text is ONE empty piece;
  *   - `length(replace(text, ' ', ''))` = code points minus spaces;
  *   - `replace`-based counts are leftmost non-overlapping matches:
  *     a run of L dots holds L/3 "..." and " the the " holds one
  *     " the " (the match consumes the shared space);
  *   - lines = the pieces of `split(text, '\n')` (trailing empty
  *     pieces kept), each judged on its space-trimmed bytes.
  *
  * Every ratio is the same long-to-double IEEE division in the same
  * order, so each field is bit-identical to the Column form
  * (TextKernelsPropSpec checks doubles bitwise; EdgeCasesSpec covers the
  * degenerate texts). NULL text gives a struct of NULL fields, the
  * Column form's result in an ANSI session (`graft.Session` pins ANSI).
  *
  * The Column form's counts are `length` differences, and `length`
  * counts chars as Spark steps them: each lead byte spans
  * `UTF8String.numBytesForFirstByte` bytes, whatever follows it. Spark
  * does not validate the bytes it reads (parquet crawl text), so a
  * truncated lead byte can swallow the ASCII bytes after it, and
  * removing a counted substring then shifts what it swallows. The walk
  * checks that every lead byte is followed by its continuation bytes;
  * then no ASCII byte is ever swallowed and each count is a byte count.
  * A text that fails the check gets those five counts from the same
  * `replace` and `length` primitives the Column form runs.
  */
case class GopherShape(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gopher expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = GopherShape.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gopher"

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) GopherShape.nullRow()
    else GopherShape.compute(s.asInstanceOf[UTF8String])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      |${c.code}
      |$row ${ev.value} = ${c.isNull} ? graft.plans.GopherShape.nullRow()
      |  : graft.plans.GopherShape.compute(${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherShape {

  val Schema: StructType = StructType(Seq(
    StructField("n_words", LongType), StructField("mean_wlen", DoubleType),
    StructField("hash_ratio", DoubleType),
    StructField("ellipsis_ratio", DoubleType),
    StructField("alpha_frac", DoubleType),
    StructField("bullet_frac", DoubleType),
    StructField("ellipsis_line_frac", DoubleType),
    StructField("n_stops", LongType), StructField("keep", BooleanType)))

  /** The counted stop words, each between spaces (t33's list). */
  private val StopWords: Array[String] =
    Array(" the ", " be ", " to ", " of ", " and ", " that ", " have ",
      " with ")
  private val Stops: Array[Array[Byte]] = StopWords.map(_.getBytes("UTF-8"))

  def nullRow(): InternalRow = new GenericInternalRow(Schema.length)

  /** The index of the stop word starting at byte `i`, or -1 (at most
    * one can: each is a distinct word between spaces). */
  private def stopAt(base: AnyRef, off: Long, n: Int, i: Int): Int = {
    var w = 0
    while (w < Stops.length) {
      val p = Stops(w)
      if (i + p.length <= n) {
        var j = 1
        while (j < p.length && Platform.getByte(base, off + i + j) == p(j)) j += 1
        if (j == p.length) return w
      }
      w += 1
    }
    -1
  }

  /** A line's kind from its first and last non-space bytes: bit 1 a
    * bullet ('-' or '*' first), bit 2 an ellipsis line ("..." last). */
  private def lineKind(base: AnyRef, off: Long, first: Int, last: Int): Int =
    if (first < 0) 0
    else {
      val b = Platform.getByte(base, off + first)
      val bullet = if (b == '-' || b == '*') 1 else 0
      val dots = last - first >= 2 &&
        Platform.getByte(base, off + last) == '.' &&
        Platform.getByte(base, off + last - 1) == '.' &&
        Platform.getByte(base, off + last - 2) == '.'
      bullet | (if (dots) 2 else 0)
    }

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var chars = 0L; var spaces = 0L; var hashes = 0L; var ellipses = 0L
    var words = 0L; var alphaWords = 0L; var stops = 0L
    var lines = 1L; var bullets = 0L; var ellipsisLines = 0L
    var dotRun = 0
    // continuation bytes the last lead byte still spans; `whole` while
    // every lead byte is followed by all of them
    var pending = 0; var whole = true
    var inWord = false; var wordAlpha = false
    // the current line's first and last non-space byte (-1: none yet)
    var lineFirst = -1; var lineLast = -1
    // per stop word, the end of its last counted match
    val stopEnd = new Array[Int](Stops.length)
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (pending == 0) {
        chars += 1; pending = UTF8String.numBytesForFirstByte(b) - 1
      } else if ((b & 0xC0) == 0x80) pending -= 1
      else whole = false
      if (b == '.') dotRun += 1
      else { ellipses += dotRun / 3; dotRun = 0 }
      if (b == ' ') {
        spaces += 1
        val w = stopAt(base, off, n, i)
        if (w >= 0 && i >= stopEnd(w)) {
          stops += 1; stopEnd(w) = i + Stops(w).length
        }
        if (inWord) { inWord = false; if (wordAlpha) alphaWords += 1 }
      } else {
        if (!inWord) { inWord = true; wordAlpha = false; words += 1 }
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) wordAlpha = true
        else if (b == '#') hashes += 1
        if (b == '\n') {
          val k = lineKind(base, off, lineFirst, lineLast)
          bullets += k & 1; ellipsisLines += k >> 1
          lines += 1; lineFirst = -1; lineLast = -1
        } else {
          if (lineFirst < 0) lineFirst = i
          lineLast = i
        }
      }
      i += 1
    }
    ellipses += dotRun / 3
    if (inWord && wordAlpha) alphaWords += 1
    val k = lineKind(base, off, lineFirst, lineLast)
    bullets += k & 1; ellipsisLines += k >> 1
    if (pending > 0 || !whole) {
      // the Column form's length differences, run as it runs them
      val total = s.numChars()
      def removed(sub: String): Int =
        total - s.replace(UTF8String.fromString(sub), UTF8String.EMPTY_UTF8).numChars()
      def occurrences(sub: String): Long = (removed(sub).toDouble / sub.length).toLong
      spaces = removed(" "); lines = removed("\n") + 1L
      hashes = occurrences("#"); ellipses = occurrences("...")
      stops = StopWords.map(occurrences).sum
      chars = total
    }

    // an empty trimmed text is split into one empty piece
    val nWords = math.max(words, 1L)
    val denomW = nWords.toDouble
    val meanWlen = (chars - spaces).toDouble / denomW
    val hashRatio = hashes.toDouble / denomW
    val ellipsisRatio = ellipses.toDouble / denomW
    val alphaFrac = alphaWords.toDouble / denomW
    val bulletFrac = bullets.toDouble / lines.toDouble
    val ellipsisLineFrac = ellipsisLines.toDouble / lines.toDouble
    val keep = nWords >= 50 && nWords <= 100000 &&
      meanWlen >= 3.0 && meanWlen <= 10.0 &&
      hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisLineFrac <= 0.3 &&
      alphaFrac >= 0.8 && stops >= 2
    new GenericInternalRow(Array[Any](nWords, meanWlen, hashRatio,
      ellipsisRatio, alphaFrac, bulletFrac, ellipsisLineFrac, stops, keep))
  }
}
