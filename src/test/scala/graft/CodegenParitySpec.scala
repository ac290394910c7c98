package graft

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import graft.plans._

/** Generated code vs interpreted eval for the native kernels that have
  * no HOF oracle ([[KernelOracles.codegenDiffs]]): each kernel runs
  * compiled inside a whole-stage codegen stage and again with codegen
  * off, over its spec's edge rows, and every output must agree — doubles
  * bit for bit. The kernels' own specs compare them with their legacy
  * expression chains; this one proves the generated Java is the code
  * those comparisons exercised, not a second implementation. */
class CodegenParitySpec extends SparkSpec {
  import spark.implicits._

  private def bridge(e: Expression): Column = GraftColumnBridge.column(e)
  private def ex(c: Column): Expression = GraftColumnBridge.expression(c)

  private def assertSame(input: DataFrame, kernel: Column,
                         cls: Class[_ <: Expression]): Unit = {
    val bad = KernelOracles.codegenDiffs(input, kernel, cls)
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  /** VecUnitSpec's edges: zero, empty, NaN, ±Inf, tiny norms, a null
    * element and a null array. */
  test("VecUnit: codegen == interpreted on double and float edge vectors") {
    val r = new Random(42)
    val doubles = (1L to 60L).map(id => (id, Seq.fill(16)(r.nextDouble() * 20 - 10))) ++ Seq(
      (900L, Seq.fill(16)(0.0)), (901L, Seq.empty[Double]),
      (902L, Seq(Double.NaN, 1.0, 2.0)), (903L, Seq(Double.PositiveInfinity, 1.0)),
      (904L, Seq(1e-300, 0.0, -1e-300)), (905L, Seq(-0.0, 3.0)))
    assertSame(doubles.toDF("id", "v"), bridge(VecUnit(ex(col("v")))), classOf[VecUnit])
    val floats = (1L to 40L).map(id => (id, Seq.fill(24)(r.nextFloat() * 6 - 3))) ++
      Seq((900L, Seq.fill(8)(0.0f)), (901L, Seq(Float.NaN, 1.0f)))
    assertSame(floats.toDF("id", "v"), bridge(VecUnit(ex(col("v")))), classOf[VecUnit])
    val nulls = Seq((1L, Seq[java.lang.Double](1.0, null, 3.0)),
      (2L, null.asInstanceOf[Seq[java.lang.Double]]),
      (3L, Seq[java.lang.Double](1.0, 2.0))).toDF("id", "v")
    assertSame(nulls, bridge(VecUnit(ex(col("v")))), classOf[VecUnit])
  }

  private def unitRows(model: Seq[Seq[Double]]): Array[Array[Double]] =
    model.map { cv =>
      val n = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
      (if (n > 0) cv.map(_ / n) else cv.map(_ => 0.0)).toArray
    }.toArray

  /** PqKernelSpec's edges: a duplicated centroid (ties), a zero
    * centroid, NaN and Inf scores, a zero vector and a null one. */
  test("CellArgmax: codegen == interpreted, ties, NaN and nulls included") {
    val r = new Random(7)
    val dim = 8
    val base = Seq.fill(dim)(r.nextDouble() * 2 - 1)
    val model = Seq(Seq.fill(dim)(0.0), base, Seq.fill(dim)(r.nextDouble() * 2 - 1),
      Seq.fill(dim)(r.nextDouble() * 2 - 1), base)
    val ca = (v: Column, nrm: Column) => bridge(CellArgmax(ex(v), ex(nrm),
      Array(1L, 2L, 5L, 7L, 9L), unitRows(model)))
    val rows = (1L to 100L).map(id =>
      (id, Seq.fill(dim)(r.nextDouble() * 4 - 2), r.nextDouble() * 3 + 1e-12)) ++ Seq(
      (900L, base, 1.0), (901L, Seq.fill(dim)(Double.NaN), 1.0),
      (902L, base.updated(0, Double.PositiveInfinity), 2.0),
      (903L, Seq.fill(dim)(0.0), 0.5))
    assertSame(rows.toDF("id", "v", "nrm"), ca(col("v"), col("nrm")), classOf[CellArgmax])
    val nulls = Seq((1L, null.asInstanceOf[Seq[Double]], 1.0), (2L, base, 1.0))
      .toDF("id", "v", "nrm")
    assertSame(nulls, ca(col("v"), col("nrm")), classOf[CellArgmax])
  }

  /** m = 4 subspaces of ks = 6 codewords over sd = 4 dims; codebook 1
    * repeats its first codeword as its last (an exact score tie). */
  private def codebook(r: Random): Array[Array[Array[Double]]] = {
    val cb = Array.tabulate(4, 6, 4)((_, _, _) => r.nextDouble() * 2 - 1)
    cb(1)(5) = cb(1)(0).clone()
    cb
  }

  private def pqRows(r: Random, cb: Array[Array[Array[Double]]]): DataFrame =
    ((1L to 80L).map(id => (id, Seq.fill(16)(r.nextDouble() * 2 - 1))) ++ Seq(
      (900L, cb(1)(0).toSeq ++ Seq.fill(12)(0.0)), // on the duplicated codeword
      (901L, Seq.fill(16)(Double.NaN)), (902L, Seq.fill(16)(0.0)),
      (903L, null.asInstanceOf[Seq[Double]]))).toDF("id", "v")

  test("PqEncode: codegen == interpreted on the tie, NaN, zero and null rows") {
    val r = new Random(11)
    val cb = codebook(r)
    val halfN2 = cb.map(_.map(c => c.foldLeft(0.0)((acc, x) => acc + x * x) / 2))
    assertSame(pqRows(r, cb), bridge(PqEncode(ex(col("v")), cb, halfN2)), classOf[PqEncode])
    val floats = (1L to 40L).map(id => (id, Seq.fill(16)(r.nextFloat() * 2 - 1))).toDF("id", "v")
    assertSame(floats, bridge(PqEncode(ex(col("v")), cb, halfN2)), classOf[PqEncode])
  }

  test("PqLut: codegen == interpreted on the tie, NaN, zero and null rows") {
    val r = new Random(13)
    val cb = codebook(r)
    assertSame(pqRows(r, cb), bridge(PqLut(ex(col("v")), cb)), classOf[PqLut])
    val floats = (1L to 40L).map(id => (id, Seq.fill(16)(r.nextFloat() * 2 - 1))).toDF("id", "v")
    assertSame(floats, bridge(PqLut(ex(col("v")), cb)), classOf[PqLut])
  }

  test("PqAdc: codegen == interpreted over random codes, NaN and null luts") {
    val r = new Random(17)
    val (m, ks) = (4, 6)
    val rows = (1L to 80L).map(id =>
      (id, Seq.fill(m)(r.nextInt(ks)), Seq.fill(m * ks)(r.nextDouble() * 4 - 2))) ++ Seq(
      (900L, Seq.fill(m)(0), Seq.fill(m * ks)(Double.NaN)),
      (901L, Seq.fill(m)(ks - 1), Seq.fill(m * ks)(-0.0)),
      (902L, null.asInstanceOf[Seq[Int]], Seq.fill(m * ks)(1.0)),
      (903L, Seq.fill(m)(1), null.asInstanceOf[Seq[Double]]))
    assertSame(rows.toDF("id", "codes", "lut"),
      bridge(PqAdc(ex(col("codes")), ex(col("lut")), m, ks)), classOf[PqAdc])
  }

  /** `n` code points drawn from `alpha` (whole code points, so an
    * emoji arrives as one 4-byte UTF-8 sequence, not two surrogates). */
  private def randStr(r: Random, n: Int, alpha: String): String = {
    val cps = alpha.codePoints().toArray
    val sb = new java.lang.StringBuilder
    (0 until n).foreach(_ => sb.appendCodePoint(cps(r.nextInt(cps.length))))
    sb.toString
  }

  /** Texts shorter than k, exactly k, repeat-heavy, multi-byte,
    * empty and null. */
  private def texts(r: Random): DataFrame =
    ((1L to 40L).map(id => (id, randStr(r, 20 + r.nextInt(300), "abcdefghij  "))) ++ Seq(
      (900L, ""), (901L, "short"), (902L, "exactly16chars!!"),
      (903L, "ab" * 200), (904L, randStr(r, 120, "äöüßλμπ😀x ")),
      (905L, null))).toDF("id", "text")

  test("Winnow: codegen == interpreted on short, repetitive and multi-byte texts") {
    val r = new Random(19)
    assertSame(texts(r), call_function("graft_winnow", col("text"), lit(16), lit(35)),
      classOf[Winnow])
    assertSame(texts(r), call_function("graft_winnow", col("text"), lit(4), lit(9)),
      classOf[Winnow])
  }

  test("LcpExtend: codegen == interpreted on ExactSubstrSpec's anchor rows") {
    val r = new Random(23)
    val alphas = Seq("abcdefgh", "aabb", "äöüßλμπ😀x", "a")
    val k = 4
    val rows = Seq.tabulate(200) { i =>
      val alpha = alphas(i % alphas.length)
      val ta = randStr(r, 10 + r.nextInt(60), alpha)
      val tb = randStr(r, 10 + r.nextInt(60), alpha)
      def pos(t: String) = 1 + r.nextInt(math.max(1, t.codePointCount(0, t.length) - k + 1))
      (ta, pos(ta), tb, pos(tb))
    } ++ Seq(("abc", 1, "abc", 1), ("", 1, "abcd", 1), ("abcd", 9, "abcd", 9))
    assertSame(rows.toDF("ta", "pa", "tb", "pb"),
      call_function("graft_lcp_ext", col("ta"), col("pa"), col("tb"), col("pb"), lit(k)),
      classOf[LcpExtend])
  }

  test("DeflateSize: codegen == interpreted across levels and edge texts") {
    val r = new Random(29)
    Seq(0, 1, 6, 9).foreach(level =>
      assertSame(texts(r), call_function("graft_deflate_size", col("text"), lit(level)),
        classOf[DeflateSize]))
  }

  test("MinHashSig (unfused): codegen == interpreted on token arrays") {
    val r = new Random(31)
    val rows = (1L to 60L).map(id =>
      (id, Seq.fill(r.nextInt(30))(randStr(r, 1 + r.nextInt(8), "abcdλ😀")))) ++ Seq(
      (900L, Seq.empty[String]), (901L, Seq("", "")), (902L, Seq("same", "same")),
      (903L, null.asInstanceOf[Seq[String]]))
    // a plain array<string> column (not graft_shingles) keeps the
    // optimizer from fusing the signature into MinHashShingles
    assertSame(rows.toDF("id", "toks"), call_function("graft_minhash", col("toks"), lit(64)),
      classOf[MinHashSig])
  }
}
