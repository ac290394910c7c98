package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityClassifier

/** The spec session is the factory's session, and the factory's ANSI
  * pin is what makes the classifier's decimal fold fail loudly. */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("the spec session carries every conf the factory pins") {
    assert(spark.sparkContext.master == "local[4]")
    Session.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k drifted from the factory")
    }
  }

  test("classifier fold step: exact below 1e21, an overflow error past it, " +
      "never NULL") {
    // accumulator one unit under the decimal(37,16) bound of 1e21
    val start = lit(BigDecimal("999999999999999999999")).cast("decimal(37,16)")
    def fold(terms: Seq[Double]) =
      Seq(terms).toDF("xs").select(
        aggregate(col("xs"), start, (acc, x) => QualityClassifier.foldStep(acc, x)))
    assert(fold(Seq(0.25, 0.25)).as[java.math.BigDecimal].head()
      .compareTo(new java.math.BigDecimal("999999999999999999999.5")) == 0)
    val e = intercept[Throwable](fold(Seq(0.5, 0.5)).collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ArithmeticException]),
      s"expected an arithmetic overflow, got $e")
  }
}
