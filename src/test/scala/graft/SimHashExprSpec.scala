package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.SimHash64

/** Differential test: native graft_simhash must equal the 64-lambda
  * HOF formulation (`KernelOracles.simhash64Hof`) bit-for-bit (same
  * xxhash64 token family, same vote rule), including empty and
  * whitespace-only text. */
class SimHashExprSpec extends SparkSpec {
  import spark.implicits._

  test("native simhash equals HOF on random token text") {
    val rnd = new Random(37)
    val words = Seq("spark", "query", "engine", "columnar", "shuffle",
      "codegen", "janino", "tungsten", "arrow", "parquet")
    val docs = (1 to 250).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("id", "text")
    val d = KernelOracles.diffs(docs, Dedup.simhash64($"text"),
      KernelOracles.simhash64Hof($"text"), classOf[SimHash64])
    assert(d.isEmpty, d.mkString("\n"))
  }

  test("edge cases: empty, single token, whitespace padding") {
    val docs = Seq((1L, ""), (2L, "one"), (3L, "  padded   tokens  "))
      .toDF("id", "text")
    val d = KernelOracles.diffs(docs, Dedup.simhash64($"text"),
      KernelOracles.simhash64Hof($"text"), classOf[SimHash64])
    assert(d.isEmpty, d.mkString("\n"))
  }
}
