package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.plans.Shingles

/** Differential test: native graft_shingles must equal the HOF form
  * (`KernelOracles.shinglesHof`) element-for-element (same
  * first-occurrence order), including multi-byte chars (char windows,
  * not byte windows) and the short-text edge. */
class ShinglesSpec extends SparkSpec {
  import spark.implicits._

  test("native shingles equals HOF on random ascii text") {
    val rnd = new Random(13)
    val alpha = "abcdef gh"
    val docs = (1 to 300).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(200))(alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("id", "text")
    for (k <- Seq(1, 3, 5)) {
      val d = KernelOracles.diffs(docs, TextOps.shingles($"text", k),
        KernelOracles.shinglesHof($"text", k), classOf[Shingles])
      assert(d.isEmpty, s"k=$k: ${d.mkString("\n")}")
    }
  }

  test("multi-byte chars shingle by character, short text empty") {
    val docs = Seq((1L, "héllo wörld"), (2L, "日本語のテキスト"), (3L, "ab"))
      .toDF("id", "text")
    val d = KernelOracles.diffs(docs, TextOps.shingles($"text", 3),
      KernelOracles.shinglesHof($"text", 3), classOf[Shingles])
    assert(d.isEmpty, d.mkString("\n"))
    val short = docs.filter($"id" === 3L).select(TextOps.shingles($"text", 3)).head()
    assert(short.getSeq[String](0).isEmpty)
  }
}
