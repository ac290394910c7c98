package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.plans.Fingerprint

/** Differential test: native graft_fingerprint must equal the HOF
  * rolling-hash fold (`KernelOracles.fingerprintHof`)
  * code-point-for-code-point, including multi-byte text and the empty
  * string. */
class FingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("native fingerprint equals HOF on random ascii text") {
    val rnd = new Random(43)
    val alpha = "abcdefgh XYZ.,09"
    val docs = (1 to 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(300))(alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("id", "text")
    val d = KernelOracles.diffs(docs, TextOps.fingerprint($"text"),
      KernelOracles.fingerprintHof($"text"), classOf[Fingerprint])
    assert(d.isEmpty, d.mkString("\n"))
  }

  test("multi-byte and empty text match the HOF") {
    val docs = Seq((1L, "héllo wörld"), (2L, "日本語テキスト"), (3L, ""), (4L, "a"))
      .toDF("id", "text")
    val d = KernelOracles.diffs(docs, TextOps.fingerprint($"text"),
      KernelOracles.fingerprintHof($"text"), classOf[Fingerprint])
    assert(d.isEmpty, d.mkString("\n"))
    assert(docs.filter($"id" === 3L).select(TextOps.fingerprint($"text"))
      .head().getLong(0) == 0L)
  }
}
