package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.plans.MinHashShingles

/** The native MinHash signature (`Dedup.minhashSignature`, fused into
  * MinHashShingles) and its HOF oracle
  * (`KernelOracles.minhashSignatureHof`) must produce IDENTICAL
  * signatures (same murmur3 double-hashing family). Also pins the
  * blocked-simhash candidate contract: 16-bit blocks lose no pair
  * within the maxDist bound and generate far fewer candidates than
  * 8-bit chunks on a random corpus. */
class MinHashFamilySpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, seed: Int) = {
    val rnd = new Random(seed)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "lake", "river", "stone", "cloud", "ember", "frost")
    (1 to n).map { i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("native and HOF minhash signatures are identical") {
    def diffs(df: org.apache.spark.sql.DataFrame, k: Int, numHashes: Int) =
      KernelOracles.diffs(df, Dedup.minhashSignature($"text", k, numHashes),
        KernelOracles.minhashSignatureHof($"text", k, numHashes),
        classOf[MinHashShingles]).map(d => s"k=$k: $d")
    val d = diffs(corpus(120, seed = 23).filter(length($"text") >= 5), 5, 64) ++
      // short texts and a repeated shingle ("aaaa"), 3-shingles, 32 lanes
      diffs(Seq("abcdefgh", "the quick brown fox", "aaaa").toDF("text"), 3, 32)
    assert(d.isEmpty, d.mkString("\n"))
  }

  test("16-bit simhash blocks: lossless within bound, fewer candidates than 8-bit") {
    val rnd = new Random(31)
    val base = corpus(250, seed = 29)
    // plant exact dups (hamming 0 — within every maxDist bound)
    val dups = base.filter($"doc_id" <= 20)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val df = base.union(dups).cache()

    val pairs16 = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3, blocks = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    for (i <- 1L to 20L)
      assert(pairs16.contains((i, i + 10000)), s"planted dup $i lost by 16-bit blocking")

    val cand16 = Dedup.simhashCandidates(df, "doc_id", "text", blocks = 4).count()
    val cand8 = Dedup.simhashCandidates(df, "doc_id", "text", blocks = 8).count()
    assert(cand16 < cand8,
      s"16-bit blocking should prune candidates: $cand16 vs $cand8")
    df.unpersist()
  }

  test("simhash mild twins: a one-token append stays within 3 bits " +
      "for most docs, and 16-bit blocking pairs every such twin") {
    // SimHash's regime is the tiny edit: long docs whose per-bit votes
    // one more token rarely flips. 100 docs of 60-100 tokens over a
    // 200-word vocabulary; each twin appends one unseen token.
    val rnd = new Random(67)
    val docs = (1 to 100).map { i =>
      (i.toLong, Seq.fill(60 + rnd.nextInt(41))(s"w${rnd.nextInt(200)}").mkString(" "))
    }.toDF("doc_id", "text")
    val twins = docs.select(($"doc_id" + 10000).as("doc_id"),
      concat($"text", lit(" zq")).as("text"))
    val df = docs.union(twins).cache()
    val bits = df.select($"doc_id", Dedup.simhash64($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    val near = (1L to 100L).filter(i =>
      java.lang.Long.bitCount(bits(i) ^ bits(i + 10000)) <= 3)
    assert(near.size >= 60, s"only ${near.size}/100 mild twins within 3 bits")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3, blocks = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    near.foreach(i =>
      assert(pairs.contains((i, i + 10000)), s"twin of $i lost by 16-bit blocking"))
    df.unpersist()
  }
}
