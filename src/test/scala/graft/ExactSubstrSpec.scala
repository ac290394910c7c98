package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Exact-substring dedup: the winnowing guarantee (every >= minLen
  * shared run is found), exact longest-common-substring lengths, the
  * graft_lcp_ext kernel, fingerprint density, and set equivalence against
  * a brute-force LCS on a repeat-heavy random corpus. */
class ExactSubstrSpec extends SparkSpec {
  import spark.implicits._

  private def randStr(r: Random, n: Int, alpha: String = "abcdefghij"): String =
    Seq.fill(n)(alpha(r.nextInt(alpha.length))).mkString

  test("planted >= minLen shared runs are always found, with exact length") {
    val r = new Random(7)
    val shared = randStr(r, 64) // planted common run
    // distinct flanks (alphabet disjoint from the run's) so the
    // planted run IS the longest common substring
    val docs = Seq(
      (1L, randStr(r, 200, "klmnopqrst") + shared + randStr(r, 150, "klmnopqrst")),
      (2L, randStr(r, 80, "uvwxyz") + shared + randStr(r, 300, "uvwxyz")),
      (3L, randStr(r, 400, "uvwxyz")) // no planted run
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrPairs(docs, "doc_id", "text", minLen = 50, k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 64L)), s"got $got")
  }

  test("runs shorter than minLen are rejected") {
    val r = new Random(11)
    val shared = randStr(r, 49)
    val docs = Seq(
      (1L, randStr(r, 100, "klmnopqrst") + shared),
      (2L, shared + randStr(r, 100, "uvwxyz"))
    ).toDF("doc_id", "text")
    assert(Dedup.exactSubstrPairs(docs, "doc_id", "text",
      minLen = 50, k = 8).count() == 0)
  }

  test("graft_lcp_ext: fused verify+extend matches the old expression chain") {
    // r22 differential: the fused zero-copy kernel must reproduce the
    // old substr-equality filter + reversed-prefix/suffix lcp chain
    // bit-for-bit, including multi-byte code points (positions are
    // code-point-based on both paths).
    val r = new Random(23)
    val alphas = Seq("abcdefgh", "aabb", "äöüßλμπ😀x", "a")
    val k = 4
    val rows = Seq.tabulate(400) { i =>
      val alpha = alphas(i % alphas.length)
      // whole code points: the emoji is one 4-byte UTF-8 sequence
      val cps = alpha.codePoints().toArray
      def s(n: Int) = {
        val sb = new java.lang.StringBuilder
        (0 until n).foreach(_ => sb.appendCodePoint(cps(r.nextInt(cps.length))))
        sb.toString
      }
      val ta = s(10 + r.nextInt(60)); val tb = s(10 + r.nextInt(60))
      // positions over CODE POINTS (the winnow contract: pa <= cps-k+1)
      def pos(t: String) = {
        val cps = t.codePointCount(0, t.length)
        1 + r.nextInt(math.max(1, cps - k + 1))
      }
      (ta, pos(ta), tb, pos(tb))
    }
    // the old chain in plain Scala over code points: anchor check
    // substr(pa,k) === substr(pb,k), left extension = lcp of the
    // reversed prefixes, right = lcp of the suffixes past the anchor
    val df = rows.toDF("ta", "pa", "tb", "pb")
    def cps(t: String) = t.codePoints().toArray
    def str(a: Array[Int]) = new String(a, 0, a.length)
    val want = df.as[(String, Int, String, Int)].collect().toSeq.map { case (ta, pa, tb, pb) =>
      val (a, b) = (cps(ta), cps(tb))
      val m = a.slice(pa - 1, pa - 1 + k).sameElements(b.slice(pb - 1, pb - 1 + k))
      val lext = if (m) KernelOracles.lcp(str(a.take(pa - 1).reverse),
        str(b.take(pb - 1).reverse)) else 0
      val run = if (m) lext + k + KernelOracles.lcp(str(a.drop(pa - 1 + k)),
        str(b.drop(pb - 1 + k))) else 0
      (ta, pa, tb, pb, lext, run)
    }
    val fused = df
      .select(col("ta"), col("pa"), col("tb"), col("pb"),
        call_function("graft_lcp_ext", col("ta"), col("pa"),
          col("tb"), col("pb"), lit(k)).as("e"))
      .select(col("ta"), col("pa"), col("tb"), col("pb"),
        col("e.lext").as("lext"), col("e.run").as("run"))
      .as[(String, Int, String, Int, Int, Int)].collect().toSeq
    assert(want.exists(_._6 > k), "no extended anchor — broken fixture")
    val bad = fused.diff(want)
    assert(fused.size == want.size && bad.isEmpty,
      KernelOracles.escaped(s"${bad.size} rows diverged from the " +
        s"code-point reference, e.g. ${bad.headOption}"))
  }

  test("winnowed anchor density is a small fraction of positions") {
    val r = new Random(13)
    val docs = Seq.tabulate(20)(i => (i.toLong, randStr(r, 500))).toDF("doc_id", "text")
    val anchors = docs.select(explode(
      call_function("graft_winnow", col("text"), lit(8), lit(43)))).count()
    val positions = 20L * (500 - 8 + 1)
    // theoretical density 2/(w+1) ~ 4.5%; allow slack
    assert(anchors < positions / 10,
      s"$anchors anchors for $positions positions — winnowing not thinning")
    assert(anchors > 0)
  }

  test("exactSubstrRemove: keep-first cut, exact content") {
    val r = new Random(17)
    val shared = randStr(r, 60)
    val pre2 = randStr(r, 100, "uvwxyz"); val post2 = randStr(r, 80, "uvwxyz")
    val t3 = randStr(r, 200, "uvwxyz")
    val docs = Seq(
      (1L, randStr(r, 150, "klmnopqrst") + shared), // first occurrence: kept
      (2L, pre2 + shared + post2),                  // loses the span
      (3L, t3)                                      // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemove(docs, "doc_id", "text",
        minLen = 50, k = 8)
      .as[(Long, String)].collect().toMap
    assert(out(1L).endsWith(shared), "keep-first doc must keep its text")
    assert(out(2L) == pre2 + post2, "higher doc must lose exactly the span")
    assert(out(3L) == t3, "unaffected doc must pass through")
  }

  test("exactSubstrRemove: overlapping spans from two partners merge") {
    val r = new Random(19)
    // doc 3 contains runA and runB overlapping (runB starts inside
    // runA's copy): A = x...y, B = y...z, doc3 holds x...y...z
    val a = randStr(r, 60, "abcde")
    val b = randStr(r, 60, "fghij")
    val joint = a + b // doc3's duplicated region: a then b, adjacent
    val docs = Seq(
      (1L, randStr(r, 100, "klmno") + a + randStr(r, 60, "klmno")),
      (2L, randStr(r, 90, "pqrst") + b + randStr(r, 70, "pqrst")),
      (3L, "Z" * 40 + joint + "Q" * 40)
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrRemove(docs, "doc_id", "text",
        minLen = 50, k = 8)
      .as[(Long, String)].collect().toMap
    assert(out(3L) == "Z" * 40 + "Q" * 40,
      s"adjacent spans must merge and cut once, got ${out(3L).length} chars")
    assert(out(1L).contains(a) && out(2L).contains(b), "first occurrences kept")
  }

  test("exactSubstrRemoveFixpoint eliminates juxtaposition-created dups") {
    val r = new Random(43)
    // doc2 holds X···Y where ··· is shared with doc3; removing ···
    // joins X+Y, which doc4 contains verbatim — a second pass must
    // catch the juxtaposed duplicate the first pass created
    val x = randStr(r, 30, "abcde"); val y = randStr(r, 30, "fghij")
    val mid = randStr(r, 60, "klmno")
    val docs = Seq(
      (1L, randStr(r, 100, "pqrst") + mid + randStr(r, 60, "pqrst")),
      (2L, x + mid + y),
      (3L, "Q" * 80 + x + y + "R" * 80)
    ).toDF("doc_id", "text")
    val once = Dedup.exactSubstrRemove(docs, "doc_id", "text", minLen = 50, k = 8)
    // pass 1: doc2 loses mid (first seen in doc1) -> doc2 becomes x+y,
    // which now duplicates part of doc3... doc3 is LATER, so pass 2
    // cuts x+y from doc3 (keep-first: doc2 keeps)
    val fix = Dedup.exactSubstrRemoveFixpoint(docs, "doc_id", "text",
        minLen = 50, k = 8)
    assert(Dedup.exactSubstrPairs(fix, "doc_id", "text",
      minLen = 50, k = 8).count() == 0, "fixpoint must leave no pairs")
    val out = fix.as[(Long, String)].collect().toMap
    assert(out(2L) == x + y, "doc2 keeps the juxtaposed first occurrence")
    assert(out(3L) == "Q" * 80 + "R" * 80, s"doc3 must lose x+y, got ${out(3L).take(90)}")
    // and a single pass genuinely wasn't enough (the property that
    // makes the fixpoint loop worth having)
    assert(Dedup.exactSubstrPairs(once, "doc_id", "text",
      minLen = 50, k = 8).count() > 0)
  }

  test("cross-corpus probe == self-join pairs restricted across the split") {
    val r = new Random(23)
    val raw = Seq.tabulate(40)(i => (i.toLong, randStr(r, 120, "ab")))
    val df = raw.toDF("doc_id", "text")
    val corpus = df.filter($"doc_id" % 3 =!= 0)
    val batch = df.filter($"doc_id" % 3 === 0)
    // index round-trips through parquet like a persisted artifact
    val dir = java.nio.file.Files.createTempDirectory("widx").toString
    Dedup.winnowIndex(corpus, "doc_id", "text", minLen = 12, k = 4)
      .write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    val got = Dedup.exactSubstrPairsAgainst(idx, corpus, batch,
        "doc_id", "text", minLen = 12, k = 4)
      .as[(Long, Long, Long)].collect()
      .map { case (c, b, l) => (math.min(c, b), math.max(c, b), l) }.toSet
    val want = Dedup.exactSubstrPairs(df, "doc_id", "text", minLen = 12, k = 4)
      .as[(Long, Long, Long)].collect()
      .filter { case (a, b, _) => (a % 3 == 0) != (b % 3 == 0) }.toSet
    assert(want.nonEmpty, "split produced no cross pairs — broken fixture")
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("cross-corpus probe past the probe-broadcast cap (> 100k batch " +
      "anchors) == self-join pairs restricted across the split") {
    // k = 8 over a 62-char alphabet: random 8-grams never collide, so
    // the only pairs are the planted quotes; w = minLen - k + 1 = 2
    // keeps ~2/3 of all positions as anchors
    val r = new Random(37)
    val alpha = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString
    val (minLen, k) = (9, 8)
    val corpusRows = (0L until 100L).map(i => (i, randStr(r, 100, alpha)))
    // every 10th batch doc quotes a 20-char run of one corpus doc
    val batchRows = (1000L until 3000L).map { i =>
      val body = randStr(r, 100, alpha)
      if (i % 10 != 0) (i, body)
      else (i, body.take(40) + corpusRows((i / 10 % 100).toInt)._2.slice(30, 50) +
        body.drop(40))
    }
    val corpus = corpusRows.toDF("doc_id", "text")
    val batch = batchRows.toDF("doc_id", "text")
    val anchors = Dedup.winnowIndex(batch, "doc_id", "text", minLen, k).count()
    assert(anchors > Dedup.MaxProbeBroadcastRows,
      s"$anchors batch anchors do not pass the probe-broadcast cap")
    val got = Dedup.exactSubstrPairsAgainst(
        Dedup.winnowIndex(corpus, "doc_id", "text", minLen, k), corpus, batch,
        "doc_id", "text", minLen, k)
      .as[(Long, Long, Long)].collect().toSet
    // corpus ids < 1000 <= batch ids, so a cross pair's a_id is the corpus doc
    val want = Dedup.exactSubstrPairs(corpus.unionByName(batch), "doc_id", "text",
        minLen, k)
      .as[(Long, Long, Long)].collect()
      .filter { case (a, b, _) => a < 1000L && b >= 1000L }.toSet
    assert(want.size >= 200, s"only ${want.size} cross pairs — broken fixture")
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
  }

  test("degenerate inputs: empty corpus, short docs, identical docs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactSubstrPairs(empty, "doc_id", "text").count() == 0)
    // shorter than minLen (and than k): no anchors, no pairs, no crash
    val short = Seq((1L, "tiny"), (2L, "tiny")).toDF("doc_id", "text")
    assert(Dedup.exactSubstrPairs(short, "doc_id", "text").count() == 0)
    // docs of EXACTLY minLen, all identical: every pair at full length
    val s = "ab" * 25
    val same = Seq((1L, s), (2L, s), (3L, s)).toDF("doc_id", "text")
    val got = Dedup.exactSubstrPairs(same, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 50L), (1L, 3L, 50L), (2L, 3L, 50L)))
    // removal keeps the first copy, empties the rest
    val rem = Dedup.exactSubstrRemove(same, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(rem(1L) == s && rem(2L) == "" && rem(3L) == "")
  }

  test("matches brute-force LCS pairs on a repeat-heavy corpus") {
    // tiny alphabet + short docs force organic repeats
    val r = new Random(29)
    val raw = Seq.tabulate(30)(i => (i.toLong, randStr(r, 120, "ab")))
    def lcsLen(a: String, b: String): Int = {
      // O(|a||b|) DP, row-rolling
      var prev = new Array[Int](b.length + 1)
      var cur = new Array[Int](b.length + 1)
      var best = 0
      for (i <- 1 to a.length) {
        for (j <- 1 to b.length) {
          cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
        }
        val t = prev; prev = cur; cur = t
        java.util.Arrays.fill(cur, 0)
      }
      best
    }
    val minLen = 12
    val want = (for {
      (ia, ta) <- raw; (ib, tb) <- raw if ia < ib
      l = lcsLen(ta, tb) if l >= minLen
    } yield (ia, ib, l.toLong)).toSet
    assert(want.nonEmpty, "corpus produced no repeats — broken fixture")
    val got = Dedup.exactSubstrPairs(raw.toDF("doc_id", "text"), "doc_id", "text",
        minLen = minLen, k = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${want -- got}\nextra=${got -- want}")
  }
}
