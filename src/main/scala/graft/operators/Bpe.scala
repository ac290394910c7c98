package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * tokenizer-build stage of a training-data pipeline.
  *
  * The scale insight is the paper's own: BPE trains on the WORD
  * FREQUENCY table, not the corpus. One corpus-sized word-count
  * aggregation (the word-count shuffle, map-side combining) reduces
  * 100 TB of text to a vocab-bounded (word, count) table — a few
  * million rows regardless of corpus size. That table collects ONCE
  * and the whole merge loop finishes locally on the driver: zero
  * Spark jobs per merge, so a production 32k-merge vocab costs one
  * distributed aggregation instead of 64k scheduler round trips.
  *
  * Segmentations are array<string> symbol columns; applying a merge
  * (a, b) is a left-to-right fold that joins an adjacent (a, b) into
  * ab — exactly BPE's greedy merge order on overlaps ("aaaa" +
  * merge(a,a) → ["aa","aa"], not ["aa","a","a"]). Words are short, so
  * the per-element array rebuild is O(|word|²) on tiny arrays — and
  * it runs on the vocab table, not the corpus.
  *
  * Determinism: pair selection breaks count ties on (a asc, b asc),
  * and the per-iteration pair counts are exact integer sums — merges
  * are reproducible under any partitioning (BpeSpec pins the classic
  * textbook merge sequence and partition invariance).
  *
  * Driver-memory bound: "vocab-bounded" is only unconditionally true
  * for well-behaved text — open-web corpora grow distinct "words"
  * (URLs, hashes, typos) roughly with corpus size. The collect is
  * therefore bounded explicitly: a `minCount` frequency floor drops
  * the long junk tail inside the distributed aggregation (the
  * standard trainer knob — singleton words cannot win a merge against
  * any repeated pair structure worth keeping), and a deterministic
  * top-`maxVocabRows` cap (cnt desc, word asc) hard-limits what ever
  * reaches the driver. Both are applied BEFORE the collect, on the
  * cluster side. */
object Bpe {

  /** Default hard cap on collected vocab rows (~a few hundred MB of
    * driver heap at typical word lengths). */
  val DefaultMaxVocabRows: Int = 8000000

  /** Left-to-right BPE merge of adjacent (a, b) → ab over a symbol
    * array. */
  private def applyMerge(arr: Column, a: String, b: String): Column =
    aggregate(arr, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent symbol pairs of one segmentation, as (a, b) structs.
    * The tail slice is size-bounded: slice(arr, 2, Int.MaxValue)
    * overflows the slice bound and yields an empty array. */
  private def pairs(arr: Column): Column =
    filter(
      zip_with(arr, slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (x, y) => struct(x.as("a"), y.as("b"))),
      p => p.getField("b").isNotNull)

  /** Distinct-word frequencies: (w, cnt). One corpus-sized shuffle
    * with map-side combine; everything downstream runs on this table. */
  private def wordCounts(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** One learned merge: the pair, its weighted adjacency count at
    * selection time, and the corpus token count after applying it.
    * (`n` can exceed the applied-merge count on overlap chains —
    * "aaaa" counts (a,a) three times but merges twice — so
    * `toksAfter` is measured, not derived.) */
  final case class MergeStep(a: String, b: String, n: Long, toksAfter: Long)

  /** Train `numMerges` merges. Returns (merges in order, final word
    * table (syms, cnt)). Each iteration: one pair-count aggregation
    * over the word table + one 1-row collect; the table re-segments
    * via the fold and checkpoints every few rounds to cap lineage. */
  def train(corpus: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 1L,
            maxVocabRows: Int = DefaultMaxVocabRows)
      : (Seq[(String, String)], DataFrame) = {
    val (steps, vocab) =
      core(corpus, textCol, numMerges, stats = false, minCount, maxVocabRows)
    (steps.map(s => (s.a, s.b)), vocab)
  }

  /** Like [[train]] but each step carries its pair count and the
    * post-merge corpus token count — the per-step trajectory t23_bpe
    * reports. */
  def trainDetailed(corpus: DataFrame, textCol: String, numMerges: Int,
                    minCount: Long = 1L,
                    maxVocabRows: Int = DefaultMaxVocabRows)
      : (Seq[MergeStep], DataFrame) =
    core(corpus, textCol, numMerges, stats = true, minCount, maxVocabRows)

  /** Spark's UTF8String binary ordering (unsigned UTF-8 byte compare)
    * — the tie-break the distributed `orderBy(asc("a"), asc("b"))`
    * used, preserved exactly so trained merge sequences are stable
    * across the r7→r8 local-finish rework. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Greedy left-to-right merge of adjacent (a, b) → ab — the local
    * twin of [[applyMerge]]'s fold, same overlap semantics. */
  private def mergeWord(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** ONE corpus-sized Spark job (the word-count shuffle), then a
    * driver-local merge loop over the collected vocab-bounded table.
    * The r7 shape ran 2 Spark jobs per merge — 64k scheduler round
    * trips at a production 32k-merge vocab; the paper's own insight is
    * that after the word count the training state is a frequency dict
    * a driver holds comfortably (a few million short rows for any
    * corpus — the table is bounded by DISTINCT words, not corpus
    * size). Merge selection replays the distributed tie-break exactly:
    * max weighted adjacency count, ties broken (a, b) ascending in
    * UTF8 binary order. */
  private def core(corpus: DataFrame, textCol: String, numMerges: Int,
                   stats: Boolean, minCount: Long, maxVocabRows: Int)
      : (Seq[MergeStep], DataFrame) = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxVocabRows >= 1, s"maxVocabRows must be >= 1, got $maxVocabRows")
    val spark = corpus.sparkSession
    // Both bounds run cluster-side, before anything reaches the driver:
    // the frequency floor inside the aggregation's output, the cap as a
    // deterministic top-k (cnt desc, then w asc in UTF8 binary order —
    // the same ordering utf8Lt replays in the merge loop).
    val vocab: Array[(Array[String], Long)] =
      wordCounts(corpus, textCol)
        .filter(col("cnt") >= minCount)
        .orderBy(desc("cnt"), asc("w"))
        .limit(maxVocabRows)
        .select(split(col("w"), "").as("syms"), col("cnt"))
        .collect()
        .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
    val merges = Seq.newBuilder[MergeStep]
    var done = false
    for (_ <- 1 to numMerges if !done) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]
      for ((syms, cnt) <- vocab) {
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + cnt)
          j += 1
        }
      }
      if (counts.isEmpty) done = true // every word fully merged
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          if (best == null || e._2 > best._2 ||
              (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((a, b), n) = best
        var toks = 0L
        var k = 0
        while (k < vocab.length) {
          val merged = mergeWord(vocab(k)._1, a, b)
          vocab(k) = (merged, vocab(k)._2)
          toks += merged.length.toLong * vocab(k)._2
          k += 1
        }
        merges += MergeStep(a, b, n, if (stats) toks else -1L)
      }
    }
    import spark.implicits._
    val finalVocab = vocab.toSeq.map { case (s, c) => (s.toSeq, c) }
      .toDF("syms", "cnt")
    (merges.result(), finalVocab)
  }

  /** Apply trained merges to a text column: adds `bpe_tokens` (count)
    * and `bpe_seg` (space-joined segmentation). Words segment
    * independently (merges never bridge whitespace, mirroring
    * training); map-side only at any scale. */
  def encode(df: DataFrame, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    val segWord = merges.foldLeft((w: Column) => split(w, "")) {
      case (f, (a, b)) => (w: Column) => applyMerge(f(w), a, b)
    }
    val words = filter(split(trim(col(textCol)), "\\s+"), w => length(w) > 0)
    val segs = transform(words, w => segWord(w))
    df.withColumn("bpe_tokens",
        aggregate(segs, lit(0L), (acc, s) => acc + size(s)))
      .withColumn("bpe_seg",
        array_join(flatten(segs), " "))
  }
}
