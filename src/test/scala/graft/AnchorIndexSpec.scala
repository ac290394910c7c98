package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.TieredIndex

/** The winnow anchor index's maintenance story (VERDICT r18 item 2):
  * generation-tiered compaction (`Dedup.compactAnchorIndex`), a key-
  * summary sidecar that lets the cross-corpus probe prune FILES (not
  * just shuffle rows), the persisted hot-hash metadata rebuilt per
  * compaction, and the map-side bloom hot-key derivation the probe's
  * file pruning rides. Differentials: the dir-based probe must decide
  * exactly like the in-memory probe, with and without the sidecar,
  * with inline and persisted (fresh AND stale) hot tables. */
class AnchorIndexSpec extends SparkSpec {
  import spark.implicits._

  /** ~30 hash-words per doc; docs from different seeds share < 50
    * consecutive chars. */
  private def doc(i: Long, seed: String): (Long, String) =
    (i, (0 until 30).map(j => s"${seed}w${(j * 31 + i * 7) % 97}")
      .mkString(" "))

  private def pairsOf(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("corpus_id", "batch_id", "lcs_len")
      .as[(Long, Long, Long)].collect().toSet

  test("dir probe == in-memory probe, file pruning bites after " +
      "compaction, and decisions survive sidecar removal") {
    val dir = Files.createTempDirectory("anchor_idx").toString
    val idx = s"$dir/winnow_index"
    // corpus: 400 docs; batch: one doc extending corpus doc 3
    // verbatim + one fresh doc
    val corpus = (0L until 400L).map(i => doc(i, s"s$i"))
      .toDF("doc_id", "text")
    val (_, d3) = doc(3L, "s3")
    val batch = Seq((9001L, d3 + " extra tail"), doc(9002L, "fresh"))
      .toDF("doc_id", "text")
    // one seed file: the tiny-file-target compaction below caps tail
    // conversion at 32x the target PER PASS (but always takes at
    // least one file), so a single seed file converts in one pass
    Dedup.winnowIndex(corpus, "doc_id", "text", minLen = 50, k = 16)
      .coalesce(1).write.mode("overwrite").parquet(idx)

    val expected = pairsOf(Dedup.exactSubstrPairsAgainst(
      spark.read.parquet(idx), corpus, batch, "doc_id", "text",
      minLen = 50, k = 16))
    assert(expected.nonEmpty && expected.forall(_._1 == 3L))

    // BEFORE compaction: no sidecar, everything is tail
    val buf0 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val got0 = pairsOf(Dedup.exactSubstrPairsAgainstDir(spark, idx,
      corpus, batch, "doc_id", "text", minLen = 50, k = 16,
      stageLog = Some(buf0)))
    assert(got0 == expected, s"pre-compaction dir probe: $got0")
    val g0 = buf0.toMap
    assert(g0("anchor:generations") == 0.0 && g0("anchor:tail_files") > 0)

    // compact with a tiny file target -> many h-clustered base files
    Dedup.compactAnchorIndex(spark, idx, targetFileBytes = 1024)
    val baseFiles = new java.io.File(idx).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(baseFiles > 10, s"want >10 base files, got $baseFiles")
    assert(new java.io.File(idx + "_keys").exists(), "sidecar missing")

    // colliding batch: identical pairs, bounded base read
    val buf1 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val got1 = pairsOf(Dedup.exactSubstrPairsAgainstDir(spark, idx,
      corpus, batch, "doc_id", "text", minLen = 50, k = 16,
      stageLog = Some(buf1)))
    assert(got1 == expected, s"post-compaction dir probe: $got1")
    val g1 = buf1.toMap
    assert(g1("anchor:generations") == 1.0)
    assert(g1("anchor:tail_files") == 0.0)
    assert(g1("anchor:hot_keys") >= 1.0,
      s"planted collision must flag hot fingerprints: $g1")
    assert(g1("anchor:base_files_read") >= 1.0 &&
      g1("anchor:base_files_read") < baseFiles.toDouble,
      s"probe must read a strict file subset: $g1 of $baseFiles")

    // all-fresh batch: zero hot fingerprints -> base not read at all
    val buf2 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val fresh = Seq(doc(9100L, "neverseen"), doc(9101L, "alsofresh"))
      .toDF("doc_id", "text")
    val got2 = pairsOf(Dedup.exactSubstrPairsAgainstDir(spark, idx,
      corpus, fresh, "doc_id", "text", minLen = 50, k = 16,
      stageLog = Some(buf2)))
    assert(got2.isEmpty)
    val g2 = buf2.toMap
    assert(g2("anchor:hot_keys") == 0.0 &&
      g2("anchor:base_files_read") == 0.0,
      s"fresh batch must not read the base: $g2")

    // sidecar REMOVED: full-scan fallback decides identically
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(idx + "_keys"))
    val got3 = pairsOf(Dedup.exactSubstrPairsAgainstDir(spark, idx,
      corpus, batch, "doc_id", "text", minLen = 50, k = 16))
    assert(got3 == expected, s"fallback dir probe: $got3")
  }

  test("driver-side bloom mirror: every indexed fingerprint is hot " +
      "(no false negatives), a disjoint key set is almost all cold") {
    // both properties through the production hot-key derivation
    // (TieredIndex.probe's map-side flags), which must also flag
    // exactly the keys the driver-side mirror claims
    val dir = Files.createTempDirectory("anchor_bloom").toString
    val idx = s"$dir/winnow_index"
    val corpus = (0L until 200L).map(i => doc(i, s"b$i"))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(corpus, "doc_id", "text", minLen = 50, k = 16)
      .write.mode("overwrite").parquet(idx)
    Dedup.compactAnchorIndex(spark, idx)
    val gens = TieredIndex.load(spark, idx).get
    val indexed = spark.read.parquet(idx).select("h")
      .distinct().as[Long].collect().toSeq
    assert(indexed.length > 1000)
    // the production probe's hot-key count for a batch of fingerprints
    def hotKeys(hs: Seq[Long]): Double = {
      val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
      TieredIndex.probe(spark, idx, Dedup.anchorIndexSpec(),
        Seq.empty[(Long, Int, Long)].toDF("doc", "pos", "h"), "anchor",
        Some(buf))(hs.toDF("h"))
      buf.toMap.apply("anchor:hot_keys")
    }
    assert(hotKeys(indexed) == indexed.length.toDouble,
      "hot-key derivation produced a false negative on an indexed key")
    // disjoint probes: fp rate must stay near the design point
    val probes = (1L to 20000L).map(_ * 0x9e3779b97f4a7c15L)
      .filterNot(indexed.toSet)
    val fp = hotKeys(probes)
    assert(fp <= probes.length / 100,
      s"bloom fp rate out of band: $fp/${probes.length}")
    assert(fp == probes.count(h =>
        gens.exists(g => KernelOracles.mightContainKey(g, h))).toDouble,
      "the map-side flags must match the driver-side bloom mirror")
  }

  test("hot-hash metadata: built at compaction, equal to the inline " +
      "df-cap when fresh; stale tables only delay a new hub's " +
      "exclusion (extra pairs, never a lost one) and re-agree after " +
      "the next compaction") {
    val dir = Files.createTempDirectory("anchor_hot").toString
    val idx = s"$dir/winnow_index"
    // a boilerplate footer shared by EVERY corpus doc (df = 60 > 8)
    // plus unique bodies; min-length so the footer alone could pair
    val footer = (0 until 30).map(j => s"footw${j % 97}").mkString(" ")
    def bdoc(i: Long, seed: String): (Long, String) =
      (i, doc(i, seed)._2 + " " + footer)
    val corpus = (0L until 60L).map(i => bdoc(i, s"h$i"))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(corpus, "doc_id", "text", minLen = 50, k = 16)
      .write.mode("overwrite").parquet(idx)
    Dedup.compactAnchorIndex(spark, idx, maxDf = 8)
    assert(new java.io.File(idx + "_hot").exists(), "hot table missing")

    // batch: fresh body + the corpus footer -> with the df-cap the
    // footer is boilerplate and must NOT pair; without it, it pairs
    // with everything
    val batch = Seq(bdoc(9000L, "newbody")).toDF("doc_id", "text")
    def run(maxDf: Long) = pairsOf(Dedup.exactSubstrPairsAgainstDir(
      spark, idx, corpus, batch, "doc_id", "text", minLen = 50, k = 16,
      maxDf = maxDf))
    val inline = pairsOf(Dedup.exactSubstrPairsAgainst(
      spark.read.parquet(idx), corpus, batch, "doc_id", "text",
      minLen = 50, k = 16, maxDf = 8))
    val persisted = run(maxDf = 8)
    assert(persisted == inline,
      s"fresh persisted hot table must equal the inline df-cap: " +
        s"$persisted vs $inline")
    assert(run(maxDf = 0).size == 60, "without the cap the footer pairs")
    assert(persisted.isEmpty, "with the cap the footer is boilerplate")

    // STALENESS: a new boilerplate block arrives in post-compaction
    // appends (df 20 > 8 in the index, but absent from the persisted
    // hot table). The stale table misses the new hub -> its pairs
    // appear (the documented direction: extra candidate pairs, never
    // a lost pair); the inline aggregation already excludes it; the
    // next compaction re-aligns the persisted table.
    val footer2 = (0 until 30).map(j => s"lateboilw${j % 89}").mkString(" ")
    val late = (100L until 120L)
      .map(i => (i, doc(i, s"l$i")._2 + " " + footer2))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(late, "doc_id", "text", minLen = 50, k = 16)
      .write.mode("append").parquet(idx)
    val lateCorpus = corpus.unionByName(late)
    val batch2 = Seq((9500L, doc(9500L, "x")._2 + " " + footer2))
      .toDF("doc_id", "text")
    val stale = pairsOf(Dedup.exactSubstrPairsAgainstDir(spark, idx,
      lateCorpus, batch2, "doc_id", "text", minLen = 50, k = 16,
      maxDf = 8))
    val inline2 = pairsOf(Dedup.exactSubstrPairsAgainst(
      spark.read.parquet(idx), lateCorpus, batch2, "doc_id", "text",
      minLen = 50, k = 16, maxDf = 8))
    assert(inline2.isEmpty, "inline df-cap must exclude the new hub")
    assert(stale.size == 20 && inline2.subsetOf(stale),
      s"stale hot table must only ADD pairs: ${stale.size}")
    Dedup.compactAnchorIndex(spark, idx, maxDf = 8)
    assert(run(maxDf = 8) == persisted && pairsOf(
      Dedup.exactSubstrPairsAgainstDir(spark, idx, lateCorpus, batch2,
        "doc_id", "text", minLen = 50, k = 16, maxDf = 8)).isEmpty,
      "recompaction must re-align the persisted hot table")
  }
}
