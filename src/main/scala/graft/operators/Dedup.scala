package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.ql.{countedCheckpoint, spread}

/** Deduplication suite (SURVEY §2.3): exact, MinHash+LSH banding,
  * SimHash, exact n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: signatures/fingerprints are map-side-only column
  * expressions; candidate generation shuffles on (band, bucket) — keys
  * are uniform hashes, so no skew; pair verification only touches LSH
  * candidates, never the full O(n²) cross product. Exact Jaccard
  * (`ngramJaccardPairs`) is the small-side/oracle path: its shingle
  * self-join IS quadratic in the worst case and is meant for bounded
  * corpora or post-LSH verification at 100 TB.
  */
object Dedup {

  /** Broadcast cap for NARROW key tables, ~8-24 bytes a row: the
    * probe keys that narrow a persisted corpus index to a batch
    * (winnow `h`, LSH (band, bucket)) and the ingest loop's
    * (text_hash, doc_id) winners and hot band keys. 2M rows ≈ tens of
    * MB serialized, comfortably under Spark's broadcast limits. Past
    * it the join runs shuffled — only its physical form changes. */
  private[graft] val MaxBroadcastKeyRows = 2000000L

  /** Row cap for forcing a PROBE (doc, pos, h) or (doc, band,
    * bucket) frame onto the broadcast side of the candidate join
    * (r20): the probe table is ~24 bytes/row, the narrowed index side
    * is collision-bounded and usually far smaller, so past ~100k probe
    * rows the forced broadcast builds the join's hash relation from
    * the WRONG side (the ingest gate's 35k-doc batches winnow to
    * ~800k anchors ≈ 20 MB). Past the cap the probe joins as its
    * checkpointed frame and AQE picks the build side from measured
    * sizes. The guard reads the row count the probe's checkpoint
    * observed ([[graft.ql.countedCheckpoint]]), like every size guard
    * of the cross-corpus probes: none runs a count job of its own. */
  private[graft] val MaxProbeBroadcastRows = 100000

  /** Exact dedup: hash-groupBy, keep the smallest id per content hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: numHashes min-hashes over distinct character
    * k-shingles using the standard double-hashing family
    * h_i(s) = (h1(s) + i·h2(s)) mod p — two xxhash64 evaluations per
    * shingle instead of numHashes (whole-stage codegen CSEs the shared
    * h1/h2 arrays across the signature lanes). */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    call_function("graft_minhash", TextOps.shingles(text, k), lit(numHashes))

  /** LSH banding: split the signature into `bands` rows-per-band
    * chunks, hash each chunk → array<struct<band, bucket>>. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => struct(j.as("band"),
        xxhash64(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand))).as("bucket")))

  /** Banded MinHash LSH index of a corpus: one (doc, band, bucket) row
    * per band — the PERSISTABLE near-dup index (write it as a parquet
    * table partitioned/bucketed by (band, bucket) and every future
    * batch probes it without touching corpus text again). */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, numHashes: Int = 128, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val r = numHashes / bands
    // docs shorter than k have no k-shingle — exclude rather than give
    // them identical empty-set signatures (which would all-collide).
    val sig = df.filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc"),
        minhashSignature(col(textCol), k, numHashes).as("sig"))
    sig.select(col("doc"), explode(lshBands(col("sig"), bands, r)).as("b"))
      .select(col("doc"), col("b.band"), col("b.bucket"))
  }

  /** Candidate near-dup pairs via MinHash+LSH: docs sharing ≥1 band
    * bucket, with the number of colliding bands per pair. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 128, bands: Int = 16): DataFrame =
    // localCheckpoint (eager): the self-join would otherwise recompute
    // the signature pipeline once per branch; unlike cache() the blocks
    // are released by the ContextCleaner when the plan is unreachable.
    bandPairCounts(minhashIndex(df, idCol, textCol, k, numHashes, bands)
      .localCheckpoint(true))

  /** Cross-batch near-dup candidates: NEW documents probed against an
    * EXISTING corpus index (`minhashIndex` output, typically read back
    * from its parquet table) — the daily-ingest shape: only the new
    * batch is shingled/hashed, the corpus is touched only through its
    * (band, bucket) index join, and within-batch / within-corpus pairs
    * are not produced (run `minhashLshPairs` on the batch for those).
    * Returns (corpus_id, batch_id, n_bands). Same hash family as the
    * self-join path, so an index built by any session matches.
    *
    * Replay safety (ADVICE r4): a replayed/duplicated append to the
    * persisted index would double-count n_bands for pairs against
    * OTHER docs (self-pairs are already suppressed), inflating
    * collision counts past `bands`. `dedupIndex=true` (default)
    * distincts the index on (doc, band, bucket) before the probe —
    * one extra shuffle over the index; pass false when the index is
    * known append-once (e.g. freshly built this session). */
  def minhashLshPairsAgainst(corpusIndex: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 3, numHashes: Int = 128,
                             bands: Int = 16,
                             dedupIndex: Boolean = true): DataFrame = {
    // the probe is checkpointed ONCE with its row count observed —
    // the near-dup gate's form, at any batch size: the pair counting's
    // broadcast guards read that count
    val (probe, probeRows) = countedCheckpoint(
      minhashIndex(batch, idCol, textCol, k, numHashes, bands))
    bandPairCountsAgainst(probe, probeRows, corpusIndex, dedupIndex)
  }

  /** Per-pair band-collision counts over (doc, band, bucket) band-index
    * frames — the one counting core of [[minhashLshPairs]],
    * [[minhashLshPairsAgainst]] and the ingest near-dup gate
    * (`CorpusIngest.nearDupDrops`). Bands are counted PER PARTNER
    * PAIR; callers threshold `n_bands` themselves. This form counts
    * the probe's own pairs, `a_id < b_id` → (a_id, b_id, n_bands);
    * [[bandPairCountsAgainst]] counts them against a corpus. */
  private[graft] def bandPairCounts(probe: DataFrame): DataFrame =
    pairCounts(probe, probe, _ < _, "a_id", "b_id")

  /** [[bandPairCounts]] of probe docs against corpus docs, `doc <> doc`
    * (a probe whose rows were already appended to the index — replay
    * after a partial failure, overlapping loads — must not pair every
    * doc with itself) → (corpus_id, batch_id, n_bands). The corpus is
    * narrowed to the probe's (band, bucket) keys BEFORE the
    * replay-dedup distinct (r18): a semi-join keeps every row of each
    * touched key, so the distinct slice — and therefore every pair —
    * is unchanged, but the per-probe shuffle is collision-bounded
    * instead of re-shuffling the full corpus-sized index every batch.
    * The probe's key projection is the semi-join's build side (a
    * semi-join needs no distinct build): broadcast while the probe has
    * at most `maxBroadcastKeys` rows and semi-joined shuffled past it —
    * the narrowing survives, only its physical form changes.
    *
    * With `selfPairs` both kinds come from ONE join: the probe's rows
    * join the union of the narrowed corpus and the probe itself, the
    * probe side tagged `in_batch`, so an in-batch pair (`corpus_id` <
    * `batch_id`, both probe docs) and a corpus pair are counted in the
    * same pass → (corpus_id, batch_id, in_batch, n_bands).
    *
    * `probeRows` is the probe's row count, which every caller already
    * holds as an observed metric of the probe's checkpoint; under
    * [[MaxProbeBroadcastRows]] the probe is the pair join's broadcast
    * build side. */
  private[graft] def bandPairCountsAgainst(probe: DataFrame, probeRows: Long,
      corpus: DataFrame, dedupIndex: Boolean = true,
      maxBroadcastKeys: Long = MaxBroadcastKeyRows,
      selfPairs: Boolean = false): DataFrame = {
    val k = probe.select("band", "bucket")
    val keys = if (probeRows <= maxBroadcastKeys) broadcast(k) else k
    val narrowed = corpus.select("doc", "band", "bucket")
      .join(keys, Seq("band", "bucket"), "left_semi")
    val fromCorpus = if (dedupIndex) narrowed.distinct() else narrowed
    val probeSide =
      if (probeRows <= MaxProbeBroadcastRows) broadcast(probe) else probe
    if (!selfPairs)
      pairCounts(fromCorpus, probeSide, _ =!= _, "corpus_id", "batch_id")
    else
      pairCounts(fromCorpus.withColumn("in_batch", lit(false))
          .unionByName(probe.select("doc", "band", "bucket")
            .withColumn("in_batch", lit(true))),
        probeSide,
        (l, r) => when(col("l.in_batch"), l < r).otherwise(l =!= r),
        "corpus_id", "batch_id", Seq("in_batch"))
  }

  private def pairCounts(l: DataFrame, r: DataFrame,
      docCond: (Column, Column) => Column, lId: String, rId: String,
      tags: Seq[String] = Nil): DataFrame = {
    val joined = l.alias("l").join(r.alias("r"),
      col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
        docCond(col("l.doc"), col("r.doc")))
    // tagged (gate) pairs shuffle on the probe doc: the key the gate
    // reduces them to (its drop set)
    (if (tags.isEmpty) joined else joined.repartition(col("r.doc")))
      .groupBy(Seq(col("l.doc").as(lId), col("r.doc").as(rId)) ++
        tags.map(t => col(s"l.$t").as(t)): _*)
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit signed vote of
    * token hashes, map-side only. Native codegen'd expression
    * (graft.plans.SimHash64): each token hashed once, all 64 bits
    * voting in one pass. Requires GraftExtensions (`Session.local`
    * sets it). */
  def simhash64(text: Column): Column =
    call_function("graft_simhash", split(trim(text), " +"))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash candidate pairs: bucket the 64-bit fingerprint into
    * `blocks` equal bit-blocks; docs sharing ≥1 exact block are
    * candidates (with their full hamming distance attached, one row
    * per colliding block — callers dedup).
    *
    * Block width is the scale lever (VERDICT r1 item 4): 8-bit chunks
    * give only 256 buckets per position — at 10⁹ docs each bucket
    * holds ~4M docs and the within-bucket self-join is quadratic.
    * 16-bit blocks (the default via `simhashPairs`) give 65k buckets
    * per position, shrinking expected bucket occupancy — and thus the
    * quadratic term — by 256× for the same corpus. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        blocks: Int): DataFrame = {
    require(blocks >= 2 && 64 % blocks == 0,
      s"blocks must divide 64, got $blocks")
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = df.select(col(idCol).as("doc"), simhash64(col(textCol)).as("sh"))
    val chunked = sh.select(col("doc"), col("sh"),
      explode(array((0 until blocks).map(i =>
        struct(lit(i).as("chunk"),
          shiftright(col("sh"), i * width).bitwiseAND(lit(mask)).as("val"))): _*)).as("c"))
      .select(col("doc"), col("sh"), col("c.chunk"), col("c.val"))
    val a = chunked.alias("a"); val b = chunked.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.val") === col("b.val") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("a_id"), col("b.doc").as("b_id"),
        hamming64(col("a.sh"), col("b.sh")).as("dist"))
  }

  /** SimHash near-dup pairs: by pigeonhole a pair with ≤ blocks−1
    * differing bits must share ≥1 exact block, so candidate generation
    * is lossless for maxDist ≤ blocks−1 (enforced). Defaults: 4×16-bit
    * blocks, maxDist 3. For looser distances (4-7) pass blocks = 8 —
    * and accept the 256-bucket skew tradeoff documented on
    * `simhashCandidates`. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, blocks: Int = 4): DataFrame = {
    require(maxDist <= blocks - 1,
      s"$blocks-block bucketing only guarantees recall for maxDist <= ${blocks - 1}, got $maxDist")
    simhashCandidates(df, idCol, textCol, blocks)
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Exact n-gram Jaccard pairs ≥ threshold via shingle explode +
    * equi-self-join, restricted to *discriminative* shingles
    * (document frequency ≤ maxDf) with a minimum-common-shingle guard.
    *
    * The df cap is what makes this survive scale: hot shingles (df in
    * the thousands) would each contribute df² join rows while carrying
    * no near-dup signal. At sf0.1 the cap cuts the join cost ~10,000×
    * (measured: 1.45B → 150K candidate rows). maxDf = 0 disables the
    * cap (true full Jaccard, bounded corpora only). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.7,
                        maxDf: Long = 0L, minCommon: Long = 1L): DataFrame = {
    // pin kept: p6 2.94 -> 4.10 s unpinned (medians, 5 pairs, pinned IQR 0.36 s, 4 cores)
    val all = spread(df).select(col(idCol).as("doc"),
      explode(TextOps.shingles(col(textCol), k)).as("s"))
    // ONE aggregation by shingle replaces the old df-cap groupBy + cap
    // join + shingle-keyed self-join — three full-width shuffles of the
    // exploded (doc, shingle) table collapse into this single one. The
    // per-shingle doc list is <= maxDf elements, so the a<b pair
    // expansion below is HOF work bounded by sum(df²), map-side, after
    // the shuffle (measured 2.4x on d4 at sf0.1).
    val byShingle = all.groupBy("s")
      .agg(array_sort(collect_list(col("doc"))).as("ds"), count(lit(1)).as("df"))
    val kept = (if (maxDf > 0) byShingle.filter(col("df") <= maxDf) else byShingle)
      .select("ds")
      // consumed twice (sizes + pairs); blocks freed when unreachable
      .localCheckpoint(true)
    val sizes = kept.select(explode(col("ds")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n"))
    // sorted list -> ordered (a, b) pairs without a join
    val pairCol = flatten(transform(col("ds"), (a, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds"))),
        b => struct(a.as("a"), b.as("b")))))
    val common = kept.select(explode(pairCol).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCommon)
    common
      .join(sizes.withColumnRenamed("doc", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Exact embedding-cosine near-dup pairs via a grid-blocked
    * self-join (the theta-join grid of Okcan & Riedewald, SIGMOD'11).
    *
    * Why not LSH here: an *exact* τ as low as 0.4 defeats hyperplane
    * LSH — bit-agreement probability at cos θ = τ is p = 1 − θ/π =
    * 0.631, so candidate superset-completeness needs
    * (1 − p^b)^T ≈ 0, and candidate volume scales with T·2^−b·n²:
    * for any (b, T) meeting recall ≈ 1 at τ = 0.4 that product
    * EXCEEDS the all-pairs n²/2 (e.g. b=4 needs T≈56 → 3.5× n²/2).
    * Exact low-τ all-pairs is inherently Ω(n²) compute; what a 100 TB
    * plan must fix is the *shape*: the old `a.id < b.id` non-equi join
    * was a BroadcastNestedLoopJoin — whole corpus broadcast to every
    * task. The grid assigns each row a block (hash(id) mod B) and
    * shuffles both sides on the B(B+1)/2 unordered block-pair keys:
    * an equi-join, ~n·(B+1)/2 rows shuffled per side, per-task memory
    * bounded by 2·n/B rows, parallelism B(B+1)/2 — pick B ∝ n/rowsPer
    * Block and it holds at any scale. For approximate near-dup at high
    * τ (the real 100 TB dedup path) use `embeddingNearDupsLsh`.
    *
    * Each unordered pair is produced exactly once: a cross-block pair
    * appears only under its (min-block, max-block) key with the sides
    * fixed by block, a same-block pair is ordered by `id <`. Output
    * ids are canonicalized with least/greatest; cosine is symmetric
    * bit-for-bit (same index-ascending summation), so results are
    * byte-identical to the naive all-pairs form (differential spec).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, blocks: Int = 8): DataFrame = {
    // keep the storage element type (array<float> stays float): the
    // native dot kernel widens per element — bit-identical to casting
    // the array up front, and the grid join shuffles half the bytes
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0) // zero-norm: no direction (NaN vs NULL divergence)
    gridCosinePairs(base, Nil, threshold, blocks)
  }

  /** The grid-blocked exact-cosine pair join shared by
    * [[embeddingNearDups]] (no extra keys) and `SemDedup.pairs`
    * (cell-confined: `extraKeys = Seq("cell")`). `base` must carry
    * (id, v, nrm) plus `extraKeys`; pairs are produced only between
    * rows agreeing on every extra key, each unordered pair exactly
    * once (see the uniqueness argument in [[embeddingNearDups]]'s
    * scaladoc), output = extraKeys ++ (a_id, b_id, cos). */
  private[operators] def gridCosinePairs(base: DataFrame, extraKeys: Seq[String],
                                         threshold: Double, blocks: Int): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val blked = base.withColumn("blk", pmod(xxhash64(col("id")), lit(blocks.toLong)))
    val bp = (for { i <- 0L until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj")
    val a = blked.join(broadcast(bp), col("blk") === col("bi"))
      .select(extraKeys.map(col) ++ Seq(col("bi"), col("bj"),
        col("blk").as("blka"), col("id").as("ida"),
        col("v").as("va"), col("nrm").as("nrma")): _*)
    val b = blked.join(broadcast(bp), col("blk") === col("bj"))
      .select(extraKeys.map(k => col(k).as(s"__b_$k")) ++ Seq(
        col("bi").as("bi2"), col("bj").as("bj2"), col("blk").as("blkb"),
        col("id").as("idb"), col("v").as("vb"), col("nrm").as("nrmb")): _*)
    val keyEq = (extraKeys.map(k => col(k) === col(s"__b_$k")) ++
      Seq(col("bi") === col("bi2"), col("bj") === col("bj2"))).reduce(_ && _)
    a.join(b, keyEq && (col("blka") < col("blkb") || col("ida") < col("idb")))
      .withColumn("cos", VectorOps.cosinePre(col("va"), col("vb"), col("nrma"), col("nrmb")))
      .filter(col("cos") >= threshold)
      .select(extraKeys.map(col) ++ Seq(
        least(col("ida"), col("idb")).as("a_id"),
        greatest(col("ida"), col("idb")).as("b_id"),
        round(col("cos"), 6).as("cos")): _*)
  }

  /** Approximate embedding near-dup pairs: multi-table random-
    * hyperplane LSH candidates + exact cosine verify — the 100 TB
    * near-dup path for realistic (high-τ) thresholds. Candidate
    * generation is an equi-self-join on uniform (table, bucket) keys;
    * per-pair recall is 1 − (1 − p^nBits)^tables with
    * p = 1 − acos(cos) / π (e.g. τ = 0.9: p = 0.856, nBits = 12,
    * tables = 8 → recall ≈ 0.87; raise tables for more). Verified
    * pairs carry the exact cosine, so precision is 1. */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nBits: Int = 12,
                           tables: Int = 8): DataFrame = {
    // storage element type preserved (float stays float): bucket and
    // verify kernels widen per element — see embeddingNearDups
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0)
      .localCheckpoint(true) // reused by candidate gen + both verify sides
    val bucketed = base.select(col("id"), explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          VectorOps.lshBucket(col("v"), nBits, t * nBits).as("bkt"))): _*)).as("tb"))
      .select(col("id"), col("tb.tbl"), col("tb.bkt"))
    val ca = bucketed.alias("ca"); val cb = bucketed.alias("cb")
    val cand = ca.join(cb, col("ca.tbl") === col("cb.tbl") &&
        col("ca.bkt") === col("cb.bkt") && col("ca.id") < col("cb.id"))
      .select(col("ca.id").as("a_id"), col("cb.id").as("b_id"))
      .distinct() // a pair may collide in several tables
    cand
      .join(base.select(col("id").as("a_id"), col("v").as("av"), col("nrm").as("an")), "a_id")
      .join(base.select(col("id").as("b_id"), col("v").as("bv"), col("nrm").as("bn")), "b_id")
      .withColumn("cos", VectorOps.cosinePre(col("av"), col("bv"), col("an"), col("bn")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** EXACT repeated-substring pairs (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * criterion, re-expressed Spark-first): every document pair sharing
    * a verbatim substring of ≥ `minLen` code points, with the length
    * of their longest common substring. Exact output from an
    * approximate-looking pipeline:
    *
    *  1. candidate generation: winnowed k-gram fingerprints
    *     (`graft_winnow`, window w = minLen − k + 1) — the winnowing
    *     theorem guarantees two docs sharing ≥ minLen characters share
    *     a selected fingerprint, at ~2/(w+1) of the all-positions
    *     density (the reduction that replaces the reference
    *     suffix-array pass: a 100 TB corpus shuffles ~3% of its
    *     positions, grouped by uniform hash);
    *  2. per-fingerprint doc lists (bounded by `maxDf` against
    *     boilerplate hubs — 0 disables; capped fingerprints can drop
    *     pairs whose ONLY shared content is the hub boilerplate,
    *     document the lever before flipping it) expand to aligned
    *     anchor pairs HOF-side, like ngramJaccardPairs;
    *  3. verification joins the two texts and extends each anchor to
    *     its maximal run with the fused `graft_lcp_ext` kernel (right:
    *     lcp of suffixes; left: lcp of reversed prefixes) after a
    *     content check kills hash collisions — max over anchors IS the
    *     longest-common-substring length whenever it reaches minLen,
    *     because any common run ≥ minLen contains a shared anchor and
    *     extension recovers its full run.
    *
    * Returns (a_id, b_id, lcs_len), a_id < b_id, lcs_len ≥ minLen.
    * The oracle replays it as an all-minLen-grams diagonal-run scan —
    * feasible at oracle scale, the job winnowing exists to avoid.
    *
    * `k` sets anchor SELECTIVITY, not correctness (any k < minLen
    * keeps the guarantee via w = minLen − k + 1): k=8 anchors are
    * 8-char grams, and natural-language corpora share short grams
    * pathologically (one 8-gram hub hit 2535 of 5000 sf0.1 docs →
    * 15.4M candidate verifications for 254 true pairs). The k=16
    * default cuts that corpus to 197k candidates — 78× — because a
    * shared 16-gram is already most of a real shared run. Raise k
    * toward minLen/2 for boilerplate-heavy corpora; `maxDf` remains
    * the emergency lever. */
  def exactSubstrPairs(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 50, k: Int = 16,
                       maxDf: Long = 0L): DataFrame =
    exactSubstrRuns(df, idCol, textCol, minLen, k, maxDf)
      .groupBy("a_id", "b_id")
      .agg(max(col("run")).as("lcs_len"))
      .filter(col("lcs_len") >= minLen)

  /** [[exactSubstrPairs]] from a PRECOMPUTED anchor table
    * ([[winnowIndex]] layout, already materialized — e.g. a
    * localCheckpoint): the candidate + verify stages with the winnow
    * pass factored out. The ingest gate winnows its batch ONCE and
    * derives the self-pair check, the cross-corpus probe, and the
    * index append from the same table (VERDICT r19 item 2 — the
    * "banded ONCE" discipline the near-dup gate follows; pre-r20 the
    * gate re-winnowed the batch for each of the three). `anchors`
    * must be exactly `winnowIndex(df, idCol, textCol, minLen, k)`;
    * results are identical to [[exactSubstrPairs]] by construction
    * (same anchor rows feed the same candidate/verify plan). */
  def exactSubstrPairsFromAnchors(df: DataFrame, anchors: DataFrame,
                                  idCol: String, textCol: String,
                                  minLen: Int = 50, k: Int = 16,
                                  maxDf: Long = 0L): DataFrame = {
    val raw = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    exactSubstrRunsCore(raw, anchors.select("doc", "pos", "h"),
      anchorsMaterialized = true, minLen, k, maxDf)
      .groupBy("a_id", "b_id")
      .agg(max(col("run")).as("lcs_len"))
      .filter(col("lcs_len") >= minLen)
  }

  /** Verified maximal shared runs with their span positions:
    * (a_id, b_id, sa, sb, run) — the run covers [sa, sa+run) in a and
    * [sb, sb+run) in b, 1-based code points. One row per distinct
    * anchor alignment; runs < minLen are filtered here (r22 — every
    * caller re-filters >= minLen anyway, and dropping them before the
    * span distinct shrinks it). */
  private def exactSubstrRuns(df: DataFrame, idCol: String, textCol: String,
                              minLen: Int, k: Int, maxDf: Long): DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed k ($k)")
    val w = minLen - k + 1
    // NOT checkpointed: the verify sides below re-scan the raw input,
    // but that re-scan is a plain read (no winnowing) — cheap next to
    // a corpus-sized eager materialization per call, which the
    // fixpoint loop would repeat every iteration (VERDICT r8 item 2).
    // Measured at sf0.1 (r14, VERDICT r13 item 8): checkpointing raw
    // is inside the noise band for d15 (3.08 s → 3.17 s median) and
    // costs d16's fixpoint loop 25 % (3.11 s → 3.87 s) — the trade
    // stays as documented.
    val raw = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
    val anchors = raw.select(col("doc"),
        explode(call_function("graft_winnow", col("txt"), lit(k), lit(w))).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.h").as("h"))
    exactSubstrRunsCore(raw, anchors, anchorsMaterialized = false,
      minLen, k, maxDf)
  }

  /** [[exactSubstrRuns]] past anchor generation: candidate pairs from
    * the anchor table, then verify + extend against `raw`
    * ((doc, txt) layout). `anchorsMaterialized` = the caller already
    * holds the anchors in checkpoint blocks, so the df-cap's
    * two-consumer defense needs no second materialization. */
  private def exactSubstrRunsCore(raw: DataFrame, anchors: DataFrame,
                                  anchorsMaterialized: Boolean,
                                  minLen: Int, k: Int, maxDf: Long): DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed k ($k)")
    // df-cap BEFORE list materialization: a boilerplate hub (one
    // header in every doc) makes its fingerprint's doc list corpus-
    // sized, and collect_list-then-filter would build that list just
    // to throw it away — at adversarial scale the build itself is the
    // failure. The pre-pass is a bounded-state count aggregation
    // (partial-combinable) + a semi-join on the same shuffle key, so
    // no hub list is ever materialized. The anchor frame feeds BOTH
    // sides of that semi-join and the aggregated side cannot reuse the
    // raw side's exchange, so checkpoint it first — otherwise the
    // graft_winnow fingerprinting of the whole corpus runs twice
    // (ADVICE r7: a 2× tax on the common non-hub path).
    val capped =
      if (maxDf > 0) {
        val a =
          if (anchorsMaterialized) anchors else anchors.localCheckpoint(true)
        a.join(
          a.groupBy("h").agg(count_distinct(col("doc")).as("df"))
            .filter(col("df") <= maxDf).select("h"),
          Seq("h"), "left_semi")
      } else anchors
    // per-fingerprint (doc, pos) lists; sorted so the HOF pair
    // expansion below yields a < b without a join.
    val kept = capped.groupBy("h")
      .agg(array_sort(collect_list(struct(col("doc"), col("pos")))).as("ds"))
    val pairCol = flatten(transform(col("ds"), (a, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds"))),
        b => struct(a.getField("doc").as("a_id"), a.getField("pos").as("pa"),
          b.getField("doc").as("b_id"), b.getField("pos").as("pb")))))
    val cand = kept.select(explode(pairCol).as("p"))
      .select(col("p.a_id"), col("p.pa"), col("p.b_id"), col("p.pb"))
      .filter(col("a_id") =!= col("b_id")) // same-doc repeats are not pairs
      .distinct()
    // verify + extend with the FUSED zero-copy kernel (r22, guide §1.2
    // step 2): graft_lcp_ext does the anchor content check (killing
    // hash collisions), the left extension (common suffix of the
    // prefixes — the old reversed-prefix lcp) and the right lcp in ONE
    // in-place pass over the joined texts. The old five-expression
    // chain allocated ~6 copies of KB-sized substrings per candidate
    // row (plus two full toString copies inside graft_lcp) — GBs of
    // transient garbage across a ~200k-candidate verify stage, the GC
    // pressure behind d15's degradation at high task counts. Anchor
    // mismatches surface as run = 0 (every consumer filters
    // run >= minLen, so the rows drop exactly where the old
    // substr-equality filter dropped them).
    val at = raw.select(col("doc").as("a_id"), col("txt").as("ta"))
    val bt = raw.select(col("doc").as("b_id"), col("txt").as("tb"))
    cand.join(at, "a_id").join(bt, "b_id")
      .select(col("a_id"), col("b_id"), col("pa"), col("pb"),
        call_function("graft_lcp_ext", col("ta"), col("pa"),
          col("tb"), col("pb"), lit(k)).as("__e"))
      .select(col("a_id"), col("b_id"),
        (col("pa") - col("__e.lext")).cast("long").as("sa"),
        (col("pb") - col("__e.lext")).cast("long").as("sb"),
        col("__e.run").cast("long").as("run"))
      .filter(col("run") >= minLen) // drops collision rows (run = 0) too;
      // every caller re-filters >= minLen, so pre-filtering here only
      // shrinks the span distinct below
      .distinct() // several anchors inside one run recover the same span
  }

  /** Persistable winnowed-anchor index of a corpus: (doc, pos, h) —
    * the exact-substring analogue of `minhashIndex` (write it as a
    * parquet table partitioned by h-range; a daily ingest probes it
    * without re-winnowing the corpus). One map-side scan. */
  def winnowIndex(df: DataFrame, idCol: String, textCol: String,
                  minLen: Int = 50, k: Int = 16): DataFrame = {
    require(minLen > k, s"minLen ($minLen) must exceed k ($k)")
    // pin kept: d17 1.38 -> 2.03 s unpinned (medians, 5 pairs, pinned IQR 0.46 s, 4 cores)
    spread(df).select(col(idCol).as("doc"),
        explode(call_function("graft_winnow", col(textCol),
          lit(k), lit(minLen - k + 1))).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), col("a.h").as("h"))
  }

  /** Boilerplate fingerprints of a winnow anchor index: hashes whose
    * doc-frequency exceeds `maxDf` — the df-cap table
    * [[exactSubstrPairsAgainst]] applies. One combinable aggregation
    * over the index. At production scale compute this ONCE per index
    * build/compaction (it is corpus METADATA — "the corpus defines
    * what is boilerplate") and hand it to every probe: the probe then
    * drops hub hashes before anything shuffles, so its per-batch
    * shuffle is collision-bounded even when the batch shares
    * boilerplate with the whole corpus (which it always does). */
  def winnowHotHashes(corpusIndex: DataFrame, maxDf: Long): DataFrame = {
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    corpusIndex.select("doc", "h").groupBy("h")
      .agg(count_distinct(col("doc")).as("df"))
      .filter(col("df") > maxDf).select("h")
  }

  /** Cross-corpus exact-substring pairs: a NEW batch probed against an
    * EXISTING corpus anchor index (`winnowIndex` output, typically
    * read back from parquet) — the ingest shape: only the batch is
    * winnowed; the corpus is touched through (1) its anchor index for
    * candidate generation and (2) a candidate-NARROWED text fetch for
    * verification (substring extension needs real text on both sides —
    * the honest difference from MinHash, whose signatures suffice; the
    * fetch is bounded by candidate docs, not the corpus).
    * Returns (corpus_id, batch_id, lcs_len ≥ minLen); within-batch /
    * within-corpus pairs are not produced (run `exactSubstrPairs` on
    * the batch for those). `dedupIndex` mirrors minhashLshPairsAgainst:
    * replayed index appends would re-verify duplicated anchors —
    * harmless for correctness here (spans dedup) but wasted work;
    * distinct it unless the index is known append-once. */
  def exactSubstrPairsAgainst(corpusIndex: DataFrame, corpusDocs: DataFrame,
                              batch: DataFrame, idCol: String, textCol: String,
                              minLen: Int = 50, k: Int = 16,
                              maxDf: Long = 0L,
                              dedupIndex: Boolean = true,
                              hotHashes: Option[DataFrame] = None): DataFrame = {
    val (probe, probeRows) =
      countedCheckpoint(winnowIndex(batch, idCol, textCol, minLen, k))
    exactSubstrPairsCore(corpusIndex, corpusDocs, batch, probe, probeRows,
      idCol, textCol, minLen, k, maxDf, dedupIndex, hotHashes.map(hubSide))
  }

  /** A precomputed hot-hash table ([[winnowHotHashes]] — index
    * metadata) ready to anti-join: broadcast while a bounded existence
    * probe (limit early-exits the scan) finds it within
    * [[MaxBroadcastKeyRows]] — no full count per batch (VERDICT r18
    * item 3, the Bm25/IvfPq guard pattern). */
  private def hubSide(hot: DataFrame): DataFrame = {
    val h = hot.select("h")
    if (h.limit(MaxBroadcastKeyRows.toInt + 1).count() <= MaxBroadcastKeyRows)
      broadcast(h)
    else h
  }

  /** [[exactSubstrPairsAgainst]] past the probe checkpoint — shared by
    * the DataFrame entry above and the persisted-index entry
    * ([[exactSubstrPairsAgainstDir]]). `probe` is the batch's
    * materialized anchor table and `probeRows` its observed row
    * count; the candidate table is checkpointed the same way, and
    * every size guard reads those two counts. `hubs`: a
    * [[hubSide]]-guarded precomputed hot table, else the df-cap
    * aggregates inline. Gauges `anchor:probe_rows` and
    * `anchor:cand_rows` go to `stageLog`. */
  private def exactSubstrPairsCore(corpusIndex: DataFrame,
      corpusDocs: DataFrame, batch: DataFrame, probe: DataFrame,
      probeRows: Long, idCol: String, textCol: String, minLen: Int,
      k: Int, maxDf: Long, dedupIndex: Boolean, hubs: Option[DataFrame],
      stageLog: Option[scala.collection.mutable.Buffer[(String, Double)]] = None)
      : DataFrame = {
    // the anchor index is narrowed to the batch's winnow hashes
    // BEFORE the dedup distinct AND the df-cap aggregation (VERDICT
    // r17 item 2 — both previously re-shuffled the full corpus-sized
    // index on every probe): a semi-join on h keeps EVERY row of each
    // touched hash, so per-h distinct sets and doc-frequencies — and
    // therefore every candidate and every df-cap decision — are
    // unchanged, while the per-batch shuffle is collision-bounded.
    // Hashes the batch never touches can't produce candidates and
    // their df never matters. The probe's h projection is the
    // semi-join's build side (a semi-join needs no distinct build):
    // broadcast under the cap, shuffled past.
    val hKeys = probe.select("h")
    val idx0 = corpusIndex.select(col("doc"), col("pos"), col("h"))
      .join(if (probeRows <= MaxBroadcastKeyRows) broadcast(hKeys) else hKeys,
        Seq("h"), "left_semi")
    // the df-cap is applied BEFORE the dedup distinct (r18): shared
    // boilerplate means hub hashes ARE in every batch's key set, and
    // distinct-ing their rows first would shuffle O(corpus) per probe
    // — count_distinct(doc) is duplicate-insensitive, so per-h df
    // over the raw narrowed rows equals df over the distinct slice,
    // and dropping whole hashes commutes with the distinct. Pass a
    // PRECOMPUTED [[winnowHotHashes]] table (index-maintenance
    // metadata) to remove even the inline hub aggregation from the
    // probe path; the inline fallback computes identical membership
    // for every batch-touched hash.
    val kept = if (maxDf > 0) {
      // the drop must be MAP-SIDE: a shuffled anti-join moves every
      // hub row across the network before discarding it — the exact
      // cost the cap exists to avoid (measured: shuffle tracked the
      // index, not the batch, until this broadcast). Inline hot
      // hashes are ⊆ the batch's own hash set (idx0 is h-narrowed),
      // so the probe's row count bounds them: no count, no checkpoint
      // (single consumer)
      val hotJ = hubs.getOrElse {
        val hot = winnowHotHashes(idx0, maxDf)
        if (probeRows <= MaxBroadcastKeyRows) broadcast(hot) else hot
      }
      idx0.join(hotJ, Seq("h"), "left_anti")
    } else idx0
    val idx = if (dedupIndex) kept.distinct() else kept
    val probeJ =
      if (probeRows <= MaxProbeBroadcastRows) broadcast(probe) else probe
    // candidates are collision-bounded by the narrowing above;
    // checkpointed once (consumers: the text-fetch narrowing and the
    // verify join), their count observed for the guards below
    val (cand, candRows) = countedCheckpoint(idx.alias("c")
      .join(probeJ.alias("p"), col("c.h") === col("p.h") &&
        col("c.doc") =!= col("p.doc"))
      .select(col("c.doc").as("corpus_id"), col("c.pos").as("pa"),
        col("p.doc").as("batch_id"), col("p.pos").as("pb"))
      .distinct())
    stageLog.foreach { buf =>
      buf += "anchor:probe_rows" -> probeRows.toDouble
      buf += "anchor:cand_rows" -> candRows.toDouble
    }
    // the verification text fetch must be PHYSICALLY narrowed before
    // it joins (r18): the scaladoc's "bounded by candidate docs"
    // claim was only logical — planned as a plain equi-join, the
    // corpus text table shuffled IN FULL per probe (measured: the
    // probe's shuffle tracked the corpus, not the candidates). A
    // literal-sized candidate set pushes into the corpus scan as a
    // chunked In (r19): on a parquet-backed corpus whose
    // files/row-groups carry id stats the pushed predicate skips the
    // bytes themselves — the text-fetch I/O then tracks the
    // candidates, not the corpus. The In is exact, so it replaces the
    // id semi-join; one bounded collect (at most MaxAnchorInLiterals
    // rows) reads the ids off the candidate checkpoint. Larger sets,
    // or non-Long ids, semi-join on the candidate ids instead
    // (broadcast-guarded), dropping non-candidate docs at the scan.
    // pins kept on both text sides: d17 1.38 -> 2.03 s unpinned (as winnowIndex's)
    val pinned = spread(corpusDocs)
    val ids = cand.select("corpus_id")
    val at =
      if (candRows <= MaxAnchorInLiterals &&
          ids.schema.head.dataType == org.apache.spark.sql.types.LongType)
        pinned.filter(ScanPrune.chunkedIn(col(idCol),
            ids.collect().map(_.getLong(0)).distinct.toSeq,
            ScanPrune.inThreshold(batch.sparkSession)))
          .select(col(idCol).as("corpus_id"), col(textCol).as("ta"))
      else pinned.select(col(idCol).as("corpus_id"), col(textCol).as("ta"))
        .join(if (candRows <= MaxBroadcastKeyRows) broadcast(ids) else ids,
          Seq("corpus_id"), "left_semi")
    val bt = spread(batch) // pin kept: d17, as above
      .select(col(idCol).as("batch_id"), col(textCol).as("tb"))
    // fused zero-copy verify kernel (see exactSubstrRunsCore): anchor
    // mismatches yield run = 0, which can never clear the final
    // lcs_len >= minLen gate — same pairs as the old substr-equality
    // filter + two-lcp chain, none of its per-row substring copies.
    // Candidate rows are the probe's width, a narrow build side
    (if (candRows <= MaxBroadcastKeyRows) broadcast(cand) else cand)
      .join(at, "corpus_id").join(bt, "batch_id")
      .select(col("corpus_id"), col("batch_id"),
        call_function("graft_lcp_ext", col("ta"), col("pa"),
          col("tb"), col("pb"), lit(k)).getField("run")
          .cast("long").as("run"))
      .groupBy("corpus_id", "batch_id")
      .agg(max(col("run")).as("lcs_len"))
      .filter(col("lcs_len") >= minLen)
  }

  // ----------------------------------------------------------------
  // persisted anchor-index maintenance (r19, VERDICT r18 item 2: the
  // winnow anchor index gets the band index's maintenance story)

  /** The anchor index's tiered-maintenance shape
    * ([[graft.sources.TieredIndex]]): (doc, pos, h) rows clustered and
    * summarized on the winnow fingerprint h. */
  private[graft] def anchorIndexSpec(
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxGenerations: Int = graft.sources.TieredIndex.DefaultMaxGenerations)
      : graft.sources.TieredIndex.Spec =
    graft.sources.TieredIndex.Spec(
      rowCols = Seq("doc", "pos", "h"), keyCols = Seq("h"),
      maxGenerations = maxGenerations, targetFileBytes = targetFileBytes)

  private def anchorHotPath(indexDir: String): String = indexDir + "_hot"

  /** Maintenance for a PERSISTED winnow anchor index dir (the
    * [[winnowIndex]] layout a streaming twin appends per batch —
    * pre-r19 the index had no maintenance story at all: probes read
    * the whole append-fragmented base per batch and the hot-hash
    * table had no rebuild hook). Generation-tiered like the near-dup
    * band index (every pass tail- or merged-pair-bounded, crash-safe,
    * self-healing — [[graft.sources.TieredIndex]]), clustering on h
    * so [[exactSubstrPairsAgainstDir]] prunes FILES, not just rows.
    * With `maxDf` > 0 the pass also rebuilds [[winnowHotHashes]] as
    * persisted index metadata at `<dir>_hot` — "the corpus defines
    * what is boilerplate" is corpus metadata, recomputed once per
    * compaction (one column-pruned scan riding the pass), not once
    * per probe. */
  def compactAnchorIndex(ss: org.apache.spark.sql.SparkSession,
                         indexDir: String, maxDf: Long = 0L,
                         targetFileBytes: Long = 128L * 1024 * 1024,
                         maxGenerations: Int =
                           graft.sources.TieredIndex.DefaultMaxGenerations): Unit = {
    graft.sources.TieredIndex.compact(ss, indexDir,
      anchorIndexSpec(targetFileBytes, maxGenerations))
    if (maxDf > 0) writeAnchorHotHashes(ss, indexDir, maxDf)
  }

  /** Rebuild the persisted boilerplate-fingerprint table (hashes with
    * df > maxDf over the WHOLE index) through
    * [[graft.sources.DirSwap.replace]]. Runs on
    * the compaction cadence; between rebuilds the table is STALE by
    * up to one cadence of appends — staleness only delays a hub's
    * exclusion (more candidate rows, never a lost pair), and the
    * differential is pinned in ExactSubstrSpec. */
  def writeAnchorHotHashes(ss: org.apache.spark.sql.SparkSession,
                           indexDir: String, maxDf: Long): Unit = {
    val (fs, root) = graft.sources.DirSwap.fsOf(ss, indexDir)
    if (!graft.sources.DirSwap.hasData(fs, root)) return
    graft.sources.DirSwap.replace(ss, anchorHotPath(indexDir)) { out =>
      winnowHotHashes(ss.read.parquet(indexDir).select("doc", "h"), maxDf)
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
  }

  /** The persisted hot-hash metadata, if a compaction has built it. */
  def loadAnchorHotHashes(ss: org.apache.spark.sql.SparkSession,
                          indexDir: String): Option[DataFrame] = {
    val hotPath = anchorHotPath(indexDir)
    val (hfs, hroot) = graft.sources.DirSwap.fsOf(ss, hotPath)
    graft.sources.DirSwap.recover(hfs, hroot)
    if (graft.sources.DirSwap.hasData(hfs, hroot))
      Some(ss.read.parquet(hotPath))
    else None
  }

  /** Literal-width cap for pushing hot fingerprints / candidate ids
    * into a scan as a chunked `In` filter (exact parquet row-group
    * and page pruning on a clustered layout — see
    * [[ScanPrune.chunkedIn]]); a wider set skips the pushdown and
    * relies on the semi-join alone. 256 keeps the per-row predicate
    * cost trivial (~26 hash-set probes) — measured at 1024 the
    * row-eval cost of the OR-of-In dominated a 30-file probe. */
  private[graft] val MaxAnchorInLiterals = 256

  private def emptyAnchorIdx(ss: org.apache.spark.sql.SparkSession) = {
    import ss.implicits._
    Seq.empty[(Long, Int, Long)].toDF("doc", "pos", "h")
  }

  /** [[exactSubstrPairsAgainst]] against a PERSISTED anchor-index dir
    * (the streaming-twin / ingest shape): the batch is winnowed and
    * checkpointed ONCE, and that checkpoint drives both the tiered
    * index narrowing and the probe join. The narrowing is
    * [[graft.sources.TieredIndex.probe]] (gauges `anchor:*`) over the
    * batch's anchors: a fingerprint is hot when some generation's
    * bloom claims it — winnow fingerprints are uniform hashes, so
    * range pruning alone would match every file; only the bloom's
    * "actually in the index" signal (true cross-corpus collisions,
    * rare by construction) makes the hot set small enough to prune.
    * With `maxDf` > 0 the persisted hot-hash metadata is used when a
    * compaction has built it (falling back to the inline per-batch
    * aggregation until then), and its hubs are also filtered out of
    * the hot set: boilerplate fingerprints are excluded from
    * candidates by the df-cap's anti-join anyway, so their index rows
    * are never worth READING — results identical, but the per-batch
    * hot set shrinks to TRUE content collisions, which is what keeps
    * the file bound tight on boilerplate-heavy corpora (every real
    * crawl shares headers with every doc). */
  def exactSubstrPairsAgainstDir(ss: org.apache.spark.sql.SparkSession,
      indexDir: String, corpusDocs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      minLen: Int = 50, k: Int = 16, maxDf: Long = 0L,
      dedupIndex: Boolean = true,
      stageLog: Option[scala.collection.mutable.Buffer[(String, Double)]] = None,
      batchAnchors: Option[(DataFrame, Long)] = None): DataFrame = {
    // `batchAnchors`: a PRECOMPUTED, checkpointed winnowIndex of the
    // batch with its observed row count — the ingest gate pays the
    // winnow once and shares it with the self-pair check and the
    // index append (r19 item 2); it is not checkpointed again here
    val (probe, probeRows) = batchAnchors
      .map { case (a, n) => (a.select(col("doc"), col("pos"), col("h")), n) }
      .getOrElse(countedCheckpoint(winnowIndex(batch, idCol, textCol, minLen, k)))
    val hubs = (if (maxDf > 0) loadAnchorHotHashes(ss, indexDir) else None)
      .map(hubSide)
    val idx = graft.sources.TieredIndex.probe(ss, indexDir, anchorIndexSpec(),
        emptyAnchorIdx(ss), "anchor", stageLog)(probe.select("h"),
      hot => hubs.fold(hot)(hot.join(_, Seq("h"), "left_anti")))
    exactSubstrPairsCore(idx, corpusDocs, batch, probe, probeRows,
      idCol, textCol, minLen, k, maxDf, dedupIndex, hubs, stageLog)
  }

  /** `exactSubstrRemove` iterated to FIXPOINT: cutting a span can
    * juxtapose two fragments into a NEW ≥minLen duplicate, so full
    * elimination needs another pass — in practice one or two (each
    * pass removes every CURRENT duplicate span; new ones only arise
    * from juxtaposition). Driver-controlled loop, each iteration one
    * distributed pass + one pair-count job; stops when a pass finds no
    * ≥minLen pair or at `maxIters` (returns whatever it has — callers
    * wanting a guarantee check with exactSubstrPairs). Each iteration
    * materializes the verified-runs table ONCE (it is pair-sized, tiny
    * next to the corpus) and uses it for both the emptiness check and
    * the cut — the winnow+verify pipeline never runs twice on the same
    * text. Eager localCheckpoint per iteration caps lineage like the
    * BPE loop. */
  def exactSubstrRemoveFixpoint(df: DataFrame, idCol: String, textCol: String,
                                minLen: Int = 50, k: Int = 16,
                                maxDf: Long = 0L, maxIters: Int = 4): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    var cur = df
    var i = 0
    var done = false
    while (i < maxIters && !done) {
      val runs = exactSubstrRuns(cur, idCol, textCol, minLen, k, maxDf)
        .filter(col("run") >= minLen)
        .localCheckpoint(true)
      if (runs.limit(1).isEmpty) done = true
      else cur = cutRuns(cur, idCol, textCol, runs).localCheckpoint(true)
      i += 1
    }
    cur
  }

  /** The ExactSubstr dedup ACTION (Lee et al. 2021 §4.2): remove every
    * ≥ `minLen` span that already occurs in an earlier document —
    * keep-first policy, the lower id keeps its text, the higher id
    * loses the shared span. Returns (idCol, textCol) with cleaned
    * text for every input document (unaffected docs pass through).
    * Overlapping spans from different partners merge before cutting,
    * so each duplicated character is removed once.
    *
    * Same candidate/verify machinery as exactSubstrPairs (winnowed
    * anchors, lcp extension — exact span recovery); the cut itself is
    * a per-doc fold over the merged span list (HOF, map-side). NOT
    * idempotent-by-meaning (removing a span can juxtapose two
    * previously-separated fragments into a NEW ≥minLen duplicate) but
    * deterministic; run to fixpoint for full elimination like the
    * reference implementation. */
  def exactSubstrRemove(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int = 50, k: Int = 16,
                        maxDf: Long = 0L): DataFrame =
    cutRuns(df, idCol, textCol,
      exactSubstrRuns(df, idCol, textCol, minLen, k, maxDf)
        .filter(col("run") >= minLen))

  /** Cut every b-side span of `runs` (exactSubstrRuns rows already
    * filtered to ≥ minLen) out of `df` — keep-first: the lower id keeps
    * its text. Overlapping spans merge before cutting so each
    * duplicated character is removed once. */
  private def cutRuns(df: DataFrame, idCol: String, textCol: String,
                      runs: DataFrame): DataFrame = {
    val spanStruct = "array<struct<s:bigint,e:bigint>>"
    val spans = runs
      .select(col("b_id").as(idCol),
        struct(col("sb").as("s"), (col("sb") + col("run")).as("e")).as("sp"))
      .distinct()
      .groupBy(idCol)
      .agg(array_sort(collect_list(col("sp"))).as("sps"))
      // interval merge: sorted by (s, e); fold extends the last merged
      // span whenever the next one starts inside it
      .select(col(idCol), aggregate(col("sps"),
        array().cast(spanStruct),
        (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1).getField("e") >= x.getField("s"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(element_at(acc, -1).getField("s").as("s"),
              greatest(element_at(acc, -1).getField("e"), x.getField("e")).as("e")))))
          .otherwise(concat(acc, array(x)))).as("merged"))
    df.join(spans, Seq(idCol), "left")
      .withColumn(textCol, when(col("merged").isNull, col(textCol))
        .otherwise(
          // cut: stitch the segments between merged spans + the tail
          aggregate(col("merged"),
            struct(lit(1L).as("cur"), lit("").as("out")),
            (acc, sp) => struct(
              sp.getField("e").as("cur"),
              concat(acc.getField("out"),
                col(textCol).substr(acc.getField("cur").cast("int"),
                  (sp.getField("s") - acc.getField("cur")).cast("int")))),
            acc => concat(acc.getField("out"),
              col(textCol).substr(acc.getField("cur").cast("int"),
                length(col(textCol)))))))
      .drop("merged")
  }
}
