package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-source distribution-DRIFT card (t36) — the monitor a corpus
  * pipeline runs on every crawl snapshot / source drop: how far does
  * each source's token distribution sit from the corpus-wide one, and
  * which token is most over-represented there? A drifting source is a
  * mix-weight decision (re-balance, re-crawl, or quarantine) before
  * it silently shifts the pretraining distribution (the "data mixture
  * drift" failure the FineWeb/Dolma pipeline reports track across
  * snapshots).
  *
  * Two engine-exact, log-free measures (the Dsir/t13 convention —
  * `ln`'s last-ulp rounding is engine-specific, so the repo's drift
  * math never touches it):
  *
  *   - `tv`: total-variation distance between the source's and the
  *     corpus's HASHED-BUCKET token distributions,
  *     0.5 · Σ_b |cnt_b/tot − ccnt_b/ctot| over the full nBuckets
  *     grid (absent buckets count with p=0 — the grid is generated,
  *     not inferred from presence). Each |Δp| term is decimal-cast
  *     before the sum, so the reduction is order-independent and
  *     partition-invariant; the bucket space bounds state at
  *     nBuckets·|sources| rows whatever the corpus size.
  *   - `top_token` / `top_token_ppm`: the token with the highest
  *     add-one-smoothed source/corpus likelihood ratio in integer
  *     parts-per-million (DSIR's r_f convention, same BIGINT headroom
  *     note as Dsir): ppm = 10⁶·(c_s+1)·(ctot+K) DIV ((c_c+1)·(tot+K)),
  *     argmax by combinable max-struct (ties toward the DESC-greater
  *     token — p11's argmax convention). Vocabulary-bounded state.
  *
  * Scale shape: one corpus-sized explode feeding ONE combinable count
  * aggregation (token-keyed, vocab-bounded); the bucket side
  * (≤ nBuckets·|sources| rows) is DERIVED from it —
  * `graft_fingerprint(w) % nBuckets` per token, integer sums — which
  * is exact, since a bucket's count is the sum of its tokens' counts.
  * The corpus-side tables re-join on bucket/token keys; the 1-row
  * corpus total enters by broadcast (the documented scalar-BNLJ
  * family). No windows, no corpus-keyed sort.
  */
object Drift {

  private def tokens(docs: DataFrame, srcCol: String,
                     textCol: String): DataFrame = docs
    .select(col(srcCol).as("source"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    .filter(length(col("w")) > 0)

  /** (source, b, cnt) hashed-bucket token counts — the TV side's
    * state, [[bucketsOfTokens]] over [[tokenCounts]]. MERGEABLE:
    * counts from two corpus slices union and re-sum to the counts of
    * the union (plain + on a keyed table), so a stream can fold
    * per-batch increments into a persisted store and the card stays
    * exactly the batch card (StreamingDriftSpec). */
  def bucketCounts(docs: DataFrame, srcCol: String, textCol: String,
                   nBuckets: Int = GridBuckets): DataFrame =
    bucketsOfTokens(tokenCounts(docs, srcCol, textCol), nBuckets)

  /** (source, w, c) per-token counts — the argmax side's state and the
    * only one a store keeps; mergeable the same way (vocab-bounded). */
  def tokenCounts(docs: DataFrame, srcCol: String,
                  textCol: String): DataFrame =
    tokens(docs, srcCol, textCol)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))

  /** The bucket grid a store's card is derived under — t36's, and
    * [[sourceDrift]]'s default. */
  private val GridBuckets = 4096

  /** The (source, b, cnt) bucket side of a (source, w, c) token-count
    * table: each token's count lands in bucket
    * `graft_fingerprint(w) % nBuckets` (the fingerprint is a
    * non-negative long), summed per bucket in integers — exactly the
    * per-occurrence bucket count of the docs the tokens came from. */
  private def bucketsOfTokens(srcT: DataFrame, nBuckets: Int): DataFrame =
    srcT.groupBy(col("source"),
        (call_function("graft_fingerprint", col("w")) % nBuckets).as("b"))
      .agg(sum(col("c")).cast("long").as("cnt"))

  /** Merge two count-table increments: union + re-sum on the key —
    * exact whatever the split (counts are a commutative monoid). */
  def mergeCounts(a: DataFrame, b: DataFrame, keys: Seq[String],
                  cntCol: String): DataFrame =
    a.unionByName(b).groupBy(keys.map(col): _*)
      .agg(sum(col(cntCol)).cast("long").as(cntCol))

  /** Crash recovery for a [[foldDocsIntoStore]] store, then a layout
    * check. Pre-r15 stores were TWO subdirectories (`<dir>/buckets`,
    * `<dir>/tokens`); the kind-tagged layout is one table at `<dir>`,
    * and nothing reads the old one. Such a store fails here, naming the
    * path, instead of being read as empty — which would restart every
    * source's counts from zero without a trace. Returns the store's
    * (FileSystem, Path). */
  private[graft] def recoverStore(spark: org.apache.spark.sql.SparkSession,
                                  dir: String) = {
    val (fs, target) = graft.sources.DirSwap.fsOf(spark, dir)
    graft.sources.DirSwap.recover(fs, target)
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "buckets")))
      throw new IllegalStateException(
        s"drift store $dir holds a buckets/ subdirectory: the pre-r15 " +
          "two-subdir layout is no longer read")
    (fs, target)
  }

  /** Fold a per-batch count increment into a persisted parquet store
    * — the streaming monitor's state transition (StreamingDriftSpec,
    * CorpusIngest's drift stage). The store stays bounded (bucket
    * grid / vocab), and because counts are a commutative monoid the
    * store after N folds equals the one-shot batch counts exactly.
    *
    * The merged table replaces the store through
    * [[graft.sources.DirSwap.replace]] — ADVICE r14: the previous
    * read → localCheckpoint → overwrite-in-place had a window where the
    * only copy of the merged store was executor-memory checkpoint
    * blocks (a crash mid-overwrite lost the whole store), and the
    * per-call checkpoint was never unpersisted (two leaked cached
    * frames per micro-batch). Writing to a sibling dir needs no
    * checkpoint at all — the read and the write never touch the same
    * path — and a crash at any point leaves a complete copy
    * DirSwap.recover restores. */
  def foldIntoStore(store: String, inc: DataFrame, keys: Seq[String],
                    cntCol: String): Unit = {
    val ss = inc.sparkSession
    val (fs, target) = graft.sources.DirSwap.fsOf(ss, store)
    graft.sources.DirSwap.replace(ss, store) { out =>
      // a commit-less crash leftover holds no counts to merge
      val merged =
        if (graft.sources.DirSwap.hasData(fs, target))
          mergeCounts(ss.read.parquet(store), inc, keys, cntCol)
        else inc
      merged.write.mode("overwrite").parquet(out)
    }
  }

  /** CorpusIngest's per-batch drift transition — APPEND-ONLY (r15b):
    * the batch's (source, token) counts move as ONE batch-bounded
    * increment APPENDED to the store, tagged `kind='t'` with the token
    * in `k`. The bucket side is not stored: every reader derives it
    * from the token rows ([[bucketsOfTokens]], exact), so a fold
    * tokenizes once and writes only token rows. Nothing reads or
    * rewrites the accumulated state inside the hot loop, so per-batch
    * drift work is O(batch), not O(store) — the previous
    * read-merge-rewrite of the whole bounded store was the ingest
    * profile's most expensive fixed stage (~4 s/batch at 40k-doc
    * batches, tools/scale_evidence_ingest_r15.log). Counts are a
    * commutative monoid, so [[cardFromStore]] summing the increments
    * on read equals the one-shot card exactly; [[compactStore]] folds
    * the accumulated files back to one row per key on the maintenance
    * cadence (CorpusIngest.start's compactEvery — without it the
    * store grows one small file set per batch, though never beyond
    * O(batches × vocab) rows).
    *
    * OLDER STORES also hold `kind='b'` bucket rows (stores written
    * before the bucket side was derived). They stay readable: every
    * reader keeps only the `kind='t'` rows, and the next
    * [[compactStore]] drops the bucket rows for good.
    *
    * Crash safety needs no twin here: the increment is written where
    * no reader sees it and then renamed into the store file by file
    * ([[Increment]]), as the parquet committer's own job commit moves
    * task files, so a crashed fold simply re-runs. foreachBatch replay
    * double-appends an increment — the same bounded overcount the
    * previous merge form had, documented monitor semantics. */
  def foldDocsIntoStore(store: String, docs: DataFrame, srcCol: String,
                        textCol: String): Unit = {
    val inc = increment(docs.sparkSession, store)
    inc.write(docs, srcCol, textCol)
    inc.publish()
  }

  /** [[foldDocsIntoStore]] in two steps, for a writer whose increment
    * must not land before some other write has succeeded (CorpusIngest
    * writes it beside its shard write and publishes it after its bloom
    * fold, so a failed batch leaves the store as it was). */
  def increment(spark: org.apache.spark.sql.SparkSession,
                store: String): Increment = {
    val (fs, target) = recoverStore(spark, store)
    new Increment(fs, target)
  }

  /** One batch's increment, written under `<store>/_staged-<id>`,
    * where no reader sees it (parquet listing skips `_`-prefixed
    * names). `publish` renames its part files into the store on the
    * driver (no job); `discard` deletes it and is a no-op once
    * published. A crash in between leaves an invisible staged dir that
    * the next [[compactStore]] drops with the old store dir. */
  final class Increment private[Drift] (fs: org.apache.hadoop.fs.FileSystem,
                                        target: org.apache.hadoop.fs.Path) {
    private val dir = new org.apache.hadoop.fs.Path(target,
      s"_staged-${java.util.UUID.randomUUID()}")

    def write(docs: DataFrame, srcCol: String, textCol: String): Unit =
      storeRows(tokenCounts(docs, srcCol, textCol)).write.parquet(dir.toString)

    def publish(): Unit = {
      fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val to = new org.apache.hadoop.fs.Path(target, f.getName)
          require(fs.rename(f, to), s"rename $f -> $to failed")
        }
      discard()
    }

    def discard(): Unit = { fs.delete(dir, true); () }
  }

  /** A (source, w, c) token table as store rows (kind, source, k, cnt). */
  private def storeRows(srcT: DataFrame): DataFrame =
    srcT.select(lit("t").as("kind"), col("source"), col("w").as("k"),
      col("c").as("cnt"))

  /** A store's token rows summed per (source, token), as the
    * (source, w, c) table [[cardFromCounts]] reads; the bucket rows
    * of an older store are left out. */
  private def storeTokens(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    spark.read.parquet(dir).filter(col("kind") === "t")
      .groupBy(col("source"), col("k").as("w"))
      .agg(sum(col("cnt")).cast("long").as("c"))

  /** Maintenance for the append-only drift store: fold the
    * accumulated increments back to one token row per (source, key) —
    * card-invariant by the counts monoid — through the same
    * [[graft.sources.DirSwap.replace]] the shard and index compactors
    * use. An older store's bucket rows are dropped here. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Unit = {
    val (fs, target) = recoverStore(spark, dir)
    // a store whose only increment was discarded is an empty dir
    if (!graft.sources.DirSwap.hasData(fs, target)) return
    graft.sources.DirSwap.replace(spark, dir) { out =>
      storeRows(storeTokens(spark, dir)).write.mode("overwrite").parquet(out)
    }
  }

  /** Read a drift card off a store directory written by
    * [[foldDocsIntoStore]]: recover any interrupted swap, reject a
    * retired layout, sum the appended token increments per key (a
    * no-op on a freshly compacted store) and derive the bucket side.
    * Both count tables are checkpointed — bounded (vocab and grid
    * rows), and cardFromCounts fans each into several consumers, which
    * without the materialization would each re-run the store-wide
    * scan + shuffle (the same reason sourceDrift checkpoints them).
    * The bucket side is derived on t36's 4096-bucket grid. */
  def cardFromStore(spark: org.apache.spark.sql.SparkSession,
                    dir: String, smoothing: Int = 4096): DataFrame = {
    recoverStore(spark, dir)
    cardFromTokens(storeTokens(spark, dir).localCheckpoint(true),
      GridBuckets, smoothing)
  }

  def sourceDrift(docs: DataFrame, srcCol: String, textCol: String,
                  nBuckets: Int = GridBuckets, smoothing: Int = 4096): DataFrame =
    cardFromTokens(tokenCounts(docs, srcCol, textCol).localCheckpoint(true),
      nBuckets, smoothing)

  /** The card from a checkpointed (source, w, c) token table, its
    * bucket side derived ([[bucketsOfTokens]]) and checkpointed too. */
  private def cardFromTokens(srcT: DataFrame, nBuckets: Int,
                             smoothing: Int): DataFrame =
    cardFromCounts(bucketsOfTokens(srcT, nBuckets).localCheckpoint(true),
      srcT, smoothing)

  /** The drift card derived purely from the two count tables
    * ([[sourceDrift]] and [[cardFromStore]] pass the bucket table
    * derived from the token table). Both inputs are bounded state and
    * feed three consumers each — the callers checkpoint them so the
    * corpus-sized aggregation runs once, not per consumer. */
  def cardFromCounts(srcB: DataFrame, srcT: DataFrame,
                     smoothing: Int = 4096): DataFrame = {
    val srcTot = srcB.groupBy("source").agg(sum("cnt").as("tot"))
    val corpB = srcB.groupBy("b").agg(sum("cnt").as("ccnt"))
    val corpTot = corpB.agg(sum("ccnt").as("ctot"))
    val grid = srcTot.crossJoin(corpB).crossJoin(corpTot)
      .join(srcB, Seq("source", "b"), "left")
      .select(col("source"), col("tot"),
        (abs(coalesce(col("cnt"), lit(0L)) / col("tot") -
          col("ccnt") / col("ctot"))).as("dp"))
    // tot is functionally dependent on source; grouping by both keeps
    // it in the output without a nondeterministic first()
    val tv = grid.groupBy("source", "tot").agg(
      (sum(col("dp").cast("decimal(28,16)")).cast("double") * 0.5).as("tv"))
      .withColumnRenamed("tot", "n_tokens")

    // ---- top over-represented token (integer-ppm likelihood ratio).
    // The products run in DECIMAL (r16): at corpus scale the LONG form
    // (c+1)·(ctot+K)·10⁶ overflows — ctot is the CORPUS token total,
    // so a hot token's count × ctot × 10⁶ passes 2⁶³ already at ~180k
    // 20 KB docs (caught live by the r16 width evidence run, ANSI
    // ARITHMETIC_OVERFLOW). DECIMAL(19,0)·DECIMAL(19,0) widens to
    // (38,0) — exact to 10³⁸, enough for c·ctot·10⁶ at ~10¹³-token
    // (100 TB) corpora with 10⁵× headroom — and integral DIV on
    // decimals returns an exact LONG, so values are bit-identical to
    // the old form wherever that form didn't overflow (the DuckDB
    // oracle mirrors via HUGEINT; floor ≡ trunc on these non-negative
    // operands).
    val corpT = srcT.groupBy("w").agg(sum("c").as("cc"))
    val ranked = srcT.join(corpT, "w").join(srcTot, "source").crossJoin(corpTot)
      .select(col("source"), col("w"),
        expr(s"CAST(c + 1 AS DECIMAL(19,0)) * " +
          s"CAST(ctot + $smoothing AS DECIMAL(19,0)) * 1000000 " +
          s"DIV (CAST(cc + 1 AS DECIMAL(19,0)) * " +
          s"CAST(tot + $smoothing AS DECIMAL(19,0)))").as("ppm"))
      .groupBy("source")
      .agg(max(struct(col("ppm"), col("w"))).as("m"))
      .select(col("source"), col("m.w").as("top_token"),
        col("m.ppm").as("top_token_ppm"))

    tv.join(ranked, Seq("source"))
      .select("source", "n_tokens", "tv", "top_token", "top_token_ppm")
      .orderBy("source")
  }
}
