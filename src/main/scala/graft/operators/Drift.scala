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
  * Scale shape: one corpus-sized explode feeding two combinable
  * count aggregations (bucket-keyed ≤ nBuckets·|sources| rows,
  * token-keyed vocab-bounded); the corpus-side tables re-join on
  * bucket/token keys; the 1-row corpus total enters by broadcast (the
  * documented scalar-BNLJ family). No windows, no corpus-keyed sort.
  */
object Drift {

  private def tokens(docs: DataFrame, srcCol: String,
                     textCol: String): DataFrame = docs
    .select(col(srcCol).as("source"),
      explode(split(trim(col(textCol)), "\\s+")).as("w"))
    .filter(length(col("w")) > 0)

  /** (source, b, cnt) hashed-bucket token counts — the TV side's
    * state. MERGEABLE: counts from two corpus slices union and re-sum
    * to the counts of the union (plain + on a keyed table), so a
    * stream can fold per-batch increments into a persisted store and
    * the card stays exactly the batch card (StreamingDriftSpec). */
  def bucketCounts(docs: DataFrame, srcCol: String, textCol: String,
                   nBuckets: Int = 4096): DataFrame =
    tokens(docs, srcCol, textCol)
      .select(col("source"),
        (call_function("graft_fingerprint", col("w")) % nBuckets).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("cnt"))

  /** (source, w, c) per-token counts — the argmax side's state;
    * mergeable the same way (vocab-bounded). */
  def tokenCounts(docs: DataFrame, srcCol: String,
                  textCol: String): DataFrame =
    tokens(docs, srcCol, textCol)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))

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
    * both count tables — (source, bucket) and (source, token) — move
    * as ONE kind-tagged, batch-bounded increment (`kind='b'|'t'`, key
    * stringified; bucket ids survive the round trip exactly —
    * non-negative longs) APPENDED to the store. Nothing reads or
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
    * O(batches × grid+vocab) rows).
    *
    * Crash safety needs no twin here: parquet's commit protocol keeps
    * a half-written append invisible (`_temporary` is skipped by
    * readers), so a crashed fold simply re-runs. foreachBatch replay
    * double-appends an increment — the same bounded overcount the
    * previous merge form had, documented monitor semantics. */
  def foldDocsIntoStore(store: String, docs: DataFrame, srcCol: String,
                        textCol: String, nBuckets: Int = 4096): Unit = {
    recoverStore(docs.sparkSession, store)
    bucketCounts(docs, srcCol, textCol, nBuckets)
      .select(lit("b").as("kind"), col("source"),
        col("b").cast("string").as("k"), col("cnt"))
      .unionByName(tokenCounts(docs, srcCol, textCol)
        .select(lit("t").as("kind"), col("source"),
          col("w").as("k"), col("c").as("cnt")))
      .write.mode("append").parquet(store)
  }

  /** Maintenance for the append-only drift store: fold the
    * accumulated increments back to one row per (kind, source, key) —
    * card-invariant by the counts monoid — through the same
    * [[graft.sources.DirSwap.replace]] the shard and index compactors
    * use. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Unit = {
    val (fs, target) = recoverStore(spark, dir)
    if (!fs.exists(target)) return
    graft.sources.DirSwap.replace(spark, dir) { out =>
      spark.read.parquet(dir)
        .groupBy("kind", "source", "k")
        .agg(sum(col("cnt")).cast("long").as("cnt"))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Read a drift card off a store directory written by
    * [[foldDocsIntoStore]]: recover any interrupted swap, reject a
    * retired layout, sum the appended increments per key (a no-op on a
    * freshly compacted store), split by kind. The summed table is
    * checkpointed — bounded (grid + vocab rows), and cardFromCounts
    * fans each side into several consumers, which without the
    * materialization would each re-run the store-wide scan + shuffle
    * (the same reason sourceDrift checkpoints its count tables). */
  def cardFromStore(spark: org.apache.spark.sql.SparkSession,
                    dir: String, smoothing: Int = 4096): DataFrame = {
    recoverStore(spark, dir)
    val all = spark.read.parquet(dir)
      .groupBy("kind", "source", "k")
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .localCheckpoint(true)
    cardFromCounts(
      all.filter(col("kind") === "b")
        .select(col("source"), col("k").cast("long").as("b"), col("cnt")),
      all.filter(col("kind") === "t")
        .select(col("source"), col("k").as("w"), col("cnt").as("c")),
      smoothing)
  }

  def sourceDrift(docs: DataFrame, srcCol: String, textCol: String,
                  nBuckets: Int = 4096, smoothing: Int = 4096): DataFrame =
    cardFromCounts(
      bucketCounts(docs, srcCol, textCol, nBuckets).localCheckpoint(true),
      tokenCounts(docs, srcCol, textCol).localCheckpoint(true),
      smoothing)

  /** The drift card derived purely from the two count tables (the
    * form the streaming monitor reads back from its store). Both
    * inputs are bounded state and feed three consumers each —
    * sourceDrift checkpoints them so the corpus-sized aggregation
    * runs once, not per consumer. */
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
