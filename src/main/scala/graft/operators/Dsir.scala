package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169) — the domain-targeting selection stage of a
  * training-data pipeline: score every raw document by how much it
  * resembles a target domain, under two bag-of-hashed-n-grams models,
  * and keep the top-weighted slice.
  *
  * Features are the paper's: word unigrams + bigrams hashed into a
  * fixed bucket space (here the repo's rolling polynomial fingerprint
  * mod nBuckets, so the DuckDB oracle reproduces the bucketing
  * bit-for-bit). Both the target model and the raw model are add-one-
  * smoothed bucket frequencies; a document's weight aggregates its
  * features' target/raw likelihood ratios.
  *
  * Log-free convention (t13's tf-idf precedent): the paper's log-space
  * weight log w = Σ_f log(p_t[f]/p_r[f]) needs `ln`, whose last-ulp
  * rounding is engine-specific. We aggregate the per-feature ratio
  * itself in parts-per-million fixed point —
  * r_f = ⌊10⁶ · (ct+1)(N_r+B) / ((cr+1)(N_t+B))⌋, weight = Σ_f r_f —
  * all-BIGINT arithmetic, exact and order-independent, identically
  * computable by any SQL engine. The induced ordering is the
  * arithmetic-mean (rather than geometric-mean) likelihood ratio;
  * the selection semantics — rank raw docs by target-likeness under
  * hashed-n-gram models — are DSIR's.
  *
  * Scale shape (100 TB): one corpus-sized feature explode feeding a
  * bucket-keyed count aggregation (map-side combinable to ≤ B rows per
  * task — B is a few thousand, so the shuffle is tiny); the bucket
  * stats table (≤ B rows) and its 1-row totals BROADCAST back onto the
  * feature stream; one per-doc aggregation; selection is a distributed
  * TakeOrdered (top-K), never a global sort. Nothing driver-sized
  * depends on n. BIGINT headroom: (ct+1)·(N_r+B)·10⁶ stays under 2⁶³
  * while ct·N_r < 9.2·10⁵ — beyond that (trillion-token corpora),
  * pre-scale the counts or widen to decimal; the shape is unchanged.
  */
object Dsir {

  /** Hashed word unigram+bigram feature buckets of one text column:
    * one row per feature OCCURRENCE (id, is_t, b). */
  def featureBuckets(df: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, nBuckets: Int): DataFrame = {
    val words = filter(split(trim(col(textCol)), "\\s+"), w => length(w) > 0)
    // zip_with pads the shorter side with null; the tail element's
    // null partner marks it as not-a-bigram (same guard as Bpe.pairs)
    val bigrams = filter(
      zip_with(words, slice(words, lit(2), greatest(size(words) - 1, lit(0))),
        (x, y) => when(y.isNotNull, concat(x, lit(" "), y))),
      p => p.isNotNull)
    df.select(col(idCol), targetPred.as("is_t"),
        explode(concat(words, bigrams)).as("f"))
      .select(col(idCol), col("is_t"),
        (call_function("graft_fingerprint", col("f")) % nBuckets).as("b"))
  }

  /** Per-document DSIR importance weights + top-`topK` selection flag.
    * Output: (idCol, n_feat, weight_ppm, selected), one row per doc
    * with ≥ 1 feature. `targetPred` marks the target-domain rows of
    * the same corpus (the paper's separate target corpus is the
    * general case — union it in with a flag). */
  def importanceSelect(corpus: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, nBuckets: Int = 4096,
                       topK: Int = 100): DataFrame = {
    val feats = featureBuckets(corpus, idCol, textCol, targetPred, nBuckets)
    val stats = feats.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val totals = stats.agg(
      sum(col("cr")).as("n_r"), sum(col("ct")).as("n_t"))
    val scored = feats
      .join(broadcast(stats), "b")
      .crossJoin(broadcast(totals))
      // DECIMAL products (r16, same fix as Drift.cardFromCounts): the
      // LONG form (ct+1)·(n_r+K)·10⁶ overflows once a bucket count ×
      // the corpus feature total passes ~9·10¹² — routine at crawl
      // scale. DECIMAL(19,0) pairs widen to (38,0), integral DIV
      // returns an exact LONG, values bit-identical below the old
      // overflow point (oracle mirrors via HUGEINT).
      .withColumn("r", expr(
        s"CAST(ct + 1 AS DECIMAL(19,0)) * " +
        s"CAST(n_r + $nBuckets AS DECIMAL(19,0)) * 1000000 " +
        s"DIV (CAST(cr + 1 AS DECIMAL(19,0)) * " +
        s"CAST(n_t + $nBuckets AS DECIMAL(19,0)))"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"), sum(col("r")).as("weight_ppm"))
    val sel = scored
      .orderBy(desc("weight_ppm"), col(idCol))
      .limit(topK)
      .select(col(idCol).as("sel_id"))
    scored.join(broadcast(sel), col(idCol) === col("sel_id"), "left_outer")
      .select(col(idCol), col("n_feat"), col("weight_ppm"),
        col("sel_id").isNotNull.as("selected"))
  }
}
