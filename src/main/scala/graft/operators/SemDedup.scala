package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Semantic deduplication (SemDeDup, Abbas et al. 2023,
  * arXiv:2303.09540): remove documents whose EMBEDDINGS are
  * near-identical, even when their bytes are not — the dedup layer
  * that catches paraphrases/boilerplate MinHash misses.
  *
  * The paper's trick is the scale story: instead of an all-pairs
  * cosine search over the corpus, k-means-cluster the embeddings and
  * search for near-dups only WITHIN each cluster. True semantic dups
  * sit close in embedding space, so they share a cluster with high
  * probability; cross-cluster pairs are never examined. Cost drops
  * from Ω(n²) to Σ_cells Ω((n/k)²) — at 100 TB you pick k ∝ n so the
  * expected cell size is constant and the whole search is linear.
  *
  * Spark-first shape:
  *  - the quantizer is the k × dim model from [[KMeans]] (fit on a
  *    hash-sample / `fitLocal` — index-build pass, reused across runs);
  *  - cell assignment is a map-side codegen pass (literal-centroid
  *    argmax, shared with `SimilaritySearch.ivfKmeansTopK` so cell ids
  *    can't drift between the ANN index and the dedup pass);
  *  - the within-cell pair search reuses the grid-block trick of
  *    [[Dedup.embeddingNearDups]] with the cell id prepended to the
  *    block-pair join key: an equi-join on (cell, bi, bj), per-task
  *    memory bounded by 2·|cell|/B rows even when a cell is skewed.
  *    No BroadcastNestedLoopJoin, no corpus broadcast.
  *
  * Determinism: KMeans fits are bit-identical under any partitioning
  * (decimal means, seeded hash init), assignment ties break toward the
  * low cell id, and the keep policy is pure integer logic — so the
  * pruned corpus is reproducible, which is what makes the operator
  * testable against a same-cell-restricted exact differential.
  */
object SemDedup {

  /** Assign each vector to its nearest quantizer cell (cosine argmax,
    * ties toward the low cell id). Output: (id, v, nrm, cell).
    * Zero-norm vectors carry no direction and are dropped (they can't
    * be "semantically similar" to anything). */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  model: Seq[(Long, Seq[Double])]): DataFrame = {
    val base = df.select(col(idCol).as("id"), VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0)
    // one native argmax kernel node (r22, KMeans.cellArgmax) instead
    // of the two-select literal-score + CASE-chain pipeline — same
    // cells bit-for-bit (PqKernelSpec)
    base.select(col("id"), col("v"), col("nrm"),
      KMeans.cellArgmax(model, col("v"), col("nrm")).as("cell"))
  }

  /** Within-cell near-dup pairs at cosine ≥ `threshold`:
    * (cell, a_id, b_id, cos), each unordered pair exactly once,
    * a_id < b_id. Exactly [[Dedup.embeddingNearDups]] restricted to
    * same-cell pairs (the differential spec asserts this), computed
    * without ever joining across cells — the shared grid join with
    * the cell id prepended to the block-pair key. */
  def pairs(assigned: DataFrame, threshold: Double, blocks: Int = 4): DataFrame =
    Dedup.gridCosinePairs(assigned.select("cell", "id", "v", "nrm"),
      Seq("cell"), threshold, blocks)

  /** Full SemDeDup pass: fit/reuse a quantizer, assign cells, find
    * within-cell near-dups, and label every vector keep/drop. Keep
    * policy (deterministic, the paper's "keep one per dup set" made
    * greedy): a vector is DROPPED iff it is the greater id of some
    * qualifying pair — i.e. per near-dup set the minimum id survives
    * (for a transitively-closed set exactly one survivor; the same
    * min-id convention as [[Dedup.exactDedup]]).
    *
    * Output: (id, cell, keep, n_dup_pairs) — one row per non-zero-norm
    * input vector. Pass `quantizer` (output of `KMeans.fit`/`fitLocal`)
    * to reuse a persisted index; otherwise one is fit inline on the
    * `sampleMod` hash-sample of the corpus.
    */
  def dedup(df: DataFrame, idCol: String, vecCol: String,
            threshold: Double, nCells: Int = 16, iters: Int = 3,
            sampleMod: Int = 1, blocks: Int = 4,
            quantizer: Option[DataFrame] = None): DataFrame = {
    val model: Seq[(Long, Seq[Double])] =
      quantizer.getOrElse(KMeans.fit(df, idCol, vecCol, nCells, iters, sampleMod))
        .select(col("cell").cast("long"), col("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    // assignment feeds three consumers (both pair-join sides + the
    // final label join); eager localCheckpoint so the scan + argmax
    // pass runs once (blocks released by the caller)
    val assigned = assignCells(df, idCol, vecCol, model).localCheckpoint(true)
    val p = pairs(assigned, threshold, blocks)
    // per-id pair stats: greater-id appearances mark drops; pair
    // counts (either side) flag borderline hubs for threshold tuning
    val perId = p.select(col("a_id").as("pid"), lit(0L).as("dropped"))
      .unionAll(p.select(col("b_id").as("pid"), lit(1L).as("dropped")))
      .groupBy("pid")
      .agg(count(lit(1)).as("n_dup_pairs"), max(col("dropped")).as("is_dropped"))
    assigned.select(col("id"), col("cell"))
      .join(perId, col("id") === col("pid"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("is_dropped") === 0L, lit(true)).as("keep"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"))
  }
}
