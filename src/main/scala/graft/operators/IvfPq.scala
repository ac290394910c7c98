package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.ProductQuantizer.PqModel

/** IVF-PQ — the composed FAISS flagship index (Jégou et al. 2011 §V:
  * "IVFADC"): a coarse k-means quantizer prunes the search to `nProbe`
  * of `nCells` inverted lists, and product-quantization codes score
  * the surviving candidates by table lookup. The two structures answer
  * different costs — IVF bounds how MANY candidates are touched,
  * PQ bounds the BYTES and FLOPs per candidate — so their composition
  * is what real billion-vector deployments run.
  *
  * This variant scores candidates with the GLOBAL codebooks rather
  * than per-cell residual codebooks (FAISS's "IVFPQ with residuals").
  * Residual encoding buys ADC resolution but couples every code to its
  * cell's centroid, so re-clustering invalidates the whole codes index;
  * the global-codebook form keeps `encode` cell-independent — the PQ
  * index survives a coarse-quantizer refit — and the exact re-rank
  * (`refine`) recovers the ordering precision either way. The recall
  * spec (IvfPqSpec) gates the composition against the exact baseline.
  *
  * The 100 TB shape, end to end:
  * - Both models are driver-sized by construction: the coarse model is
  *   nCells × dim doubles, the codebooks m · ks · dim/m. Both train on
  *   the same bounded deterministic sample rule (`KMeans.fitLocal`,
  *   `ProductQuantizer.fit`) — one Spark job each.
  * - `buildIndex` is ONE map-side codegen pass over the corpus: cell
  *   assignment (literal-centroid argmax) and the m sub-code argmaxes
  *   run in the same projection; output (c_id, cell, codes) is the
  *   persistable index — m codes + a cell id per vector, the original
  *   embeddings never rescanned for candidate generation.
  * - `topK` broadcasts the (tiny) probe set — |Q|·nProbe rows each
  *   carrying a precomputed m·ks LUT — and equi-joins it on `cell`
  *   against the index scan: only ~nProbe/nCells of the codes table is
  *   scored, each candidate costing m `element_at` lookups. Only the
  *   per-query top-k windows shuffle, on shortlist-sized data.
  * - A PERSISTED index is additionally scan-pruned: the probed cell
  *   set is known before the index is touched, so `topK` pushes it
  *   into the scan as an `In` filter — against a cell-clustered
  *   index ([[writeIndex]], or `Layout.compact(clusterCols =
  *   Seq("cell"))` on the maintenance cadence) parquet min/max
  *   row-group stats skip the unprobed inverted lists, and the probe
  *   READS ~nProbe/nCells of the codes table instead of scanning all
  *   of it and discarding non-matches at the join. At a 10⁹-row
  *   index probing 64 of 65536 cells that is the difference between
  *   a ~0.1% read and a full scan per query batch — the same
  *   layout-pays-for-the-probe pattern as the near-dup band index.
  *
  * Determinism: same sample/init/tie rules as the component operators,
  * so index builds and queries are bit-identical under any
  * partitioning (asserted by IvfPqSpec). */
object IvfPq {

  /** Past this many distinct probed cells the scan-pruning `In`
    * filter is skipped: a probe touching that many inverted lists
    * reads most row groups anyway, and the literal list would only
    * bloat the plan. |Q|·nProbe bounds the set, so a human-sized
    * query batch sits far below this. */
  val MaxProbeCellLiterals: Int = 4096

  /** Persist the codes index CLUSTERED on `cell`: range-partitioned
    * (with `c_id` as a secondary key so a skewed cell spreads over
    * files without breaking cell contiguity) and sorted, so every
    * file holds a contiguous cell range and parquet min/max row-group
    * stats prune unprobed inverted lists under `topK`'s pushed probe
    * filter. Incremental batches land as plain parquet appends
    * (`appendBatch`); re-cluster the directory on the maintenance
    * cadence with `Layout.compact(..., clusterCols = Seq("cell"))` —
    * the same janitorial pattern as the near-dup band index. */
  def writeIndex(index: DataFrame, path: String, nFiles: Int = 32): Unit =
    index.repartitionByRange(nFiles, col("cell"), col("c_id"))
      .sortWithinPartitions("cell", "c_id")
      .write.mode("overwrite").parquet(path)

  /** Collect a (cell, cv) quantizer frame to the driver-side model. */
  private[graft] def collectCoarse(quantizer: DataFrame): Seq[(Long, Seq[Double])] =
    quantizer.select(col("cell").cast("long"), col("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq

  /** buildIndex from a quantizer FRAME (KMeans.fitLocal/fit output) —
    * the form callers persisting artifacts actually hold. */
  def buildIndex(candidates: DataFrame, idCol: String, vecCol: String,
                 quantizer: DataFrame, model: PqModel): DataFrame =
    buildIndex(candidates, idCol, vecCol, collectCoarse(quantizer), model)

  /** Build the persistable index (c_id, cell, codes) in one map-side
    * pass: slice attrs → literal-centroid scores (cell + every
    * sub-code) in one projection, argmax CASE chains in the next
    * (KMeans' two-select codegen discipline). Unit vectors make the
    * spherical cell score a plain dot against unit centroids. */
  def buildIndex(candidates: DataFrame, idCol: String, vecCol: String,
                 coarse: Seq[(Long, Seq[Double])], model: PqModel): DataFrame = {
    // r22: the nCells + m·ks literal-score columns and their argmax
    // CASE chains collapse to TWO native kernel nodes (CellArgmax +
    // PqEncode) in one projection — same cell ids and codes
    // bit-for-bit (PqKernelSpec), a fraction of the plan to analyze
    // and a running max per row instead of CASE ladders.
    val u = ProductQuantizer.unitPrep(candidates, idCol, vecCol, "c")
    u.select(col("c_id"),
      KMeans.cellArgmax(coarse, col("c_v"), lit(1.0)).as("cell"),
      ProductQuantizer.pqEncodeCol(model, col("c_v")).as("codes"))
  }

  /** Incremental ingest (r11 — the ANN twin of `Bm25.mergeIndexes` /
    * the minhash/winnow/bloom/segment index appends): encode a NEW
    * batch with the SAME persisted artifacts and union it in. The
    * result is bit-identical to `buildIndex` over the union corpus,
    * because cell assignment and codes are per-row functions of
    * (vector, coarse, model) alone — exactly what the global-codebook
    * design (vs FAISS residual IVFPQ) buys: residual codes couple each
    * row to its cell centroid, so THEIR append would go stale on any
    * quantizer refit. Disjoint id sets are the caller's contract (as
    * for Bm25.mergeIndexes); deletes are an anti-join upstream. */
  def appendBatch(index: DataFrame, batch: DataFrame, idCol: String,
                  vecCol: String, coarse: Seq[(Long, Seq[Double])],
                  model: PqModel): DataFrame =
    index.unionByName(buildIndex(batch, idCol, vecCol, coarse, model))

  /** The REFIT TRIGGER for the ingest loop: per-vector PQ
    * quantization self-score in ppm — ⌊10⁶ · Σⱼ maxᶜ dot(vⱼ, cbⱼ[c])⌋
    * over unit vectors, i.e. the ADC score a vector assigns its own
    * codes. The absolute level depends on codebook resolution (a
    * coarse ks=16 model sits well under 10⁶ even in-distribution);
    * the refit signal is the RELATIVE drop — a drifting batch's
    * sub-vectors stop landing near any codeword and the mean falls
    * measurably BEFORE probe recall degrades (IvfPqSpec measures a
    * 2.5x fall on a re-clustered batch), telling ops to refit +
    * rebuild. Appends meanwhile stay exact — the codes are just
    * coarser. Same one-pass literal-codebook codegen shape as
    * `buildIndex`; map-side only. */
  def quantizationSelfScorePpm(batch: DataFrame, idCol: String,
                               vecCol: String, model: PqModel): DataFrame = {
    val sd = model.subDim
    val u = ProductQuantizer.unitPrep(batch, idCol, vecCol, "c")
    val perSub = (0 until model.m).map { j =>
      val scores = ProductQuantizer
        .subScores(model, j, slice(col("c_v"), j * sd + 1, sd)).map(_._2)
      greatest(scores: _*)
    }
    u.select(col("c_id"),
      floor(perSub.reduce(_ + _) * lit(1000000.0)).cast("long")
        .as("self_adc_ppm"))
  }

  /** IVF-PQ top-k: probe `nProbe` cells, ADC-score their codes, exact
    * cosine re-rank of the top refine·k. Returns (q_id, c_id, cos, rk).
    * Pass `quantizer` / `model` / `index` to reuse persisted artifacts
    * (the production shape: train once, index once, query forever);
    * omitted pieces are built inline. */
  def topK(queries: DataFrame, candidates: DataFrame,
           idCol: String, vecCol: String, k: Int,
           nCells: Int = 16, nProbe: Int = 4,
           m: Int = 8, ks: Int = 16, iters: Int = 5,
           maxSample: Int = 65536, refine: Int = 4,
           quantizer: Option[DataFrame] = None,
           model: Option[PqModel] = None,
           index: Option[DataFrame] = None): DataFrame = {
    // a persisted index is only meaningful WITH the artifacts that
    // built it: a refit quantizer's cell ids / a refit PQ model's LUT
    // don't correspond to the stored (cell, codes) — the probe would
    // silently score garbage
    require(index.isEmpty || (quantizer.nonEmpty && model.nonEmpty),
      "passing `index` requires the `quantizer` and `model` it was built with")
    // the coarse-quantizer fit and the PQ codebook fit are INDEPENDENT
    // (each is one bounded-sample Spark job + a driver Lloyd loop), so
    // overlap them on two driver threads (guide §2.6 — actions are only
    // sequential because driver code calls them sequentially): the
    // second fit's sample job back-fills executors the first leaves
    // idle. Results are unchanged — both fits are deterministic
    // functions of (corpus, params) with no shared state.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (coarse, mdl) =
      try {
        val fCoarse = pool.submit(new java.util.concurrent.Callable[Seq[(Long, Seq[Double])]] {
          override def call(): Seq[(Long, Seq[Double])] =
            collectCoarse(quantizer.getOrElse(
              KMeans.fitLocal(candidates, idCol, vecCol, nCells, iters = iters,
                maxSample = maxSample)))
        })
        val fMdl = pool.submit(new java.util.concurrent.Callable[PqModel] {
          override def call(): PqModel = model.getOrElse(
            ProductQuantizer.fit(candidates, idCol, vecCol, m, ks, iters, maxSample))
        })
        try (fCoarse.get(), fMdl.get())
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } finally pool.shutdownNow()
    // an inline-built index materializes EAGERLY: an index IS a
    // materialization by contract (production persists it as parquet —
    // pass `index` for that), and left lazy the whole build subtree
    // would re-execute inside the probe/re-rank branches of the query
    // plan (measured 7x slower than probing a materialized index)
    val idx = index.getOrElse(
      buildIndex(candidates, idCol, vecCol, coarse, mdl).localCheckpoint(true))

    // query side: rank cells by unit-centroid dot (desc, then asc cell),
    // explode the top nProbe, carry the precomputed flat ADC LUT
    val qp = ProductQuantizer.unitPrep(queries, idCol, vecCol, "q")
    val probeFrame =
      qp.withColumn("__lut", ProductQuantizer.lutCol(mdl, col("q_v")))
        .withColumn("cell", explode(
          KMeans.probeCells(coarse, col("q_v"), lit(1.0), nProbe)))
        .select("q_id", "q_v", "__lut", "cell")
    // persisted path: materialize the (broadcast-sized) probe frame
    // so the cell-literal collect below and the ADC join read ONE
    // snapshot of the query side — a source that re-evaluates
    // differently between the two jobs could otherwise probe cells
    // the scan filter excluded (ADVICE r17; Bm25 mirrors this)
    val probesLocal =
      if (index.isEmpty) probeFrame else probeFrame.localCheckpoint(true)
    val probes = broadcast(probesLocal)

    // a PERSISTED index gets the probed cell set pushed into its scan
    // as literals (it is known here from the query side alone — one
    // tiny job over the broadcast-sized probe frame, the index
    // untouched): the equi-join already drops unprobed cells, but
    // only a scan-level filter lets a cell-clustered parquet layout
    // skip their row groups instead of reading and discarding them —
    // compute-pruning vs I/O-pruning. Results are identical by
    // construction (the filter removes only rows that cannot match
    // the join). Inline-built indexes skip this: they are in-memory
    // localCheckpoints with nothing to prune.
    val probedIdx =
      if (index.isEmpty) idx
      else {
        // limit caps the driver collect at the guard (a high-nCells
        // index declines BEFORE paying a full distinct collect);
        // chunked In keeps the parquet pushdown exact past the
        // 10-literal inFilterThreshold (ADVICE r17; see ScanPrune)
        val cells = probesLocal.select(col("cell")).distinct()
          .limit(MaxProbeCellLiterals + 1)
          .collect().map(_.getLong(0))
        if (cells.length > MaxProbeCellLiterals) idx
        else idx.filter(ScanPrune.chunkedIn(col("cell"), cells.toSeq,
          ScanPrune.inThreshold(candidates.sparkSession)))
      }
    // ADC over the probed cells only (a candidate lives in exactly one
    // cell and a query's probe cells are distinct, so pairs match
    // once); scoring/tie/re-rank tail shared with pqTopK — one home
    // for the determinism contract
    ProductQuantizer.adcRank(probes.join(probedIdx, "cell"),
      candidates, idCol, vecCol, k, refine, mdl)
  }
}
