package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compressed index
  * shape: each (unit-normalized) vector is split into `m` subvectors,
  * each subvector quantized to one of `ks` codebook centroids, so a
  * dim-float vector is stored as `m` small codes (m bytes for ks ≤
  * 256 — a 32× compression of a 64-dim float vector). Queries score
  * candidates with an Asymmetric Distance Computation (ADC): the query
  * precomputes an m × ks lookup table of subvector dot products ONCE,
  * and each candidate costs `m` table lookups instead of `dim`
  * multiplies.
  *
  * Spark-first shape, the 100 TB lens:
  * - The codebooks are the MODEL (m · ks · dim/m doubles = dim · ks —
  *   a few KB); they train driver-side on the same deterministic
  *   bounded sample rule as `KMeans.fitLocal` (one Spark job: smallest
  *   (xxhash64(id), id) TakeOrdered), then enter every plan as
  *   `typedlit` literals — codegen reference objects, no join, no
  *   shuffle, no recompile across refits.
  * - `encode` is a map-side codegen pass over the corpus scan (argmax
  *   of literal-centroid scores per subspace — the KMeans CASE-chain
  *   pattern). Its output (id, codes) IS the persistable index: write
  *   it as parquet and the original embeddings never need to be
  *   scanned again for candidate generation.
  * - `pqTopK` broadcasts the (tiny) query side with its precomputed
  *   flat LUT column, so the probe is a map-side broadcast join over
  *   the codes table; each pair costs m `element_at` lookups. Only the
  *   per-query top-k window shuffles, on shortlist-sized data.
  * - `refine` re-ranks the ADC shortlist (|Q| · refine·k rows,
  *   broadcast) against the original vectors with exact cosine — the
  *   standard PQ pipeline: approximate shortlist, exact order.
  *
  * Determinism: the sample order is fixed by (xxhash64(id), id), Lloyd
  * accumulates in that order, assignment ties break toward the lowest
  * code in BOTH the driver fit loop and the codegen CASE chain (same
  * left-to-right IEEE summation via graft_dot), so refits and
  * re-encodes are bit-identical under any partitioning. */
object ProductQuantizer {

  /** `codebooks(sub)(code)` = centroid (length dim/m) over
    * unit-normalized subvectors. */
  case class PqModel(m: Int, ks: Int, dim: Int,
                     codebooks: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
  }

  /** Unit-normalize, widen, drop zero-norm rows (no direction — same
    * contract as SimilaritySearch). Shared with IvfPq. r22: one fused
    * native pass (graft_unit) instead of three interpreted HOF passes
    * (widen transform + HOF norm + divide transform, each boxing every
    * element); null marks the dropped zero-norm/null-element rows the
    * old `nrm > 0` filter removed — row set and values bit-identical
    * (VecUnitSpec). */
  private[operators] def unitPrep(df: DataFrame, idCol: String, vecCol: String, as: String) =
    df.select(col(idCol).as(s"${as}_id"),
        VectorOps.unit(col(vecCol)).as(s"${as}_v"))
      .filter(col(s"${as}_v").isNotNull)

  /** Train per-subspace codebooks on a bounded deterministic sample.
    * One Spark job (the TakeOrdered sample); Lloyd runs driver-side —
    * codebook training is model-scale work by construction. */
  def fit(candidates: DataFrame, idCol: String, vecCol: String,
          m: Int = 8, ks: Int = 16, iters: Int = 5,
          maxSample: Int = 65536): PqModel = {
    require(m >= 1 && ks >= 2, s"need m >= 1 and ks >= 2, got m=$m ks=$ks")
    require(ks <= 256, s"ks must fit a byte code (<= 256), got $ks")
    val s = candidates.sparkSession
    import s.implicits._
    val sampled = unitPrep(candidates, idCol, vecCol, "s")
      .withColumn("__h", xxhash64(col("s_id")))
      .orderBy(col("__h"), col("s_id")).limit(maxSample)
      .select("s_v").as[Seq[Double]].collect().map(_.toArray)
    require(sampled.nonEmpty, "cannot fit a quantizer on an empty (or all-zero-norm) corpus")
    val dim = sampled.head.length
    require(dim % m == 0, s"m ($m) must divide the vector dim ($dim)")
    val sd = dim / m
    val books = Array.tabulate(m) { j =>
      val subs = sampled.map(v => java.util.Arrays.copyOfRange(v, j * sd, (j + 1) * sd))
      // init: first ks DISTINCT subvectors in sample order (duplicates
      // would pin duplicate codes); pad by repeating the first if the
      // sample has fewer distinct subvectors than codes
      val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      val seen = scala.collection.mutable.HashSet[Seq[Double]]()
      subs.iterator.takeWhile(_ => init.length < ks).foreach { v =>
        if (seen.add(v.toSeq)) init += v.clone()
      }
      while (init.length < ks) init += init.head.clone()
      var cents: Array[Array[Double]] = init.toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(ks)(new Array[Double](sd))
        val counts = new Array[Long](ks)
        subs.foreach { v =>
          var best = 0; var bestSc = Double.NegativeInfinity
          var c = 0
          while (c < ks) {
            // argmin L2 as argmax(<v,c> - |c|²/2): the same score the
            // codegen encode computes, same left-to-right summation
            var dot = 0.0; var n2 = 0.0; var i = 0
            while (i < sd) { dot += v(i) * cents(c)(i); n2 += cents(c)(i) * cents(c)(i); i += 1 }
            val sc = dot - n2 / 2
            if (sc > bestSc) { best = c; bestSc = sc } // strict: ties keep lowest code
            c += 1
          }
          var i = 0
          while (i < sd) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0L) old else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
    PqModel(m, ks, dim, books)
  }

  /** Per-subspace scores (code, score) of slice attrs `__s$j` against
    * literal centroids — score = <v_sub, c> − |c|²/2, argmax ≡ argmin
    * L2. Centroids enter as single-array typedlits (codegen cache
    * discipline, cf. KMeans.centroidScores). r22: the hot paths
    * (encode / buildIndex / lut / adc) moved to the one-node native
    * kernels below; this stays for quantizationSelfScorePpm's
    * max-score reduction. */
  private[operators] def subScores(model: PqModel, j: Int, sub: Column): Seq[(Long, Column)] =
    model.codebooks(j).zipWithIndex.map { case (c, code) =>
      val n2 = c.foldLeft(0.0)((acc, x) => acc + x * x)
      code.toLong -> (VectorOps.dot(sub, typedlit(c.toSeq)) - lit(n2 / 2))
    }.toSeq

  /** Driver-folded n2/2 per (subspace, code) — the EXACT double the
    * legacy subScores embedded as `lit(n2 / 2)` (same foldLeft order,
    * same single division), handed to the native kernels so their
    * scores reproduce the legacy arithmetic bit-for-bit. */
  private def halfN2(model: PqModel): Array[Array[Double]] =
    model.codebooks.map(_.map(c =>
      c.foldLeft(0.0)((acc, x) => acc + x * x) / 2))

  /** Native one-node PQ encode (r22, [[graft.plans.PqEncode]]): the
    * m·ks literal-dot score columns + m argmax CASE chains collapse to
    * one expression holding the codebooks as a reference object.
    * PqKernelSpec asserts bit-identity with the legacy two-select
    * form. */
  private[operators] def pqEncodeCol(model: PqModel, v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.PqEncode(
      org.apache.spark.sql.GraftColumnBridge.expression(v),
      model.codebooks, halfN2(model)))

  private[operators] def pqAdcCol(codes: Column, lut: Column, model: PqModel): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.PqAdc(
      org.apache.spark.sql.GraftColumnBridge.expression(codes),
      org.apache.spark.sql.GraftColumnBridge.expression(lut),
      model.m, model.ks))

  /** Encode a corpus against a trained model: (id, codes array<int>) —
    * the persistable PQ index. Map-side only: slices, literal-centroid
    * scores, and per-subspace argmax CASE chains in one codegen pass. */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    // r22: one native kernel node (pqEncodeCol) instead of the
    // slice → m·ks literal-dot scores → m argmax CASE chains
    // three-select pipeline — same codes bit-for-bit (PqKernelSpec),
    // ~500 plan nodes fewer to analyze per run, a running max per
    // row instead of ks CASE comparisons per subspace.
    unitPrep(df, idCol, vecCol, "c")
      .select(col("c_id"), pqEncodeCol(model, col("c_v")).as("codes"))

  /** Flat m·ks LUT column for a (query) unit-vector: entry j·ks + c =
    * <q_sub_j, codebook_j(c)> — computed once per query row, before
    * the probe join. r22: one native node ([[graft.plans.PqLut]])
    * instead of an array() of m·ks slice+literal-dot expressions —
    * same entries bit-for-bit (PqKernelSpec). */
  private[operators] def lutCol(model: PqModel, v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.PqLut(
      org.apache.spark.sql.GraftColumnBridge.expression(v), model.codebooks))

  /** PQ ANN top-k: ADC over the codes index, then (refine > 0) exact
    * cosine re-rank of the top refine·k ADC candidates. Returns
    * (q_id, c_id, cos, rk) like the other ANN operators (cos is the
    * ADC approximation when refine == 0). Pass a pre-trained `model`
    * and/or pre-encoded `index` to reuse a persisted PQ index — the
    * fit/encode/query split is the production shape; without them both
    * are built inline. */
  def pqTopK(queries: DataFrame, candidates: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ks: Int = 16, iters: Int = 5,
             maxSample: Int = 65536, refine: Int = 4,
             model: Option[PqModel] = None,
             index: Option[DataFrame] = None): DataFrame = {
    val mdl = model.getOrElse(fit(candidates, idCol, vecCol, m, ks, iters, maxSample))
    val enc = index.getOrElse(encode(candidates, idCol, vecCol, mdl))
    val q = broadcast(unitPrep(queries, idCol, vecCol, "q")
      .select(col("q_id"), col("q_v"), lutCol(mdl, col("q_v")).as("__lut")))
    adcRank(q.join(enc), candidates, idCol, vecCol, k, refine, mdl)
  }

  /** Shared ADC + top-k + optional exact-re-rank tail of the PQ family
    * (pqTopK and IvfPq.topK): `joined` carries (q_id, q_v, __lut,
    * c_id, codes). ONE home for the determinism contract — round(6)
    * scores, (desc score, asc c_id) ties, refine·k shortlist — so the
    * two operators can't drift apart. */
  private[operators] def adcRank(joined: DataFrame, candidates: DataFrame,
                                 idCol: String, vecCol: String,
                                 k: Int, refine: Int, mdl: PqModel): DataFrame = {
    // r22: native ADC kernel — the legacy `aggregate(zip_with(codes,
    // sequence, element_at(lut, ...)))` fold ran INTERPRETED lambdas
    // and allocated a boxed array per candidate row (the profiled
    // dominant cost of the s6/s7 probe stage); PqAdc is the same
    // left-to-right m-lookup sum as one codegen loop (PqKernelSpec).
    val adc = joined
      .withColumn("adc", round(pqAdcCol(col("codes"), col("__lut"), mdl), 6))
    val wAdc = Window.partitionBy("q_id").orderBy(desc("adc"), asc("c_id"))
    if (refine <= 0) {
      adc.withColumn("rk", row_number().over(wAdc).cast("long"))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("c_id"), col("adc").as("cos"), col("rk"))
    } else {
      val shortlist = adc
        .withColumn("rk", row_number().over(wAdc))
        .filter(col("rk") <= k.toLong * refine)
        .select("q_id", "q_v", "c_id")
      // exact re-rank: the broadcast shortlist joins the corpus scan
      // map-side; unit vectors, so cosine is a plain dot
      val c = unitPrep(candidates, idCol, vecCol, "c")
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("c_id"))
      broadcast(shortlist).join(c, "c_id")
        .withColumn("cos", round(VectorOps.dot(col("q_v"), col("c_v")), 6))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("c_id"), col("cos"), col("rk"))
    }
  }
}
