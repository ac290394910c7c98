package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Distributed spherical k-means — the coarse quantizer that turns
  * `SimilaritySearch.ivfKmeansTopK` into a real IVF index (VERDICT r1
  * item 8: a `label` column is a partition, not a trained quantizer).
  *
  * Spark-first fit loop, shaped for a COARSE quantizer (k = tens to a
  * few hundred cells — the IVF regime): the k × dim centroid matrix is
  * the model and lives on the driver, so each Lloyd iteration scores
  * every centroid as a LITERAL column (codegen'd `graft_dot` against a
  * constant array) and takes the argmax row-local — assignment needs
  * no join and no shuffle at all. The only shuffle per iteration is
  * the element-wise decimal mean (posexplode → groupBy(cell, pos),
  * map-side combining). Corpus rows never collect; only k × dim
  * centroid values do. At 100 TB you fit on a deterministic
  * hash-sample (`sampleMod`) and assign the full corpus once
  * (`SimilaritySearch.ivfKmeansTopK` takes the fitted quantizer as an
  * input so index build and query are separate passes).
  *
  * Determinism (bench/verify reproducibility): init picks the k
  * vectors with the smallest (xxhash64(id), id) — a seeded uniform
  * draw without an RNG — ties in assignment break toward the lowest
  * cell id (first match in ascending cell order), and means are exact
  * decimal sums over per-(cell, pos) groups, so refits are
  * bit-identical under any partitioning (cf. ql.dsum). The literal
  * centroid norm is sqrt of a left-to-right sum of squares — the same
  * IEEE sequence `VectorOps.norm` produces — so scores match the
  * join-based formulation bit-for-bit. */
object KMeans {

  /** Driver-side norm matching `VectorOps.norm`'s summation order. */
  private def seqNorm(v: Seq[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))

  /** Cosine of `v` (with precomputed `nrm`) against each centroid as a
    * literal column, ascending cell order. Shared with the assignment
    * pass in SimilaritySearch so query-time cell ids can't drift from
    * fit-time ones.
    *
    * Codegen-cache discipline: centroids are UNIT-normalized on the
    * driver and embedded as a single array `typedlit` each — array
    * literals reach generated code as reference objects, so the
    * generated source is IDENTICAL across Lloyd iterations and the
    * compiled classes are reused. The naive form (element-wise `lit`s
    * + a primitive norm literal) inlines every centroid value into the
    * source, forcing a Janino recompile of every stage of every
    * iteration — measured as the dominant fit cost at small SF.
    * cos(v, c) = dot(v, c/|c|) / |v|, so no per-centroid norm column
    * is needed; a degenerate zero-norm centroid scores 0. */
  private[operators] def centroidScores(model: Seq[(Long, Seq[Double])],
                                        v: Column, nrm: Column): Seq[(Long, Column)] =
    model.sortBy(_._1).map { case (cell, cv) =>
      val n = seqNorm(cv)
      val unit = if (n > 0) cv.map(_ / n) else cv.map(_ => 0.0)
      // greatest(nrm, minPositive) is the identity for every nrm > 0
      // (the callers' row contract) but keeps the division total:
      // under ANSI mode the optimizer may fold this projection into a
      // predicate it evaluates EAGERLY on rows the nrm > 0 filter has
      // not yet removed (ConvertToLocalRelation does), and a raw /0
      // there aborts the query
      cell -> (VectorOps.dot(v, typedlit(unit)) /
        greatest(nrm, lit(java.lang.Double.MIN_VALUE)))
    }

  /** The `nProbe` cells a query probes, as an array column: cells
    * ranked by [[centroidScores]] descending, ties to the lower cell.
    * Shared by the IVF and IVF-PQ query sides so both rank alike. */
  private[operators] def probeCells(model: Seq[(Long, Seq[Double])],
                                    v: Column, nrm: Column,
                                    nProbe: Int): Column = {
    val scoreArr = array(centroidScores(model, v, nrm).map { case (cell, cc) =>
      struct(cc.as("cc"), lit(cell).as("cell")) }: _*)
    val ranked = array_sort(scoreArr, (l: Column, r: Column) =>
      when(l.getField("cc") > r.getField("cc"), -1)
        .when(l.getField("cc") < r.getField("cc"), 1)
        .otherwise(when(l.getField("cell") < r.getField("cell"), -1)
          .when(l.getField("cell") > r.getField("cell"), 1).otherwise(0)))
    transform(slice(ranked, 1, nProbe), p => p.getField("cell"))
  }

  /** One-node native form of `argmaxCell(centroidScores(model, v,
    * nrm))` (r22, [[graft.plans.CellArgmax]] — guide §1.2 step 2): the
    * legacy form built nCells literal-dot columns + an nCells-branch
    * CASE chain, a 100+-node projection re-analyzed on every run and
    * ks comparisons per row; the kernel is one plan node holding the
    * unit centroids as a reference object and a running argmax loop in
    * codegen. Identical driver arithmetic (same seqNorm/unit division),
    * identical score form (dot / max(nrm, MIN_VALUE)), identical
    * tie/NaN order (lowest cell wins ties, NaN greatest) —
    * PqKernelSpec asserts bit-identity against the legacy chain. */
  private[operators] def cellArgmax(model: Seq[(Long, Seq[Double])],
                                    v: Column, nrm: Column): Column = {
    val sorted = model.sortBy(_._1)
    val cells = sorted.map(_._1).toArray
    val cents = sorted.map { case (_, cv) =>
      val n = seqNorm(cv)
      (if (n > 0) cv.map(_ / n) else cv.map(_ => 0.0)).toArray
    }.toArray
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.CellArgmax(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        org.apache.spark.sql.GraftColumnBridge.expression(nrm),
        cells, cents))
  }

  /** CASE chain mapping precomputed score columns to the argmax cell —
    * first match in ascending cell order, so ties break low (the same
    * contract as the old max_by(cell, (cc, -cell)) formulation). */
  private[operators] def argmaxCell(scores: Seq[(Long, Column)]): Column = {
    val best = if (scores.size == 1) scores.head._2 else greatest(scores.map(_._2): _*)
    scores.tail.foldLeft(when(scores.head._2 === best, lit(scores.head._1))) {
      case (acc, (cell, cc)) => acc.when(cc === best, lit(cell))
    }
  }

  /** Coarse-quantizer fit on a BOUNDED sample, Lloyd running on the
    * driver — the production IVF index-build shape (what FAISS/ScaNN
    * do: centroid training is an in-memory-sized problem by
    * construction, `maxSample` × dim doubles ≈ model scale, not data
    * scale). One Spark job total: a deterministic TakeOrdered of the
    * `maxSample` sample rows with the smallest (xxhash64(id), id) —
    * the same seeded-draw rule as `fit`'s init, so both paths pick
    * identical initial centroids. The sample arrives sorted by that
    * key and Lloyd accumulates in that fixed order, so refits are
    * bit-identical regardless of cluster parallelism. Use this when
    * the quantizer can be trained from ≤ maxSample vectors (almost
    * always); `fit` remains the fully-distributed path for unbounded
    * fits. */
  def fitLocal(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int = 3, sampleMod: Int = 1,
               maxSample: Int = 65536): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(idCol).as("id"), VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0)
    val sampled = (if (sampleMod > 1)
      base.filter(pmod(xxhash64(col("id")), lit(sampleMod.toLong)) === 0L)
    else base)
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(maxSample)
      .select("v", "nrm").as[(Seq[Double], Double)].collect()
      .map { case (v, n) => (v.toArray, n) }
    require(sampled.nonEmpty, "cannot fit a quantizer on an empty (or all-zero-norm) corpus")
    val dim = sampled.head._1.length
    var cents: Array[Array[Double]] = sampled.take(k).map(_._1.clone())
    for (_ <- 1 to iters) {
      val unit = cents.map { c =>
        val n = seqNorm(c.toSeq)
        if (n > 0) c.map(_ / n) else Array.fill(dim)(0.0)
      }
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sampled.foreach { case (v, nrm) =>
        var best = 0; var bestCc = Double.NegativeInfinity
        var ci = 0
        while (ci < unit.length) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * unit(ci)(i); i += 1 }
          val cc = dot / nrm
          if (cc > bestCc) { best = ci; bestCc = cc } // ties keep the lowest cell
          ci += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      // a cell that lost every member keeps its previous centroid
      cents = cents.zipWithIndex.map { case (old, ci) =>
        if (counts(ci) == 0L) old else sums(ci).map(_ / counts(ci))
      }
    }
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("cell", "cv")
  }

  /** Fit k centroids; returns (cell: bigint, cv: array<double>).
    * `sampleMod` > 1 fits on the deterministic subset
    * xxhash64(id) % sampleMod == 0 — the scale path: quantizer quality
    * needs a sample, not the corpus. Each Lloyd iteration is a Spark
    * aggregation over the sample; for bounded samples prefer
    * `fitLocal` (identical init rule, one job instead of
    * 1 + 3·iters). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int = 3, sampleMod: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s = df.sparkSession
    import s.implicits._
    val all = df.select(col(idCol).as("id"), VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0)
    // persist (not localCheckpoint): scanned iters+1 times, and the
    // blocks are released eagerly below instead of waiting for the
    // ContextCleaner — leftover blocks taxed every later query in a
    // shared session (VERDICT r2 item 4).
    val v = (if (sampleMod > 1)
      all.filter(pmod(xxhash64(col("id")), lit(sampleMod.toLong)) === 0L)
    else all).persist()
    try {
      var cents: Map[Long, Seq[Double]] = v
        .withColumn("h", xxhash64(col("id")))
        .orderBy(col("h"), col("id")).limit(k)
        .select("v").collect()
        .zipWithIndex.map { case (r, i) => i.toLong -> r.getSeq[Double](0).toSeq }.toMap
      for (_ <- 1 to iters) {
        val scores = centroidScores(cents.toSeq, col("v"), col("nrm"))
        // two-step select: scores land in attributes first, so the
        // argmax CASE references cheap attrs and Catalyst won't
        // re-inline the k graft_dot calls into every branch
        val scored = v.select(col("v") +:
          scores.map { case (cell, cc) => cc.as(s"__cc$cell") }: _*)
        val attrs = scores.map { case (cell, _) => cell -> col(s"__cc$cell") }
        val updated = scored
          .select(argmaxCell(attrs).as("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          // decimal mean: order-independent, so refits are bit-identical
          // under any partitioning (cf. ql.dsum)
          .groupBy("cell", "pos")
          .agg((sum(col("x").cast("decimal(30,15)")) /
            count(lit(1))).cast("double").as("m"))
          .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv"))
          .as[(Long, Seq[Double])].collect().toMap
        // a cell that lost every member keeps its previous centroid
        cents = cents.map { case (c, old) => c -> updated.getOrElse(c, old) }
      }
      cents.toSeq.toDF("cell", "cv")
    } finally { v.unpersist(false); () }
  }
}
