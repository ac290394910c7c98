package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable document-quality classifier — the learned companion to
  * the heuristic gates (t2 score, t33 Gopher rules): logistic
  * regression over hashed bag-of-words features, the fastText-style
  * linear filter the DCLM / FineWeb-Edu pipelines train to rank
  * pretraining documents (Li et al. 2024; Penedo et al. 2024 — both
  * train shallow linear/ngram models, not deep nets, exactly because
  * the filter must run over 10¹¹ documents).
  *
  * Spark-first, deterministic by construction:
  *   - features: `graft_fingerprint(word) % nBuckets` occurrence
  *     counts (the DSIR bucket convention) — one explode + one
  *     map-side-combinable (doc, bucket) count, localCheckpointed
  *     ONCE and reused by every epoch;
  *   - training: full-batch gradient descent, `epochs` rounds; each
  *     round scores every doc against the broadcast weight vector
  *     (array literal, model-sized) and aggregates the gradient
  *     per bucket with DECIMAL sums — every floating sum (dot
  *     products included) goes through decimal, so it is
  *     order-independent and the
  *     learned weights are bit-identical under any partitioning
  *     (QualityClassifierSpec asserts 1-vs-7-partition equality);
  *     the per-round driver collect is the ≤ nBuckets+1 gradient —
  *     a bounded model artifact, the KMeans-codebook pattern;
  *   - scoring: map-side only (broadcast weights, no shuffle) — the
  *     shape that lets the trained filter run inside any ingest
  *     pipeline (CorpusIngest's gate, a streaming foreachBatch) at
  *     full scan speed.
  *
  * At 100 TB: per epoch, one shuffle over the (doc, bucket) feature
  * table (combinable sums) + one bucket-keyed aggregation whose
  * output is ≤ nBuckets rows. Train on a SAMPLE (the labeled set is
  * always tiny next to the corpus); score the corpus with the final
  * broadcast weights.
  */
object QualityClassifier {

  /** One step of the training folds' decimal dot product: the term
    * rounds to decimal(28,16), the add types as decimal(38,16) and the
    * cast back to the decimal(37,16) accumulator keeps the scale, so
    * every step is exact. Past 1e21 that cast overflows, which raises
    * an error under the pinned ANSI mode (see [[train]]). */
  private[graft] def foldStep(acc: Column, term: Column): Column =
    (acc + term.cast("decimal(28,16)")).cast("decimal(37,16)")

  /** The two link functions mapping the linear score to (0, 1):
    *   - `"logistic"` — the textbook sigmoid 1/(1+e^−s). exp() is NOT
    *     ulp-identical across engines (measured: DuckDB's libm exp
    *     disagrees with the JVM intrinsic on ~0.3 % of inputs), so a
    *     logistic-trained model is deterministic WITHIN Spark
    *     (partition-invariant) but not exactly replayable outside it;
    *   - `"algebraic"` — σ̃(s) = 0.5 + 0.5·s/(1+|s|), the same
    *     monotone squash built from +,×,÷,|·| only, every one of
    *     which is a correctly-rounded IEEE op in any engine. The
    *     catalog query (t35) trains with this link so the ENTIRE
    *     gradient-descent loop replays bit-for-bit in DuckDB SQL. */
  private def linkCol(s: Column, link: String): Column = link match {
    case "logistic" => lit(1.0) / (lit(1.0) + exp(-s))
    case "algebraic" => lit(0.5) + lit(0.5) * s / (lit(1.0) + abs(s))
    case other => throw new IllegalArgumentException(
      s"unknown link '$other' (logistic | algebraic)")
  }

  /** Driver-side mirror of [[linkCol]] for scoring scalars. */
  def linkScalar(s: Double, link: String): Double = link match {
    case "logistic" => 1.0 / (1.0 + math.exp(-s))
    case "algebraic" => 0.5 + 0.5 * s / (1.0 + math.abs(s))
    case other => throw new IllegalArgumentException(
      s"unknown link '$other' (logistic | algebraic)")
  }

  /** (doc → bucket occurrence counts); one row per (id, bucket).
    * spread (r22, the m5 pattern / VERDICT r21 item 2): the
    * explode+fingerprint kernel is the CPU-dense pass here, and a
    * few-MB corpus arrives as ONE scan partition — without the guarded
    * repartition the whole feature extraction (train AND the full-
    * corpus scoring paths) ran on one core. At scale the scan already
    * has the parallelism and spread is a no-op. */
  def features(df: DataFrame, idCol: String, textCol: String,
               nBuckets: Int): DataFrame = {
    val words = filter(split(trim(col(textCol)), "\\s+"), w => length(w) > 0)
    graft.ql.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(words).as("f"))
      .select(col(idCol),
        (call_function("graft_fingerprint", col("f")) % nBuckets).as("b"))
      .groupBy(idCol, "b").agg(count(lit(1)).cast("double").as("x"))
  }

  /** Train logistic weights on (idCol, textCol, labelCol ∈ {0,1}).
    * Returns (bias, weights[nBuckets]). Deterministic: decimal
    * gradient sums + a fixed epoch count (no early stop on a
    * float comparison). */
  def train(df: DataFrame, idCol: String, textCol: String, labelCol: String,
            nBuckets: Int = 1024, epochs: Int = 20,
            lr: Double = 0.5, link: String = "logistic"): (Double, Array[Double]) = {
    val labels = df.select(col(idCol), col(labelCol).cast("double").as("y"))
    val docs = labels.localCheckpoint(true)
    val n = docs.count().toDouble
    require(n > 0, "empty training set")
    // bucket −1 is the BIAS pseudo-feature (x = 1 for every doc): the
    // per-bucket gradient aggregation then yields the bias gradient in
    // the same single collect — e·1.0 ≡ e exactly in IEEE, so the
    // gradient values are identical to a separate global sum.
    // r21 (guide §2.4): features are grouped into ONE array row per
    // doc up front, so each epoch is a single map-side pass over this
    // checkpoint — the dot product folds the array, the gradient
    // explodes it — where it used to run two doc-keyed joins + an
    // id-keyed aggregation per epoch (3 exchanges → 1). Values are
    // bit-identical: decimal addition is order-independent, so the
    // array fold equals the old sum() whatever the collect_list order.
    // spread before the checkpoint (r22): AQE coalesces the KB-sized
    // agg output to 1 partition, and EVERY epoch's decimal dot-product
    // fold then runs on one core against the 1-partition checkpoint —
    // the guarded repartition keeps the per-epoch map pass parallel
    // locally and no-ops at scale (leaf parallelism already ≥ target).
    val grouped = graft.ql.spread(features(df, idCol, textCol, nBuckets)
      .unionByName(docs.select(col(idCol), lit(-1L).as("b"), lit(1.0).as("x")))
      .groupBy(idCol)
      .agg(collect_list(struct(col("b"), col("x"))).as("fs"))
      .join(docs, idCol)).localCheckpoint(true)

    var bias = 0.0
    val w = Array.fill(nBuckets)(0.0)
    // fold accumulator at decimal(37,16): the per-step add then types
    // as decimal(38,16) (no precision loss) and the cast back to
    // (37,16) is scale-preserving — every step stays EXACT, so the
    // fold equals the old sum(decimal(28,16)) bit-for-bit (|dot| is
    // bounded far below 1e21 by the feature counts and weight range).
    // OVERFLOW GUARD (ADVICE r21): under non-ANSI mode the
    // (38,16) -> (37,16) cast returns NULL past 1e21, which the
    // NULL-skipping gradient sum would silently treat as a zero
    // contribution — wrong model, no error. Unreachable by
    // construction: |w[b]| ≤ lr·epochs·maxRows < 1e6 (weights move by
    // at most lr·Σ|(p−y)·x| per epoch with |p−y| ≤ 1 and x bounded by
    // the per-doc token count), |x| < 1e9, |fs| ≤ nBuckets+1 ≤ 257, so
    // |dot| < 257·1e15 ≪ 1e21. If the feature layout ever widens,
    // revisit this bound before trusting the cast. graft.Session pins
    // ANSI mode, so an overflow raises instead (SessionSpec).
    val zeroDec = lit(BigDecimal(0)).cast("decimal(37,16)")
    for (_ <- 1 to epochs) {
      // score each doc: Σ w[b]·x + bias as a decimal array fold over
      // the b ≥ 0 features (empty fold = 0, exactly the old left
      // join's coalesce); bias rides outside like before
      val wLit = lit(w)
      val dot = aggregate(
        filter(col("fs"), f => f.getField("b") >= 0),
        zeroDec,
        (acc, f) => foldStep(acc,
          element_at(wLit, f.getField("b").cast("int") + 1) * f.getField("x")))
        .cast("double")
      // gradient: per-bucket Σ (p−y)·x, decimal-summed (order-
      // independent ⇒ partition-invariant training); bucket −1 IS the
      // bias gradient (its x is the constant 1)
      // e is projected in its OWN select below the explode: the fold
      // then runs once per doc inside Generate's child and the
      // exploded rows carry the value (one select would put it above
      // the Generate — re-folded per feature row, O(|fs|²) per doc)
      val gradRows = grouped
        // dot lands in its own named column first: the algebraic link
        // references s twice, and an inline fold would be duplicated
        // (CollapseProject keeps multi-referenced non-cheap aliases
        // apart, so the fold runs once per doc)
        .select(col("fs"), col("y"), dot.as("__dot"))
        .select(col("fs"),
          (linkCol(col("__dot") + bias, link) - col("y")).as("e"))
        .select(explode(col("fs")).as("f"), col("e"))
        .groupBy(col("f.b").as("b"))
        .agg(sum((col("e") * col("f.x")).cast("decimal(28,16)")).as("g"))
        .collect()
      var gBias = 0.0
      val g = Array.fill(nBuckets)(0.0)
      gradRows.foreach { r =>
        val b = r.getLong(0).toInt
        if (b < 0) gBias = r.getDecimal(1).doubleValue()
        else g(b) = r.getDecimal(1).doubleValue()
      }
      var j = 0
      while (j < nBuckets) { w(j) -= lr * g(j) / n; j += 1 }
      bias -= lr * gBias / n
    }
    grouped.unpersist(); docs.unpersist()
    (bias, w)
  }

  /** One-vs-rest multiclass training (the trained language-ID form,
    * t37): K independent binary models y_j = (label == classes(j)),
    * trained JOINTLY — each epoch computes all K dot products in one
    * doc-keyed aggregation and all K per-bucket gradients in one
    * bucket-keyed aggregation, so the epoch cost is one feature-table
    * pass whatever K (vs K passes for K train() calls). The math per
    * class is EXACTLY [[train]]'s — same decimal sums, same update
    * order — so the result is bit-identical to K independent train()
    * runs (QualityClassifierSpec pins the equality), which is what
    * lets the DuckDB oracle replay each class independently.
    * Driver state: K·(nBuckets+1) doubles — still a model artifact. */
  def trainOneVsRest(df: DataFrame, idCol: String, textCol: String,
                     labelCol: String, classes: Seq[String],
                     nBuckets: Int = 1024, epochs: Int = 20,
                     lr: Double = 0.5, link: String = "logistic")
      : Seq[(String, (Double, Array[Double]))] = {
    val k = classes.size
    require(k > 0, "classes must be non-empty")
    val docs = df.select(col(idCol), col(labelCol).cast("string").as("__cls"))
      .localCheckpoint(true)
    val n = docs.count().toDouble
    require(n > 0, "empty training set")
    // same grouped-array epoch shape as [[train]] (r21): one map-side
    // pass + one bucket aggregation per epoch for ALL K classes.
    // spread before the checkpoint (r22): see train() — keeps the
    // K-fold epoch pass parallel against the small checkpoint.
    val grouped = graft.ql.spread(features(df, idCol, textCol, nBuckets)
      .unionByName(docs.select(col(idCol), lit(-1L).as("b"), lit(1.0).as("x")))
      .groupBy(idCol)
      .agg(collect_list(struct(col("b"), col("x"))).as("fs"))
      .join(docs, idCol)).localCheckpoint(true)

    val bias = Array.fill(k)(0.0)
    val w = Array.fill(k)(Array.fill(nBuckets)(0.0))
    // decimal(37,16) accumulator: see train() — exact at every step
    val zeroDec = lit(BigDecimal(0)).cast("decimal(37,16)")
    for (_ <- 1 to epochs) {
      val dotCols = classes.indices.map { j =>
        aggregate(
          filter(col("fs"), f => f.getField("b") >= 0),
          zeroDec,
          (acc, f) => foldStep(acc,
            element_at(lit(w(j)), f.getField("b").cast("int") + 1) * f.getField("x")))
          .cast("double").as(s"__dot$j")
      }
      val errCols = classes.indices.map { j =>
        (linkCol(col(s"__dot$j") + bias(j), link) -
          when(col("__cls") === classes(j), 1.0).otherwise(0.0)).as(s"__e$j")
      }
      val gradCols = classes.indices.map { j =>
        sum((col(s"__e$j") * col("f.x")).cast("decimal(28,16)")).as(s"__g$j")
      }
      // dots, then errors, each in their own select below the explode
      // (see train: keeps every fold single-evaluation per doc)
      val gradRows = grouped
        .select(Seq(col("fs"), col("__cls")) ++ dotCols: _*)
        .select(col("fs") +: errCols: _*)
        .select(explode(col("fs")).as("f") +:
          classes.indices.map(j => col(s"__e$j")): _*)
        .groupBy(col("f.b").as("b"))
        .agg(gradCols.head, gradCols.tail: _*)
        .collect()
      gradRows.foreach { r =>
        val b = r.getLong(0).toInt
        classes.indices.foreach { j =>
          val g = r.getDecimal(j + 1).doubleValue()
          if (b < 0) bias(j) -= lr * g / n
          else w(j)(b) -= lr * g / n
        }
      }
    }
    grouped.unpersist(); docs.unpersist()
    classes.zipWithIndex.map { case (c, j) => c -> ((bias(j), w(j))) }
  }

  /** Map-side one-vs-rest scoring + argmax: one feature aggregation
    * computes every model's dot product (K sum columns, one shuffle);
    * `predCol` gets the argmax class, `scoreCol` its link score. Ties
    * break toward the lexicographically GREATER class (greatest over
    * (score, class) structs — the p11 argmax convention, replayed in
    * the oracle as ORDER BY score DESC, cls DESC). */
  def classifyOneVsRest(df: DataFrame, idCol: String, textCol: String,
                        models: Seq[(String, (Double, Array[Double]))],
                        predCol: String, scoreCol: String,
                        link: String = "logistic"): DataFrame = {
    require(models.nonEmpty, "models must be non-empty")
    val nb = models.head._2._2.length
    val dotCols = models.zipWithIndex.map { case ((_, (_, wj)), j) =>
      sum((element_at(lit(wj), col("b").cast("int") + 1) * col("x"))
          .cast("decimal(28,16)")).cast("double").as(s"__dot$j")
    }
    val dots = features(df, idCol, textCol, nb)
      .groupBy(idCol).agg(dotCols.head, dotCols.tail: _*)
    val scoreStructs = models.zipWithIndex.map { case ((c, (bj, _)), j) =>
      struct(linkCol(coalesce(col(s"__dot$j"), lit(0.0)) + bj, link).as("s"),
        lit(c).as("c"))
    }
    df.join(dots, Seq(idCol), "left")
      .withColumn("__best",
        if (scoreStructs.size > 1) greatest(scoreStructs: _*)
        else scoreStructs.head)
      .withColumn(predCol, col("__best.c"))
      .withColumn(scoreCol, col("__best.s"))
      .drop("__best" +: models.indices.map(j => s"__dot$j"): _*)
  }

  /** Map-side scoring: adds `scoreCol` (the sigmoid probability) —
    * broadcast weights, no shuffle beyond the feature aggregation. */
  def score(df: DataFrame, idCol: String, textCol: String,
            bias: Double, w: Array[Double], scoreCol: String,
            link: String = "logistic"): DataFrame = {
    val dots = features(df, idCol, textCol, w.length)
      .groupBy(idCol)
      .agg(sum((element_at(lit(w), col("b").cast("int") + 1) * col("x"))
          .cast("decimal(28,16)")).cast("double")
        .as("__dot"))
    df.join(dots, Seq(idCol), "left")
      .withColumn(scoreCol,
        linkCol(coalesce(col("__dot"), lit(0.0)) + bias, link))
      .drop("__dot")
  }
}
