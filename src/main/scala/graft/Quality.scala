package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, KMeans, SemDedup}
import graft.ql.t

/** Per-round quality gate for the rows-only catalog queries (VERDICT
  * r5 item 4): the driver's oracle can't hash-check hash/centroid-
  * dependent outputs, so their QUALITY — planted-near-dup recall for
  * the LSH dedup family, recall@k vs the exact s1 baseline for the ANN
  * family, sketch error for KMV, hamming proximity for SimHash — is
  * measured here and emitted as one JSON line (and optionally a file),
  * making regressions in the un-oracled components visible
  * round-over-round.
  *
  * Planted ground truth: every 10th document gets a twin (id +
  * 10,000,000) with every 15th word deterministically mutated —
  * char-5-shingle Jaccard ≈ 0.85, inside d2/d9's detection band by
  * design. Embedding twins perturb one coordinate by 0.1% — cosine
  * ≈ 1, inside d11's 0.4 threshold. All mutations are pure column
  * arithmetic: the gate is reproducible under any partitioning.
  *
  * Usage: runMain graft.Quality [sfDir] [outJsonPath] */
object Quality {

  private val Offset = 10000000L

  /** Every 15th word tagged with a trailing marker — a deterministic
    * ~7% token mutation. */
  private def mutate(text: org.apache.spark.sql.Column) =
    array_join(
      zip_with(split(trim(text), "\\s+"),
        sequence(lit(0), greatest(size(split(trim(text), "\\s+")) - 1, lit(0))),
        (w, i) => when(pmod(i, lit(15)) === 0, concat(w, lit("zq"))).otherwise(w)),
      " ")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) Some(args(1)) else None
    val spark = Session.local(Session.cpus)

    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()

    // ---- planted text twins --------------------------------------
    val docs = t(spark, sfDir, "documents").select("doc_id", "text")
    val twins = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + Offset).as("doc_id"), mutate(col("text")).as("text"))
      .localCheckpoint(true)
    val nPlant = twins.count().toDouble
    val planted = docs.unionByName(twins)

    // d2: within-corpus LSH pair recall on the planted twins
    val d2pairs = Dedup.minhashLshPairs(planted, "doc_id", "text",
      k = 5, numHashes = 128, bands = 16)
    metrics("d2_minhash_planted_recall") =
      d2pairs.filter(col("b_id") === col("a_id") + Offset).count() / nPlant

    // d9: cross-corpus (index = originals, batch = twins) recall
    val idx = Dedup.minhashIndex(docs, "doc_id", "text",
      k = 5, numHashes = 128, bands = 16)
    val d9pairs = Dedup.minhashLshPairsAgainst(idx, twins, "doc_id", "text",
      k = 5, numHashes = 128, bands = 16, dedupIndex = false)
    metrics("d9_cross_planted_recall") =
      d9pairs.filter(col("batch_id") === col("corpus_id") + Offset).count() / nPlant

    // d3: SimHash targets the TINY-edit regime (its 3-bit blocking is
    // lossless only for near-identical docs), so its twin is a mild
    // one-token append rather than the 7% mutation above
    val mild = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a_id"),
        Dedup.simhash64(concat(col("text"), lit(" zq"))).as("hb"),
        Dedup.simhash64(col("text")).as("ha"))
    metrics("d3_simhash_mild_twins_within_3bits") =
      mild.filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
        .count() / nPlant

    // ---- planted embedding twins ---------------------------------
    val emb = t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val embTwins = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + Offset).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * 1.001f).otherwise(x)).as("embedding"))
    val embPlanted = emb.unionByName(embTwins).localCheckpoint(true)
    val nEmbPlant = embTwins.count().toDouble

    // d11: a planted twin is "caught" when its pair loses the keep
    // argmax (exactly one of (orig, twin) survives)
    val quant = KMeans.fitLocal(embPlanted, "vec_id", "embedding", k = 8, iters = 2)
    val sd = SemDedup.dedup(embPlanted, "vec_id", "embedding",
      threshold = 0.4, blocks = 4, quantizer = Some(quant))
    val dropped = sd.filter(!col("keep"))
      .select(pmod(col("id"), lit(Offset)).as("base_id")).distinct()
    metrics("d11_semdedup_planted_recall") =
      dropped.join(embTwins.select((col("vec_id") - Offset).as("base_id")), "base_id")
        .count() / nEmbPlant

    // ---- ANN recall@k vs the exact s1 baseline -------------------
    // the catalog queries verbatim, scored against s1's exact top-k.
    // NOTE the synthetic embeddings are near-uniform (no planted
    // cluster structure), so bucketed/celled ANN recall is LOW here by
    // geometry, not by defect — the figure exists for round-over-round
    // drift, the twin metrics below for absolute quality.
    val exact = queries.VectorQueries.queries("s1_cosine_topk")(spark, sfDir)
      .select(col("q_id"), col("c_id"), col("rk")).localCheckpoint(true)
    def recallAtK(name: String, k: Int): Double = {
      val ann = SparkEntry.queries(name)(spark, sfDir)
        .select(col("q_id"), col("c_id"))
      val ex = exact.filter(col("rk") <= k)
        .select(col("q_id"), col("c_id"))
      ann.intersect(ex).count().toDouble / ex.count()
    }
    metrics("s2_lsh_recall_at_3") = recallAtK("s2_lsh_ann", 3)
    metrics("s3_ivf_recall_at_3") = recallAtK("s3_ivf_ann", 3)
    metrics("s4_ivf_label_recall_at_3") = recallAtK("s4_ivf_label", 3)
    metrics("s5_multiprobe_recall_at_3") = recallAtK("s5_lsh_multiprobe", 3)
    metrics("s6_pq_recall_at_5") = recallAtK("s6_pq_ann", 5)
    metrics("s7_ivfpq_recall_at_5") = recallAtK("s7_ivfpq", 5)

    // ---- ANN planted-twin recall@1 -------------------------------
    // the spec-style absolute measure (KMeansIvfSpec / PqAnnSpec /
    // EmbeddingDedupSpec shape): the ~identical twin queries must
    // surface their origin at rank 1 — the near-dup-retrieval job ANN
    // exists for. Same operator parameters as the catalog queries.
    import graft.operators.{IvfPq, ProductQuantizer, SimilaritySearch}
    def twinRecall(top: DataFrame): Double =
      top.filter(col("rk") === 1 && col("c_id") === col("q_id") - Offset)
        .count() / nEmbPlant
    metrics("s2_lsh_twin_recall_at_1") = twinRecall(
      SimilaritySearch.lshTopK(embTwins, emb, "vec_id", "embedding",
        k = 1, nBits = 8))
    val q8 = KMeans.fitLocal(emb, "vec_id", "embedding", k = 8,
      iters = 3, sampleMod = 8)
    metrics("s3_ivf_twin_recall_at_1") = twinRecall(
      SimilaritySearch.ivfKmeansTopK(embTwins, emb, "vec_id", "embedding",
        k = 1, nCells = 8, nProbe = 2, quantizer = Some(q8)))
    metrics("s5_multiprobe_twin_recall_at_1") = twinRecall(
      SimilaritySearch.lshTopK(embTwins, emb, "vec_id", "embedding",
        k = 1, nBits = 8, nProbes = 4))
    metrics("s6_pq_twin_recall_at_1") = twinRecall(
      ProductQuantizer.pqTopK(embTwins, emb, "vec_id", "embedding",
        k = 1, m = 8, ks = 16, refine = 4))
    metrics("s7_ivfpq_twin_recall_at_1") = twinRecall(
      IvfPq.topK(embTwins, emb, "vec_id", "embedding", k = 1,
        nCells = 8, nProbe = 3, m = 8, ks = 8, iters = 3, refine = 4))

    // ---- ANN recall@k on a CLUSTERED corpus (VERDICT r6 item 5) ----
    // the sf embeddings are near-uniform, so bucketed/celled recall@k
    // above is geometry-floored and only tracks drift. Here a
    // deterministic mixture-of-Gaussians corpus — 50 centers uniform
    // in [-1,1]^64 (expected pairwise distance ≈ 6.5), 10 members
    // each, ±0.05 component noise (norm ≈ 0.23) — makes recall@k
    // measure INDEX quality: a query's exact top-k is all in-cluster,
    // so a correct coarse quantizer / codebook must confine the search
    // to the right cluster, and the refine window (refine·k = 20 ≥
    // cluster size) lets the exact re-rank recover the local ordering
    // — the documented division of labor. (Cluster sizes must stay
    // within the refine window: NO fixed-byte PQ code can order
    // noise-scale distances among dozens of near-identical codes, so
    // oversized clusters would floor the metric by construction, not
    // by defect.) Pure column arithmetic (xxhash64): identical corpus
    // under any partitioning. Same operator parameters as the catalog
    // queries.
    val clustered = spark.range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => {
        val cent = (pmod(xxhash64(lit("c"), pmod(col("id"), lit(50)), j),
          lit(2000001)).cast("double") / 1e6) - 1.0
        val noise = ((pmod(xxhash64(lit("n"), col("id"), j),
          lit(2000001)).cast("double") / 1e6) - 1.0) * 0.05
        (cent + noise).cast("float")
      }).as("embedding")).localCheckpoint(true)
    val cq = clustered.filter(col("vec_id") < 5)
    val exactC = SimilaritySearch.bruteForceTopK(
        cq, clustered, "vec_id", "embedding", 5)
      .select("q_id", "c_id", "rk").localCheckpoint(true)
    def recallClustered(ann: DataFrame, k: Int): Double = {
      val ex = exactC.filter(col("rk") <= k).select("q_id", "c_id")
      ann.select("q_id", "c_id").intersect(ex).count().toDouble / ex.count()
    }
    val qc = KMeans.fitLocal(clustered, "vec_id", "embedding", k = 8, iters = 3)
    metrics("s3_ivf_clustered_recall_at_3") = recallClustered(
      SimilaritySearch.ivfKmeansTopK(cq, clustered, "vec_id", "embedding",
        k = 3, nCells = 8, nProbe = 2, quantizer = Some(qc)), 3)
    metrics("s6_pq_clustered_recall_at_5") = recallClustered(
      ProductQuantizer.pqTopK(cq, clustered, "vec_id", "embedding",
        k = 5, m = 8, ks = 16, refine = 4), 5)
    metrics("s7_ivfpq_clustered_recall_at_5") = recallClustered(
      IvfPq.topK(cq, clustered, "vec_id", "embedding", k = 5,
        nCells = 8, nProbe = 3, m = 8, ks = 8, iters = 3, refine = 4), 5)
    metrics("s2_lsh_clustered_recall_at_3") = recallClustered(
      SimilaritySearch.lshTopK(cq, clustered, "vec_id", "embedding",
        k = 3, nBits = 8), 3)
    metrics("s5_multiprobe_clustered_recall_at_3") = recallClustered(
      SimilaritySearch.lshTopK(cq, clustered, "vec_id", "embedding",
        k = 3, nBits = 8, nProbes = 4), 3)
    // s4's label-partitioned shape (VERDICT r8 missing item 3): the
    // cluster id IS the label, so a correct label-centroid assignment
    // must confine each query to its own cluster — recall@3 measures
    // the operator, not the geometry floor the uniform-corpus row has.
    val clusteredL = clustered.withColumn("label", pmod(col("vec_id"), lit(50)))
    metrics("s4_ivf_label_clustered_recall_at_3") = recallClustered(
      SimilaritySearch.ivfTopK(clusteredL.filter(col("vec_id") < 5),
        clusteredL, "vec_id", "embedding", "label", 3), 3)

    // ---- t29: DEFLATE-ratio band positions (rows-only by nature) --
    // the degenerate-text gate works iff the three regimes stay in
    // separated bands: repeated-token junk far below the corpus's
    // prose-ish ratio, hash-chain noise far above it. Medians as
    // fractions of 1e6; drift here means the zlib build or the gate
    // threshold needs a look.
    def medianRatio(df: DataFrame): Double =
      df.select((call_function("graft_deflate_size", col("text"), lit(6))
          .cast("double") / greatest(octet_length(col("text")), lit(1))
          .cast("double")).as("r"))
        .agg(percentile(col("r"), lit(0.5))).head().getDouble(0)
    metrics("t29_ratio_junk") = medianRatio(
      spark.range(50).select(
        concat_ws(" ", Seq.fill(200)(lit("spam")): _*).as("text")))
    metrics("t29_ratio_docs") = medianRatio(docs)
    metrics("t29_ratio_noise") = medianRatio(
      spark.range(50).select(concat_ws(" ", (0 until 60).map(j =>
        hex(xxhash64(col("id"), lit(j)))): _*).as("text")))

    // the r18 exact-oracle token-dictionary coder that now drives the
    // t29 CATALOG row: same three-regime band gate as the zlib
    // expression above (repetition << prose < noise) — both coders
    // stay band-gated per round
    def medianDictRatio(df: DataFrame): Double =
      df.select((graft.functions.TextOps.tokenDictBytes(col("text"))
          .cast("double") / greatest(octet_length(col("text")), lit(1))
          .cast("double")).as("r"))
        .agg(percentile(col("r"), lit(0.5))).head().getDouble(0)
    metrics("t29_dict_ratio_junk") = medianDictRatio(
      spark.range(50).select(
        concat_ws(" ", Seq.fill(200)(lit("spam")): _*).as("text")))
    metrics("t29_dict_ratio_docs") = medianDictRatio(docs)
    metrics("t29_dict_ratio_noise") = medianDictRatio(
      spark.range(50).select(concat_ws(" ", (0 until 60).map(j =>
        hex(xxhash64(col("id"), lit(j)))): _*).as("text")))

    // ---- t37: trained language-ID held-out accuracy --------------
    // The synthetic documents' text is lang-INDEPENDENT (every
    // language draws from the same token pool — majority-class 'en'
    // at ~44 % is the information-theoretic ceiling on raw labels),
    // so the usefulness gate follows the planted-structure convention
    // the ANN twin-recall metrics use: plant per-language marker
    // tokens (for de/en/fr/es the t1 heuristic's OWN markers, so the
    // heuristic stays competitive on those; for zh a marker the
    // heuristic doesn't know), train t37's setup on the 20 % sample,
    // and measure held-out accuracy. The trained model must identify
    // all five languages (heuristic caps at 4/5 — it has no zh rule).
    val langMarkers = map(Seq("de" -> "der", "en" -> "the", "fr" -> "le",
      "es" -> "el", "zh" -> "zhong").flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*)
    val langDocs = t(spark, sfDir, "documents")
      .select(col("doc_id"),
        concat_ws(" ", col("text"),
          array_join(array_repeat(element_at(langMarkers, col("lang")),
            10), " ")).as("text"),
        col("lang"))
    val heldOut = langDocs.filter(col("doc_id") % 5 =!= 0)
    val langModels = graft.operators.QualityClassifier.trainOneVsRest(
      langDocs.filter(col("doc_id") % 5 === 0), "doc_id", "text", "lang",
      Seq("de", "en", "es", "fr", "zh"), nBuckets = 128, epochs = 3,
      lr = 0.5, link = "algebraic")
    def acc(pred: org.apache.spark.sql.Column, df: DataFrame): Double =
      df.agg(avg(when(pred === col("lang"), 1.0).otherwise(0.0)))
        .head().getDouble(0)
    metrics("t37_langid_planted_heldout_acc") = acc(col("pred_lang"),
      graft.operators.QualityClassifier.classifyOneVsRest(
        heldOut, "doc_id", "text", langModels, "pred_lang", "__s",
        link = "algebraic"))
    metrics("t1_langid_heuristic_planted_acc") = acc(
      graft.functions.TextOps.langId(col("text")), heldOut)

    // ---- d6: KMV sketch worst-group relative error ---------------
    val kmv = SparkEntry.queries("d6_kmv_distinct")(spark, sfDir)
      .select(col("est_distinct"), col("exact_distinct"))
      .collect()
    metrics("d6_kmv_max_rel_err") = kmv.map { r =>
      math.abs(r.getDouble(0) - r.getLong(1)) / math.max(r.getLong(1), 1L)
    }.max

    val json = metrics.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }.mkString("{", ",", s""","sf":"$sfDir","n_planted_docs":${nPlant.toLong},"n_planted_vecs":${nEmbPlant.toLong}}""")
    println(json)
    outPath.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    spark.stop()
  }
}
