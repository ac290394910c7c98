package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework: BM25 and Beyond") — the lexical
  * side of a corpus search / decontamination-audit stack.
  *
  * Standard machinery: per-doc term frequencies for the query terms,
  * per-term document frequencies, document-length normalization
  * against the corpus mean (k1/b saturation). One honest deviation,
  * following the repo's log-free oracle convention (t13, Dsir): the
  * idf factor is the RATIONAL odds (N − df + 0.5)/(df + 0.5) rather
  * than its logarithm — `ln`'s last-ulp rounding is engine-specific,
  * and the rational form keeps every operation IEEE-mirrorable in the
  * DuckDB oracle. Rarer terms still dominate; the saturation and
  * length normalization are textbook BM25.
  *
  * Determinism: each (doc, term) contribution is a fixed-shape double
  * expression; the per-doc score adds the ≤|terms| contributions in
  * the FIXED literal order of `terms` (conditional single-element
  * sums — no order-dependent double reduction). Ties break on doc id.
  *
  * Scale shape (100 TB): one tokenize+explode over the corpus; the
  * query-term filter prunes it to matching tokens BEFORE any shuffle
  * (an `isin` over a literal list, pushed into the scan projection);
  * df and the 1-row corpus stats are broadcast; top-k is a distributed
  * TakeOrdered. The doc-length table is the only corpus-sized
  * aggregation. No global sort, no driver-sized state.
  */
object Bm25 {

  /** Past this many distinct query terms the batched index probe
    * falls back from the pushdown-able literal `In` filter to the
    * broadcast semi-join (identical semantics): a term set that wide
    * reads most posting lists anyway and the literal list would only
    * bloat the plan. Human-sized query batches sit far below this. */
  val MaxProbeTermLiterals: Int = 4096

  /** The whitespace tokenizer every Bm25 entry point shares (and the
    * oracle mirrors): split on \s+, drop empties. */
  private def tokenize(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(
      col(idCol).as("doc_id"),
      explode(filter(split(trim(col(textCol)), "\\s+"),
        w => length(w) > 0)).as("w"))

  /** Per-doc token counts computed MAP-SIDE from the text (r21, guide
    * §2.3 "aggregate before you shuffle"): `dl` used to be
    * `tokenize(...).groupBy(doc_id).count()` — a shuffle of EVERY
    * exploded token row just to count them per doc. `size()` of the
    * same filtered split array is the same integer, computed on the
    * scan side, so the aggregation shuffles ONE row per doc instead
    * of one per token (the corpus-sized exchange in every inline
    * topK/topKQueries/buildIndex plan). The groupBy(sum) keeps the
    * exact explode-count semantics under duplicate doc ids, and
    * zero-token docs drop out exactly as rowless explodes did. */
  private def docLengths(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(
        col(idCol).as("doc_id"),
        size(filter(split(trim(col(textCol)), "\\s+"),
          w => length(w) > 0)).cast("long").as("dl0"))
      .filter(col("dl0") > 0)
      .groupBy("doc_id").agg(sum(col("dl0")).as("dl"))

  /** Persistable inverted index — the lexical analogue of the ANN
    * fit/index/query split and `Dedup.winnowIndex`: `postings`
    * (w, doc_id, tf, dl) + `stats` (one row: n_docs, tot). Production
    * persists postings w-clustered ([[writeIndex]]) so a probe reads
    * only its terms' posting lists, and re-derives nothing from
    * raw text; `stats` rides along as a 1-row table. Docs with no
    * tokens have no postings and don't count toward n_docs/avgdl —
    * identical to the inline paths' semantics. */
  final case class Bm25Index(postings: DataFrame, stats: DataFrame)

  /** Persist an index CLUSTERED on `w` (`path/postings` +
    * `path/stats`): postings range-partitioned on (w, doc_id) and
    * sorted, so every file holds a contiguous term range and parquet
    * min/max row-group stats prune the non-queried posting lists
    * under the probes' pushed term filters — the scan reads only its
    * terms' lists, as the inverted-file contract demands. Incremental
    * batches union in via [[mergeIndexes]] and land as plain
    * appends; re-cluster the postings directory on the maintenance
    * cadence with `Layout.compact(..., clusterCols = Seq("w"))`. */
  def writeIndex(index: Bm25Index, path: String, nFiles: Int = 32): Unit = {
    index.postings.repartitionByRange(nFiles, col("w"), col("doc_id"))
      .sortWithinPartitions("w", "doc_id")
      .write.mode("overwrite").parquet(path + "/postings")
    index.stats.coalesce(1).write.mode("overwrite").parquet(path + "/stats")
  }

  /** Read a [[writeIndex]]-persisted index. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): Bm25Index =
    Bm25Index(spark.read.parquet(path + "/postings"),
      spark.read.parquet(path + "/stats"))

  /** ONE corpus pass → the persistable index. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val toks = tokenize(docs, idCol, textCol)
    // dl is consumed TWICE (postings join + stats agg) — materialize it
    // once (r22, guide §2.4 / the q11/q15 pattern): without the
    // checkpoint each consumer re-runs the corpus-length scan+agg in
    // its own (broadcast) subtree — AQE plans them as separate query
    // stages and exchange reuse does not bridge them. One (doc_id, dl)
    // row per doc: far cheaper to materialize than to recompute.
    val dl = docLengths(docs, idCol, textCol).localCheckpoint(true)
    val postings = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .select(col("w"), col("doc_id"), col("tf"), col("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    Bm25Index(postings, stats)
  }

  /** Shared scoring tail: `tf` carries (doc_id, w, tf, dl) — one row
    * per (doc, queried term) — `dfreq` (w, df), `stats` 1 row. The
    * double-op ORDER here is the oracle contract; every entry point
    * funnels through it so index-probe scores are bit-identical to
    * inline scores. */
  private def scoreRank(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
                        terms: Seq[String], k: Int,
                        k1: Double, b: Double): DataFrame = {
    val contrib = tf
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot").cast("double") / col("n_docs"))
      .withColumn("idf_r",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("tfn",
        col("tf").cast("double") * lit(k1 + 1) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
      .withColumn("c", col("idf_r") * col("tfn"))
    // one row per (doc, term): each conditional sum collapses a single
    // element, then the fixed-order fold adds them reproducibly
    val perTerm = terms.map(t => sum(when(col("w") === t, col("c"))).as(s"c_$t"))
    val score = terms
      .map(t => coalesce(col(s"c_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    val top = contrib.groupBy("doc_id", "dl")
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", score)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
    // rank materializes AFTER the distributed TakeOrdered: the window
    // runs on k rows, not the corpus
    top.withColumn("rk", row_number()
        .over(Window.orderBy(desc("score"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("dl"), col("score"), col("rk"))
  }

  /** Top-`k` docs for `terms`, BM25-scored. Output: (doc_id, dl,
    * score, rk). Docs containing none of the terms never enter the
    * score aggregation (score 0 by definition — omitted). One-shot
    * shape: the term filter prunes the token stream BEFORE any
    * shuffle; for repeated probes over one corpus, `buildIndex` +
    * `topKFromIndex`. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct == terms, "terms must be distinct")
    val toks = tokenize(docs, idCol, textCol)
    // dl feeds the tf join AND the stats scalar; tf feeds the df
    // broadcast AND the scoring branch. Both were re-executed per
    // consumer (the r22 s8/s10 profile showed the tokenize/length
    // pipeline materialized 3-4x across AQE broadcast stages, which
    // exchange reuse does not bridge) — checkpoint each ONCE. dl is one
    // row per doc; tf is the term-filtered shortlist (Σ df rows).
    val dl = docLengths(docs, idCol, textCol).localCheckpoint(true)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val tf = toks.filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .localCheckpoint(true)
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    scoreRank(tf, dfreq, stats, terms, k, k1, b)
  }

  /** Probe a prebuilt index — train-once/probe-forever: no tokenize,
    * no corpus-sized aggregation; the postings scan is pruned to the
    * query terms (a pushdown-able `isin` — with `w`-partitioned
    * parquet, only those posting lists are read). Scores bit-identical
    * to `topK` (shared tail). */
  def topKFromIndex(index: Bm25Index, terms: Seq[String], k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.distinct == terms, "terms must be distinct")
    // tf feeds both the df branch and the scoring branch — and stays
    // UNcheckpointed deliberately (r22): both consumers re-run the
    // scan, but it is the chunked-In-PRUNED posting-list read (the
    // inverted-file contract), so twice a small pruned scan beats
    // materializing a snapshot, and the pushed filter must live in
    // THIS plan for the pruning to happen at all (RetrievalSpec pins
    // the probe plan's own scan rows < one full pass).
    val tf = index.postings.filter(ScanPrune.chunkedIn(col("w"), terms,
      ScanPrune.inThreshold(index.postings.sparkSession)))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    scoreRank(tf, dfreq, index.stats, terms, k, k1, b)
  }

  /** Batched retrieval — the production shape (VERDICT r6 item 4):
    * MANY queries against one corpus in a SINGLE corpus pass.
    * `queries` carries (qIdCol, qTextCol); each query's term SET is its
    * tokenized text (duplicates collapse — BM25 term weights are
    * per-type, not per-occurrence).
    *
    * Per-query top-`k` output: (q_id, doc_id, dl, score_ppm, rk).
    *
    * Determinism without literal unrolling: `topK` gets fixed-order
    * double summation from its literal term list; here term sets are
    * data, so each (doc, term, query) contribution is quantized to
    * ppm — ⌊(idf_r · tfn) · 10⁶⌋ as BIGINT — and the per-doc score is
    * an EXACT integer sum, order-independent and oracle-mirrorable
    * (same fixed-point convention as RankFusion / Dsir).
    *
    * Scale shape: ONE tokenize+explode over the corpus; the union of
    * all query terms (bounded: queries are human-sized) broadcasts and
    * prunes corpus tokens before the tf shuffle; df and corpus stats
    * broadcast; the query fan-out join is also broadcast. Per-query
    * top-k is a rank window partitioned by q_id — candidate counts per
    * query are df-bounded; a stop-word-ish query term is the skew
    * lever (cap or drop ultra-high-df terms upstream if needed). */
  def topKQueries(docs: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, qIdCol: String, qTextCol: String,
                  k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokenize(docs, idCol, textCol)
    val qterms = queryTermSets(queries, qIdCol, qTextCol)
    val terms = qterms.select("w").distinct()
    // dl: consumed by the tf join + the stats scalar; tf: consumed by
    // the df broadcast + the scoring branch (inside scoreRankQueries).
    // Checkpoint each once — see topK (the r22 profile found the
    // tokenize/length pipeline re-executed per AQE broadcast stage).
    val dl = docLengths(docs, idCol, textCol).localCheckpoint(true)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    // corpus tokens pruned to the query-term union BEFORE any shuffle
    val tf = toks.join(broadcast(terms), "w")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .localCheckpoint(true)
    scoreRankQueries(tf, qterms, stats, k, k1, b)
  }

  /** Batched probe against a prebuilt index: `topKQueries` semantics
    * (ppm-integer scores, per-query rank windows) with no tokenize
    * and no corpus-sized aggregation. The postings scan is pruned to
    * the union of query terms as a LITERAL `In` filter — the term
    * union is bounded (queries are human-sized) and known before the
    * index is touched, and only a scan-level literal filter reaches
    * parquet row-group stats: against [[writeIndex]]'s w-clustered
    * layout the probe READS only its terms' posting lists instead of
    * scanning every list and discarding non-matches at a join. The
    * filter ships as CHUNKED `In` predicates ([[ScanPrune.chunkedIn]])
    * because parquet keeps an `In` exact only up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10) —
    * one wide `isin` silently degrades to a min/max range past that,
    * which prunes nothing for a realistic multi-term batch (ADVICE
    * r17). Past [[MaxProbeTermLiterals]] distinct terms it degrades
    * to the broadcast semi-join (same rows either way). The full
    * production combo: build the index once, then every query batch
    * is one pruned scan + one shortlist shuffle. */
  def topKQueriesFromIndex(index: Bm25Index, queries: DataFrame,
                           qIdCol: String, qTextCol: String,
                           k: Int = 10, k1: Double = 1.2,
                           b: Double = 0.75): DataFrame = {
    // materialized so the literal list below and the lazy fan-out
    // join inside scoreRankQueries read ONE snapshot of the query
    // side — a source that re-evaluates differently between the two
    // jobs could otherwise carry terms the scan filter excluded,
    // silently dropping matching postings (ADVICE r17)
    val qterms = queryTermSets(queries, qIdCol, qTextCol)
      .localCheckpoint(true)
    val distinctTerms = qterms.select("w").distinct()
    // limit caps the driver collect at the guard regardless of how
    // wide a pathological query batch is
    val termsLocal = distinctTerms.limit(MaxProbeTermLiterals + 1)
      .collect().map(_.getString(0))
    // tf is consumed twice (df + scoring) but stays UNcheckpointed:
    // see topKFromIndex — the chunked-In filter must sit in the probe
    // plan itself so both reads stay posting-list-pruned scans.
    val tf =
      if (termsLocal.length <= MaxProbeTermLiterals)
        index.postings.filter(ScanPrune.chunkedIn(col("w"),
          termsLocal.toSeq, ScanPrune.inThreshold(queries.sparkSession)))
      else index.postings.join(broadcast(distinctTerms), Seq("w"), "left_semi")
    scoreRankQueries(tf, qterms, index.stats, k, k1, b)
  }

  /** Incremental maintenance: merge indexes of DISJOINT doc sets (the
    * append-only ingest shape — a new batch's index unions in; doc
    * updates require delete + re-add upstream). Postings union, stats
    * add: exactly `buildIndex` of the union corpus. */
  def mergeIndexes(a: Bm25Index, b: Bm25Index): Bm25Index =
    Bm25Index(
      a.postings.unionByName(b.postings),
      a.stats.unionByName(b.stats)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot")))

  /** Query term SETS: tokenized, per-query distinct (BM25 weights are
    * per-type, not per-occurrence). */
  private def queryTermSets(queries: DataFrame, qIdCol: String, qTextCol: String) =
    queries.select(
        col(qIdCol).as("q_id"),
        explode(filter(split(trim(col(qTextCol)), "\\s+"),
          w => length(w) > 0)).as("w"))
      .distinct()

  /** Shared batched scoring tail (`tf`: one row per (doc, queried
    * term) with dl; `qterms` fans docs out to the queries wanting the
    * term). Same double-op order as `scoreRank`, contributions
    * quantized ⌊c·10⁶⌋ so per-(query, doc) sums are exact integers —
    * the oracle contract for s10. */
  private def scoreRankQueries(tf: DataFrame, qterms: DataFrame,
                               stats: DataFrame, k: Int,
                               k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(qterms), "w") // fan out to the queries wanting w
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot").cast("double") / col("n_docs"))
      .withColumn("idf_r",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("tfn",
        col("tf").cast("double") * lit(k1 + 1) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl")))))
      .withColumn("c_ppm",
        floor((col("idf_r") * col("tfn")) * lit(1e6)).cast("long"))
    contrib.groupBy("q_id", "doc_id", "dl")
      .agg(sum(col("c_ppm")).as("score_ppm"))
      .withColumn("rk", row_number()
        .over(Window.partitionBy("q_id")
          .orderBy(desc("score_ppm"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("doc_id"), col("dl"), col("score_ppm"), col("rk"))
  }
}
