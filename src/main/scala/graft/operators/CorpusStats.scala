package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextOps, VectorOps}

/** Per-source corpus "data card" (p11) — the report a training-data
  * pipeline publishes alongside every corpus drop: volume, exact
  * duplication, token mass, length percentiles, quality posture, and
  * the dominant token, one row per source.
  *
  * Every field is deterministic arithmetic, so the whole card is
  * oracle-exact — including the percentiles, which go through the
  * t34 QuantileSketch (engine-exact bucket math) rather than
  * `percentile`/`approx_percentile`:
  *
  *   - n_docs, tokens: plain counts/sums (token count = t3's
  *     whitespace convention);
  *   - n_distinct / dup_frac: exact distinct of md5(text) — the d1
  *     exact-dedup key (at 100 TB swap in the d6 KMV sketch for
  *     bounded state; the card's SCHEMA doesn't change, which is the
  *     point of reporting an estimate-shaped column);
  *   - p50/p90 chars: QuantileSketch (mergeable, bounded, ≤1.6 %);
  *   - avg_quality: t2 score, decimal-summed (order-independent);
  *   - gopher_keep_frac: t33's composite gate pass rate;
  *   - top_token: argmax by (count, token) via a combinable
  *     max-struct — vocabulary-sized state, no window.
  *
  * Shape: three aggregations over one scan family — the per-source
  * base (map-side partials), the sketch build (bucket table), the
  * token argmax (vocab-bounded) — joined on the tiny per-source key.
  * At 1000 sources the joined frames are KB-sized; every heavy stage
  * is combinable. */
object CorpusStats {

  def report(docs: DataFrame): DataFrame = {
    val base = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      sum(TextOps.wsTokenCount(col("text"))).as("tokens"),
      (sum(TextOps.qualityScore(col("text")).cast("decimal(10,6)"))
        .cast("double") / count(lit(1))).as("avg_quality"),
      (sum(when(TextOps.gopherShape(col("text")).getField("keep"), 1L)
        .otherwise(0L)).cast("double") / count(lit(1)))
        .as("gopher_keep_frac"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"))
    val lengths = QuantileSketch.groupQuantiles(
      docs.select(col("source"), col("n_chars")), Seq("source"), "n_chars",
      Seq("p50_chars" -> 0.5, "p90_chars" -> 0.9))
    val top = docs
      .select(col("source"), explode(split(trim(col("text")), " +")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(max(struct(col("cnt"), col("tok"))).as("m"))
      .select(col("source"), col("m.tok").as("top_token"),
        col("m.cnt").as("top_token_cnt"))
    base.join(lengths, Seq("source")).join(top, Seq("source"))
      .select("source", "n_docs", "n_distinct", "dup_frac", "tokens",
        "p50_chars", "p90_chars", "avg_quality", "gopher_keep_frac",
        "top_token", "top_token_cnt")
      .orderBy("source")
  }

  /** Per-TOPIC corpus card (p15) — the semantic complement to the
    * per-source card: cluster the embedding space with the
    * deterministic coarse quantizer (KMeans.fitLocal — the same model
    * family the IVF/SemDedup operators index with), assign every
    * document to its topic cell, and report the balance/coherence
    * view a pretraining mix is steered by:
    *
    *   - n_docs + share_ppm (integer DIV — engine-exact) of the
    *     assigned corpus;
    *   - coherence: mean cosine of members to their own centroid
    *     (6-dp-rounded cosines, decimal-summed — the topic-tightness
    *     gauge; a low-coherence cell is a junk drawer, not a topic);
    *   - top_lang (combinable max-struct argmax, ties toward the
    *     DESC-max lang — p11's convention);
    *   - avg_quality (t2 score, decimal-summed) and token mass (t3
    *     convention) per topic.
    *
    * Scale shape: assignment is a broadcast-model map-side pass (the
    * centroid literals ride the task closure); both aggregations are
    * combinable with ≤ k·|langs| state; the share join broadcasts a
    * 1-row total (the documented scalar-BNLJ family). Zero-norm
    * vectors carry no direction and are excluded (assignCells'
    * contract), so shares are of the ASSIGNED corpus.
    *
    * `model` is the fitted (cell, cv) centroid table — pass
    * `KMeans.fitLocal(...)` output collected to the driver, the same
    * bounded-model artifact every quantizer consumer holds. */
  def topicCard(docs: DataFrame, emb: DataFrame, embIdCol: String,
                vecCol: String, docIdCol: String,
                model: Seq[(Long, Seq[Double])]): DataFrame = {
    val base = emb
      .select(col(embIdCol).as("__id"), VectorOps.toDouble(col(vecCol)).as("__v"))
      .withColumn("__nrm", VectorOps.norm(col("__v")))
      .filter(col("__nrm") > 0)
    val scores = KMeans.centroidScores(model, col("__v"), col("__nrm"))
    // two-step select: scores land in attributes first (the codegen
    // discipline of SemDedup.assignCells), and the winning cosine is
    // greatest() over the same attrs the argmax CASE reads
    val scored = base.select(col("__id") +:
      scores.map { case (c, cc) => cc.as(s"__cc$c") }: _*)
    val attrs = scores.map { case (c, _) => c -> col(s"__cc$c") }
    val assigned = scored.select(col("__id"),
      KMeans.argmaxCell(attrs).as("cell"),
      round(if (attrs.size == 1) attrs.head._2
            else greatest(attrs.map(_._2): _*), 6).as("__cos"))
    // ONE pass computes the narrow per-doc frame (cell, cosine,
    // quality, tokens, lang) — the text-derived fields are evaluated
    // once, not once per consumer — and the checkpoint feeds the three
    // aggregations without re-scanning the corpus. At 100 TB the
    // materialized frame is 5 numeric-ish columns, small next to three
    // full text scans.
    val narrow = docs.join(assigned, docs(docIdCol) === assigned("__id"))
      .select(col("cell"), col("__cos"),
        TextOps.qualityScore(col("text")).as("__q"),
        TextOps.wsTokenCount(col("text")).as("__tok"),
        col("lang"))
      .localCheckpoint(true)
    val perCell = narrow.groupBy("cell").agg(
      count(lit(1)).as("n_docs"),
      (sum(col("__cos").cast("decimal(20,6)")).cast("double") /
        count(lit(1))).as("coherence"),
      (sum(col("__q").cast("decimal(10,6)"))
        .cast("double") / count(lit(1))).as("avg_quality"),
      sum(col("__tok")).as("tokens"))
    val topLang = narrow.groupBy("cell", "lang")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("cell")
      .agg(max(struct(col("cnt"), col("lang"))).as("m"))
      .select(col("cell"), col("m.lang").as("top_lang"),
        col("m.cnt").as("top_lang_cnt"))
    val total = narrow.agg(count(lit(1)).as("__tot"))
    perCell.join(topLang, Seq("cell")).crossJoin(total)
      .withColumn("share_ppm", expr("n_docs * 1000000 DIV __tot"))
      .select("cell", "n_docs", "share_ppm", "coherence", "top_lang",
        "top_lang_cnt", "avg_quality", "tokens")
      .orderBy("cell")
  }
}
