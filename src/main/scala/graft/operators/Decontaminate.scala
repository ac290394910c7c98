package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Benchmark decontamination — the training-data pipeline step that
  * flags corpus documents overlapping an evaluation set, so eval
  * questions don't leak into training data.
  *
  * Shape, the 100 TB lens: the eval set is benchmark-sized (thousands
  * of documents) while the corpus is the 100 TB side — so the eval
  * side's distinct k-gram set is explicitly `broadcast()` and the
  * corpus-side probe is a map-side BroadcastHashJoin: the corpus is
  * scanned ONCE, never shuffled on gram keys. The only shuffle is the
  * per-document count aggregation (map-side combining on doc_id).
  * Per-gram hit marking + a single groupBy produce both the total and
  * the shared gram counts in one pass.
  */
object Decontaminate {

  /** Per-corpus-document overlap stats vs `evalDf`: distinct k-grams
    * shared with ANY eval document (`n_shared`), the document's own
    * distinct k-gram count (`n_grams`), and the contamination ratio.
    * Only documents with `n_shared >= minShared` are returned. */
  def overlap(corpus: DataFrame, evalDf: DataFrame,
              idCol: String, textCol: String,
              k: Int = 8, minShared: Long = 3L): DataFrame = {
    val evalGrams = broadcast(
      evalDf.select(explode(TextOps.shingles(col(textCol), k)).as("g")).distinct()
        .withColumn("__hit", lit(1)))
    // graft_shingles emits DISTINCT grams per document, so count(*) per
    // doc is the distinct-gram count and count(__hit) the shared count
    corpus.select(col(idCol).as("doc_id"), explode(TextOps.shingles(col(textCol), k)).as("g"))
      .join(evalGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared").cast("double") / col("n_grams")).as("contam"))
  }
}
