package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Paragraph-level dedup (C4/CCNet's middle layer between doc-level
  * exact dedup and substring dedup), in both batch (t30) and
  * incremental-ingest form.
  *
  * "Paragraphs" are fixed `width`-word segments — the driver corpus
  * has no newlines, and fixed segments make the oracle trivially
  * replayable; a newline-delimited corpus would swap `segments`'s
  * splitter and nothing else.
  *
  * The ingest path mirrors `minhashIndex`/`winnowIndex`: a persisted
  * (owner, seg) table IS the corpus state — a daily batch cleans
  * against it and appends only its own surviving segments, so corpus
  * text is never re-read. Everything is exact string equality on the
  * segment: no hashes to collide. The keep rule is OWNER-FIRST
  * (ADVICE r10): an index owner always keeps its own text, so
  * replaying any batch whose segments were already appended — alone
  * or mixed with new docs — never strips the owner.
  *
  * Scale note (VERDICT r10 item 1): keep-first is computed with
  * partial-agg-combinable `groupBy(seg).agg(min(id))` + join-back,
  * never `min().over(Window.partitionBy(seg))`. Spark windows have no
  * map-side partials, so a hub segment (page chrome shared by ~every
  * crawled doc — the exact thing paragraph dedup exists to remove)
  * would land every occurrence in ONE task's sort buffer; the
  * aggregation collapses it map-side and the join-back is
  * AQE-skew-splittable. */
object ParaDedup {

  /** (idCol, seg_idx, seg): fixed `width`-word segments of each doc,
    * in order. Map-side only (array arithmetic + posexplode). Null
    * text is treated as empty text (one "" segment), so every input
    * doc yields at least one row and `cleanAgainstIndex` passes
    * null-text docs through instead of silently dropping them
    * (ADVICE r10). */
  def segments(df: DataFrame, idCol: String, textCol: String,
               width: Int = 10): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val words = split(coalesce(col(textCol), lit("")), " ")
    val segArr = transform(
      sequence(lit(0), ceil(size(words) / width.toDouble).cast("int") - 1),
      i => array_join(slice(words, i * width + 1, lit(width)), " "))
    df.select(col(idCol),
      posexplode(segArr).as(Seq("seg_idx", "seg")))
  }

  /** Clean a NEW batch against a persisted segment index (`segments`
    * output, typically read back from parquet) AND against itself:
    *
    *  - a segment with an index owner is kept ONLY by that owner —
    *    so a re-ingested owner keeps its text even when the same
    *    batch carries a lower-id newcomer with the same segment
    *    (owner-first, ADVICE r10), and replaying an already-appended
    *    batch is a no-op, not a wipe;
    *  - a fresh segment (no index owner) is keep-first within the
    *    batch: min id owns the text (t30's rule — a doc's own
    *    repeats survive with it).
    *
    * Returns (idCol, textCol cleaned, n_segs, n_kept) — one row per
    * batch doc. Appending `segments` of the SURVIVORS keeps the index
    * canonical (one owner per segment text). Cost: two combinable
    * segment-keyed aggregations (index owners, within-batch firsts)
    * joined into one segment-keyed equi-join with the batch segments
    * + one doc-keyed reassembly; the corpus behind the index is never
    * touched and no corpus-keyed window exists in the plan. */
  def cleanAgainstIndex(segIndex: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        width: Int = 10): DataFrame = {
    val segs = segments(batch, idCol, textCol, width)
    // one owner per segment text; min() also collapses replayed
    // appends so index duplication cannot multiply batch rows
    val owners = segIndex.groupBy("seg")
      .agg(min(col(idCol)).as("_owner"))
    val batchFirst = segs.groupBy("seg")
      .agg(min(col(idCol)).as("_first"))
    val keepers = batchFirst.join(owners, Seq("seg"), "left")
    val flagged = segs.join(keepers, Seq("seg"))
      .withColumn("keep",
        when(col("_owner").isNotNull, col("_owner") === col(idCol))
          .otherwise(col("_first") === col(idCol)))
    flagged.groupBy(idCol)
      .agg(count(lit(1)).as("n_segs"),
        sum(col("keep").cast("long")).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("seg_idx"), col("seg"))))),
            p => p.getField("seg")),
          " ").as(textCol))
      .select(col(idCol), col(textCol), col("n_segs"), col("n_kept"))
  }
}
