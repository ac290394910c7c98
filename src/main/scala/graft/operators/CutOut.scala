package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Geometry

/** The reference's `gen_cut_out_dataset` (data_pipeline.py:67-84):
  * keep points inside an area box, re-export per frame, report
  * per-frame point-count stats. Spark-first: the box mask is a pushable
  * predicate; the export partitions by frame_id so each frame lands in
  * its own directory without a driver loop.
  */
object CutOut {

  /** Box filter over x/y/z columns (strict bounds, data_pipeline.py:77). */
  def cutOut(points: DataFrame,
             min: (Double, Double, Double), max: (Double, Double, Double)): DataFrame =
    points.filter(Geometry.inBox(col("x"), col("y"), col("z"), min, max))

  /** Per-frame counts + global min/avg/max point numbers
    * (data_pipeline.py:82-84). One row. `frames` (the pre-filter frame
    * list) makes all-filtered frames count as 0 — the reference
    * appends `pocl.shape[0]` for every input file, zeros included, so
    * its min/avg see empty frames. */
  def pointStats(points: DataFrame, frameCol: String = "frame_id",
                 frames: Option[DataFrame] = None): DataFrame = {
    val counts = points.groupBy(frameCol).agg(count(lit(1)).as("n"))
    val perFrame = frames match {
      case Some(f) =>
        f.select(col(f.columns.head).as(frameCol)).distinct()
          .join(counts, Seq(frameCol), "left")
          .select(coalesce(col("n"), lit(0L)).as("n"))
      case None => counts.select("n")
    }
    perFrame
      .agg(min(col("n")).as("min_pts"), max(col("n")).as("max_pts"),
        (sum(col("n")).cast("double") / count(lit(1))).as("avg_pts"),
        count(lit(1)).as("n_frames"))
  }

  /** Frame-partitioned export (replaces the reference's per-file
    * `tofile` loop; data_pipeline.py:81). An empty input is written
    * un-partitioned: partitionBy on an empty frame emits a file-less
    * directory that downstream parquet reads reject
    * (UNABLE_TO_INFER_SCHEMA), while a plain empty write keeps the
    * schema readable. */
  def writeFrames(points: DataFrame, path: String, frameCol: String = "frame_id"): Unit =
    if (points.isEmpty)
      points.write.mode("overwrite").parquet(path)
    else
      points.write.mode("overwrite").partitionBy(frameCol).parquet(path)

  /** The multi-density patch bands sketched as future work at
    * data_pipeline.py:96-99 — (name, lo, hi) fractions of the area
    * box's half-extent from its center: Dense_1 [0, 1/6], Dense_2
    * [1/7, 13/42], Medium_1 [1/4, 9/20], Medium_2 [2/5, 3/5],
    * Least_1 [1/2, 3/4], Least_2 [2/3, 1]. Each width matches the
    * reference's comment (1/7 + 1/6 = 13/42 etc.); bands deliberately
    * overlap, like the sketch's staggered ranges. */
  val densityBands: Seq[(String, Double, Double)] = Seq(
    ("dense_1", 0.0, 1.0 / 6), ("dense_2", 1.0 / 7, 13.0 / 42),
    ("medium_1", 0.25, 0.45), ("medium_2", 0.4, 0.6),
    ("least_1", 0.5, 0.75), ("least_2", 2.0 / 3, 1.0))

  /** Multi-density patch generation (the `data_pipeline.py:96-99`
    * TODO, which the reference never implemented): tag each point of
    * the area box with every density band containing it, where a
    * point's band position is its box-normalized Chebyshev distance
    * from the area center, d = max_i |p_i − c_i| / h_i (0 = center,
    * 1 = box face). Returns the input columns + (patch, band_d);
    * points in overlapping bands appear once per band, points outside
    * the box (d > 1) in none. Map-side only: a 6-element literal
    * struct array explodes against a codegen'd predicate — no
    * shuffle, patches inherit the scan's partitioning (the same
    * argument as cutOut's pushable box mask, ×6 bounded fan-out). */
  def densityPatches(points: DataFrame,
                     min: (Double, Double, Double),
                     max: (Double, Double, Double)): DataFrame = {
    val (cx, cy, cz) = ((min._1 + max._1) / 2, (min._2 + max._2) / 2, (min._3 + max._3) / 2)
    val (hx, hy, hz) = ((max._1 - min._1) / 2, (max._2 - min._2) / 2, (max._3 - min._3) / 2)
    require(hx > 0 && hy > 0 && hz > 0, s"degenerate area box: $min .. $max")
    val d = greatest(
      abs(col("x").cast("double") - cx) / hx,
      abs(col("y").cast("double") - cy) / hy,
      abs(col("z").cast("double") - cz) / hz)
    val bands = typedlit(densityBands.map { case (n, lo, hi) => (n, lo, hi) })
    points
      .withColumn("band_d", d)
      .withColumn("__band", explode(filter(bands, b =>
        col("band_d") >= b.getField("_2") && col("band_d") <= b.getField("_3"))))
      .withColumn("patch", col("__band").getField("_1"))
      .drop("__band")
  }

  /** The reference's whole `gen_cut_out_dataset` (data_pipeline.py:
    * 67-84) in one call: calibrate, filter to the area box, export per
    * frame, return the per-frame point-count stats row.
    *
    * `format`: "parquet" (columnar, partitioned by frame — the engine-
    * native layout) or "bin" (raw KITTI float32 quads, one NNNNNN.bin
    * per frame exactly like the reference's `pocl.tofile` — for
    * round-tripping cut-outs into existing KITTI tooling). Point order
    * inside a .bin follows the reader's `pt_idx` when present. */
  def genCutOutDataset(points: DataFrame, calib: DataFrame,
                       min: (Double, Double, Double), max: (Double, Double, Double),
                       path: String, format: String = "parquet"): DataFrame = {
    val hasIdx = points.columns.contains("pt_idx")
    val keepCols =
      if (hasIdx) Seq("frame_id", "pt_idx", "x", "y", "z", "intensity")
      else Seq("frame_id", "x", "y", "z", "intensity")
    val calibrated = Analysis.calibratePoints(points.join(calib, "frame_id"))
    val kept = cutOut(calibrated, min, max)
      .select(keepCols.head, keepCols.tail: _*)
    // every INPUT frame produces an output file (empty when all its
    // points are cut) and a stats row of 0, like the reference's
    // per-file tofile + point_numbers loop (data_pipeline.py:70-84)
    val allFrames = points.select("frame_id").distinct()
    format match {
      case "parquet" => writeFrames(kept, path)
      case "bin" => graft.sources.KittiSources.writePointClouds(
        kept, path, if (hasIdx) Some("pt_idx") else None, frames = Some(allFrames))
      case other => throw new IllegalArgumentException(
        s"unknown cut-out format '$other' (parquet|bin)")
    }
    pointStats(kept, frames = Some(allFrames))
  }
}
