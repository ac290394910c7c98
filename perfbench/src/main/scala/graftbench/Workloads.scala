package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{Analysis, CutOut}
import graft.sources.KittiSources
import graft.streaming.CorpusIngest

/** The four workloads. Each drives the library only through its public
  * entry points, over inputs that run.py generated from the seed. */
object Workloads {
  /** Queries that launch eager jobs while their DataFrame is built. */
  val iterative: Seq[String] = Seq("d7_dup_clusters", "d12_pagerank",
    "p6_cluster_keep_best", "t35_quality_classifier", "t37_langid_trained",
    "e6_peak_concurrency", "s10_bm25_queries", "d10_triangles",
    "d17_cross_substr", "s11_hybrid_fusion", "s7_ivfpq")

  /** Queries whose whole cost is in executing one plan: relational
    * joins and windows, the text and vector kernels, geometry and the
    * multimodal codec. */
  val scan: Seq[String] = Seq("q1_pricing_summary", "q5_local_supplier",
    "q9_product_profit", "q18_large_orders", "q20_excess_suppliers",
    "q21_blame_supplier", "q_window_rank", "d1_exact_dedup",
    "d15_exact_substr", "d16_substr_remove", "s1_cosine_topk",
    "t7_vocab_topk", "t13_keywords", "t15_bigram_lm", "t33_gopher_rules",
    "e2_sessionization", "e9_session_window", "k10_density_patches",
    "p1_corpus_pipeline", "m5_image_pipeline")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def children(dir: String, pred: File => Boolean): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(pred).map(_.getPath).sorted

  /** Light warm-up that is part of set-up: one small read of the
    * workload's input. */
  def warmup(workload: String, spark: SparkSession, input: String): Unit = workload match {
    case "catalog_iterative" | "catalog_scan" =>
      noop(spark.read.parquet(s"$input/catalog/nation.parquet"))
    case "kitti_pipeline" =>
      val d = children(s"$input/kitti", _.isDirectory).head
      noop(KittiSources.pointClouds(spark, s"$d/velodyne"))
      noop(KittiSources.labels(spark, s"$d/label_2"))
      noop(KittiSources.calibrations(spark, s"$d/calib"))
    case "ingest_loop" =>
      noop(spark.read.parquet(children(s"$input/ingest", _.getName.endsWith(".parquet")).head))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(workload: String, b: Bench): Unit = workload match {
    case "catalog_iterative" => catalog(b, iterative)
    case "catalog_scan" => catalog(b, scan)
    case "kitti_pipeline" => kitti(b)
    case "ingest_loop" => ingest(b)
  }

  def catalog(b: Bench, names: Seq[String]): Unit = {
    val dir = s"${b.input}/catalog"
    def build(n: String): DataFrame = SparkEntry.queries(n)(b.spark, dir)
    // untimed verification pass: full results to parquet for the DuckDB
    // oracle; it also lets JIT and codegen caches fill before timing
    names.foreach { n =>
      b.untimed += b.op("verify", n) { r =>
        b.phase(r, "write")(build(n).write.mode("overwrite").parquet(s"${b.work}/verify/$n"))
      }
    }
    b.hygiene()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(s"${b.work}/oracle_sql.json"),
      Json.write(oracle).getBytes(StandardCharsets.UTF_8))

    b.measure { p =>
      new scala.util.Random(b.seed * 7919 + p).shuffle(names).map { n =>
        val r = b.op("query", n) { r =>
          val df = b.phase(r, "construct")(build(n))
          b.phase(r, "exec")(noop(df))
        }
        b.hygiene()
        r
      }
    }
    // traced run only: count() of each query, the figure graft.Bench
    // records, as a bridge between the two
    if (b.trace.enabled) names.foreach { n =>
      b.untimed += b.op("count", n)(r => b.phase(r, "count")(build(n).count()))
      b.hygiene()
    }
  }

  def kitti(b: Bench): Unit = {
    val spark = b.spark
    val drives = children(s"${b.input}/kitti", _.isDirectory)
    b.measure { p =>
      drives.map { d =>
        val name = new File(d).getName
        val out = s"${b.work}/kitti/pass$p/$name"
        val r = b.op("drive", name) { r =>
          val (pts, labels, calib) = b.phase(r, "read") {
            val pts = KittiSources.pointClouds(spark, s"$d/velodyne")
            val labels = KittiSources.labels(spark, s"$d/label_2")
            val calib = KittiSources.calibrations(spark, s"$d/calib")
            Seq(pts, labels, calib).foreach(noop)
            (pts, labels, calib)
          }
          val bounds = b.phase(r, "analysis")(Analysis.referenceAnalysis(pts, labels, calib))
          val (lo, hi) = bounds.maximal
          val stats = b.phase(r, "cutout_write")(CutOut.genCutOutDataset(pts, calib,
            (lo(0), lo(1), lo(2)), (hi(0), hi(1), hi(2)), out, "bin"))
          val row = b.phase(r, "cutout_stats")(stats.collect().head)
          b.phase(r, "readback")(noop(KittiSources.pointClouds(spark, out)))
          r.info("bounds") = Seq(bounds.minimal._1, bounds.minimal._2, lo, hi)
          r.info("stats") = Map("min_pts" -> row.getAs[Long]("min_pts"),
            "max_pts" -> row.getAs[Long]("max_pts"), "avg_pts" -> row.getAs[Double]("avg_pts"),
            "n_frames" -> row.getAs[Long]("n_frames"))
          r.info("out") = out
        }
        b.hygiene()
        r
      }
    }
  }

  /** A closed loop with one client: each batch is ingested after the
    * previous one (and any maintenance due) completed. */
  def ingest(b: Bench): Unit = {
    val spark = b.spark
    val batches = children(s"${b.input}/ingest", _.getName.endsWith(".parquet"))
    val every = b.conf("maint_every").toInt
    val expected = b.conf("expected_items").toLong
    b.measure { p =>
      val st = s"${b.work}/ingest/pass$p"
      val (url, text, shards, drift) = (s"$st/url_bloom", s"$st/text_bloom", s"$st/shards", s"$st/drift")
      val nd = CorpusIngest.NearDupGate(s"$st/neardup")
      b.info("state_dir") = st
      val ops = mutable.ArrayBuffer.empty[OpResult]
      batches.zipWithIndex.foreach { case (f, i) =>
        ops += b.op("batch", f"batch$i%03d") { r =>
          // the library's own per-stage log: (stage, seconds) rows and
          // `name:gauge` readings
          val log = mutable.ArrayBuffer.empty[(String, Double)]
          val n = CorpusIngest.ingestBatch(spark.read.parquet(f), url, text, shards,
            numShards = 8, expectedItems = expected, driftDir = Some(drift),
            nearDup = Some(nd), stageLog = Some(log))
          log.foreach { case (k, v) =>
            if (k.contains(':')) r.info(k) = v
            else r.phases(k) = r.phases.getOrElse(k, 0.0) + v
          }
          r.info("shipped") = n
        }
        if ((i + 1) % every == 0)
          ops += b.op("maint", s"maint${(i + 1) / every}") { r =>
            (0 to 3).foreach(k => b.phase(r, s"phase$k")(CorpusIngest.runMaintenancePhase(
              spark, k, url, text, shards, Some(nd), Some(drift))))
          }
      }
      ops.toSeq
    }
  }
}
