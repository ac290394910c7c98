package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and spec runs on, so the
  * plans that tests, audits and Verify inspect are the plans Bench and
  * the benchmark time. The confs are fixed; only the core count varies. */
object Session {
  /** Core count for the dev mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The pinned session confs at `cpus` cores. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // bounded collects scan all local partitions in ONE scheduling
    // round instead of the 1→4→16→… escalation
    "spark.sql.limit.initialNumPartitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS), which Spark rejects by
    // default; it is read as long ns and converted in ql.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // r21, measured: with R ≤ 200 reducers Spark picks the
    // BypassMergeSortShuffleWriter, which opens R files PER MAP TASK;
    // at local[32] it cost ~230 ms CPU + ~100 ms write time per task on
    // KB-sized exchanges (d5's map stages: 12.7 s → 1.3 s task time
    // with the sort writer). A real cluster runs R > 200, where bypass
    // never fires, so this only shapes local runs.
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    // Spark 4's default, pinned: the classifier's decimal fold
    // (QualityClassifier.train) relies on overflow raising an error
    // rather than returning NULL
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int): SparkSession = {
    val spark = confs(cpus).foldLeft(
        SparkSession.builder().master(s"local[$cpus]").appName("graft")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
