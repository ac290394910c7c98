package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the query layer.
  *
  * Money/measure sums go through `decimal(18,2)` (or wider) before
  * aggregation: decimal addition is exact and order-independent, so
  * results are stable under AQE / shuffle-partition changes AND
  * bit-identical to the DuckDB oracle (double sums are neither).
  */
object ql {
  /** Schema cache for [[t]] (r21): `spark.read.parquet(path)` infers
    * the schema by reading a parquet footer at PLAN time — a
    * per-query driver cost paid on every `t()` call (~2-3 calls per
    * catalog query). The schema of a given path never changes within
    * a session, so cache it and hand it to the reader explicitly.
    * Keyed on the full path; results are identical by construction.
    *
    * ASSUMPTIONS (ADVICE r21): the sf data dirs are immutable (the
    * driver generates them once; overwriting a path with a different
    * schema mid-process would serve the stale one), and every session
    * in the JVM reads parquet with the same schema-affecting confs —
    * which holds because [[Session.local]] is the only session builder,
    * so `nanosAsLong` and the rest of its parquet confs are fixed. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Load one driver-generated table from an sf directory. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** events table with its `ts` surfaced as a proper session-tz
    * timestamp, whatever the file encodes: TIMESTAMP(NANOS) arrives as
    * long under spark.sql.legacy.parquet.nanosAsLong=true (set in
    * `Session.local`) and floor-divides ns → µs — the same
    * truncation DuckDB applies reading the same file — while
    * TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ and needs only the
    * NTZ → TIMESTAMP cast (value-preserving under the UTC session tz).
    * Branching on the observed schema keeps every events query working
    * across driver testdata regenerations that switch the encoding. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Exact 2-dp decimal view of a double measure column. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Order-independent exact sum of a money column, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** revenue term: extendedprice * (1 - discount), exact decimal. */
  def revenue(price: Column, discount: Column): Column =
    dec(price) * (lit(1.0).cast("decimal(18,2)") - dec(discount))

  /** Spread a small-file scan across the cluster before a CPU-dense
    * per-row kernel. A few-MB parquet arrives as ONE partition, so the
    * kernel would otherwise run on one core — the round-trip shuffle
    * of the (small) input is noise next to the kernel cost. A call
    * stays only where its query measured slower without it by more
    * than the pinned code's run-to-run spread (each call names its
    * figures); the others measured inside noise and were deleted.
    * GUARDED: a source that already has that much parallelism (the
    * 100 TB case — thousands of scan partitions) is returned
    * untouched; unconditional repartition would inject a full-corpus
    * shuffle exactly where it hurts most.
    *
    * Parallelism is read from the LEAF scans of the physical plan
    * (their RDDs exist to be partition-counted: file listing + split
    * math only), not via `df.rdd` — which instantiated the RDD chain
    * for the WHOLE operator tree just to count partitions (VERDICT r2
    * item 5). Callers pass scan-rooted frames (scan + filter/select);
    * on a frame with an exchange below, the leaf count is the honest
    * measure of source parallelism anyway. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (leafParallelism(df) >= target) df else df.repartition(target)
  }

  /** Source parallelism, read from the LEAF nodes of the physical plan
    * (file scans / checkpointed RDD scans — their RDDs exist to be
    * partition-counted: file listing + split math only). See spread()
    * for why not `df.rdd`. A leaf that cannot be planned or listed
    * fails the caller: reading the error as "small source" would
    * silently add a repartition. */
  private[graft] def leafParallelism(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().map(_.execute().getNumPartitions).sum

  /** `df` materialized once (eager localCheckpoint), with its row
    * count observed during that one job — the size every broadcast
    * guard downstream reads instead of running a count of its own. */
  private[graft] def countedCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cp = df.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
    (cp, observed(rows, "n"))
  }

  /** An observed count or gauge, 0 when absent: a plan that folds to
    * an empty relation never runs, and its observation completes
    * without the key. */
  private[graft] def observed(o: Observation, name: String): Long =
    o.get.get(name).fold(0L)(_.asInstanceOf[Long])

  /** Run `f` with every Spark job it launches labelled `label` (the
    * `spark.job.description` local property; AQE's query-stage jobs
    * inherit it from the submitting thread). The caller's label is
    * restored afterwards, also when `f` throws. */
  private[graft] def withJobDescription[A](ss: SparkSession, label: String)(f: => A): A = {
    val sc = ss.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try f finally sc.setLocalProperty(JobDescription, caller)
  }

  /** The local property `SparkContext.setJobDescription` sets (Spark
    * keeps the constant package-private). */
  private val JobDescription = "spark.job.description"
}
