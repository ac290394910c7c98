package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.ShardSink

/** The p9 WRITE path, verified off disk (the K-an5 discipline: a sink
  * spec reads back what hit storage, not what the plan promised):
  * exactly one file per shard, rows inside each file in (rank, id)
  * order, and manifests recomputed from the re-read reproduce the
  * manifests computed from the input — so the p9 catalog query and
  * the shard writer describe the same corpus permutation. */
class ShardSinkSpec extends SparkSpec {
  import spark.implicits._

  private val numShards = 16

  // ids with gaps and a non-trivial span — the permutation must not
  // depend on density
  private def docs = spark.range(3000)
    .select((col("id") * 7 + 1).as("doc_id"),
      (col("id") % 997 + 1).as("toks"))

  private def listShardFiles(outDir: String): Map[Long, Seq[java.io.File]] =
    (0 until numShards).map { s =>
      val d = new java.io.File(s"$outDir/shard=$s")
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).toSeq
      s.toLong -> fs
    }.toMap

  test("one file per shard; every row present exactly once") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    ShardSink.writeShards(docs, "doc_id", outDir, numShards)
    val files = listShardFiles(outDir)
    files.foreach { case (s, fs) =>
      assert(fs.size === 1, s"shard $s must be exactly one file, got $fs")
    }
    val back = spark.read.parquet(outDir)
    assert(back.count() === 3000L)
    assert(back.select("doc_id").distinct().count() === 3000L)
    // shard really is rank % numShards for every row
    assert(back.filter(
      pmod(col("rk"), lit(numShards.toLong)) =!= col("shard")).count() === 0L)
  }

  test("rows inside each shard file are in (rank, id) order") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    ShardSink.writeShards(docs, "doc_id", outDir, numShards)
    listShardFiles(outDir).foreach { case (s, fs) =>
      val rows = spark.read.parquet(fs.head.getAbsolutePath)
        .select("rk", "doc_id").as[(Long, Long)].collect().toSeq
      assert(rows.nonEmpty, s"shard $s empty")
      assert(rows === rows.sortBy(identity),
        s"shard $s file order is not (rank, id)")
    }
  }

  test("re-read manifests reproduce the input-side p9 manifests") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    ShardSink.writeShards(docs, "doc_id", outDir, numShards)
    // input-side manifest: the p9 catalog aggregation over the source
    val want = docs
      .withColumn("rk", ShardSink.rank(col("doc_id")))
      .withColumn("shard", pmod(col("rk"), lit(numShards.toLong)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("rk"), col("doc_id"))).getField("doc_id")
          .as("head_doc"),
        sum(pmod(col("rk") * 31L + col("doc_id"), lit(ShardSink.P)))
          .as("checksum"))
      .orderBy("shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val got = ShardSink.manifestsFromDisk(spark, outDir, "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("resumeShard: suffix in training order, rank predicate pushed down") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    ShardSink.writeShards(docs, "doc_id", outDir, numShards)
    val s = 3
    val full = spark.read
      .parquet(listShardFiles(outDir)(s.toLong).head.getAbsolutePath)
      .select("rk", "doc_id").as[(Long, Long)].collect().toSeq
    val cut = full(full.size / 2)._1
    val resumed = ShardSink.resumeShard(spark, outDir, s, afterRank = cut)
      .select("rk", "doc_id").as[(Long, Long)].collect().toSeq
    assert(resumed === full.filter(_._1 > cut),
      "resume must be exactly the in-order suffix after the cut rank")
    // the rank filter must reach the parquet scan (row-group skipping
    // at scale — a resume must not re-read the shard from the top)
    val plan = ShardSink.resumeShard(spark, outDir, s, cut)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(rk"),
      s"rank predicate not pushed to the scan:\n$plan")
  }

  test("append x3 then compactShards == one-shot writeShards, off disk") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    val oneShot = Files.createTempDirectory("shards").toFile.getAbsolutePath
    // three micro-batch appends (the CorpusIngest write pattern)
    (0 until 3).foreach { m =>
      ShardSink.appendShards(docs.filter(col("doc_id") % 3 === m),
        "doc_id", outDir, numShards)
    }
    // the small-file problem is real before compaction…
    assert(listShardFiles(outDir).exists(_._2.size > 1),
      "appends should leave multiple files per shard")
    ShardSink.compactShards(spark, outDir, "doc_id")
    // …and gone after: one rk-ordered file per shard
    val files = listShardFiles(outDir)
    files.foreach { case (s, fs) =>
      assert(fs.size === 1, s"shard $s: ${fs.size} files after compaction")
    }
    ShardSink.writeShards(docs, "doc_id", oneShot, numShards)
    val want = listShardFiles(oneShot)
    (0 until numShards).foreach { s =>
      val got = spark.read.parquet(files(s.toLong).head.getAbsolutePath)
        .select("rk", "doc_id", "toks").as[(Long, Long, Long)].collect().toSeq
      val exp = spark.read.parquet(want(s.toLong).head.getAbsolutePath)
        .select("rk", "doc_id", "toks").as[(Long, Long, Long)].collect().toSeq
      assert(got === exp, s"shard $s file content differs from one-shot write")
    }
    assert(ShardSink.manifestsFromDisk(spark, outDir, "doc_id")
      .collect().map(_.toSeq).toSeq ===
      ShardSink.manifestsFromDisk(spark, oneShot, "doc_id")
        .collect().map(_.toSeq).toSeq)
    // resume contract holds on the compacted store, pushdown included
    val plan = ShardSink.resumeShard(spark, outDir, 1, 10L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(rk"))
  }

  test("compactShards recovers from a crash at EVERY swap step: " +
      "partial twins discarded, complete twins renamed in, __old " +
      "backups resolved, scratch dirs never listed as shards") {
    val outDir = Files.createTempDirectory("shards").toFile.getAbsolutePath
    val oneShot = Files.createTempDirectory("shards").toFile.getAbsolutePath
    (0 until 3).foreach { m =>
      ShardSink.appendShards(docs.filter(col("doc_id") % 3 === m),
        "doc_id", outDir, numShards)
    }
    def junkDir(p: String): Unit = {
      val d = new java.io.File(p); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "part-junk.parquet"), "junk")
    }
    // crash A (mid-twin-write): a PARTIAL twin beside its intact
    // target — recovery must prefer the target and discard the twin
    junkDir(s"$outDir/shard=0__compact")
    // crash B (legacy delete+rename layout, between delete and
    // rename): target gone, twin complete — twin renamed in
    assert(new java.io.File(s"$outDir/shard=1")
      .renameTo(new java.io.File(s"$outDir/shard=1__compact")))
    // crash C (between swap steps 1 and 2): target renamed to __old,
    // complete twin waiting — twin renamed in, __old (the superseded
    // copy) discarded. The twin here is the real data; __old simulates
    // a half-deleted leftover (the exact state the r14 protocol lost
    // data in: a partial target that recovery preferred over the twin)
    assert(new java.io.File(s"$outDir/shard=2")
      .renameTo(new java.io.File(s"$outDir/shard=2__compact")))
    junkDir(s"$outDir/shard=2__old")
    // crash D (mid-step-3 delete): swap completed, partial __old
    // garbage beside the intact target — __old deleted
    junkDir(s"$outDir/shard=3__old")
    // crash E (inside swap's defensive stale-__old delete, before
    // step 1): old + intact target + complete twin all present — ONE
    // recover pass must clear BOTH scratch dirs (ADVICE r15: the old
    // branch left the twin for a second pass)
    junkDir(s"$outDir/shard=4__old")
    junkDir(s"$outDir/shard=4__compact")
    graft.sources.DirSwap.recover(
      new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$outDir/shard=4"))
    assert(!new java.io.File(s"$outDir/shard=4__old").exists() &&
      !new java.io.File(s"$outDir/shard=4__compact").exists(),
      "one recover pass must clear old AND twin beside an intact target")

    ShardSink.compactShards(spark, outDir, "doc_id")
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(!dirs.exists(d => d.endsWith("__compact") || d.endsWith("__old")),
      s"scratch dir left behind: $dirs")
    assert(dirs == (0 until numShards).map(s => s"shard=$s").toSet)
    ShardSink.writeShards(docs, "doc_id", oneShot, numShards)
    assert(ShardSink.manifestsFromDisk(spark, outDir, "doc_id")
      .collect().map(_.toSeq).toSeq ===
      ShardSink.manifestsFromDisk(spark, oneShot, "doc_id")
        .collect().map(_.toSeq).toSeq)
  }

  test("deterministic under parallelism: 1-partition rewrite is identical") {
    val outA = Files.createTempDirectory("shards").toFile.getAbsolutePath
    val outB = Files.createTempDirectory("shards").toFile.getAbsolutePath
    ShardSink.writeShards(docs, "doc_id", outA, numShards)
    ShardSink.writeShards(docs.coalesce(1), "doc_id", outB, numShards)
    val a = listShardFiles(outA).toSeq.sortBy(_._1).map { case (_, fs) =>
      spark.read.parquet(fs.head.getAbsolutePath)
        .select("rk", "doc_id", "toks").as[(Long, Long, Long)].collect().toSeq
    }
    val b = listShardFiles(outB).toSeq.sortBy(_._1).map { case (_, fs) =>
      spark.read.parquet(fs.head.getAbsolutePath)
        .select("rk", "doc_id", "toks").as[(Long, Long, Long)].collect().toSeq
    }
    assert(a === b)
  }
}
