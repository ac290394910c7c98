package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.BloomMembership

/** The bloom sketch's mergeability, run as the crawl-frontier ingest
  * loop it enables: foreachBatch keeps a 1-row parquet bloom index —
  * each micro-batch's keys are sketched (same sizing) and OR-merged
  * into the persisted filter. Invariants: after any number of batches
  * (including replays — OR is idempotent, so at-least-once delivery is
  * free) the maintained bits EQUAL the batch-built bloom of everything
  * seen, and every seen key probes true. */
class StreamingBloomSpec extends SparkSpec {
  import spark.implicits._

  test("incrementally-merged bloom equals the batch bloom of all data") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("bloom_idx").toFile.getAbsolutePath
    val idxPath = s"$dir/index"
    val n = 2000L // final-corpus sizing, fixed across every batch

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "key")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val bb = BloomMembership.sketch(batch, "key", n).get
        val merged =
          if (new java.io.File(idxPath).exists())
            BloomMembership.merge(
              ss.read.parquet(idxPath).head().getAs[Array[Byte]](0), bb)
          else bb
        ss.createDataset(Seq(merged)).toDF("bloom")
          .write.mode("overwrite").parquet(idxPath)
        ()
      }
      .start()
    val all = (1L to 600L).map(i => (i, s"url-$i"))
    try {
      all.grouped(150).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
        // at-least-once replay: OR-idempotent, bits unchanged
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(idxPath).head().getAs[Array[Byte]](0)
    val batchMode = BloomMembership.sketch(all.toDF("id", "key"), "key", n).get
    assert(java.util.Arrays.equals(streamed, batchMode),
      "merged bloom must equal the batch bloom of the union")
    // and the maintained index answers the frontier question
    val probe = (550L to 650L).map(i => (i, s"url-$i")).toDF("id", "key")
    val seen = BloomMembership.flagSeen(probe, Seq(streamed), "key", "maybe_seen")
      .filter($"maybe_seen").select("id").as[Long].collect().toSet
    assert((550L to 600L).toSet.subsetOf(seen), "every ingested key must probe true")
  }
}
