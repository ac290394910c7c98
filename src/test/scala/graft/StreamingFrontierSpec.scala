package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.BloomMembership

/** The crawl FRONTIER loop end to end (t32 × D14, r11): raw URLs
  * stream in; each micro-batch canonicalizes
  * (`TextOps.canonicalizeUrl` — chrome variants of one page share a
  * key), drops everything the persisted frontier bloom has seen,
  * emits only definitely-new fetch work, and OR-merges its own keys
  * into the bloom. Frontier state is ONE mergeable binary sketch —
  * no corpus rescan per batch. Bloom false positives (lost work at
  * fpp) are the documented trade; false negatives cannot happen, so
  * no page is ever fetched twice. Scheme is identity-bearing:
  * http://x and https://x are different fetches by contract. */
class StreamingFrontierSpec extends SparkSpec {
  import spark.implicits._

  test("frontier loop: canonical dedup across batches, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("frontier").toFile.getAbsolutePath
    val bloomPath = s"$dir/bloom"
    val outPath = s"$dir/fetch_queue"

    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("url")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        import ss.implicits._
        val canon = batch
          .select(TextOps.canonicalizeUrl(col("url")).as("canon_url"))
          .dropDuplicates("canon_url") // within-batch chrome variants
        val prevBytes =
          if (new java.io.File(bloomPath).exists())
            Some(ss.read.parquet(bloomPath).as[Array[Byte]].head())
          else None
        val fresh = BloomMembership
          .definitelyNew(canon, prevBytes.toSeq, "canon_url")
          .localCheckpoint(true)
        fresh.write.mode("append").parquet(outPath)
        val newBytes = BloomMembership.sketch(fresh, "canon_url", 10000L)
        (prevBytes ++ newBytes).reduceOption(BloomMembership.merge)
          .foreach(merged => Seq(merged).toDF("bloom")
            .write.mode("overwrite").parquet(bloomPath))
        ()
      }
      .start()
    try {
      // batch 1: two pages, one wrapped in chrome (case, www, :443,
      // tracking param, fragment)
      mem.addData(
        "HTTPS://WWW.Site.com:443/a?utm_source=x#top",
        "https://site.com/b")
      q.processAllAvailable()
      // batch 2: /a again under different chrome (cut), the SAME path
      // over http (a different fetch — scheme is identity), one new page
      mem.addData(
        "https://site.com/a?ref=tw",
        "http://site.com/a",
        "https://site.com/c")
      q.processAllAvailable()
      // batch 3: replay batch 2 verbatim — the frontier must go quiet
      mem.addData(
        "https://site.com/a?ref=tw",
        "http://site.com/a",
        "https://site.com/c")
      q.processAllAvailable()

      val emitted = spark.read.parquet(outPath).as[String].collect().toSeq
      assert(emitted.size == emitted.distinct.size,
        s"no canon URL may be fetched twice: $emitted")
      assert(emitted.toSet == Set(
        "https://site.com/a", "https://site.com/b",
        "http://site.com/a", "https://site.com/c"),
        s"unexpected fetch queue: $emitted")
    } finally q.stop()
  }

  /** Engine-native frontier on the PRODUCTION state backend (VERDICT
    * r11 item 6): canonicalize → streaming `dropDuplicates` — the
    * seen-set is unbounded keyed state, exactly what the RocksDB
    * provider exists for (heap state caps the frontier at executor
    * memory; RocksDB spills it to disk). Exact, no bloom false
    * positives — the trade against the sketch loop above is state
    * size (all keys) vs fpp-lost work. Same three batches as the
    * bloom loop, including the verbatim replay: every canon URL must
    * come out exactly once, ever. */
  test("engine-native frontier: streaming dropDuplicates on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    // the recommended-confs helper is the production entry point
    // (VERDICT r18 item 4): it must select the RocksDB provider AND
    // changelog checkpointing — the knob that keeps per-batch commit
    // cost batch-sized instead of state-sized
    val keys = graft.streaming.StreamConfs.rocksDbRecommended.keys.toSeq
    val prevs = keys.map(k => k -> spark.conf.getOption(k)).toMap
    graft.streaming.StreamConfs.applyRocksDb(spark)
    assert(spark.conf.get("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled") == "true")
    try {
      val mem = MemoryStream[String]
      val q = mem.toDF().toDF("url")
        .select(TextOps.canonicalizeUrl(col("url")).as("canon_url"))
        .dropDuplicates("canon_url")
        .writeStream.format("memory").queryName("frontier_rocks")
        .outputMode("append").start()
      try {
        mem.addData(
          "HTTPS://WWW.Site.com:443/a?utm_source=x#top",
          "https://site.com/b")
        q.processAllAvailable()
        mem.addData(
          "https://site.com/a?ref=tw",
          "http://site.com/a",
          "https://site.com/c")
        q.processAllAvailable()
        mem.addData( // replay batch 2 verbatim — must emit nothing
          "https://site.com/a?ref=tw",
          "http://site.com/a",
          "https://site.com/c")
        q.processAllAvailable()
        val emitted = spark.table("frontier_rocks").as[String].collect().toSeq
        assert(emitted.size == emitted.distinct.size,
          s"no canon URL may be emitted twice: $emitted")
        assert(emitted.toSet == Set(
          "https://site.com/a", "https://site.com/b",
          "http://site.com/a", "https://site.com/c"),
          s"unexpected frontier output: $emitted")
      } finally q.stop()
    } finally {
      prevs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
