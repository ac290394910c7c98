package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Drift

/** Streaming drift monitor — the use t36's count tables' mergeability
  * exists for: each micro-batch builds (source, bucket) and
  * (source, token) count increments and merges them into persisted
  * stores (bounded: nBuckets·|sources| + vocab rows, whatever the
  * stream's volume); the drift card reads the stores at any point.
  * Because counts are a commutative monoid, the store after N batches
  * equals the one-shot batch counts, so the streamed card is EXACTLY
  * the batch card — the same merge-equals-batch contract the t34
  * quantile monitor pins. */
class StreamingDriftSpec extends SparkSpec {
  import spark.implicits._

  test("per-batch count merge yields exactly the one-shot drift card") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("driftstore").toString
    val (bStore, tStore) = (s"$dir/buckets", s"$dir/tokens")

    val mem = MemoryStream[(String, String)]
    val q = mem.toDF().toDF("text", "source").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Drift.foldIntoStore(bStore,
          Drift.bucketCounts(batch, "source", "text"), Seq("source", "b"), "cnt")
        Drift.foldIntoStore(tStore,
          Drift.tokenCounts(batch, "source", "text"), Seq("source", "w"), "c")
        ()
      }.start()

    val batches = Seq(
      (1 to 15).map(i => (s"web text common alpha beta $i", "a")) ++
        (1 to 10).map(i => (s"spamword spamword web $i", "c")),
      (1 to 15).map(i => (s"web text common alpha gamma $i", "b")) ++
        (1 to 10).map(i => (s"spamword spamword spamword $i", "c")),
      (1 to 5).map(i => (s"web text common beta gamma $i", "a")))
    try {
      batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = Drift.cardFromCounts(
        spark.read.parquet(bStore), spark.read.parquet(tStore))
      .collect().map(_.toString).toSeq
    val oneShot = Drift.sourceDrift(
        batches.flatten.toDF("text", "source"), "source", "text")
      .collect().map(_.toString).toSeq
    assert(streamed == oneShot)

    // boundedness: the bucket store is grid-capped, not stream-sized
    assert(spark.read.parquet(bStore).count() <= 3L * 4096)
  }

  test("kind-tagged store: foldDocsIntoStore == one-shot card; " +
      "crash states (stale twin, orphaned __old) recover") {
    val dir = Files.createTempDirectory("driftstore2").toString
    val store = s"$dir/store"
    val batches = Seq(
      Seq(("web text common alpha beta", "a"), ("spamword spamword web", "c")),
      Seq(("web text common alpha gamma", "b"), ("spamword spamword spam", "c")))
    batches.foreach { rows =>
      Drift.foldDocsIntoStore(store, rows.toDF("text", "source"),
        "source", "text")
    }
    def card() = Drift.cardFromStore(spark, store)
      .collect().map(_.toSeq).toSeq
    val expect = Drift.sourceDrift(
        batches.flatten.toDF("text", "source"), "source", "text")
      .collect().map(_.toSeq).toSeq
    assert(card() == expect, "N folds must equal the one-shot card")

    // crash A: a later fold died mid-twin-write — garbage twin beside
    // an intact target must be discarded, not read
    val twin = new java.io.File(s"${store}__compact")
    assert(twin.mkdir())
    java.nio.file.Files.write(twin.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(card() == expect, "stale twin must not shadow the store")
    assert(!twin.exists(), "recovery must clear the stale twin")

    // crash B: __old left alone (outside the protocol's reachable
    // states) — it holds the last complete store; restore it
    assert(new java.io.File(store).renameTo(new java.io.File(s"${store}__old")))
    assert(card() == expect, "orphaned __old must restore the store")
    // and the next fold proceeds normally on the recovered target
    Drift.foldDocsIntoStore(store,
      Seq(("web text common beta", "a")).toDF("text", "source"),
      "source", "text")
    assert(card() != expect, "post-recovery fold must land")
  }

  test("append-only store: compactStore folds the per-batch " +
      "increments to one row per key; the card is invariant") {
    val dir = Files.createTempDirectory("driftstore4").toString
    val store = s"$dir/store"
    val batches = Seq(
      Seq(("web text common alpha beta", "a"), ("spamword spamword web", "c")),
      Seq(("web text common alpha gamma", "b"), ("spamword spamword spam", "c")),
      Seq(("web text common beta", "a")))
    batches.foreach { rows =>
      Drift.foldDocsIntoStore(store, rows.toDF("text", "source"),
        "source", "text")
    }
    def card() = Drift.cardFromStore(spark, store)
      .collect().map(_.toSeq).toSeq
    val before = card()
    // shared tokens across batches -> duplicate key rows pre-compact
    val raw = spark.read.parquet(store)
    assert(raw.count() >
      raw.select("kind", "source", "k").distinct().count(),
      "appended increments should carry duplicate key rows")
    Drift.compactStore(spark, store)
    assert(card() == before, "compaction must not move the card")
    val compacted = spark.read.parquet(store)
    assert(compacted.count() ==
      compacted.select("kind", "source", "k").distinct().count(),
      "compacted store must hold one row per key")
    assert(!new java.io.File(s"${store}__compact").exists() &&
      !new java.io.File(s"${store}__old").exists())
    // and folds keep landing after compaction
    Drift.foldDocsIntoStore(store,
      Seq(("web text common alpha", "b")).toDF("text", "source"),
      "source", "text")
    assert(card() != before)
  }

  test("an older store's bucket rows are ignored on read and dropped by " +
      "the next compaction; folds keep landing on it") {
    val dir = Files.createTempDirectory("driftstore5").toString
    val store = s"$dir/store"
    val b1 = Seq(("web text common alpha beta", "a"),
      ("spamword spamword web", "c")).toDF("text", "source")
    val b2 = Seq(("web text common beta", "a")).toDF("text", "source")
    // an increment in the older two-kind layout: bucket rows beside the
    // token rows, both tagged by kind
    Drift.bucketCounts(b1, "source", "text")
      .select(lit("b").as("kind"), col("source"),
        col("b").cast("string").as("k"), col("cnt"))
      .write.parquet(store)
    Drift.foldDocsIntoStore(store, b1, "source", "text")
    Drift.foldDocsIntoStore(store, b2, "source", "text")
    def card() = Drift.cardFromStore(spark, store).collect().map(_.toSeq).toSeq
    val expect = Drift.sourceDrift(b1.unionByName(b2), "source", "text")
      .collect().map(_.toSeq).toSeq
    assert(card() == expect)
    Drift.compactStore(spark, store)
    assert(card() == expect, "compaction must not move the card")
    val kinds = spark.read.parquet(store).select("kind").distinct()
      .as[String].collect().toSeq
    assert(kinds == Seq("t"), s"compaction left kinds $kinds")
  }

  test("retired two-subdir drift store fails loudly: the error names " +
      "the store, no fold is written") {
    val dir = Files.createTempDirectory("driftstore3").toString
    val store = s"$dir/store"
    val b1 = Seq(("web text common alpha beta", "a"),
      ("spamword spamword web", "c")).toDF("text", "source")
    // the pre-r15 layout: two separate count tables under the store
    Drift.bucketCounts(b1, "source", "text")
      .write.parquet(s"$store/buckets")
    Drift.tokenCounts(b1, "source", "text")
      .write.parquet(s"$store/tokens")
    val before = fileTree(dir)

    val calls = Seq[() => Unit](
      () => Drift.foldDocsIntoStore(store, b1, "source", "text"),
      () => { Drift.cardFromStore(spark, store); () },
      () => Drift.compactStore(spark, store))
    for (call <- calls) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(store), e.getMessage)
      assert(fileTree(dir) == before, "the retired store must be left as it was")
    }
  }
}
