package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.ShardSink
import graft.streaming.CorpusIngest

/** p10 — the full ingest loop as ONE streaming pipeline, proven by
  * differential: the same rows through (a) three micro-batches with
  * persisted bloom state and (b) the batch twin (ingestBatch once on
  * the union) must ship the identical survivor set into shards with
  * identical manifests. Every drop reason is planted: in-batch URL
  * chrome variant, in-batch text dup, cross-batch URL dup, cross-batch
  * text dup, Gopher-gate failure, full replay of a batch. */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private val stops = ("the be to of and that have with " * 8).trim
  private def good(i: Long) =
    s"$stops alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"

  test("streaming pipeline == batch twin; all planted drops happen") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest").toString
    val (ub, tb, shards) = (s"$dir/url_bloom", s"$dir/text_bloom", s"$dir/shards")

    val b1 = Seq(
      (1L, "https://site.com/p1"), (2L, "https://site.com/p2"),
      (3L, "https://site.com/p3"), (4L, "https://site.com/p4"),
      (5L, "https://site.com/p5"), (6L, "https://site.com/p6"),
      (7L, "https://site.com/p7"), (8L, "https://site.com/p8"),
      (9L, "https://site.com/p9"), (10L, "https://site.com/p10"))
      .map { case (id, u) => (u, id, good(id)) } ++ Seq(
      // chrome variant of p1 → in-batch URL dup, min doc_id (1) wins
      ("HTTPS://WWW.site.com:443/p1?utm_source=x#f", 11L, good(11)),
      // same text as doc 2 under a new URL → in-batch text dup
      ("https://site.com/p12", 12L, good(2)))
    val b2 = Seq(
      ("https://site.com/p3?ref=tw", 13L, good(13)), // cross-batch URL dup
      ("https://site.com/p14", 14L, good(4)),        // cross-batch text dup
      ("https://site.com/p15", 15L, good(15)),       // genuinely new
      ("https://site.com/p16", 16L, "too few words")) // Gopher gate
    val b3 = b2 // full replay: the loop must go quiet

    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards, numShards = 4)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val expected = ((1L to 10L) :+ 15L).toSet
    val streamed = spark.read.parquet(shards)
    assert(streamed.select("doc_id").as[Long].collect().toSet == expected)

    // batch twin over the union, fresh state
    val (ub2, tb2, shards2) = (s"$dir/u2", s"$dir/t2", s"$dir/s2")
    CorpusIngest.ingestBatch((b1 ++ b2 ++ b3).toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 4)
    val batch = spark.read.parquet(shards2)
    assert(batch.select("doc_id").as[Long].collect().toSet == expected)

    // identical shard rows (id, url, text, rank, shard) and manifests
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon(streamed) == canon(batch))
    assert(ShardSink.manifestsFromDisk(spark, shards, "doc_id")
      .collect().map(_.toSeq).toSeq ==
      ShardSink.manifestsFromDisk(spark, shards2, "doc_id")
        .collect().map(_.toSeq).toSeq)

    // training order within the union of a shard's files: resume read
    // from rank -1 must be rk-sorted and complete for that shard
    val s0 = ShardSink.resumeShard(spark, shards, 0, -1L)
      .select("rk").as[Long].collect()
    assert(s0.sorted.sameElements(s0) && s0.nonEmpty)
  }

  test("trained quality gate + drift fold: streamed == batch twin, " +
      "classifier drops Gopher-passing spam, drift card == batch card") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_full").toString
    val (ub, tb, shards, dd) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/drift")

    // mixed-pool docs (the QualityClassifierSpec generator) shaped to
    // pass the Gopher gate (≥50 words, ≥2 mid-text stopwords, mean
    // word length 3–10): spam and clean docs share the SAME shape —
    // only the trained classifier can tell them apart
    val spamPool = Seq("buy", "pills", "click", "winner", "free")
    val cleanPool = Seq("model", "data", "train", "corpus", "learn",
      "token", "text", "sample")
    def mkDoc(i: Long, spam: Boolean): String = {
      val rnd = new scala.util.Random(i * 7919 + (if (spam) 1 else 0))
      val pool = if (spam) spamPool ++ cleanPool.take(3) else cleanPool
      val ws = (1 to 48).map(_ => pool(rnd.nextInt(pool.size)))
      s"${ws.take(16).mkString(" ")} the ${ws.slice(16, 32).mkString(" ")} " +
        s"and the ${ws.drop(32).mkString(" ")}"
    }
    def clean(i: Long) = mkDoc(i, spam = false)
    def spammy(i: Long) = mkDoc(i, spam = true)

    // offline training run on a labeled sample (disjoint doc ids)
    val trainDf = (0 until 150)
      .map(i => (2000L + i, mkDoc(2000L + i, i % 2 == 1),
        if (i % 2 == 1) 0.0 else 1.0))
      .toDF("doc_id", "text", "y")
    val (bias, w) = graft.operators.QualityClassifier.train(
      trainDf, "doc_id", "text", "y", nBuckets = 256, epochs = 25, lr = 1.0)
    val gate = Some(CorpusIngest.QualityGate(bias, w, threshold = 0.5))

    // two source hosts so the drift card is per-source nontrivial
    def url(host: String, i: Long) = s"https://$host/doc$i"
    val b1 = Seq(
      (url("alpha.com", 1), 1L, clean(1)), (url("alpha.com", 2), 2L, clean(2)),
      (url("beta.org", 3), 3L, clean(3)),
      (url("beta.org", 4), 4L, spammy(4)),      // Gopher passes, gate drops
      (url("alpha.com", 5), 5L, "too few words")) // Gopher drops
    val b2 = Seq(
      (url("alpha.com", 6), 6L, clean(6)),
      (url("beta.org", 7), 7L, spammy(7)),      // gate drop, batch 2
      (url("alpha.com", 1) + "?utm_source=x", 8L, clean(8)), // URL dup
      (url("beta.org", 9), 9L, clean(2)))       // cross-batch text dup

    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards,
      numShards = 4, qualityGate = gate, driftDir = Some(dd))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val expected = Set(1L, 2L, 3L, 6L)
    val streamed = spark.read.parquet(shards)
    assert(streamed.select("doc_id").as[Long].collect().toSet == expected)

    // batch twin, fresh state, both stages on
    val (ub2, tb2, shards2, dd2) = (s"$dir/u2", s"$dir/t2", s"$dir/s2", s"$dir/d2")
    CorpusIngest.ingestBatch((b1 ++ b2).toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 4, qualityGate = gate,
      driftDir = Some(dd2))
    val batch = spark.read.parquet(shards2)
    assert(batch.select("doc_id").as[Long].collect().toSet == expected)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon(streamed) == canon(batch))

    // the t36 card off the streamed store == the batch twin's card
    // (counts monoid), with both source hosts present
    val cardS = CorpusIngest.driftCard(spark, dd).collect().map(_.toSeq).toSeq
    val cardB = CorpusIngest.driftCard(spark, dd2).collect().map(_.toSeq).toSeq
    assert(cardS == cardB)
    assert(cardS.map(_.head).toSet == Set("alpha.com", "beta.org"))
  }

  test("encoding-repair stage: a mojibake variant repairs, passes the " +
      "gates on its REPAIRED text, and dedups against its clean twin") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_moj").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")

    // clean doc planted with an accent; the crawler saw the mojibake
    // form (é -> C3 A9 read as Latin-1 -> "Ã©")
    def accented(i: Long) = s"$stops café$i alpha$i beta$i gamma$i delta$i"
    def mojibake(i: Long) = s"$stops cafÃ©$i alpha$i beta$i gamma$i delta$i"

    val b1 = Seq(
      ("https://site.com/m1", 1L, mojibake(1)),  // repairs, ships as accented(1)
      ("https://site.com/p2", 2L, good(2)))
    val b2 = Seq(
      // clean twin of the repaired doc 1 under a NEW url: the repair
      // ran BEFORE the text hash, so this is a cross-batch exact dup
      ("https://site.com/p3", 3L, accented(1)),
      ("https://site.com/p4", 4L, good(4)))

    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards,
      numShards = 4, repairEncoding = true)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(shards)
    assert(streamed.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the shipped text is the REPAIRED form, byte-exact
    assert(streamed.filter(col("doc_id") === 1L)
      .select("text").as[String].head() == accented(1))

    // batch twin with the stage on: identical shards
    val (ub2, tb2, shards2) = (s"$dir/u2", s"$dir/t2", s"$dir/s2")
    CorpusIngest.ingestBatch((b1 ++ b2).toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 4, repairEncoding = true)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon(streamed) == canon(spark.read.parquet(shards2)))
  }

  test("near-dup gate: in-batch keep-first, cross-batch drop via the " +
      "persisted index, index holds exactly the shipped corpus; " +
      "streamed == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_nd").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    val nd = Some(CorpusIngest.NearDupGate(idx))

    // near-variants share the long stops prefix + most unique tokens —
    // high shingle Jaccard, well over the 8-band default
    def variant(i: Long) = good(1) + s" tail$i"
    val b1 = Seq(
      ("https://site.com/p1", 1L, good(1)),
      ("https://site.com/p2", 2L, variant(2)),   // in-batch near-dup of 1
      ("https://site.com/p3", 3L, good(3)))
    val b2 = Seq(
      ("https://site.com/p4", 4L, variant(4)),   // cross-batch near-dup
      ("https://site.com/p5", 5L, good(5)))

    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards,
      numShards = 4, nearDup = nd)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val expected = Set(1L, 3L, 5L)
    val streamed = spark.read.parquet(shards)
    assert(streamed.select("doc_id").as[Long].collect().toSet == expected)
    // the persisted index holds exactly the shipped docs' band rows
    assert(spark.read.parquet(idx).select("doc").as[Long]
      .collect().toSet == expected)

    // batch twin, fresh state: doc 4 now drops by the IN-batch rule
    // (smaller-id collision with 1) — same survivors either way
    val (ub2, tb2, shards2, idx2) =
      (s"$dir/u2", s"$dir/t2", s"$dir/s2", s"$dir/i2")
    CorpusIngest.ingestBatch((b1 ++ b2).toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 4,
      nearDup = Some(CorpusIngest.NearDupGate(idx2)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon(streamed) == canon(spark.read.parquet(shards2)))
    assert(spark.read.parquet(idx2).select("doc").as[Long]
      .collect().toSet == expected)
  }

  test("nearDupDrops: bands count PER PAIR (not summed across " +
      "partners) and the replayed index is distincted before the probe") {
    // synthetic (doc, band, bucket) rows — 16 bands per doc
    def doc(id: Long, bucketAt: Int => Long): Seq[(Long, Int, Long)] =
      (0 until 16).map(b => (id, b, bucketAt(b)))
    val uniq = (id: Long) => (b: Int) => id * 1000L + b
    val batch = (
      doc(1L, b => if (b < 4) 100L + b
        else if (b >= 8) 300L + b else uniq(1L)(b)) ++
      doc(2L, b => if (b >= 4 && b < 8) 200L + b else uniq(2L)(b)) ++
      // doc 10: 4 bands vs doc 1 + 4 bands vs doc 2 = 8 summed, but
      // each PAIR is below the threshold — must survive
      doc(10L, b => if (b < 4) 100L + b
        else if (b < 8) 200L + b else uniq(10L)(b)) ++
      // doc 20: 8 bands vs doc 1 alone — must drop
      doc(20L, b => if (b >= 8) 300L + b else uniq(20L)(b)) ++
      doc(30L, b => if (b < 8) 400L + b else uniq(30L)(b)) ++
      doc(31L, b => if (b < 4) 500L + b else uniq(31L)(b))
    ).toDF("doc", "band", "bucket")
    // corpus: doc 99 hits batch doc 30 on 8 bands (drop); doc 98 hits
    // batch doc 31 on only 4 bands but its rows are REPLAYED twice —
    // without the distinct defense the count would double to 8
    val corpus = (
      doc(99L, b => if (b < 8) 400L + b else uniq(99L)(b)) ++
      doc(98L, b => if (b < 4) 500L + b else uniq(98L)(b)) ++
      doc(98L, b => if (b < 4) 500L + b else uniq(98L)(b))
    ).toDF("doc", "band", "bucket")
    val drops = CorpusIngest.nearDupDrops(batch, batch.count(), corpus,
        minBands = 8)
      .as[Long].collect().toSet
    assert(drops == Set(20L, 30L))
    // over the broadcast cap the narrowing falls back to a shuffled
    // semi-join — same drop set, only the physical form changes
    val dropsShuffled = CorpusIngest.nearDupDrops(batch, batch.count(),
        corpus, minBands = 8, maxBroadcastKeys = 0L)
      .as[Long].collect().toSet
    assert(dropsShuffled == drops)
  }

  test("exact-text copies defense: the same doc_id with identical " +
      "text under two canonical urls ships exactly once") {
    val dir = Files.createTempDirectory("ingest_tdup").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    // two urls that canonicalize DIFFERENTLY, one doc_id, one text —
    // the URL stage keeps both rows (different canon groups); the
    // exact-text stage must collapse them like the old groupBy did
    val b = Seq(
      ("https://a-site.com/x", 7L, good(7)),
      ("https://b-site.com/x", 7L, good(7)),
      ("https://site.com/p1", 1L, good(1)))
      .toDF("url", "doc_id", "text")
    val n = CorpusIngest.ingestBatch(b, ub, tb, shards, numShards = 2)
    assert(n == 2L, s"shipped $n rows; the doc_id-7 pair must collapse")
    val rows = spark.read.parquet(shards)
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    // deterministic winner: min canonical url (the old min-struct rule)
    assert(rows.toSeq == Seq((1L, "https://site.com/p1"),
      (7L, "https://a-site.com/x")), rows.mkString(","))
  }

  test("partial epoch write never wedges or shadows the store: " +
      "commit-less epoch debris is pruned and the frontier still gates") {
    val dir = Files.createTempDirectory("ingest_partial").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    val b1 = (1 to 4).map(i => (s"https://site.com/p$i", i.toLong, good(i.toLong)))
      .toDF("url", "doc_id", "text")
    assert(CorpusIngest.ingestBatch(b1, ub, tb, shards, numShards = 2) == 4L)
    // plant the crash states of fold twins that died before their
    // parquet commit (only _temporary debris inside — no committed data
    // file): one beside the committed epoch 0, and one alone for an
    // epoch 1 that the twin-alone recovery rule promotes to a
    // commit-less epoch dir
    for (twin <- Seq("epoch=0__compact", "epoch=1__compact")) {
      val debris = new java.io.File(ub, s"$twin/_temporary")
      assert(debris.mkdirs())
      java.nio.file.Files.write(debris.toPath.resolve("attempt_0"),
        Array[Byte](1, 2, 3))
    }

    // replaying batch 1 must still ship 0: the debris is dropped, the
    // promoted-but-empty epoch dir is pruned, epoch 0 stays
    // authoritative
    assert(CorpusIngest.ingestBatch(b1, ub, tb, shards, numShards = 2) == 0L)
    // and a fresh batch ships and folds into epoch 0
    val b2 = (11 to 14).map(i => (s"https://site.com/p$i", i.toLong, good(i.toLong)))
      .toDF("url", "doc_id", "text")
    assert(CorpusIngest.ingestBatch(b2, ub, tb, shards, numShards = 2) == 4L)
    val names = new java.io.File(ub).listFiles().map(_.getName)
    assert(names.toSet == Set("epoch=0"), names.mkString(","))
    assert(CorpusIngest.ingestBatch(b1.unionByName(b2), ub, tb, shards,
      numShards = 2) == 0L)
  }

  test("retired store layouts fail loudly: a pre-epoch bloom root or a " +
      "two-subdir drift store is named in the error, no shard or fold is written") {
    val dir = Files.createTempDirectory("ingest_retired").toString
    val b1 = (1 to 5).map(i => (s"https://site.com/p$i", i.toLong, good(i.toLong)))
      .toDF("url", "doc_id", "text")

    // the pre-epoch bloom layout: one 1-row parquet at the store root
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    Seq(Option(Array[Byte](1, 2, 3))).toDF("bloom").write.parquet(ub)
    val ubBefore = fileTree(ub)
    val e1 = intercept[IllegalStateException](
      CorpusIngest.ingestBatch(b1, ub, tb, shards, numShards = 2))
    assert(e1.getMessage.contains(ub), e1.getMessage)
    assert(fileTree(ub) == ubBefore, "no epoch may be folded into the store")
    assert(!new java.io.File(shards).exists() && !new java.io.File(tb).exists())

    // the pre-r15 drift layout, reached through the ingest loop: it
    // fails at state load, before the shard write
    val (ub2, tb2, shards2, dd) =
      (s"$dir/ub2", s"$dir/tb2", s"$dir/shards2", s"$dir/drift")
    Seq((1L, "a")).toDF("b", "source").write.parquet(s"$dd/buckets")
    val ddBefore = fileTree(dd)
    val e2 = intercept[IllegalStateException](
      CorpusIngest.ingestBatch(b1, ub2, tb2, shards2, numShards = 2,
        driftDir = Some(dd)))
    assert(e2.getMessage.contains(dd), e2.getMessage)
    assert(fileTree(dd) == ddBefore, "no drift increment may be appended")
    assert(Seq(ub2, tb2, shards2).forall(p => !new java.io.File(p).exists()))
  }

  test("ALL optional stages on at once: one planted drop per stage, " +
      "no interference; streamed == batch twin incl. drift card") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_all").toString
    val (ub, tb, shards, dd, nidx) = (s"$dir/ub", s"$dir/tb", s"$dir/shards",
      s"$dir/drift", s"$dir/ndidx")

    // the trained-gate generator from the earlier test (shared shape)
    val spamPool = Seq("buy", "pills", "click", "winner", "free")
    val cleanPool = Seq("model", "data", "train", "corpus", "learn",
      "token", "text", "sample")
    def mkDoc(i: Long, spam: Boolean): String = {
      val rnd = new scala.util.Random(i * 7919 + (if (spam) 1 else 0))
      val pool = if (spam) spamPool ++ cleanPool.take(3) else cleanPool
      val ws = (1 to 48).map(_ => pool(rnd.nextInt(pool.size)))
      s"${ws.take(16).mkString(" ")} the ${ws.slice(16, 32).mkString(" ")} " +
        s"and the ${ws.drop(32).mkString(" ")} café$i"
    }
    val trainDf = (0 until 150)
      .map(i => (3000L + i, mkDoc(3000L + i, i % 2 == 1),
        if (i % 2 == 1) 0.0 else 1.0)).toDF("doc_id", "text", "y")
    val (bias, w) = graft.operators.QualityClassifier.train(
      trainDf, "doc_id", "text", "y", nBuckets = 256, epochs = 25, lr = 1.0)
    val gate = Some(CorpusIngest.QualityGate(bias, w))
    val nd = Some(CorpusIngest.NearDupGate(nidx, minBands = 8))

    def url(h: String, i: Long) = s"https://$h/d$i"
    val clean1 = mkDoc(1, spam = false)
    val b1 = Seq(
      (url("a.com", 1), 1L, clean1),
      (url("a.com", 2), 2L, mkDoc(2, spam = false)),
      (url("b.org", 3), 3L, mkDoc(3, spam = true)),        // classifier drop
      (url("b.org", 4), 4L, "too few words"))              // Gopher drop
    val b2 = Seq(
      // mojibake twin of doc 1: repairs, then exact-dedups against it
      (url("a.com", 5), 5L, clean1.replace("café", "cafÃ©")),
      (url("b.org", 6), 6L, clean1 + " tailzz"),           // near-dup drop
      (url("a.com", 1) + "?utm_source=x", 7L, mkDoc(7, spam = false)), // URL dup
      (url("b.org", 8), 8L, mkDoc(8, spam = false)))       // ships

    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards,
      numShards = 4, qualityGate = gate, driftDir = Some(dd),
      repairEncoding = true, nearDup = nd)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val expected = Set(1L, 2L, 8L)
    val streamed = spark.read.parquet(shards)
    assert(streamed.select("doc_id").as[Long].collect().toSet == expected)

    val (ub2, tb2, shards2, dd2, nidx2) = (s"$dir/u2", s"$dir/t2",
      s"$dir/s2", s"$dir/d2", s"$dir/n2")
    CorpusIngest.ingestBatch((b1 ++ b2).toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 4, qualityGate = gate,
      driftDir = Some(dd2), repairEncoding = true,
      nearDup = Some(CorpusIngest.NearDupGate(nidx2, minBands = 8)))
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon2(streamed) == canon2(spark.read.parquet(shards2)))
    assert(CorpusIngest.driftCard(spark, dd).collect().map(_.toSeq).toSeq ==
      CorpusIngest.driftCard(spark, dd2).collect().map(_.toSeq).toSeq)
  }

  test("auto-compaction: compactEvery through start folds per-batch " +
      "files to one per shard; rows, manifests and resume invariant") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_compact").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")

    // 4 batches × 4 docs, ids spread over both shards
    val batches = (0 until 4).map { b =>
      (1 to 4).map { i =>
        val id = b * 10L + i
        (s"https://site.com/p$id", id, good(id))
      }
    }
    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(
      mem.toDF().toDF("url", "doc_id", "text"), ub, tb, shards,
      numShards = 2, compactEvery = 2)
    try {
      batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()

    // compaction ran after batches 2 and 4 → exactly one data file per
    // shard dir (4 appends would have left ≥4 without it)
    val shardDirs = new java.io.File(shards).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == 2)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${d.getName} has ${files.length} files after auto-compaction")
    }
    // and no scratch dirs left behind by the swaps
    assert(!new java.io.File(shards).listFiles()
      .exists(f => f.getName.contains("__compact") || f.getName.contains("__old")))

    // content invariant vs the batch twin (fresh state, no compaction)
    val (ub2, tb2, shards2) = (s"$dir/u2", s"$dir/t2", s"$dir/s2")
    CorpusIngest.ingestBatch(batches.flatten.toDF("url", "doc_id", "text"),
      ub2, tb2, shards2, numShards = 2)
    def canon3(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "rk", "doc_id", "canon_url", "text")
        .orderBy("shard", "rk").collect().map(_.toSeq).toSeq
    assert(canon3(spark.read.parquet(shards)) ==
      canon3(spark.read.parquet(shards2)))
    assert(ShardSink.manifestsFromDisk(spark, shards, "doc_id")
      .collect().map(_.toSeq).toSeq ==
      ShardSink.manifestsFromDisk(spark, shards2, "doc_id")
        .collect().map(_.toSeq).toSeq)
    val s0 = ShardSink.resumeShard(spark, shards, 0, -1L)
      .select("rk").as[Long].collect()
    assert(s0.sorted.sameElements(s0) && s0.nonEmpty)
  }

  test("near-dup index auto-compaction: compactEvery folds the " +
      "per-batch band-row files to one clustered file; the compacted " +
      "index still gates cross-batch near-dups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_idxc").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    // 5 single-doc batches, all distinct -> 5 index appends; the
    // STAGGERED cadence (phase 1 = index, offset 1) compacts after
    // batches 3 and 5 — so the run must end ON an index firing batch
    // for the one-file assertion to hold
    val batches = (0 until 5).map { b =>
      Seq((s"https://site.com/g$b", 10L * b + 1, good(100L + b)))
    }
    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(mem.toDF().toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2,
      nearDup = Some(CorpusIngest.NearDupGate(idx)), compactEvery = 2)
    try {
      batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    } finally q.stop()

    // two generations after two compactions: the first pass clusters
    // the whole (young) tail into generation 0, the second clusters
    // ONLY the new tail into generation 1, leaving gen 0 untouched
    // (r19 — every pause is tail-bounded, not store-bounded)
    val files = new java.io.File(idx).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 2, s"index has ${files.length} files")
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.contains("__compact") ||
        f.getName.contains("__old") || f.getName.contains("__tier")))
    // content invariant: exactly the shipped docs' band rows
    assert(spark.read.parquet(idx).select("doc").as[Long].collect().toSet ==
      Set(1L, 11L, 21L, 31L, 41L))

    // the compacted index still gates: a near-variant of batch 0's
    // good(100) doc (shipped as doc 1) must drop cross-batch
    val n = CorpusIngest.ingestBatch(
      Seq(("https://site.com/x", 999L, good(100L) + " tail9"))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2,
      nearDup = Some(CorpusIngest.NearDupGate(idx)))
    assert(n == 0L, s"near-dup shipped $n docs against the compacted index")
  }

  test("frontier-bloom compaction through start()'s compactEvery " +
      "cadence: a chain grown past the trigger collapses mid-stream, " +
      "replayed shipped docs still ship nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_bloomcs").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    // 600 urls per batch into 1000-sized blooms roll the chain every
    // ~1.5 batches → well past the >2 trigger by batch 8, when the
    // STAGGERED bloom phase (offset 3 on the compactEvery=5 cadence)
    // first fires — the run ends ON that firing batch so the
    // single-epoch assertion observes the rebuild directly
    def rows(b: Int) = (1 to 600)
      .map(i => (s"https://site.com/b$b/p$i", b * 10000L + i,
        good(b * 10000L + i)))
    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(mem.toDF().toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 1000L,
      compactEvery = 5)
    try {
      (1 to 8).foreach { b => mem.addData(rows(b): _*); q.processAllAvailable() }
    } finally q.stop()
    def epochDirs(p: String) = new java.io.File(p).listFiles()
      .map(_.getName).filter(_.matches("epoch=\\d+")).sorted.toSeq
    assert(epochDirs(ub) == Seq("epoch=0"),
      s"stream-cadence compaction left ${epochDirs(ub).mkString(",")}")
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.contains("__compact") || f.getName.contains("__old")))
    // replaying a shipped batch against the rebuilt chain (batch form,
    // fresh of the stream) must ship no duplicate
    val shipped = spark.read.parquet(shards).count()
    CorpusIngest.ingestBatch(rows(2).toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 1000L)
    assert(spark.read.parquet(shards)
      .select("canon_url").distinct().count() ==
      spark.read.parquet(shards).count(),
      "replay across the stream-compacted frontier shipped a duplicate")
    // anything the replay ships is an fp-heal (a doc the old chain
    // dropped on a bloom false positive) — bounded by the chained-fpp
    // budget, far under the batch size
    assert(spark.read.parquet(shards).count() <= shipped + 30,
      "replay shipped more than the fp-healing allowance")
  }

  test("tiered index probe: after compaction the per-batch scan is " +
      "bounded by the batch — zero base files for a no-collision " +
      "batch, a pruned subset for a planted collision; gate " +
      "decisions identical with and without the sidecar") {
    val dir = Files.createTempDirectory("ingest_tiered").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    val nd = Some(CorpusIngest.NearDupGate(idx))
    // seed corpus: 600 distinct docs in one batch (9600 band rows —
    // enough bytes for the tiny file target below to split)
    CorpusIngest.ingestBatch(
      (1L to 600L).map(i => (s"https://site.com/p$i", i, good(i)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd)
    // compact with a tiny file target so the base splits into MANY
    // clustered files — a colliding doc's hot keys span all 16 bands,
    // so demonstrating a PRUNED read needs more files than bands
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 1024)
    val baseFiles = new java.io.File(idx).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(baseFiles > 20, s"want > 20 base files, got $baseFiles")
    assert(new java.io.File(idx + "_keys").exists(), "sidecar missing")

    def gauges(buf: Seq[(String, Double)]) =
      buf.filter(_._1.startsWith("ndidx:")).toMap
    // fresh docs with HASH-DISTINCT words: good(i)'s decimal ids alias
    // as shingle prefixes (good(1200) ⊃ good(120)'s shingles), so
    // genuinely-new docs need words that share nothing but the stops
    def fresh(i: Long) = s"$stops " + (0 until 6)
      .map(j => "u" + ((i * 2654435761L + j * 40503L) & 0xffffffL)
        .toHexString + "q" + j).mkString(" ")
    // (a) all-fresh batch: no doc can cross the minBands suspect
    // threshold (a doc-level promotion needs ≥ 8 of 16 bands hot —
    // sub-threshold vocab matches and bloom fpp can't stack that
    // high) -> the base is not read AT ALL
    val buf1 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n1 = CorpusIngest.ingestBatch(
      (1200L to 1230L).map(i => (s"https://site.com/q$i", i, fresh(i)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, stageLog = Some(buf1))
    val g1 = gauges(buf1.toSeq)
    assert(n1 >= 25L, s"fresh batch mostly ships, got $n1")
    assert(g1("ndidx:base_files") == baseFiles.toDouble)
    assert(g1("ndidx:hot_keys") == 0.0,
      s"no-collision batch promoted ${g1("ndidx:hot_keys")} suspect keys")
    assert(g1("ndidx:base_files_read") == 0.0,
      s"no-collision batch read ${g1("ndidx:base_files_read")} base files")
    assert(g1("ndidx:tail_files") == 0.0)

    // (b) planted collision against the compacted corpus: doc 999 is
    // a near-variant of shipped doc 5 -> must drop, reading only the
    // file slice its hot keys land in
    val buf2 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n2 = CorpusIngest.ingestBatch(
      Seq(("https://site.com/x", 999L, good(5L) + " tail9"),
          ("https://site.com/y", 998L, fresh(9001L)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, stageLog = Some(buf2))
    val g2 = gauges(buf2.toSeq)
    assert(n2 == 1L, s"expected only the fresh doc to ship, got $n2")
    assert(g2("ndidx:hot_keys") >= 1.0)
    // one colliding doc = ≤ 16 hot keys (one per band) = ≤ 16 files —
    // the read is bounded by the BATCH's collisions, not the corpus
    assert(g2("ndidx:base_files_read") >= 1.0 &&
        g2("ndidx:base_files_read") <= 16.0 &&
        g2("ndidx:base_files_read") < baseFiles.toDouble,
      s"collision batch read ${g2("ndidx:base_files_read")} of $baseFiles")
    // tail now holds the two appended batches (a+b survivors)
    assert(g2("ndidx:tail_files") >= 1.0)

    // (c) differential: the same probe with the sidecar REMOVED
    // (full-scan fallback) decides identically
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(idx + "_keys"))
    // the near-variant text REUSES (b)'s — the dropped doc 999's hash
    // never entered the text bloom (only survivors fold), and its
    // band collision with doc 5 is deterministic, where a different
    // good(i)+" tail9" can land at 7/16 bands and legitimately ship
    val buf3 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n3 = CorpusIngest.ingestBatch(
      Seq(("https://site.com/x2", 1999L, good(5L) + " tail9"),
          ("https://site.com/y2", 1998L, fresh(9002L)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, stageLog = Some(buf3))
    val g3 = gauges(buf3.toSeq)
    assert(n3 == 1L, s"fallback probe must gate identically, got $n3")
    assert(g3("ndidx:base_files") == 0.0 && g3("ndidx:tail_files") > 0.0,
      "without a sidecar every file is tail (the pre-r17 full scan)")
  }

  test("suspect keys past the prune cap: keys repeated across suspect " +
      "docs still prune to every base file a suspect key lands in") {
    val dir = Files.createTempDirectory("ingest_prunecap").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    CorpusIngest.ingestBatch(
      (1L to 600L).map(i => (s"https://site.com/p$i", i, good(i)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2,
      nearDup = Some(CorpusIngest.NearDupGate(idx)))
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 1024)
    val corpus = spark.read.parquet(idx)
    val Array(a, b) = corpus.groupBy("doc").count()
      .filter(col("count") === 16).select("doc").as[Long]
      .orderBy("doc").limit(2).collect()
    // 50 batch copies of corpus doc a and one of doc b: 816 suspect
    // rows over at most 32 distinct keys. With the cap at the distinct
    // count the keys fit it, but the first cap + 1 rows hold doc b's
    // keys only if its copy comes first, so distincting a capped
    // collect would prune away the base files holding doc b's keys
    def rowsOf(d: Long) = corpus.filter(col("doc") === d)
      .select("band", "bucket")
    val batchIdx = (1L to 50L).map(c => rowsOf(a).withColumn("doc", lit(10000L + c)))
      .reduce(_ unionByName _)
      .unionByName(rowsOf(b).withColumn("doc", lit(20000L)))
      .select("doc", "band", "bucket").localCheckpoint(true)
    val nKeys = batchIdx.select("band", "bucket").distinct().count()
    assert(nKeys > 16L)
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val narrowed = CorpusIngest.narrowedCorpusIndex(spark, idx, batchIdx,
      minBands = 8, stageLog = Some(buf), maxPruneKeys = nKeys)
    val g = buf.filter(_._1.startsWith("ndidx:")).toMap
    assert(g("ndidx:hot_keys") == nKeys.toDouble)
    assert(g("ndidx:base_files_read") < g("ndidx:base_files"),
      "the suspect keys fit the cap, so the base read is pruned")
    for (d <- Seq(a, b))
      assert(narrowed.filter(col("doc") === d).count() == 16L,
        s"corpus doc $d lost rows to the pruned base read")
    val drops = CorpusIngest.nearDupDrops(batchIdx, batchIdx.count(),
        narrowed, minBands = 8).as[Long].collect().toSet
    assert(drops == ((10001L to 10050L).toSet + 20000L))
  }

  test("generation-tiered index compaction: each pass clusters only " +
      "the tail into an immutable generation, gate decisions hold " +
      "across generations, and a deleted sidecar self-heals") {
    val dir = Files.createTempDirectory("ingest_gen").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    val nd = Some(CorpusIngest.NearDupGate(idx))
    import graft.sources.TieredIndex
    // fresh docs with hash-distinct vocab (see the tiered test), LONG
    // enough (30 words) that a one-word suffix variant keeps most of
    // its shingles and reliably crosses the 8/16-band drop threshold
    def fresh(i: Long) = s"$stops " + (0 until 30)
      .map(j => "v" + ((i * 2654435761L + j * 40503L) & 0xffffffL)
        .toHexString + "z" + j).mkString(" ")
    def batch(rows: Seq[(String, Long, String)]) =
      rows.toDF("url", "doc_id", "text")
    def liveNames = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    def gens = TieredIndex.load(spark, idx).get

    // seed -> the whole young tail becomes generation 0
    CorpusIngest.ingestBatch(
      batch((1L to 200L).map(i => (s"https://site.com/p$i", i, good(i)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 4096)
    val gens0 = gens
    assert(gens0.size == 1 && gens0.head.rows > 0)
    val baseNames = liveNames

    // two tail batches ship, appending two per-batch index files
    CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/a", 900L, fresh(900L)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/b", 901L, fresh(901L)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    assert(liveNames.size >= baseNames.size + 2) // ≥1 append file/batch

    // tail pass: exactly the two tail files become one new
    // generation; every gen-0 file survives BY NAME (immutable)
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 4096)
    val after = liveNames
    assert(baseNames.subsetOf(after),
      "a tail pass must not touch the prior generation")
    val gens1 = gens
    assert(gens1.size == 2, s"want 2 generations, got ${gens1.size}")
    assert(gens1.head.files == gens0.head.files,
      "generation 0 must be untouched")
    assert(gens1.flatMap(_.files.map(_.name)).toSet == after,
      "the sidecar must describe both generations")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.contains("__tier")), "staging must be gone")

    // tiering intact across generations: a quiet batch reads ZERO
    // base files and has zero tail
    def gauges(buf: Seq[(String, Double)]) =
      buf.filter(_._1.startsWith("ndidx:")).toMap
    val buf1 = scala.collection.mutable.Buffer.empty[(String, Double)]
    CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/q", 950L, fresh(950L)))),
      ub, tb, shards, numShards = 2, nearDup = nd, stageLog = Some(buf1))
    val g1 = gauges(buf1.toSeq)
    assert(g1("ndidx:base_files") == after.size.toDouble)
    assert(g1("ndidx:generations") == 2.0)
    assert(g1("ndidx:hot_keys") == 0.0 && g1("ndidx:base_files_read") == 0.0,
      s"quiet batch must not read the base: $g1")

    // gate decisions: near-variants of a GEN-0 doc (5) and a GEN-1
    // doc (900) both drop; a fresh doc ships
    val buf2 = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n2 = CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/x", 980L, good(5L) + " tail9"),
        ("https://site.com/y", 981L, fresh(900L) + " tail9"),
        ("https://site.com/z", 982L, fresh(960L)))),
      ub, tb, shards, numShards = 2, nearDup = nd, stageLog = Some(buf2))
    assert(n2 == 1L, s"both planted near-dups must drop, got $n2 shipped")
    // the read-boundedness claim itself is the tiered test's (needs
    // many files to mean anything); here just pin that the base WAS
    // consulted through the sidecar path
    assert(gauges(buf2.toSeq)("ndidx:base_files_read") >= 1.0)

    // differential: the same probe texts with the sidecar REMOVED
    // (full-scan fallback) decide identically
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(idx + "_keys"))
    val n3 = CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/x2", 985L, good(5L) + " tail9"),
        ("https://site.com/y2", 986L, fresh(900L) + " tail9"),
        ("https://site.com/z2", 987L, fresh(961L)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    assert(n3 == 1L, s"fallback must gate identically, got $n3")

    // the deleted sidecar self-heals: the next pass reclusters every
    // (now-unreferenced) file as ordinary tail — the content and the
    // gate survive, and the store is back to one generation
    val rowsBefore = spark.read.parquet(idx).count()
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 4096)
    assert(gens.size == 1, "self-heal must recluster to one generation")
    assert(spark.read.parquet(idx).count() == rowsBefore,
      "self-heal must preserve the index content")

    // generation cap: two more tail passes at maxGenerations=2 — the
    // third generation triggers a smallest-pair merge that never
    // touches the big generation (the no-store-scaling-pause pin;
    // TieredIndexSpec owns the exhaustive policy tests)
    CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/m1", 990L, fresh(990L)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 4096,
      maxGenerations = 2)
    assert(gens.size == 2)
    val bigFiles = gens.maxBy(_.rows).files
    CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/m2", 991L, fresh(991L)))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    CorpusIngest.compactNearDupIndex(spark, idx, targetFileBytes = 4096,
      maxGenerations = 2)
    val gensM = gens
    assert(gensM.size == 2, s"cap must hold, got ${gensM.size}")
    assert(gensM.exists(_.files == bigFiles),
      "the merge must not touch the largest generation")
    // and the gate still drops a variant of a doc that now lives in
    // the MERGED generation
    val nM = CorpusIngest.ingestBatch(
      batch(Seq(("https://site.com/mv", 995L, fresh(990L) + " tail9"))),
      ub, tb, shards, numShards = 2, nearDup = nd)
    assert(nM == 0L, "merged-generation docs must still gate")
  }

  test("frontier fp-drop gauge: a saturated text bloom drops fresh " +
      "docs; the gauge splits true dups from fp losses exactly and " +
      "clear resets the window") {
    val dir = Files.createTempDirectory("ingest_fp").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    // batch 1 probes EMPTY blooms (ships everything) then folds 200
    // keys into a 2-key-sized epoch with rollover disabled -> even at
    // the sketch's 64-bit floor every bit sets, so every later probe
    // is POSITIVE
    val n1 = CorpusIngest.ingestBatch(
      (1L to 200L).map(i => (s"https://site.com/p$i", i, good(i)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 2, rolloverAt = 1.5)
    assert(n1 == 200L)
    // reset the URL frontier so batch 2 reaches the TEXT frontier
    // (otherwise the equally saturated url bloom drops everything
    // one stage earlier)
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(ub))
    // batch 2: 10 genuinely-new docs (pure fp losses) + 1 true
    // cross-batch text dup (good(1) under a new url)
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n2 = CorpusIngest.ingestBatch(
      ((301L to 310L).map(i => (s"https://site.com/q$i", i, good(i))) :+
        (("https://site.com/dup", 999L, good(1L))))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 2, rolloverAt = 1.5,
      stageLog = Some(buf))
    assert(n2 == 0L, s"saturated text bloom must drop all 11, shipped $n2")
    val g = buf.toMap
    assert(g("bloomdrop:url") == 0.0 && g("bloomdrop:text") == 11.0,
      s"raw positive gauges: ${buf.filter(_._1.startsWith("bloomdrop"))}")
    // the gauge: 10 losses (never shipped) — the true dup good(1) IS
    // in the store and must not count; reading twice without clear is
    // stable
    val fp1 = CorpusIngest.frontierFpDrops(spark, ub, tb, shards)
    assert(fp1 == Map("url" -> 0L, "text" -> 10L), s"got $fp1")
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) == fp1)
    // a URL-only clear (ADVICE r18: the chains roll over at different
    // rates) must NOT touch the text frontier's unhealed window
    val fpU = CorpusIngest.frontierFpDrops(spark, ub, tb, shards,
      clearUrl = true)
    assert(fpU == fp1)
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) ==
      Map("url" -> 0L, "text" -> 10L),
      "url-only clear discarded the text fp window")
    assert(new java.io.File(tb + "_drops").exists())
    // clearing the rebuilt frontier (the rebuild path) resets it
    val fp2 = CorpusIngest.frontierFpDrops(spark, ub, tb, shards,
      clearText = true)
    assert(fp2 == Map("url" -> 0L, "text" -> 10L))
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) ==
      Map("url" -> 0L, "text" -> 0L))
    assert(!new java.io.File(tb + "_drops").exists())
  }

  test("drops window bounded between rebuilds: the bloom-maintenance " +
      "pass folds an append-fragmented store to distinct keys in one " +
      "file, gauge invariant (ADVICE r18)") {
    val dir = Files.createTempDirectory("ingest_dropsfold").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    // one shipped batch → chain length 1, BELOW the >2 rebuild trigger
    assert(CorpusIngest.ingestBatch(
      (1L to 5L).map(i => (s"https://site.com/p$i", i, good(i)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 100) == 5L)
    // simulate 6 batches each re-recording the same window: one TRUE
    // dup (a shipped text hash — re-recorded every batch it recrawls,
    // the unbounded-growth case ADVICE r18 named) + one fp loss
    val shippedHash = spark.read.parquet(shards)
      .select(xxhash64(col("text")).as("h")).orderBy("h").head().getLong(0)
    (1 to 6).foreach { _ =>
      Seq(shippedHash, 987654321L).toDF("text_hash")
        .coalesce(1).write.mode("append").parquet(tb + "_drops")
    }
    def parts(p: String) = Option(new java.io.File(p).listFiles()).toSeq
      .flatten.map(_.getName).filter(_.endsWith(".parquet"))
    assert(parts(tb + "_drops").size >= 6)
    val before = CorpusIngest.frontierFpDrops(spark, ub, tb, shards)
    assert(before == Map("url" -> 0L, "text" -> 1L), s"got $before")
    // no rebuild fires (chain length 1) — the pass must still fold
    CorpusIngest.compactFrontierBlooms(spark, ub, tb, shards)
    assert(parts(tb + "_drops").size == 1,
      s"fold to one file, got ${parts(tb + "_drops")}")
    assert(spark.read.parquet(tb + "_drops").count() == 2,
      "fold keeps exactly the distinct keys")
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) == before,
      "gauge must be invariant under the fold")
  }

  test("staggered maintenance schedule: each phase fires every " +
      "compactEvery batches on its own offset; short cadences wrap; " +
      "compactEvery=1 degenerates to the full quintet per batch") {
    def due(batchId: Long, ce: Int) =
      CorpusIngest.maintenancePhasesDue(batchId, ce)
    // ce=10: shard (0) first at batch 9, then index/drift/bloom on the
    // next three batches — never two phases in one pause
    assert(due(8, 10).isEmpty)
    assert(due(9, 10) == Seq(0))
    assert(due(10, 10) == Seq(1))
    assert(due(11, 10) == Seq(2))
    assert(due(12, 10) == Seq(3))
    assert(due(13, 10) == Seq(4)) // anchor-index phase (r19)
    assert(due(14, 10).isEmpty)
    // each phase repeats with period compactEvery
    (0 until CorpusIngest.MaintenancePhases).foreach { k =>
      assert(due(9L + k + 10, 10) == Seq(k), s"phase $k period")
      assert(due(9L + k + 20, 10) == Seq(k), s"phase $k period x2")
    }
    // and no batch before the first full cadence fires anything
    (0L until 9L).foreach(b => assert(due(b, 10).isEmpty, s"batch $b"))
    // ce=2: five offsets wrap onto two slots — phases group up
    assert(due(1, 2) == Seq(0))
    assert(due(2, 2) == Seq(1))
    assert(due(3, 2) == Seq(0, 2)) // anchor phase hasn't started yet
    assert(due(4, 2) == Seq(1, 3))
    assert(due(5, 2) == Seq(0, 2, 4))
    // ce=1: the documented degeneration — whole quintet every batch
    // once each phase's offset has passed
    assert(due(4, 1) == Seq(0, 1, 2, 3, 4))
  }

  test("exact-substring gate: a cross-batch verbatim block the " +
      "near-dup gate ships is caught; in-batch verbatim keeps first; " +
      "the anchor index tracks the shipped corpus; the streaming " +
      "cadence compacts it (phase 4)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ingest_substr").toString
    def paths(tag: String) = (s"$dir/$tag/ub", s"$dir/$tag/tb",
      s"$dir/$tag/shards", s"$dir/$tag/ndidx", s"$dir/$tag/anchors")
    // stopwords INTERLEAVED with doc-unique hash words: the Gopher
    // gate's stopword ratio holds (1 in 2) while no two docs share a
    // run anywhere near minLen — a contiguous stops PREFIX would
    // itself be a ~255-char verbatim run in every doc and the gate
    // would (correctly) flag it. maxDf = 2 keeps the planted twin
    // blocks (df 1-2) while excluding any accidental hub.
    val sw = Array("the", "be", "to", "of", "and", "that", "have", "with")
    def words(i: Long, seed: Long) = (0 until 30)
      .map(j => sw(j % 8) + " s" + ((i * 2654435761L + j * 40503L +
        seed * 77L) & 0xffffffL).toHexString + "w" + j).mkString(" ")
    def fresh(i: Long) = words(i, 1L)
    // ~12 words (~120 chars >= minLen 50) copied VERBATIM into an
    // otherwise-fresh doc: 12 of 42 content words shared is far below
    // the 8/16-band near-dup threshold, but well over the 50-char
    // verbatim threshold — the drop class only this gate catches
    def blockOf(i: Long, seed: Long) =
      words(i, seed).split(" ").take(12).mkString(" ")
    val b1 = (1L to 5L).map(i => (s"https://site.com/p$i", i, fresh(i)))
    val b2 = Seq(
      // cross-batch verbatim quote of doc 1 -> only this gate drops it
      ("https://site.com/q100", 100L,
        words(100L, 2L) + " " + blockOf(1L, 1L)),
      ("https://site.com/q101", 101L, fresh(101L)), // fresh -> ships
      ("https://site.com/q102", 102L, fresh(102L)), // quoted by 103
      // in-batch verbatim quote of 102's body block, otherwise fresh
      // (low Jaccard -> the near-dup gate ships BOTH; keep-first by
      // doc_id means 102 ships and 103 drops)
      ("https://site.com/q103", 103L,
        words(103L, 3L) + " " + blockOf(102L, 1L)))

    // (a) batch twin with BOTH gates
    val (ub, tb, shards, ndidx, sidx) = paths("gated")
    val nd = Some(CorpusIngest.NearDupGate(ndidx))
    val sg = Some(CorpusIngest.SubstrGate(sidx, maxDf = 2))
    val n1 = CorpusIngest.ingestBatch(b1.toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, substr = sg)
    assert(n1 == 5L, s"distinct seed batch must ship whole, got $n1")
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n2 = CorpusIngest.ingestBatch(b2.toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, substr = sg,
      stageLog = Some(buf))
    assert(n2 == 2L, s"expected only 101 and 102 to ship, got $n2")
    assert(spark.read.parquet(shards).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 4L, 5L, 101L, 102L))
    assert(buf.exists(_._1 == "substr_gate"), "stage must be timed")
    // the anchor index holds EXACTLY the shipped corpus's anchors
    val expected = Dedup.winnowIndex(
        spark.read.parquet(shards).select("doc_id", "text"),
        "doc_id", "text", minLen = 50, k = 16)
      .as[(Long, Int, Long)].collect().toSet
    assert(spark.read.parquet(sidx).as[(Long, Int, Long)]
      .collect().toSet == expected,
      "anchor index must track the shipped corpus")
    // ...and so must the BAND index (ADVICE r19, medium): docs 100 and
    // 103 survived the near-dup gate but were dropped by the substring
    // gate — the r19 shape appended their band rows anyway, leaving
    // the index gating on content that never shipped
    val expectedBands = Dedup.minhashIndex(
        spark.read.parquet(shards).select("doc_id", "text"),
        "doc_id", "text", k = 3, numHashes = 128, bands = 16)
      .as[(Long, Int, Long)].collect().toSet
    assert(spark.read.parquet(ndidx).as[(Long, Int, Long)]
      .collect().toSet == expectedBands,
      "band index must track the SHIPPED corpus, not near-dup survivors")

    // (b) differential: the near-dup-only twin SHIPS doc 100 — the
    // planted block is invisible to MinHash at 12/42 words shared
    val (ub2, tb2, shards2, ndidx2, _) = paths("ndonly")
    Seq(b1, b2).foreach(b =>
      CorpusIngest.ingestBatch(b.toDF("url", "doc_id", "text"),
        ub2, tb2, shards2, numShards = 2,
        nearDup = Some(CorpusIngest.NearDupGate(ndidx2))))
    assert(spark.read.parquet(shards2).select("doc_id").as[Long]
      .collect().toSet.contains(100L),
      "the verbatim-quote doc must be a substring-gate-only drop")

    // (c) the streaming loop with the gate on: phase 4 compacts the
    // anchor index on the compactEvery cadence (first firing at
    // batch compactEvery + 3) and the compacted index still gates.
    // Seeded with 5 docs so the stops boilerplate is a df > 2 hub
    // from the first cross-batch probe on.
    val (ub3, tb3, shards3, ndidx3, sidx3) = paths("stream")
    val mem = MemoryStream[(String, Long, String)]
    val q = CorpusIngest.start(mem.toDF().toDF("url", "doc_id", "text"),
      ub3, tb3, shards3, numShards = 2,
      nearDup = Some(CorpusIngest.NearDupGate(ndidx3)),
      substrGate = Some(CorpusIngest.SubstrGate(sidx3, maxDf = 2)),
      compactEvery = 2)
    try {
      mem.addData((210L to 214L)
        .map(i => (s"https://site.com/s$i", i, fresh(i))): _*)
      q.processAllAvailable()
      (215L to 219L).foreach { i =>
        mem.addData(Seq((s"https://site.com/s$i", i, fresh(i))): _*)
        q.processAllAvailable()
      }
      assert(new java.io.File(sidx3 + "_keys").exists(),
        "phase 4 must build the anchor generation sidecar mid-stream")
      assert(spark.read.parquet(shards3).count() == 10L,
        "all distinct streamed docs must ship")
      // a verbatim quote of a doc shipped BEFORE the compaction still
      // drops through the compacted index
      mem.addData(Seq(("https://site.com/sq", 299L,
        words(299L, 4L) + " " + blockOf(210L, 1L))): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(!spark.read.parquet(shards3).select("doc_id").as[Long]
      .collect().toSet.contains(299L),
      "compacted anchor index must still gate verbatim quotes")
  }

  test("substring gate survives an all-dropped opening batch: no " +
      "anchors means no cross probe, and the shard dir's commit-less " +
      "debris never reaches schema inference") {
    val dir = Files.createTempDirectory("ingest_substr0").toString
    val (ub, tb, shards, ndidx, sidx) = (s"$dir/ub", s"$dir/tb",
      s"$dir/shards", s"$dir/ndidx", s"$dir/anchors")
    val sg = Some(CorpusIngest.SubstrGate(sidx, maxDf = 2))
    val nd = Some(CorpusIngest.NearDupGate(ndidx))
    // batch 1: all Gopher-fails (too short, no stop words) -> ships 0
    val n1 = CorpusIngest.ingestBatch(
      Seq(("https://site.com/j1", 1L, "zz"), ("https://site.com/j2", 2L, "qq"))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, substr = sg)
    assert(n1 == 0L)
    // batch 2 probes across: must not throw on the anchor-less state
    val n2 = CorpusIngest.ingestBatch(
      Seq(("https://site.com/g1", 3L, good(3L)))
        .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, nearDup = nd, substr = sg)
    assert(n2 == 1L)
    assert(spark.read.parquet(sidx).select("doc").distinct().count() == 1L,
      "only the shipped doc's anchors are indexed")
  }

  test("job inventory: Spark jobs per ingestBatch call and per " +
      "maintenance pass over a fixed 3-batch sequence (near-dup gate " +
      "and drift on)") {
    val dir = Files.createTempDirectory("ingest_jobs").toString
    val (ub, tb, shards, dd) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/drift")
    val nd = Some(CorpusIngest.NearDupGate(s"$dir/ndidx"))
    def near(i: Long) = good(1) + s" tail$i"
    val b1 = Seq(
      ("https://site.com/p1", 1L, good(1)),
      ("https://WWW.site.com/p1?utm_source=x", 2L, good(2)), // URL dup
      ("https://site.com/p3", 3L, good(1)),                  // text dup
      ("https://site.com/p4", 4L, near(4)),                  // near-dup
      ("https://site.com/p5", 5L, good(5)))
    val b2 = Seq(
      ("https://site.com/p5?ref=tw", 6L, good(6)),           // URL dup
      ("https://site.com/p7", 7L, good(5)),                  // text dup
      ("https://site.com/p8", 8L, near(8)),                  // near-dup
      ("https://site.com/p9", 9L, good(9)))
    val b3 = b2 :+ (("https://site.com/p10", 10L, good(10))) // replay + 1 new

    val (shipped, counts) = withStageJobs { withJobs =>
      Seq(b1, b2, b3).map { b =>
        val (n, batchJobs) = withJobs(CorpusIngest.ingestBatch(
          b.toDF("url", "doc_id", "text"), ub, tb, shards, numShards = 2,
          driftDir = Some(dd), nearDup = nd))
        val (_, maintJobs) = withJobs(CorpusIngest.runMaintenance(spark,
          ub, tb, shards, nd, Some(dd)))
        (n, Seq(batchJobs, maintJobs))
      }.unzip
    }
    assert(shipped == Seq(2L, 1L, 1L))
    // (ingestBatch, runMaintenance) jobs for batches 1, 2, 3, per stage
    // label (maintenance runs unlabelled, "-"; the epoch writes of
    // "bloom_fold" run on the driver). Before the batch read its bloom
    // epochs from the driver cache, took its guard counts and bloom
    // increments as observed metrics of jobs that already ran and
    // counted both near-dup pair kinds in one join, the totals were
    // 45, 19, 67, 25, 54, 25. The drift fold ran 3 jobs (18, 19, 24,
    // 25, 20, 25) while it counted buckets and tokens separately; it
    // now counts tokens only
    def stages(canon: Int, gates: Int, gate: Int) = Map(
      "canon_frontier" -> canon, "gates_exact_dedup" -> gates,
      "neardup_band" -> 1, "neardup_gate" -> gate, "shard_write" -> 2,
      "neardup_append" -> 1, "drift_fold" -> 2)
    val maint = Map("-" -> 19)
    val maintAfter = Map("-" -> 25)
    assert(counts.flatten == Seq(
      stages(2, 6, 3), maint,
      stages(3, 7, 7), maintAfter,
      stages(3, 6, 4), maintAfter), counts.toString)
    assert(counts.flatten.map(_.values.sum) == Seq(17, 19, 23, 25, 19, 25))
  }

  /** Run `f` with a job counter keyed by the stage label
    * (`spark.job.description`, "-" when unset); `f` gets a wrapper that
    * returns a block's result and its per-label job counts. */
  private def withStageJobs[A](
      f: ((=> Any) => (Any, Map[String, Int])) => A): A = {
    val jobs = scala.collection.concurrent.TrieMap.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val label = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("-")
        jobs.synchronized { jobs(label) = jobs.getOrElse(label, 0) + 1 }
      }
    }
    def withJobs(body: => Any): (Any, Map[String, Int]) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.clear()
      val a = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (a, jobs.toMap)
    }
    spark.sparkContext.addSparkListener(listener)
    try f(withJobs(_))
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("flat job budget: with both bloom chains rolling over every " +
      "batch and no maintenance, each batch from the 2nd on runs the " +
      "same jobs, stage by stage") {
    val dir = Files.createTempDirectory("ingest_flat").toString
    val (ub, tb, shards, dd) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/drift")
    val nd = Some(CorpusIngest.NearDupGate(s"$dir/ndidx"))
    // 40 fresh docs a batch into 60-item blooms: the chains grow an
    // epoch about every batch. From batch 2 on each batch also recrawls
    // one url of the previous batch and copies one of its texts under a
    // new url, so both frontiers drop a bloom positive every batch.
    // Texts are 40 seeded random words, far apart for the near-dup gate
    def text(id: Long) = {
      val r = new scala.util.Random(id)
      (stops +: Seq.fill(40)(Seq.fill(4 + r.nextInt(5))(
        ('a' + r.nextInt(26)).toChar).mkString)).mkString(" ")
    }
    def batch(b: Int) = {
      def id(i: Int) = b * 1000L + i
      val fresh = (1 to 40).map(i => (s"https://site.com/b$b/p$i", id(i), text(id(i))))
      val dups = if (b == 1) Seq.empty else Seq(
        (s"https://site.com/b${b - 1}/p1?ref=x", id(41), text(id(41))),
        (s"https://site.com/b$b/copy", id(42), text((b - 1) * 1000L + 2)))
      (fresh ++ dups).toDF("url", "doc_id", "text")
    }
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val runs = withStageJobs { withJobs =>
      (1 to 5).map { b =>
        buf.clear()
        val (n, jobs) = withJobs(CorpusIngest.ingestBatch(batch(b), ub, tb,
          shards, numShards = 2, expectedItems = 60L, driftDir = Some(dd),
          nearDup = nd, stageLog = Some(buf)))
        (n, jobs, buf.filter(_._1.startsWith("epochs:")).toMap)
      }
    }
    // at this sizing a bloom false positive may drop a fresh doc
    runs.foreach(r => assert(r._1.asInstanceOf[Long] >= 36L, runs.map(_._1)))
    val epochs = runs.map(r => (r._3("epochs:url_bloom"), r._3("epochs:text_bloom")))
    assert(epochs.last._1 >= 4 && epochs.last._2 >= 4, epochs.toString)
    val steady = runs.drop(1).map(_._2)
    steady.foreach(j => assert(j == steady.head,
      s"per-stage jobs drift with the chain length: $steady"))
  }

  test("epoch cache: a bloom epoch rewritten behind the driver cache, " +
      "and a chain replaced by compaction, are probed with their new " +
      "bytes") {
    val dir = Files.createTempDirectory("ingest_cache").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    def docs(ids: Seq[Int], text: Long => String = good) = ids
      .map(i => (s"https://site.com/p$i", i.toLong, text(i.toLong)))
      .toDF("url", "doc_id", "text")
    def ingest(df: org.apache.spark.sql.DataFrame, items: Long = 1000L) = {
      val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
      val n = CorpusIngest.ingestBatch(df, ub, tb, shards, numShards = 2,
        expectedItems = items, stageLog = Some(buf))
      (n, buf.toMap.apply("bloomdrop:url"))
    }
    assert(ingest(docs(1 to 4)) == ((4L, 0.0)))
    // another writer learns url p9 into epoch 0 (a new part file, so a
    // new stamp); the next batch must drop p9 as seen
    graft.operators.BloomMembership.sketch(((1 to 4) :+ 9)
        .map(i => s"https://site.com/p$i").toDF("url")
        .select(graft.functions.TextOps.canonicalizeUrl(col("url")).as("u")),
        "u", 1000L).toSeq.toDF("bloom")
      .write.mode("overwrite").parquet(s"$ub/epoch=0")
    assert(ingest(docs(Seq(9, 10))) == ((1L, 1.0)))
    // a Gopher-dropped url is SEEN by the url frontier; compaction
    // rebuilds the chain from the shipped store, which never held it,
    // so after the rebuild its recrawl (now with good text) ships —
    // only if the rebuilt bytes, not the cached chain, are probed
    assert(ingest(docs(Seq(20), _ => "too few words")) == ((0L, 0.0)))
    (30 to 33).foreach(b => ingest(docs(b * 10 to b * 10 + 5), items = 4L))
    CorpusIngest.compactFrontierBlooms(spark, ub, tb, shards)
    assert(new java.io.File(ub).listFiles().count(_.getName.startsWith("epoch=")) == 1)
    assert(ingest(docs(Seq(20))) == ((1L, 0.0)))
  }

  test("bloom increments taken as observed metrics are sized past the " +
      "runtime-filter conf ceilings, not clamped") {
    val dir = Files.createTempDirectory("ingest_sizing").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    val docs = (1L to 4L).map(i => (s"https://site.com/p$i", i, good(i)))
      .toDF("url", "doc_id", "text")
    // 10M items: optimalNumOfBits is ~95.8M, past the 64M-bit default
    assert(CorpusIngest.ingestBatch(docs, ub, tb, shards, numShards = 2,
      expectedItems = 10000000L) == 4L)
    val want = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(10000000L, 0.01)
    Seq(ub, tb).foreach { store =>
      val bytes = spark.read.parquet(s"$store/epoch=0")
        .as[Array[Byte]].collect().head
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      assert(bf.bitSize() >= want, s"$store clamped: ${bf.bitSize()} < $want")
    }
  }

  test("degenerate batches: an empty batch and an all-bloom-positive " +
      "batch ship 0, write no shard file, and leave the next batch " +
      "shipping what it would have") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val dir = Files.createTempDirectory("ingest_degenerate").toString
    val (ub, tb, shards, dd) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/drift")
    val nd = Some(CorpusIngest.NearDupGate(s"$dir/ndidx"))
    def shardFiles = if (!new java.io.File(shards).exists) 0
      else fileTree(shards).count(_.endsWith(".parquet"))
    // bounded: a guard that blocked on an observation that never
    // completes would hang here instead of failing
    def ingest(rows: Seq[(String, Long, String)]) = Await.result(Future(
      CorpusIngest.ingestBatch(rows.toDF("url", "doc_id", "text"), ub, tb,
        shards, numShards = 2, driftDir = Some(dd), nearDup = nd)),
      5.minutes)
    val b1 = (1 to 6).map(i => (s"https://site.com/p$i", i.toLong, good(i.toLong)))
    val b2 = (7 to 9).map(i => (s"https://site.com/p$i", i.toLong, good(i.toLong))) :+
      (("https://site.com/p10", 10L, good(1L)))                   // text dup
    assert(ingest(Seq.empty) == 0L)
    assert(shardFiles == 0)
    assert(ingest(b1) == 6L)
    val afterB1 = shardFiles
    // every url already seen: all bloom-positive at the url frontier
    assert(ingest(b1.map { case (u, i, _) => (u, i + 100L, good(i + 100L)) }) == 0L)
    assert(shardFiles == afterB1)
    assert(ingest(b2) == 3L)
  }

  test("a failed shard write leaves the drift store's card unmoved and no " +
      "staged increment; the replay folds the batch once") {
    val dir = Files.createTempDirectory("ingest_drift_fail").toString
    val (ub, tb, shards, dd) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/drift")
    def docs(ids: Seq[Long]) =
      ids.map(i => (s"https://site.com/p$i", i, good(i))).toDF("url", "doc_id", "text")
    def ingest(ids: Seq[Long], shardDir: String) =
      CorpusIngest.ingestBatch(docs(ids), ub, tb, shardDir, numShards = 2,
        driftDir = Some(dd))
    def card() = CorpusIngest.driftCard(spark, dd).collect().map(_.toSeq).toSeq
    assert(ingest(1L to 4L, shards) == 4L)
    val before = card()
    // a plain file where the shard store should be: the shard write fails
    val blocked = s"$dir/blocked"
    Files.write(java.nio.file.Paths.get(blocked), Array[Byte](1))
    intercept[Exception](ingest(5L to 8L, blocked))
    assert(card() == before)
    assert(!new java.io.File(dd).list().exists(_.startsWith("_staged")),
      "the failed batch's staged increment was not discarded")
    assert(ingest(5L to 8L, shards) == 4L)
    assert(card() == graft.operators.Drift.sourceDrift(
      docs(1L to 8L).select(lit("site.com").as("source"), col("text")),
      "source", "text").collect().map(_.toSeq).toSeq)
  }

  test("per-stage profile: the stage log times every driver action " +
      "and carries both bloom fill gauges") {
    val dir = Files.createTempDirectory("ingest_prof").toString
    val docs = (1L to 8L)
      .map(i => (s"https://site.com/p$i", i, good(i)))
      .toDF("url", "doc_id", "text")
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n = CorpusIngest.ingestBatch(docs, s"$dir/ub", s"$dir/tb",
      s"$dir/shards", numShards = 2, driftDir = Some(s"$dir/drift"),
      nearDup = Some(CorpusIngest.NearDupGate(s"$dir/idx")),
      stageLog = Some(buf))
    assert(n == 8L)
    val stages = buf.map(_._1)
    val wanted = Seq("state_load", "canon_frontier", "gates_exact_dedup",
      "neardup_band", "neardup_gate", "neardup_append", "shard_write",
      "bloom_fold", "drift_fold")
    wanted.foreach(s => assert(stages.contains(s), s"stage '$s' missing"))
    buf.filterNot(r => r._1.startsWith("fill:") || r._1.startsWith("epochs:"))
      .foreach { case (s, t) => assert(t >= 0, s"negative time for $s") }
    // the saturation gauges: both blooms present, fractional, small
    // for 8 keys in a 100k-sized filter; one epoch each
    val gauges = buf.filter(r =>
      r._1.startsWith("fill:") || r._1.startsWith("epochs:")).toMap
    assert(gauges.keySet == Set("fill:url_bloom", "fill:text_bloom",
      "epochs:url_bloom", "epochs:text_bloom"))
    Seq("fill:url_bloom", "fill:text_bloom").map(gauges)
      .foreach(f => assert(f > 0.0 && f < 0.01, s"fill $f"))
    Seq("epochs:url_bloom", "epochs:text_bloom").map(gauges)
      .foreach(e => assert(e == 1.0, s"epochs $e"))
  }

  test("bloom epoch rollover: a frontier that outlives its sizing " +
      "rolls onto fresh epochs — no false negatives across epochs, " +
      "new docs still ship, per-fold writes touch one epoch dir") {
    val dir = Files.createTempDirectory("ingest_epochs").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    // 600 distinct urls per batch into blooms sized for 1000: batch 1
    // fits (fill ~0.34), batch 2's merge would pass 0.5 -> epoch 1,
    // batch 3 -> epoch 2
    def batchDf(b: Int) = (1 to 600)
      .map(i => (s"https://site.com/b$b/p$i", b * 10000L + i, good(b * 10000L + i)))
      .toDF("url", "doc_id", "text")
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val perBatch = (1 to 3).map { b =>
      buf.clear()
      CorpusIngest.ingestBatch(batchDf(b), ub, tb, shards, numShards = 2,
        expectedItems = 1000L, stageLog = Some(buf))
      (buf.filter(_._1 == "epochs:url_bloom").map(_._2).head,
        buf.filter(_._1 == "fill:url_bloom").map(_._2).head)
    }
    val epochCounts = perBatch.map(_._1)
    assert(epochCounts.last >= 2.0,
      s"expected the url frontier to roll epochs, got $epochCounts")
    assert(epochCounts == epochCounts.sorted, "epoch count must not shrink")
    // no epoch ever past the rollover design point
    perBatch.foreach { case (_, fill) =>
      assert(fill <= graft.operators.BloomMembership.FillWarnAt + 1e-9,
        s"active epoch fill $fill past rollover threshold")
    }
    // the store layout: one immutable dir per epoch, no scratch dirs
    val epochDirs = new java.io.File(ub).listFiles().map(_.getName).sorted
    assert(epochDirs.head == "epoch=0" &&
      epochDirs.forall(_.matches("epoch=\\d+")), epochDirs.mkString(","))
    assert(epochDirs.length == epochCounts.last.toInt)
    // NO FALSE NEGATIVES across the chain: replaying batch 1's urls
    // (flagged by a FROZEN epoch now) ships nothing
    val replay = CorpusIngest.ingestBatch(batchDf(1), ub, tb, shards,
      numShards = 2, expectedItems = 1000L)
    assert(replay == 0L, s"replayed batch shipped $replay docs")
    // and genuinely-new docs still ship. The documented trade: fpp ≤
    // sum of per-epoch fpps per bloom (~3 × 0.34^5 ≈ 1.4% here), two
    // blooms filtering independently → expect ≲3% false drops, not a
    // silent saturation cliff
    val n4 = CorpusIngest.ingestBatch(batchDf(9), ub, tb, shards,
      numShards = 2, expectedItems = 1000L)
    assert(n4 >= 560, s"fresh batch shipped only $n4 of 600")
  }

  test("frontier-bloom chain compaction: a multi-epoch chain collapses " +
      "to ONE right-sized epoch rebuilt from the shard store; every " +
      "planted drop class still drops on replay; the gauge resets") {
    val dir = Files.createTempDirectory("ingest_bloomc").toString
    val (ub, tb, shards, idx) =
      (s"$dir/ub", s"$dir/tb", s"$dir/shards", s"$dir/ndidx")
    // k=4 char shingles + hash-diverse words (the scale-evidence
    // convention): the shared stopword skeleton of good() dominates a
    // k=3 shingle set, so 600 such docs false-collide on ≥8/16 bands
    // and the near-dup gate would mass-drop REAL uniques
    val nd = Some(CorpusIngest.NearDupGate(idx, k = 4))
    def diverse(i: Long) = s"$stops " + (0 until 40).map { j =>
      "c" + math.floorMod(
        scala.util.hashing.MurmurHash3.productHash((i, j)), 100000)
    }.mkString(" ")
    // 600 distinct docs per batch into blooms sized 1000 → the chain
    // rolls roughly every 1.5 batches, so 4 batches put BOTH frontiers
    // past the > 2 rebuild trigger (the post-compaction steady state
    // is 2 epochs — compacted + active — so compaction requires ≥ 3);
    // batch 1 also plants a Gopher-gate drop whose URL the frontier
    // LEARNS without shipping (the documented narrowing case)
    def batchDf(b: Int) = ((1 to 600)
      .map(i => (s"https://site.com/b$b/p$i", b * 10000L + i,
        diverse(b * 10000L + i))) ++
      (if (b == 1) Seq(("https://site.com/bad", 999999L, "too few words"))
       else Nil))
      .toDF("url", "doc_id", "text")
    (1 to 4).foreach { b =>
      CorpusIngest.ingestBatch(batchDf(b), ub, tb, shards, numShards = 2,
        expectedItems = 1000L, nearDup = nd)
    }
    def epochDirs(p: String) = new java.io.File(p).listFiles()
      .map(_.getName).filter(_.matches("epoch=\\d+")).sorted.toSeq
    assert(epochDirs(ub).length >= 3 && epochDirs(tb).length >= 3,
      s"precondition: chains past the >2 trigger, got " +
        s"${epochDirs(ub).length}/${epochDirs(tb).length}")
    val shippedBefore = spark.read.parquet(shards).count()
    // plant an fp-drop window (r18): a never-shipped key in each
    // drops store — the REBUILD must price and CLEAR it (every fp
    // heals at rebuild: the fresh filter holds only shipped keys)
    Seq("https://site.com/lost").toDF("canon_url")
      .write.mode("overwrite").parquet(ub + "_drops")
    Seq(123456789L).toDF("text_hash")
      .write.mode("overwrite").parquet(tb + "_drops")
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) ==
      Map("url" -> 1L, "text" -> 1L))

    CorpusIngest.runMaintenance(spark, ub, tb, shards, nearDup = nd)

    // the rebuild consumed + cleared the fp window
    assert(!new java.io.File(ub + "_drops").exists() &&
      !new java.io.File(tb + "_drops").exists(),
      "chain rebuild must clear the fp-drop window it heals")
    assert(CorpusIngest.frontierFpDrops(spark, ub, tb, shards) ==
      Map("url" -> 0L, "text" -> 0L))
    // one epoch per frontier, no scratch dirs anywhere
    assert(epochDirs(ub) == Seq("epoch=0"), epochDirs(ub).mkString(","))
    assert(epochDirs(tb) == Seq("epoch=0"), epochDirs(tb).mkString(","))
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.getName.contains("__compact") || f.getName.contains("__old")))
    // zero shipped keys lost: replaying every ingested batch against
    // the rebuilt chain ships NO DUPLICATE. (A doc the old chain
    // dropped on a bloom FALSE POSITIVE never shipped, so its keys
    // are rightly absent from the rebuilt filter and it ships on
    // replay — compaction HEALS fp-drops; the invariant is store
    // uniqueness, not a zero replay count.)
    // the FIRST fold after compaction also pins the gauge reset: the
    // rebuilt epoch's sizing differs from the increment's, so the fold
    // freezes it and starts epoch 1 → chain length 2, down from the
    // ever-growing pre-compaction count (later folds may roll further
    // — that's the normal fill cadence, bounded again by the NEXT
    // compaction)
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val replayShipped = (1 to 4).map { b =>
      CorpusIngest.ingestBatch(batchDf(b), ub, tb, shards,
        numShards = 2, expectedItems = 1000L, nearDup = nd,
        stageLog = if (b == 1) Some(buf) else None)
    }.sum
    val epochsAfter = buf.filter(_._1 == "epochs:url_bloom").map(_._2).head
    assert(epochsAfter == 2.0,
      s"gauge on first fold after compaction: $epochsAfter epochs")
    assert(replayShipped <= 2400L - shippedBefore,
      s"replay shipped $replayShipped > the ${2400L - shippedBefore} " +
        "fp-dropped docs the old chain lost")
    val store = spark.read.parquet(shards)
    val afterReplay = store.count()
    assert(afterReplay == shippedBefore + replayShipped)
    assert(store.select("canon_url").distinct().count() == afterReplay &&
      store.select("text").distinct().count() == afterReplay,
      "a replay across the compacted frontier shipped a duplicate")
    // the narrowing's drop classes, replayed one by one:
    //  - exact text dup of a shipped doc under a NEW url → text bloom
    //  - near-dup variant of a shipped doc → band index (never narrowed)
    //  - gopher-bad doc (url seen pre-compaction, never shipped) →
    //    re-pays the gate once, still ships nothing
    // plants copy texts VERIFIED shipped (an fp-dropped original
    // would make the "dup" genuinely new and flake the assertion)
    val sampleTexts = store.orderBy("doc_id")
      .select("text").as[String].take(2)
    val n2 = CorpusIngest.ingestBatch(Seq(
        ("https://site.com/new1", 500001L, sampleTexts(0)),
        ("https://site.com/new2", 500002L, sampleTexts(1) + " tail9"),
        ("https://site.com/bad", 999999L, "too few words"))
      .toDF("url", "doc_id", "text"),
      ub, tb, shards, numShards = 2, expectedItems = 1000L, nearDup = nd)
    assert(n2 == 0L, s"post-compaction drop classes shipped $n2 docs")
    assert(spark.read.parquet(shards).count() == afterReplay)
    // and genuinely-new docs still ship through the rebuilt chain
    val n3 = CorpusIngest.ingestBatch(batchDf(9), ub, tb, shards,
      numShards = 2, expectedItems = 1000L, nearDup = nd)
    assert(n3 >= 560, s"fresh batch shipped only $n3 of 600")
  }

  test("mid-stream expectedItems change: sizing-mismatch fold rolls " +
      "onto a fresh epoch instead of crashing the merge") {
    val dir = Files.createTempDirectory("ingest_resize").toString
    val (ub, tb, shards) = (s"$dir/ub", s"$dir/tb", s"$dir/shards")
    def batchDf(b: Int) = (1 to 50)
      .map(i => (s"https://site.com/b$b/p$i", b * 1000L + i, good(b * 1000L + i)))
      .toDF("url", "doc_id", "text")
    CorpusIngest.ingestBatch(batchDf(1), ub, tb, shards, numShards = 2,
      expectedItems = 1000L)
    val buf = scala.collection.mutable.Buffer.empty[(String, Double)]
    val n = CorpusIngest.ingestBatch(batchDf(2), ub, tb, shards,
      numShards = 2, expectedItems = 50000L, stageLog = Some(buf))
    assert(n == 50L, s"resized fold shipped $n of 50")
    assert(buf.filter(_._1 == "epochs:url_bloom").map(_._2).head == 2.0)
    // the frozen epoch still gates: batch 1 replays to nothing
    val replay = CorpusIngest.ingestBatch(batchDf(1), ub, tb, shards,
      numShards = 2, expectedItems = 50000L)
    assert(replay == 0L, s"replay across the sizing boundary shipped $replay")
  }
}
