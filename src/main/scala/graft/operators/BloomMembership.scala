package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Approximate cross-corpus membership — the crawl-frontier / "have we
  * ingested this before" pre-filter: a Bloom filter of the corpus keys
  * flags probable re-crawls in a new batch WITHOUT joining against the
  * corpus. One-sided error by construction: a key the corpus contains
  * is ALWAYS flagged (no false negatives — nothing already ingested
  * sneaks back in), an unseen key is wrongly flagged with probability
  * ≤ fpp (those rows just fall through to the exact dedup path, e.g.
  * `Dedup.minhashLshPairsAgainst`, so precision costs candidates, not
  * correctness).
  *
  * Spark-first: the build is Spark's own `BloomFilterAggregate` —
  * the aggregate Catalyst injects for runtime join filters, exposed as
  * `graft_bloom_agg` via GraftExtensions — a map-side-combining
  * TypedImperativeAggregate (fixed numBits state per task, merged by
  * OR). Keys enter as xxhash64 on BOTH sides — one hash family, any
  * key type.
  *
  * Serialized sketch bytes are the one currency: [[sketch]] returns
  * them, the probes take them, [[merge]] / [[fillRatio]] /
  * [[sizingOf]] read them. The probe is the codegen'd
  * [[graft.plans.BloomContainsBc]] over a content-keyed cached
  * broadcast of the filter, at every sketch size. The sketch is a
  * bounded MODEL artifact (like the k-means centroids / PQ
  * codebooks): optimalNumOfBits(n, fpp) ≈ 150 MB at 10⁸ keys / 1%
  * fpp — driver-sized by construction; size the key domain (e.g.
  * per-shard blooms) rather than streaming a multi-GB filter through
  * one plan.
  *
  * The 100 TB shape: the serialized sketch is a persistable artifact
  * (write the bytes; a daily crawl rebuilds it from the corpus scan
  * once, every batch reuses it). Probing is map-side only: no
  * shuffle, no join — one codegen'd predicate per row. */
object BloomMembership {

  /** Serialized corpus-key bloom, `None` for an empty corpus (the
    * aggregate evaluates null at cardinality 0). `expectedItems` sizes
    * the filter (overestimate is safe, only costs bits); persist the
    * bytes to reuse them across batches.
    *
    * EAGER by contract (ADVICE r5): the aggregation runs inside this
    * call, because the sizing depends on session conf raised only for
    * the build — a lazy plan collected after a later conf change would
    * silently size (and possibly clamp) differently. */
  def sketch(corpus: DataFrame, keyCol: String,
             expectedItems: Long, fpp: Double = 0.01): Option[Array[Byte]] =
    withSizing(corpus.sparkSession, expectedItems, fpp) {
      Option(corpus.agg(sketchOf(col(keyCol), expectedItems, fpp))
        .head().getAs[Array[Byte]](0))
    }

  /** The sketch aggregate over `key` — what [[sketch]] runs, as a
    * column, so a loop can take it as an observed metric of a job that
    * already runs (`Dataset.observe`). The action computing it must run
    * inside [[withSizing]] with the same sizing; a null result means
    * no rows. */
  def sketchOf(key: Column, expectedItems: Long,
               fpp: Double = 0.01): Column = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    call_function("graft_bloom_agg", xxhash64(key), lit(expectedItems),
      lit(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
  }

  /** Run `f` — an action computing a [[sketchOf]] aggregate — with the
    * runtime-bloom-filter conf ceilings raised to cover the sizing,
    * then restore them. BloomFilterAggregate SILENTLY clamps both sizes
    * to those ceilings (defaults: 4M items / 64M bits) — fine for
    * Catalyst's injected join filters, catastrophic here: a clamped
    * filter saturates and flags everything maybe_seen with no error.
    * A session-wide raise would also enlarge Catalyst's auto-injected
    * runtime join filters for every later query (ADVICE r5), hence the
    * scope. */
  def withSizing[A](spark: org.apache.spark.sql.SparkSession,
                    expectedItems: Long, fpp: Double = 0.01)(f: => A): A = {
    val conf = spark.conf
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.zip(Seq(expectedItems,
          BloomFilter.optimalNumOfBits(expectedItems, fpp))).foreach {
        case (k, needed) =>
          if (conf.getOption(k).map(_.toLong).getOrElse(0L) < needed)
            conf.set(k, needed.toString)
      }
      f
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Flag each batch row whose key ANY of `blooms` (serialized
    * sketches from [[sketch]]) probably contains. Adds `flagCol` (true
    * = maybe seen — route to exact verification; false = DEFINITELY
    * new); no blooms (an empty corpus) flags nothing.
    *
    * Several blooms are the per-epoch re-shard path a saturating
    * frontier rolls onto (see CorpusIngest's BLOOM CAPACITY scaladoc)
    * and the band index's generation filters. The key hashes ONCE;
    * each bloom is one map-side [[graft.plans.BloomContainsBc]]
    * predicate on that hash, so k blooms cost k predicates inside the
    * same scan — no extra pass, no shuffle. Chained probes flag a
    * SUBSET of probing the OR-merged filter (cross-epoch bit mixes only
    * ever add false positives — the containment case in
    * BloomMembershipSpec) and false negatives stay impossible per
    * epoch; overall fpp is ≤ the SUM of per-epoch fpps, linear in the
    * epoch count — the visible, bounded trade of rolling instead of
    * saturating. */
  def flagSeen(batch: DataFrame, blooms: Seq[Array[Byte]], keyCol: String,
               flagCol: String): DataFrame =
    batch.withColumn("__bm_h", xxhash64(col(keyCol)))
      .withColumn(flagCol, blooms.foldLeft(lit(false)) { (acc, b) =>
        acc || containsPred(batch.sparkSession, b, col("__bm_h"))
      })
      .drop("__bm_h")

  /** The frontier filter composed: only batch rows whose key is
    * DEFINITELY absent from every bloom (guaranteed-new work). */
  def definitelyNew(batch: DataFrame, blooms: Seq[Array[Byte]],
                    keyCol: String): DataFrame =
    flagSeen(batch, blooms, keyCol, "__seen")
      .filter(!col("__seen")).drop("__seen")

  /** Broadcast cache for probe sketches, keyed by content digest
    * (epoch bytes are immutable, but a loop RE-READS them every batch,
    * so identity-keying would re-broadcast every epoch per
    * micro-batch; r16 review finding). Bounded LRU; capacity holds
    * what one ingest batch probes — the two frontier epoch chains plus
    * the band index's generations, 7 sketches at the peak of an
    * `ingest_loop` pass — so max-size eviction only triggers when many
    * distinct sketches are probed in one process — exactly when
    * freeing the oldest is wanted. Eviction UNPERSISTS
    * (not destroys): executor copies — the memory that actually
    * accumulates — are dropped eagerly, while the handle stays valid
    * for any lazily-held plan that still references it (a destroyed
    * broadcast would throw there; a later execution of such a plan
    * just re-fetches the driver-side block — the re-probe case in
    * BloomMembershipSpec); the driver-side block then falls to the
    * ContextCleaner with the handle. */
  private[graft] val BcCacheMax = 16
  private lazy val bcCache =
    new java.util.LinkedHashMap[String,
        org.apache.spark.broadcast.Broadcast[BloomFilter]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            org.apache.spark.broadcast.Broadcast[BloomFilter]]): Boolean = {
        val evict = size() > BcCacheMax
        if (evict) e.getValue.unpersist()
        evict
      }
    }

  /** Cache occupancy, for the reuse spec only. */
  private[graft] def bcCacheSize: Int = bcCache.synchronized(bcCache.size())

  private def broadcastOf(spark: org.apache.spark.sql.SparkSession,
                          bytes: Array[Byte]) = bcCache.synchronized {
    val key = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)) +
      ":" + spark.sparkContext.applicationId // a restarted context's old handles are dead
    val cached = bcCache.get(key)
    if (cached != null) cached
    else {
      val bc = spark.sparkContext.broadcast(
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))
      bcCache.put(key, bc)
      bc
    }
  }

  /** One bloom's probe predicate on a precomputed xxhash64 column. The
    * filter ships once per executor as a cached broadcast
    * ([[broadcastOf]]) — and because the cache hands back the same
    * Broadcast instance, repeated probes of the same sketch build
    * expressions that canonicalize EQUAL, batch over batch (ADVICE
    * r16). */
  private def containsPred(spark: org.apache.spark.sql.SparkSession,
                           bytes: Array[Byte], hashCol: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.BloomContainsBc(
        org.apache.spark.sql.GraftColumnBridge.expression(hashCol),
        broadcastOf(spark, bytes)))

  /** Set-bit fraction of a serialized sketch — the SATURATION GAUGE
    * (VERDICT r14 item 2): a bloom sized once and merged forever
    * silently exceeds its design fpp as it fills; the actual false-
    * positive rate of a k-hash filter with fill ratio f is ~f^k, so a
    * frontier bloom past ~50% full (the design point: optimal k puts
    * fill at 0.5 when exactly `expectedItems` distinct keys are in)
    * is PAST CAPACITY and every extra fold degrades it quietly —
    * each false positive is a genuinely-new doc dropped. CorpusIngest
    * logs this after every fold and warns past [[FillWarnAt]]; the
    * re-shard path is per-epoch blooms (see CorpusIngest's scaladoc).
    *
    * Parses Spark's sketch serialization directly (version int,
    * numHashFunctions int, V2 also a seed int, word count int, bit
    * words) — driver-side, O(numBits/64), no executor involved. */
  def fillRatio(bytes: Array[Byte]): Double = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val version = in.readInt()
    require(version == 1 || version == 2,
      s"unknown bloom serialization version $version")
    in.readInt() // numHashFunctions
    if (version == 2) in.readInt() // seed
    val headerLen = if (version == 2) 16 else 12
    val numWords = in.readInt()
    require(bytes.length >= headerLen + 8 * numWords,
      s"truncated bloom: $numWords words in ${bytes.length} bytes")
    var set = 0L
    var i = 0
    while (i < numWords) { set += java.lang.Long.bitCount(in.readLong()); i += 1 }
    set.toDouble / (numWords.toLong * 64L)
  }

  /** Fill ratio past which a merged-forever bloom should be treated
    * as saturated (see [[fillRatio]]). */
  val FillWarnAt: Double = 0.5

  /** Header fields that decide OR-merge compatibility: (version,
    * numHashFunctions, seed — 0 for V1, numWords). Two sketches merge
    * iff all four match (Spark's checkCompatibilityForMerge throws
    * otherwise); CorpusIngest's fold uses this to ROLL ONTO A FRESH
    * EPOCH instead of crashing when the active epoch's sizing differs
    * from the increment's — the state a frontier compaction (one
    * right-sized rebuilt filter) or a mid-stream `expectedItems`
    * change leaves behind. Driver-side, O(header). */
  def sizingOf(bytes: Array[Byte]): (Int, Int, Int, Int) = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val version = in.readInt()
    require(version == 1 || version == 2,
      s"unknown bloom serialization version $version")
    val numHash = in.readInt()
    val seed = if (version == 2) in.readInt() else 0
    (version, numHash, seed, in.readInt())
  }

  /** True iff [[merge]] would succeed (see [[sizingOf]]). */
  def sameSizing(a: Array[Byte], b: Array[Byte]): Boolean =
    sizingOf(a) == sizingOf(b)

  /** OR-merge two serialized blooms built with the SAME sizing (the
    * mergeable-summaries property that makes the sketch an incremental
    * ingest index: bloom(A) ∪ bloom(B) == bloom(A ∪ B) bit-for-bit —
    * StreamingBloomSpec proves it end to end). Model-sized driver
    * work, like the KMV/A-ES merges. */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }
}
