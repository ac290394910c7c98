package graft

import org.apache.spark.sql.functions._
import graft.operators.BloomMembership

/** Bloom cross-corpus membership: the one-sided error contract (zero
  * false negatives, bounded false positives), the one broadcast probe
  * path against the driver-side reference, persisted-sketch reuse,
  * and partition invariance of the build. */
class BloomMembershipSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = (0L until 10000L).map(i => (i, s"doc-$i"))
    .toDF("id", "key")
  // 5k seen + 5k unseen
  private lazy val batch = ((0L until 5000L) ++ (100000L until 105000L))
    .map(i => (i, s"doc-$i")).toDF("id", "key")

  /** The bloom probe expressions in a plan. */
  private def natives(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.collect { case n => n.expressions.flatMap(_.collect {
      case b: graft.plans.BloomContainsBc => b }) }.flatten

  test("no false negatives; false positives bounded near fpp") {
    val bloom = BloomMembership.sketch(corpus, "key", expectedItems = 10000,
      fpp = 0.01).toSeq
    val flagged = BloomMembership.flagSeen(batch, bloom, "key", "maybe_seen")
      .select("id", "maybe_seen").as[(Long, Boolean)].collect().toMap
    val seenIds = (0L until 5000L).toSet
    seenIds.foreach(i => assert(flagged(i),
      s"corpus key $i must be flagged (bloom forbids false negatives)"))
    val fp = flagged.count { case (i, f) => f && !seenIds.contains(i) }
    // 5000 unseen probes at fpp=0.01 → expect ~50; 5x headroom
    assert(fp <= 250, s"false positives $fp exceed 5x the configured fpp")
    // and definitelyNew is exactly the unflagged complement
    val fresh = BloomMembership.definitelyNew(batch, bloom, "key")
      .select("id").as[Long].collect().toSet
    assert(fresh == flagged.collect { case (i, false) => i }.toSet)
  }

  test("sizing ceilings are raised, not silently clamped") {
    // Spark's runtime-filter confs default to 4M items / 64M bits and
    // BloomFilterAggregate clamps silently — a 10M-key request must
    // still get its full optimalNumOfBits (~95.8M)
    val bytes = BloomMembership.sketch(corpus, "key",
      expectedItems = 10000000L, fpp = 0.01).get
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val want = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(10000000L, 0.01)
    assert(bf.bitSize() >= want, s"bloom clamped: ${bf.bitSize()} < $want")
  }

  test("empty corpus: nothing seen, everything definitely new") {
    val empty = corpus.filter(col("id") < 0)
    val bloom = BloomMembership.sketch(empty, "key", expectedItems = 100).toSeq
    assert(BloomMembership.flagSeen(batch, bloom, "key", "maybe_seen")
      .filter(col("maybe_seen")).count() == 0)
    assert(BloomMembership.definitelyNew(batch, bloom, "key").count() == batch.count())
  }

  test("sketch over an empty corpus is None") {
    // the aggregate evaluates null at cardinality 0; no bytes exist
    assert(BloomMembership.sketch(corpus.filter(col("id") < 0), "key",
      expectedItems = 100).isEmpty)
    assert(BloomMembership.sketch(corpus.limit(0), "key",
      expectedItems = 100).isEmpty)
  }

  test("flagSeen over no blooms flags nothing and adds only the flag") {
    val flagged = BloomMembership.flagSeen(batch, Nil, "key", "maybe_seen")
    assert(flagged.columns.toSeq == batch.columns.toSeq :+ "maybe_seen")
    assert(flagged.filter(col("maybe_seen")).count() == 0)
    assert(flagged.filter(col("maybe_seen").isNull).count() == 0)
  }

  test("fillRatio saturation gauge: in-capacity filter sits low, an " +
      "overfilled one trips FillWarnAt, and merging only raises it") {
    // 10k keys into a 100k-sized filter: ~7% of bits set
    val roomy = BloomMembership.sketch(corpus, "key", 100000L).get
    val roomyFill = BloomMembership.fillRatio(roomy)
    assert(roomyFill > 0.0 && roomyFill < 0.2,
      s"in-capacity filter should sit well under warn: $roomyFill")
    // 10k keys into a filter sized for 1k: saturated — the silent-
    // degradation state the gauge exists to catch (VERDICT r14 item 2)
    val overfull = BloomMembership.sketch(corpus, "key", 1000L).get
    val overFill = BloomMembership.fillRatio(overfull)
    assert(overFill > BloomMembership.FillWarnAt,
      s"saturated filter must trip the gauge: $overFill")
    // folding more keys in can only raise the gauge (bits only OR on)
    val half = BloomMembership.sketch(
      corpus.filter(col("id") < 5000), "key", 100000L).get
    val merged = BloomMembership.merge(half, roomy)
    assert(BloomMembership.fillRatio(merged) >= roomyFill)
  }

  test("epoch re-shard path: chained per-epoch probes flag a SUBSET " +
      "of the merged-filter probe; both keep zero false negatives") {
    val epochA = BloomMembership.sketch(
      corpus.filter(col("id") < 5000), "key", 10000L).get
    val epochB = BloomMembership.sketch(
      corpus.filter(col("id") >= 5000), "key", 10000L).get
    val merged = BloomMembership.merge(epochA, epochB)
    val flags = BloomMembership.flagSeen(
        BloomMembership.flagSeen(
          BloomMembership.flagSeen(
            BloomMembership.flagSeen(batch, Seq(epochA), "key", "fa"),
            Seq(epochB), "key", "fb"),
          Seq(merged), "key", "fm"),
        Seq(epochA, epochB), "key", "fany")
      .select("id", "fa", "fb", "fm", "fany")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    flags.foreach { case (id, fa, fb, fm, fany) =>
      assert(fany == (fa || fb),
        s"the chained probe on $id must equal the manual per-epoch OR")
      if (fa || fb) assert(fm,
        s"chained flag on $id missing from the merged probe (containment)")
      if (id < 5000) assert(fa && fm, s"false negative on corpus key $id")
    }
  }

  test("probe flags every row exactly as the driver-side " +
      "mightContainHash, for a small sketch and one past 4 MB") {
    // the batch as a range scan, so the probe runs in executor tasks
    // (a local Seq's projection is folded on the driver); the
    // reference is each row's xxhash64 key probed on the driver
    // against the deserialized filter — no Spark expression involved
    val scanned = spark.range(0L, 5000L).union(spark.range(100000L, 105000L))
      .select(col("id"), concat(lit("doc-"), col("id")).as("key"))
    val hashes = scanned.select(col("id"), xxhash64(col("key")))
      .as[(Long, Long)].collect()
    assert(hashes.length == 10000)
    Seq(10000L, 4000000L).foreach { items =>
      val epochA = BloomMembership.sketch(
        corpus.filter(col("id") < 5000), "key", items).get
      val epochB = BloomMembership.sketch(
        corpus.filter(col("id") >= 5000), "key", items).get
      if (items > 10000L) assert(epochA.length > 4L * 1024 * 1024,
        s"sketch sized for $items keys is only ${epochA.length} bytes")
      val got = BloomMembership.flagSeen(scanned, Seq(epochA, epochB),
          "key", "f")
        .select("id", "f").as[(Long, Boolean)].collect().toMap
      val want = hashes.map { case (id, h) => id ->
        (KernelOracles.mightContainHash(epochA, h) ||
          KernelOracles.mightContainHash(epochB, h)) }.toMap
      assert(got == want,
        s"probe must flag exactly the driver reference's rows ($items keys)")
      // batch ∩ corpus = ids 0-4999: zero false negatives
      (0L until 5000L).foreach(i => assert(got(i),
        s"false negative on corpus key $i ($items keys)"))
    }
  }

  test("broadcast probe cache: identical epoch bytes re-probed across " +
      "batches reuse ONE broadcast (content-keyed), distinct bytes add") {
    // sized uniquely (12345/23456) so the bytes can't collide with
    // entries other tests in this suite already cached — content
    // keying is global by design
    val a = BloomMembership.sketch(
      corpus.filter(col("id") < 5000), "key", 12345L).get
    val b = BloomMembership.sketch(
      corpus.filter(col("id") >= 5000), "key", 23456L).get
    // every probe in the suite's shared session goes through the
    // cache, so it may already be full: occupancy grows up to the cap
    val before = BloomMembership.bcCacheSize
    def capped(n: Int) = math.min(n, BloomMembership.BcCacheMax)
    // a loop RE-READS epoch bytes every batch — model that with a
    // fresh array copy each probe; content keying must still hit.
    // Returns the probe's broadcast handle.
    def probe(bs: Array[Byte]) = {
      val df = BloomMembership.flagSeen(batch, Seq(bs.clone()), "key", "f")
      df.filter(col("f")).count()
      natives(df.queryExecution.analyzed).head.bloom
    }
    val handles = Seq(probe(a), probe(a), probe(a))
    assert(handles.forall(_ eq handles.head),
      "re-probing identical bytes must reuse the cached broadcast")
    assert(BloomMembership.bcCacheSize == capped(before + 1))
    assert(!(probe(b) eq handles.head),
      "distinct bytes must get their own broadcast")
    assert(BloomMembership.bcCacheSize == capped(before + 2))
  }

  test("large-sketch probe is the native codegen expression holding " +
      "the broadcast — no ScalaUDF in the plan — and probes of the " +
      "same bytes canonicalize equal across plan instances") {
    val a = BloomMembership.sketch(
      corpus.filter(col("id") < 5000), "key", 34567L).get
    def probePlan() = BloomMembership.flagSeen(batch, Seq(a), "key", "f")
    val analyzed = probePlan().queryExecution.analyzed
    val udfs = analyzed.collect { case n => n.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u }) }.flatten
    assert(udfs.isEmpty,
      "the probe must be the native expression (VERDICT r16 item 3), " +
        s"found ScalaUDF: $udfs")
    val n1 = natives(analyzed)
    assert(n1.nonEmpty, "expected a BloomContainsBc predicate in the plan")
    // and it runs inside whole-stage codegen (over a range scan: a
    // local Seq's projection is folded on the driver, codegen or not)
    val executed = BloomMembership.flagSeen(
        spark.range(1000).select(col("id"),
          concat(lit("doc-"), col("id")).as("key")), Seq(a), "key", "f")
      .queryExecution.executedPlan
    assert(executed.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.child.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.plans.BloomContainsBc])))),
      s"the probe must be compiled into a codegen stage:\n$executed")
    // the content-keyed cache hands back the SAME Broadcast instance,
    // so two independently-built probe plans canonicalize equal — the
    // plan/fragment-cache property the per-call udf() instances broke
    // (ADVICE r16)
    val n2 = natives(probePlan().queryExecution.analyzed)
    assert(n1.head.bloom eq n2.head.bloom,
      "probes of identical sketch bytes must hold the SAME broadcast")
    // modulo the per-plan attribute exprId, the expressions are equal
    // (case-class equality with identity on the shared handle)
    val h = org.apache.spark.sql.catalyst.expressions.Literal(1L)
    assert(n1.head.withNewChildren(Seq(h)) == n2.head.withNewChildren(Seq(h)),
      "probes of identical sketch bytes must compare equal modulo the " +
        "hash attribute")
  }

  test("a lazy plan holding an EVICTED broadcast entry still probes " +
      "correctly (unpersist drops executor copies, not the handle), " +
      "and a fresh probe of the same bytes re-broadcasts") {
    val a = BloomMembership.sketch(
      corpus.filter(col("id") < 5000), "key", 45678L).get
    // eager truth before any cache churn
    val want = BloomMembership.flagSeen(batch, Seq(a), "key", "f")
      .select("id", "f").as[(Long, Boolean)].collect().toMap
    // build (but do NOT execute) a plan that captures a's broadcast
    val held = BloomMembership.flagSeen(batch, Seq(a), "key", "f")
    // churn the LRU past capacity with distinct sketches so a's entry
    // is evicted and unpersisted (each sizing yields distinct bytes)
    (0 until 17).foreach { i =>
      val b = BloomMembership.sketch(
        corpus.filter(col("id") < 100), "key", 50001L + i).get
      BloomMembership.flagSeen(batch.limit(1), Seq(b), "key", "f")
        .filter(col("f")).count()
    }
    // executing the held plan AFTER eviction must re-fetch the
    // driver-side block and flag identically (the r17 stretch case)
    val got = held.select("id", "f").as[(Long, Boolean)].collect().toMap
    assert(got == want,
      "a plan executed after its broadcast was unpersisted must still " +
        "flag row-identically")
    // and a brand-new probe of the same bytes simply re-broadcasts
    val size0 = BloomMembership.bcCacheSize
    val again = BloomMembership.flagSeen(batch, Seq(a.clone()), "key", "f")
      .select("id", "f").as[(Long, Boolean)].collect().toMap
    assert(again == want)
    assert(BloomMembership.bcCacheSize == size0 ||
        BloomMembership.bcCacheSize == size0 + 1,
      "re-probe after eviction re-enters the cache without unbounded growth")
  }

  test("sizingOf/sameSizing: merge compatibility is decidable from " +
      "the header — equal sizing merges, different sizing must not") {
    val a = BloomMembership.sketch(corpus, "key", 10000L).get
    val b = BloomMembership.sketch(
      corpus.filter(col("id") < 100), "key", 10000L).get
    val c = BloomMembership.sketch(corpus, "key", 50000L).get
    assert(BloomMembership.sameSizing(a, b))
    assert(!BloomMembership.sameSizing(a, c),
      "differently-sized filters must not report mergeable")
    BloomMembership.merge(a, b) // must not throw
    intercept[Exception](BloomMembership.merge(a, c))
  }

  test("sketch is partition-invariant and parquet round-trips") {
    val a = BloomMembership.sketch(corpus, "key", 10000).get
    val b = BloomMembership.sketch(corpus.repartition(13), "key", 10000).get
    assert(java.util.Arrays.equals(a, b),
      "bloom bits must not depend on physical partitioning")
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    Seq(a).toDF("bloom").write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir).as[Array[Byte]].collect().toSeq
    assert(persisted.size == 1 && java.util.Arrays.equals(persisted.head, a))
    val viaDisk = BloomMembership.flagSeen(batch, persisted, "key", "maybe_seen")
      .filter(col("maybe_seen")).count()
    val inline = BloomMembership.flagSeen(batch, Seq(b), "key", "maybe_seen")
      .filter(col("maybe_seen")).count()
    assert(viaDisk == inline, "persisted sketch must reproduce the inline probe")
  }
}
