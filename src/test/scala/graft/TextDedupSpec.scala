package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Dedup, SimilaritySearch}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (2L, "completely different content about spark query engines and columnar execution"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"))
    .toDF("doc_id", "text")

  test("countOccurrences and token counts") {
    val r = docs.filter($"doc_id" === 0).select(
      TextOps.countOccurrences($"text", "the"),
      TextOps.wsTokenCount($"text"),
      TextOps.bpeEstimate($"text")).head()
    assert(r.getLong(0) == 3)
    assert(r.getLong(1) == 14)
    assert(r.getLong(2) == math.ceil(70 / 4.0).toLong)
  }

  test("langId picks marker-argmax with priority") {
    val df = Seq("x the y the z", "und der hund der", "nothing here").toDF("text")
    val got = df.select(TextOps.langId($"text")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("qualityScore is bounded [0,1]") {
    val qs = docs.select(TextOps.qualityScore($"text").as("q"))
      .collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("fingerprint: deterministic, content- and order-sensitive") {
    val fp = docs.select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0) == fp(3)) // identical text
    assert(fp(0) != fp(1)) // one-word difference
    val rev = Seq("ab", "ba").toDF("text")
      .select(TextOps.fingerprint($"text")).collect().map(_.getLong(0))
    assert(rev(0) != rev(1)) // order-sensitive rolling hash
  }

  test("exactDedup groups identical content") {
    val r = Dedup.exactDedup(docs, "doc_id", "text")
    assert(r.count() == 3)
    val dup = r.filter($"n_dups" === 2).head()
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("minhashLshPairs finds crafted near-dups, skips distinct docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 5,
      numHashes = 128, bands = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup always collides
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // distinct doc out
  }

  test("simhash: near-dups at small hamming distance") {
    val sh = docs.select($"doc_id", Dedup.simhash64($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0) == sh(3))
    assert(java.lang.Long.bitCount(sh(0) ^ sh(1)) < 16)
    assert(java.lang.Long.bitCount(sh(0) ^ sh(2)) > 16)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 7, blocks = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    // default 16-bit blocking recalls exact dups too (dist 0 <= 3)
    val p16 = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p16.contains((0L, 3L)))
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val exact = pairs.find(p => p._1 == 0 && p._2 == 3)
    assert(exact.exists(_._3 == 1.0))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 > 0.8))
    assert(!pairs.exists(p => p._1 == 2 || p._2 == 2))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.95f, 0.05f), 1)).toDF("vec_id", "embedding", "label")

  test("vector ops: dot/norm/cosine") {
    val r = vecs.filter($"vec_id" === 0).select(
      VectorOps.dot(VectorOps.toDouble($"embedding"), VectorOps.toDouble($"embedding")),
      VectorOps.norm(VectorOps.toDouble($"embedding"))).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
  }

  test("bruteForceTopK ranks by cosine") {
    val top = SimilaritySearch.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .orderBy("rk").as[(Long, Long, Double, Long)].collect()
    assert(top.map(_._2).toSeq == Seq(0L, 1L)) // self then near-neighbor
  }

  test("embeddingNearDups finds close vectors only") {
    val nd = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(nd == Set((0L, 1L), (2L, 3L)))
  }

  test("lshBucket: identical vectors share a bucket") {
    // row 4 holds row 0's vector under another id
    val b = vecs.unionByName(vecs.filter($"vec_id" === 0).withColumn("vec_id", lit(4L)))
      .orderBy("vec_id")
      .select(VectorOps.lshBucket(VectorOps.toDouble($"embedding"), 8))
      .collect().map(_.getLong(0))
    assert(b.length == 5 && b(0) == b(4))
    // near-identical vectors should usually collide on 8 hyperplanes
    assert(b(2) == b(3))
  }
}
