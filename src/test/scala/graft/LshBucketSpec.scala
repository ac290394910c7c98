package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.plans.LshBucketSig

/** Differential test: the native graft_lsh_bucket expression must be
  * bit-identical to the HOF formulation it replaces
  * (`KernelOracles.lshBucketHof`, the same xxhash64-derived hyperplane
  * family), across dims, nBits, offsets, and the null-element /
  * empty-vector edge cases. */
class LshBucketSpec extends SparkSpec {
  import spark.implicits._

  test("native lshBucket equals HOF formulation on random vectors") {
    val rnd = new Random(7)
    val dims = Seq(1, 3, 64)
    for (dim <- dims) {
      val df = (1 to 200).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
        .toDF("id", "v")
      for ((nBits, off) <- Seq((8, 0), (16, 0), (12, 48), (1, 63))) {
        val d = KernelOracles.diffs(df, VectorOps.lshBucket(col("v"), nBits, off),
          KernelOracles.lshBucketHof(col("v"), nBits, off), classOf[LshBucketSig])
        assert(d.isEmpty, s"dim=$dim nBits=$nBits off=$off: ${d.mkString("\n")}")
      }
    }
  }

  test("tables at different bitOffsets are distinct hyperplane families") {
    val rnd = new Random(11)
    val df = (1 to 300).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian())))
      .toDF("id", "v")
    val n = df.select(VectorOps.lshBucket(col("v"), 8, 0).as("t0"),
        VectorOps.lshBucket(col("v"), 8, 8).as("t1"))
      .filter(col("t0") =!= col("t1")).count()
    assert(n > 0, "offset tables produced identical buckets for all rows")
  }

  test("multi-probe raises candidate coverage; probes are distinct and include the primary") {
    val rnd = new Random(61)
    val dim = 24
    val corpus = (1 to 600).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    val queries = corpus.filter(col("vec_id") <= 8)
    // probe arrays: primary first, all pairwise distinct
    val probes = queries.select(
        graft.functions.VectorOps.lshBucket(
          graft.functions.VectorOps.toDouble(col("embedding")), 8).as("primary"),
        graft.functions.VectorOps.lshProbeBuckets(
          graft.functions.VectorOps.toDouble(col("embedding")), 8, 4).as("ps"))
      .collect()
    probes.foreach { r =>
      val ps = r.getSeq[Long](1)
      assert(ps.head == r.getLong(0) && ps.distinct.size == ps.size)
    }
    import graft.operators.SimilaritySearch
    val single = SimilaritySearch.lshTopK(queries, corpus, "vec_id", "embedding",
      k = 10, nBits = 8, nProbes = 1).count()
    val multi = SimilaritySearch.lshTopK(queries, corpus, "vec_id", "embedding",
      k = 10, nBits = 8, nProbes = 4).count()
    assert(multi >= single, s"multi-probe returned fewer rows: $multi < $single")
    // on random gaussians with 256 buckets, 4x probes must find more
    assert(multi > single, s"probing added nothing ($single rows)")
    corpus.unpersist()
  }

  test("null element and empty vector match HOF (bucket 0)") {
    val df = Seq(
      (1L, Array[java.lang.Double](1.0, null, 2.0)),
      (2L, Array[java.lang.Double]())
    ).toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val d = KernelOracles.diffs(df, VectorOps.lshBucket(col("v"), 8),
      KernelOracles.lshBucketHof(col("v"), 8), classOf[LshBucketSig])
    assert(d.isEmpty, d.mkString("\n"))
    df.select(col("id"), VectorOps.lshBucket(col("v"), 8)).collect().foreach { r =>
      assert(r.getLong(1) == 0L, s"id=${r.getLong(0)}: native=${r.getLong(1)}")
    }
  }

  test("lshTopK: planted twins come back at rank 1, and clustered " +
      "recall@3 holds, with one probe and with four") {
    import graft.operators.SimilaritySearch
    val rnd = new Random(73)
    // twins: the first 20 corpus vectors with coordinate 0 scaled by
    // 1.001 (cosine ~1), queried against the corpus
    val corpus = (1 to 400).map(i =>
      (i.toLong, Array.fill(24)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val twins = corpus.filter(col("vec_id") <= 20).select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x * 1.001f).otherwise(x))
        .as("embedding"))
    // clustered: 30 centers uniform in [-1,1]^32, 10 members each at
    // +-0.05 noise, so a query's exact top-3 is in its own cluster
    val centers = (0 until 30).map(_ => Array.fill(32)(rnd.nextDouble() * 2 - 1))
    val clustered = (0 until 300).map { i =>
      (i.toLong, centers(i % 30).map(x => (x + (rnd.nextDouble() * 2 - 1) * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val cq = clustered.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(cq, clustered, "vec_id", "embedding", 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recalls = Seq(1, 4).map { probes =>
      val top1 = SimilaritySearch.lshTopK(twins, corpus, "vec_id", "embedding",
          k = 1, nBits = 8, nProbes = probes)
        .filter(col("rk") === 1 && col("c_id") === col("q_id") - 10000).count()
      assert(top1 >= 19, s"nProbes=$probes: $top1/20 twins at rank 1")
      val got = SimilaritySearch.lshTopK(cq, clustered, "vec_id", "embedding",
          k = 3, nBits = 8, nProbes = probes)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      val recall = got.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.8, s"nProbes=$probes: clustered recall@3 $recall")
      recall
    }
    assert(recalls(1) >= recalls(0), s"probing lost recall: $recalls")
  }
}
