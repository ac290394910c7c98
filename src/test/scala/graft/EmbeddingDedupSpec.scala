package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.VectorOps

/** Grid-blocked exact near-dup join: differential vs the naive
  * all-pairs plan it replaced, plan-shape assertion (no
  * BroadcastNestedLoopJoin), and the LSH approximate path's
  * precision/recall contract. */
class EmbeddingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def randomCorpus(n: Int, dim: Int, seed: Int) = {
    val rnd = new Random(seed)
    (1 to n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("id", "v")
  }

  /** The replaced BroadcastNestedLoopJoin form — kept as the
    * differential oracle for the grid join (VERDICT r1 item 2). */
  private def naivePairs(df: org.apache.spark.sql.DataFrame, threshold: Double) = {
    val v = df.select(col("id"), VectorOps.toDouble(col("v")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .filter(col("nrm") > 0)
    val a = v.alias("a"); val b = v.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("cos", VectorOps.cosinePre(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), round(col("cos"), 6).as("cos"))
  }

  test("grid join equals naive all-pairs bit-for-bit") {
    val df = randomCorpus(300, 16, seed = 3).cache()
    val want = naivePairs(df, 0.3).as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "test corpus produced no qualifying pairs")
    for (blocks <- Seq(1, 4, 13)) {
      val got = Dedup.embeddingNearDups(df, "id", "v", 0.3, blocks)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"blocks=$blocks: ${got.size} vs ${want.size} pairs")
    }
    df.unpersist()
  }

  test("grid join plan has no BroadcastNestedLoopJoin") {
    val df = randomCorpus(50, 8, seed = 5)
    val plan = Dedup.embeddingNearDups(df, "id", "v", 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("LSH near-dup path: exact precision, high recall on planted dups at tau=0.9") {
    val rnd = new Random(17)
    val dim = 32
    // 40 planted near-dup pairs (tiny perturbation => cos ~ 1) + noise
    val bases = (1 to 40).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    val planted = bases.zipWithIndex.flatMap { case (v, i) =>
      val w = v.map(_ + rnd.nextGaussian() * 0.02)
      Seq((2L * i, v.map(_.toFloat)), (2L * i + 1, w.map(_.toFloat)))
    }
    val noise = (1 to 400).map(i => (1000L + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = (planted ++ noise).toDF("id", "v").cache()

    val exact = Dedup.embeddingNearDups(df, "id", "v", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.size >= 40, s"expected >=40 planted pairs, got ${exact.size}")

    val approx = Dedup.embeddingNearDupsLsh(df, "id", "v", 0.9, nBits = 12, tables = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // precision 1 by construction (exact verify step)
    assert(approx.subsetOf(exact), s"false positives: ${approx.diff(exact)}")
    // p(bit) at cos .99 ~ .955 => per-table .955^12 = .58, 8 tables => ~1-1e-3
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9 (${approx.size}/${exact.size})")
    df.unpersist()
  }

  test("graft_dot on float arrays equals toDouble-then-dot bit-for-bit") {
    val df = randomCorpus(200, 24, seed = 11)
    val both = df.select(
        VectorOps.dot(col("v"), col("v")).as("f"),
        VectorOps.dot(VectorOps.toDouble(col("v")), VectorOps.toDouble(col("v"))).as("d"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"float kernel diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }
}
