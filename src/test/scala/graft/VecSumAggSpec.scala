package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilaritySearch

/** graft_vec_dsum (element-wise decimal vector sum) and the r6
  * ivfTopK restructure it serves: exactness vs the declarative
  * posexplode path, partition invariance, null/ragged contracts, and
  * the ivfLabelIndex fit/apply split. */
class VecSumAggSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (1L to 200L)
    .map(i => (i, i % 5, Seq(i * 0.1, math.sin(i.toDouble), i / 7.0)))
    .toDF("id", "cell", "v")

  test("matches the posexplode decimal-sum path exactly") {
    val agg = vecs.groupBy("cell")
      .agg(call_function("graft_vec_dsum", col("v")).as("sv"))
      .select(col("cell"), col("sv"))
      .as[(Long, Seq[Double])].collect().toMap
    val exploded = vecs
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum(col("x").cast("decimal(30,15)")).cast("double").as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("sv"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(agg == exploded)
  }

  test("partition-invariant (exact decimal merge)") {
    def run(df: org.apache.spark.sql.DataFrame) = df.groupBy("cell")
      .agg(call_function("graft_vec_dsum", col("v")).as("sv"))
      .select(col("cell"), col("sv"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(run(vecs) == run(vecs.repartition(13)))
    assert(run(vecs) == run(vecs.coalesce(1)))
  }

  test("skips null vectors and vectors with null elements; floats widen") {
    val df = Seq(
      (1L, Some(Seq(Some(1.0f), Some(2.0f)))),
      (2L, Some(Seq(Some(3.0f), None))), // null element -> skipped
      (3L, None),                        // null vector -> skipped
      (4L, Some(Seq(Some(0.5f), Some(0.25f))))
    ).toDF("id", "v")
    val out = df.agg(call_function("graft_vec_dsum", col("v")).as("sv"))
      .as[Seq[Double]].head()
    assert(out == Seq(1.5, 2.25))
    // all inputs skipped -> null result
    val none = df.filter(col("id") === 3)
      .agg(call_function("graft_vec_dsum", col("v")).as("sv"))
      .select(col("sv").isNull).as[Boolean].head()
    assert(none)
  }

  test("dimension mismatch throws instead of truncating") {
    val bad = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
    val e = intercept[Exception] {
      bad.coalesce(1).agg(call_function("graft_vec_dsum", col("v"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("ivfTopK: precomputed ivfLabelIndex == inline build, and hits its cell") {
    // planted geometry: 3 tight clusters along distinct axes, labeled
    val base = Seq.tabulate(60) { i =>
      val cell = i % 3
      val v = Seq.tabulate(4)(d =>
        (if (d == cell) 10.0 else 0.0) + (i / 3) * 0.01)
      (i.toLong, cell, v)
    }.toDF("vec_id", "label", "embedding")
    val q = base.filter(col("vec_id") < 3)
    val inline = SimilaritySearch
      .ivfTopK(q, base, "vec_id", "embedding", "label", 5)
      .orderBy("q_id", "rk")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val idx = SimilaritySearch.ivfLabelIndex(base, "vec_id", "embedding", "label")
    val split = SimilaritySearch
      .ivfTopK(q, base, "vec_id", "embedding", "label", 5, centroids = Some(idx))
      .orderBy("q_id", "rk")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(inline == split)
    // each query lands in its own label cell and retrieves only it
    assert(inline.nonEmpty)
    inline.foreach { case (qId, cell, cId, _, _) =>
      assert(cell == qId % 3, s"query $qId assigned to cell $cell")
      assert(cId % 3 == qId % 3, s"candidate $cId outside cell")
    }
  }

  test("ivfTopK: label-partitioned clusters, recall@3 vs the exact search") {
    // the label IS the cluster, so confining each query to its label's
    // cell must keep the exact top-3, which is all in-cluster
    val rnd = new scala.util.Random(71)
    val centers = (0 until 6).map(_ => Array.fill(16)(rnd.nextGaussian() * 5))
    val base = (for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield ((ci * 40 + i).toLong, ci, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val q = base.filter(col("vec_id") % 40 === 0)
    val exact = SimilaritySearch.bruteForceTopK(q, base, "vec_id", "embedding", 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val got = SimilaritySearch.ivfTopK(q, base, "vec_id", "embedding", "label", 3)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(exact.size == 18 && recall >= 0.95, s"recall@3 $recall")
  }
}
