package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.{KMeans, SemDedup, SimilaritySearch}

/** The trained IVF path: k-means finds planted clusters, probing
  * recovers the exact top-k with high recall, and the fit is
  * deterministic (bit-identical refits). */
class KMeansIvfSpec extends SparkSpec {
  import spark.implicits._

  // 6 well-separated clusters in dim 16, 60 points each
  private lazy val clustered = {
    val rnd = new Random(41)
    val centers = (0 until 6).map(_ => Array.fill(16)(rnd.nextGaussian() * 5))
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 60
    } yield ((ci * 60 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat))
    pts.toDF("vec_id", "embedding")
  }

  test("kmeans fit is deterministic and gives each planted cluster a majority cell") {
    val f1 = KMeans.fit(clustered, "vec_id", "embedding", k = 6, iters = 4)
      .orderBy("cell").as[(Long, Seq[Double])].collect()
    val f2 = KMeans.fit(clustered, "vec_id", "embedding", k = 6, iters = 4)
      .orderBy("cell").as[(Long, Seq[Double])].collect()
    assert(f1.toSeq == f2.toSeq, "refit must be bit-identical")
    assert(f1.length == 6)
    // each planted cluster's members mostly share one cell, and every
    // fitted cell holds members. Not asserted: 6 distinct majority
    // cells — from the seeded init (the 6 smallest-hash points) Lloyd
    // fits this fixture with one cluster split 36/24 across two cells
    // and two clusters merged into one cell
    val cellOf = SemDedup.assignCells(clustered, "vec_id", "embedding", f1.toSeq)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    assert(cellOf.size == 360)
    val counts = (0 until 6).map { ci =>
      (0 until 60).map(i => cellOf((ci * 60 + i).toLong))
        .groupBy(identity).map { case (c, xs) => (c, xs.size) }
    }
    counts.zipWithIndex.foreach { case (m, ci) =>
      assert(m.values.max > 30, s"cluster $ci has no majority cell: $counts")
    }
    assert(cellOf.values.toSet == f1.map(_._1).toSet, s"a fitted cell is empty: $counts")
  }

  test("ivfKmeansTopK recall vs exact baseline on planted clusters") {
    val queries = clustered.filter($"vec_id" % 60 === 0) // one per cluster
    val exact = SimilaritySearch.bruteForceTopK(queries, clustered,
        "vec_id", "embedding", 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf = SimilaritySearch.ivfKmeansTopK(queries, clustered,
        "vec_id", "embedding", k = 10, nCells = 6, iters = 4, nProbe = 2)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${ivf.intersect(exact).size}/${exact.size})")
  }

  test("sampleMod fit still clusters (fit on subset, assign all)") {
    val ivf = SimilaritySearch.ivfKmeansTopK(
      clustered.filter($"vec_id" === 0), clustered,
      "vec_id", "embedding", k = 5, nCells = 6, iters = 3, nProbe = 2, sampleMod = 3)
    assert(ivf.count() == 5)
  }

  test("fitLocal is deterministic, shares fit's init rule, and recalls planted clusters") {
    val f1 = KMeans.fitLocal(clustered, "vec_id", "embedding", k = 6, iters = 4)
      .orderBy("cell").as[(Long, Seq[Double])].collect()
    val f2 = KMeans.fitLocal(clustered, "vec_id", "embedding", k = 6, iters = 4)
      .orderBy("cell").as[(Long, Seq[Double])].collect()
    assert(f1.toSeq == f2.toSeq, "local refit must be bit-identical")
    // iters = 0 exposes the raw init: must equal the distributed fit's
    // seeded draw (smallest (xxhash64(id), id) vectors)
    val initLocal = KMeans.fitLocal(clustered, "vec_id", "embedding", k = 6, iters = 0)
      .orderBy("cell").as[(Long, Seq[Double])].collect().toSeq
    val initDist = KMeans.fit(clustered, "vec_id", "embedding", k = 6, iters = 0)
      .orderBy("cell").as[(Long, Seq[Double])].collect().toSeq
    assert(initLocal == initDist, "fitLocal and fit must share the init rule")
    // and the trained quantizer drives the same recall contract
    val queries = clustered.filter($"vec_id" % 60 === 0)
    val exact = SimilaritySearch.bruteForceTopK(queries, clustered,
        "vec_id", "embedding", 10)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf = SimilaritySearch.ivfKmeansTopK(queries, clustered,
        "vec_id", "embedding", k = 10, nCells = 6, nProbe = 2,
        quantizer = Some(KMeans.fitLocal(clustered, "vec_id", "embedding", k = 6, iters = 4)))
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"fitLocal recall $recall")
  }

  test("fit/apply split: pre-trained quantizer reproduces the inline fit") {
    val queries = clustered.filter($"vec_id" % 60 === 0)
    val trained = KMeans.fit(clustered, "vec_id", "embedding", k = 6, iters = 4)
    val applied = SimilaritySearch.ivfKmeansTopK(queries, clustered,
        "vec_id", "embedding", k = 10, nCells = 6, iters = 4, nProbe = 2,
        quantizer = Some(trained))
      .orderBy("q_id", "rk").collect().toSeq
    val inline = SimilaritySearch.ivfKmeansTopK(queries, clustered,
        "vec_id", "embedding", k = 10, nCells = 6, iters = 4, nProbe = 2)
      .orderBy("q_id", "rk").collect().toSeq
    assert(applied == inline,
      "passing the fitted quantizer must be equivalent to fitting inline")
  }
}
