package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup}

/** Connected components vs a driver-side union-find oracle. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical rep = min member id (path-compress to the min root)
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("random graph matches union-find, isolated nodes keep themselves") {
    val n = 200
    val rnd = new Random(7)
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val expected = unionFind(n, edges)
    val got = Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b",
        nodes = Some((0L until n.toLong).toDF("id")))
      .as[(Long, Long)].collect().toMap
    assert(got.size == n)
    assert(got == expected)
  }

  test("a 30-node chain converges (diameter-bound rounds)") {
    val edges = (0L until 29L).map(i => (i, i + 1))
    val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L), s"one component expected: $got")
  }

  test("a 1000-node chain converges within the default round budget") {
    // worst-case diameter: the pointer jump must give log-ish rounds,
    // not diameter rounds — maxIters 50 would throw if it regressed
    val edges = (0L until 999L).map(i => (i, i + 1))
    val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 1000 && got.values.toSet == Set(0L))
  }

  test("empty edge set: singleton components, no convergence spin") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val got = Components.connectedComponents(noEdges, "a", "b",
        nodes = Some(nodes))
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("non-convergence fails loudly instead of returning wrong labels") {
    // an 11-node chain cannot converge within one round (= 2
    // propagation steps since r22), so the maxIters guard must fire
    val edges = (0L until 10L).map(i => (i, i + 1))
    val sc = spark.sparkContext
    sc.setJobDescription("caller label")
    try {
      intercept[IllegalStateException] {
        Components.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIters = 1)
      }
      // the round labels are scoped: the caller's label survives the throw
      assert(sc.getLocalProperty("spark.job.description") == "caller label")
    } finally sc.setJobDescription(null)
  }

  test("cluster resolution composes with near-dup pairs (keep one per cluster)") {
    // three planted dup clusters {0,1,2}, {10,11}, singleton 20
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "the quick brown fox jumps over the lazy dog!",
      2L -> "the quick brown fox jumps over the lazy dogs",
      10L -> "completely different text about spark engines",
      11L -> "completely different text about spark engine",
      20L -> "unrelated third document with its own words").toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.55)
    val comps = Components.connectedComponents(pairs, "a_id", "b_id",
      nodes = Some(docs.select("doc_id")))
      .as[(Long, Long)].collect().toMap
    assert(comps(0L) == 0L && comps(1L) == 0L && comps(2L) == 0L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(comps(20L) == 20L)
    val summary = Components.clusterSummary(
        Components.connectedComponents(pairs, "a_id", "b_id",
          nodes = Some(docs.select("doc_id"))))
      .as[(Long, Long)].collect().toMap
    assert(summary == Map(0L -> 3L, 10L -> 2L, 20L -> 1L))
  }
}
