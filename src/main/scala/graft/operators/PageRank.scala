package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an undirected edge list — the link-centrality
  * quality signal crawl pipelines attach to documents (CommonCrawl
  * publishes exactly this as its page/host ranks; harmonic/PageRank
  * centrality is the standard "how linked is this page" feature for
  * corpus filtering).
  *
  * Spark-first iteration: ranks live in a (node, rank) frame; one
  * Lloyd-style round = equi-join ranks→edges on the source endpoint,
  * groupBy destination with map-side combine, left-join back onto the
  * node set (teleport-only for nodes nothing points at this round).
  * Undirected edges are symmetrized, so there are no dangling nodes
  * by construction (every node in the edge list has degree ≥ 1);
  * isolated nodes never enter the iteration (same endpoints-only
  * discipline as [[Components.connectedComponents]]) — the caller
  * attaches them at the teleport floor if it wants them labeled.
  *
  * Determinism (the property every other float PageRank lacks): ranks
  * are `decimal(38,18)` end to end — contributions divide and sum as
  * decimals, so per-iteration results are EXACTLY order- and
  * partition-invariant, and two runs of the same graph are
  * bit-identical (spec-asserted at different parallelism). Per
  * iteration the rank frame is eagerly localCheckpointed to truncate
  * lineage (iters are sequential; each is one shuffle round).
  *
  * 100 TB lens: per round, the only movement is edges ⋈ ranks (hash
  * equi-join on node id — AQE-skew-splittable for hub nodes) and a
  * node-keyed aggregation; state is one row per node. Fixed `iters`
  * (power iteration converges geometrically at rate ~damping). */
object PageRank {

  private val RankType = "decimal(38,18)"

  /** Ranks for every edge-incident node after `iters` rounds:
    * (node, rank) with Σ rank = 1 over the edge-incident node set
    * (decimal-exact up to the per-node rounding ulp). Self-loops and
    * null endpoints are dropped; an empty (or all-self-loop) edge
    * list yields an empty frame, not an error.
    *
    * `damping` is QUANTIZED to 6 decimals (half-up) before the
    * iteration — the narrowing that keeps every per-round product
    * exact in decimal(38,18) arithmetic (see the dampDec comment
    * below): 0.85 and any 6-decimal value pass through unchanged;
    * 0.8512345 runs as 0.851235, and anything under 5e-7 rounds to
    * the excluded endpoint 0 and is rejected by the range require.
    * Callers needing finer damping than 1e-6 are outside this
    * operator's exactness contract. */
  def run(edges: DataFrame, aCol: String, bCol: String,
          iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // the range check applies to the QUANTIZED value the iteration
    // actually uses: without it, damping = 1e-7 would silently run as
    // 0 (uniform teleport-only ranks) and 0.9999996 as 1 (no teleport)
    val dampQ = BigDecimal(damping)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
    require(dampQ > 0 && dampQ < 1,
      s"damping quantizes to 6 decimals as $dampQ — out of (0,1); " +
        "pass a value representable at scale 6 (see run() scaladoc)")
    // symmetrize + dedup; mirroring via explode runs the (possibly
    // expensive) upstream edge pipeline ONCE, not once per union leg
    // (same pattern as Components.connectedComponents), and the
    // self-loop/null filter sits before the mirror so neither leg
    // can re-admit a dropped edge. Eager checkpoint: feeds the degree
    // count + every round.
    val sym = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v")) // null-safe: null endpoints fail too
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val n = deg.count() // edge-incident node count (one tiny job)
    if (n == 0) {
      // degenerate input: no usable edges -> empty result, same schema
      return deg.select(col("u").as("node"),
        lit(null).cast(RankType).as("rank"))
    }
    // damping is quantized to 6 decimals so every product below stays
    // EXACT before its one half-up rounding at scale 18 (r19, found
    // by the sf1 oracle sidecar): with the old decimal(20,18) damping
    // and decimal(38,18) mass, Spark's precision adjustment silently
    // rounded the product at scale 16 — a ~1e-16/round drift that the
    // 12-decimal output hides until a rank lands within it of a
    // 1e-12 half-boundary (two nodes at sf1; zero at catalog SF). The
    // factors are narrowed ((7,6) x (20,18) -> exact scale-24
    // product, precision 28 <= 38), so the only rounding is the final
    // cast to scale 18 — half-up, exactly the oracle's
    // (2*(dd*mass) + s) // (2*s) integer form.
    val dampDec = lit(damping).cast("decimal(7,6)")
    // teleport stays in the NARROW type: a (38,18) + (28,24) addition
    // would overflow precision 38 and round the SUM at scale 17 (the
    // same silent-adjustment trap as the multiply); (20,18) + (28,24)
    // adds exactly, so the one rounding is the final cast to 18
    val narrow = "decimal(20,18)"
    val teleport = ((lit(1).cast("decimal(7,6)") - dampDec) *
      (lit(1).cast(RankType) / lit(n)).cast(narrow)).cast(narrow)
    // out-edges annotated with the source degree, reused every round
    val out = sym.join(deg, "u")
      .select(col("u"), col("v"), col("deg"))
      .localCheckpoint(true)
    var ranks = deg.select(col("u").as("node"),
        (lit(1).cast(RankType) / lit(n)).cast(RankType).as("rank"))
      .localCheckpoint(true)
    // r21 (guide §2.4 — remove shuffles outright): the old per-round
    // tail was `nodes LEFT JOIN contrib` + coalesce(in_mass, 0), but
    // on the SYMMETRIZED graph the in-edge set equals the out-edge
    // set, so every edge-incident node receives mass every round —
    // contrib's key set IS the node set and the left join was
    // structurally an inner no-op. Dropping it removes one join (one
    // whole shuffle at scale, where ranks outgrows the broadcast
    // threshold) per round, and with `ranks` now referenced ONCE per
    // round the un-checkpointed lineage grows linearly instead of
    // doubling — cadence 5 plans fine (values are
    // checkpoint-invariant: decimal arithmetic).
    for (i <- 1 to iters) {
      val contrib = out.join(ranks, col("u") === col("node"))
        .select(col("v"), (col("rank") / col("deg")).as("c"))
        .groupBy("v").agg(sum(col("c")).as("in_mass"))
      val next = contrib
        .select(col("v").as("node"),
          (teleport + dampDec * col("in_mass").cast(narrow))
            .cast(RankType).as("rank"))
      ranks = if (i % 5 == 0 || i == iters) next.localCheckpoint(true) else next
    }
    ranks
  }
}
