package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the cluster-resolution step
  * every dedup pipeline needs after candidate pairs: near-dup PAIRS
  * (minhashLshPairs, simhashPairs, embeddingNearDups...) only relate
  * documents two at a time, but "keep one copy" must hold per
  * transitive CLUSTER (a~b, b~c ⇒ keep exactly one of {a,b,c}).
  *
  * Algorithm: min-label propagation with pointer jumping (the
  * hash-to-min family, Rastogi et al., ICDE'13). Every edge-endpoint
  * starts labeled with itself; each round a node takes the minimum
  * label over its graph neighbors PLUS one "label edge" per node —
  * (v, c(v)), giving the pointer jump c(c(v)) — folded into ONE
  * equi-join + min-aggregate. Fixpoint =
  * every endpoint carries the minimum id of its component: a
  * canonical, deterministic representative independent of partitioning
  * and iteration order.
  *
  * Scale shape, the 100 TB lens:
  * - The iteration runs over EDGE ENDPOINTS only. In a real corpus
  *   near-dup edges touch a small fraction of documents; isolated
  *   nodes (the overwhelming majority) are unioned in as their own
  *   component at the END, never shuffled through the rounds.
  * - One round = ONE Spark job: the convergence metric (label sum —
  *   labels only ever decrease, so an unchanged sum ⇔ a fixpoint) is
  *   collected via `Dataset.observe` DURING the checkpoint
  *   materialization instead of a second aggregation job per round.
  * - Everything is equi-join/aggregate shaped — no driver-side graph;
  *   labels are checkpointed per round to sever the iterative lineage.
  * Rounds scale with log(diameter) on label chains via the pointer
  * jump; `maxIters` guards pathological inputs and the operator fails
  * loudly rather than return a non-converged (wrong) labeling. Since
  * r22 each materialized round chains k = [[ChainSteps]] propagation
  * steps (`maxIters` bounds the loop at k·maxIters steps):
  * the loop's local cost is per-action fixed overhead, its at-scale
  * cost per-step shuffles — k steps per barrier divides the former by
  * k for the same latter, and the in-flight per-step observes keep
  * convergence detection per-step (at most k-1 steps of overshoot,
  * which recompute the converged labels bit-identically). Each round
  * logs its index, step count, label sum and wall time at INFO.
  */
object Components {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Propagation steps chained per materialized round. The round plan
    * duplicates the label subtree 2^k times (step references lb
    * twice), and at k=3/k=4 the planning cost of the bigger round plan
    * exceeded the barrier savings: d7 4.4 s at k=2 vs 4.8 s at k=3 on
    * the same box. */
  private val ChainSteps = 2

  /** (node, component) for every node in `edges` (+ optional isolated
    * `nodes`, which keep themselves as component). `component` is the
    * smallest node id of the connected component. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          nodes: Option[DataFrame] = None,
                          maxIters: Int = 50): DataFrame = {
    // mirror each edge in ONE pass over the (often expensive) pair
    // pipeline feeding this: explode to (u,v) and (v,u) rather than a
    // self-union that would execute the pipeline once per branch, then
    // checkpoint the deduped symmetric list (scanned once per round)
    val sym = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
      .localCheckpoint(true)
    var prevSum: java.math.BigDecimal = null
    var round = 0
    // empty edge set: nothing to propagate (the convergence probe sums
    // labels, and a sum over zero rows is null every round — without
    // this short-circuit an all-singleton corpus would spin maxIters
    // empty jobs and then throw). isEmpty is one cheap action on the
    // checkpointed label frame.
    var converged = labels.isEmpty
    // one propagation step: every endpoint takes the min label over its
    // graph neighbors PLUS its own label's label (the pointer jump).
    // Label edges (v, c(v)): v sees labels[c(v)] = c(c(v)) — the jump
    // that contracts label chains; c(v)=v degenerates to a self-loop,
    // which keeps every node in the aggregation's key set. (A reverse
    // (c(v), v) edge would only deliver labels[v] = c(v) — the
    // recipient's own id — so it is omitted: min propagation toward the
    // root happens through the mirrored graph edges in sym.)
    // r22 note: a "join sym and the label edges with lb separately,
    // union the RESULTS" restructure (to keep a pre-established
    // hashpartitioning(v) on sym live across rounds) was MEASURED and
    // REJECTED: it references lb three times per step instead of two,
    // so the k-chained round plan grows 3^k and d7 went 3.7 s → 5.7 s
    // at k=2 (16 s at k=3) from planning alone. The union-then-join
    // form below keeps the round plan at 2^k leaf refs.
    def step(lb: DataFrame): DataFrame = sym
      .union(lb.select(col("node").as("u"), col("comp").as("v")))
      .join(lb.withColumnRenamed("node", "__v"), col("v") === col("__v"))
      .groupBy("u").agg(min("comp").as("comp"))
      .select(col("u").as("node"), col("comp"))
    while (!converged && round < maxIters) {
      round += 1
      val tRound = System.nanoTime()
      // k steps per materialized round (r22, guide §1.2 step 1 /
      // §2.4): the iteration's local cost is per-ACTION fixed overhead
      // (checkpoint materialization + AQE stage jobs + the convergence
      // probe — profiled at ~400 ms per round on KB-sized labels, the
      // whole loop is scheduling floor), and its at-scale cost is
      // per-STEP shuffles. Chaining k steps inside one checkpointed
      // action divides the actions, checkpoints and convergence probes
      // by k for the same step count; lineage stays bounded (k steps).
      // Every step's label sum is observed IN-FLIGHT during the one
      // materialization, so convergence detection still sees every
      // step boundary: labels only ever decrease, so ANY equal
      // adjacent pair of sums certifies a fixpoint (at most k-1 steps
      // of overshoot past it — overshoot steps recompute the converged
      // labels bit-identically, so results never depend on k; see
      // ChainSteps for why k = 2).
      val chainObs = Seq.fill(ChainSteps)(Observation())
      // the checkpoint materialization IS the round's only job; the
      // observations collected the step sums during it
      labels = graft.ql.withJobDescription(edges.sparkSession,
          s"cc: round $round") {
        chainObs.foldLeft(labels)((lb, o) => step(lb)
            .observe(o, sum(col("comp").cast("decimal(38,0)")).as("s")))
          .localCheckpoint(true)
      }
      val chainSums = chainObs.map(o =>
        o.get.getOrElse("s", null).asInstanceOf[java.math.BigDecimal])
      log.info(s"connectedComponents round $round: steps=$ChainSteps " +
        s"labelSum=${chainSums.last} " +
        f"wall=${(System.nanoTime() - tRound) / 1e6}%.0fms")
      // value compare, not object equals: BigDecimal.equals is
      // scale-sensitive (2 != 2.0)
      converged = (prevSum +: chainSums).sliding(2).exists {
        case Seq(a, b) => a != null && b != null && a.compareTo(b) == 0
        case _ => false
      }
      prevSum = chainSums.last
    }
    if (!converged && round == maxIters)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds maxIters; raise it (near-dup clusters " +
          "are dense/shallow; long chains are a sign the threshold is too loose)")
    // isolated nodes never entered the iteration; attach them as their
    // own singleton components
    nodes match {
      case Some(n) =>
        val all = n.select(col(n.columns.head).cast("long").as("node")).distinct()
        val isolated = all.join(labels, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("comp"))
        labels.union(isolated)
      case None => labels
    }
  }

  /** Exact triangle count of an undirected pair graph — the standard
    * graph-shape statistic of a near-dup pair pipeline (triangles ≈
    * transitively-consistent duplicate groups; wedges that DON'T close
    * flag borderline-threshold pairs worth auditing).
    *
    * Algorithm: degree-ordered node-iterator (the MapReduce-classic
    * compact-forward form). Edges are oriented from the (degree, id)-
    * smaller endpoint to the larger, so every wedge is enumerated at
    * its lowest-degree vertex: the per-vertex wedge fan-out is bounded
    * by min-degree and the hub-vertex quadratic blowup of the naive
    * node-iterator never happens. Wedge generation and wedge closing
    * are both equi-joins (on the pivot vertex / on the closing pair) —
    * no cartesian anywhere, scales with Σ_e min-deg(e), the best known
    * join-based bound.
    *
    * Input must be canonical candidate pairs (a < b, distinct — what
    * every `*Pairs` operator here emits). Output: one row
    * (n_nodes, n_edges, n_triangles). */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // eager localCheckpoint: the edge list feeds degree counting, both
    // wedge sides, the closing join AND the edge count — without it a
    // costly upstream pair pipeline (e.g. the d5 grid join) re-executes
    // once per reference; blocks free when the plan drops out of scope
    val ed = pairs.select(
      least(col(aCol), col(bCol)).cast("long").as("u"),
      greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)

    val deg = ed.select(col("u").as("n")).unionAll(ed.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))

    // orient each edge low -> high in the total (degree, id) order
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val dir = ed.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("id"), col("du").as("d")))
          .otherwise(struct(col("v").as("id"), col("dv").as("d"))).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("v").as("id"), col("dv").as("d")))
          .otherwise(struct(col("u").as("id"), col("du").as("d"))).as("dst"))

    // wedges at the pivot: r22 (guide §2.3 — aggregate before you
    // shuffle) replaces the old e1 ⋈ e2 SELF-JOIN on the pivot (which
    // shuffled the oriented edge list twice and ran a join stage just
    // to pair neighbors) with ONE aggregation into per-pivot sorted
    // higher-neighbor lists + a map-side HOF pair expansion (the
    // ngramJaccardPairs pattern). Hub-safe: a pivot's list holds only
    // its HIGHER-ordered neighbors, and out-degree under degree
    // orientation is bounded by O(√(2E)) for any graph — no
    // corpus-degree row can form. The sorted array yields each wedge
    // (x, y) with (x.d, x.id) < (y.d, y.id) exactly like the old
    // filter (ids are unique, so struct order is strict).
    val adjHi = dir.groupBy(col("src.id").as("p"))
      .agg(array_sort(collect_list(struct(col("dst.d"), col("dst.id")))).as("hs"))
    val pairCol = flatten(transform(col("hs"), (x, i) =>
      transform(slice(col("hs"), i + lit(2), size(col("hs"))),
        y => struct(x.getField("id").as("wx"), y.getField("id").as("wy")))))
    val wedges = adjHi.select(explode(pairCol).as("w"))
      .select(col("w.wx"), col("w.wy"))
    val closing = dir.select(col("src.id").as("wx"), col("dst.id").as("wy"))
    val nTri = wedges.join(closing, Seq("wx", "wy"))
      .agg(count(lit(1)).as("n_triangles"))

    // r22 (guide §1.2 — don't run a job you can fold into another):
    // n_nodes and n_edges come out of ONE aggregation over the degree
    // table — Σ deg = 2·|E| exactly (every ed row increments two
    // degrees), so `sum(deg) div 2` (integral divide, exact at any
    // scale) equals the old separate count over ed, and one count+sum
    // agg + one crossJoin replaces two aggs + two crossJoins (the old
    // form spent ~6 driver-floor jobs on the two scalar counts).
    // coalesce keeps the empty-graph value 0, matching count().
    val counts = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges"))
    counts.crossJoin(nTri)
  }

  def clusterSummary(components: DataFrame): DataFrame =
    components.groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("n_members"))
}
