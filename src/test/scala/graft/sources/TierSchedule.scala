package graft.sources

/** PURE long-horizon model of [[TieredIndex]]'s maintenance schedule
  * (VERDICT r19 item 7): the per-pass policy — cluster the tail into a
  * new generation, then run [[TieredIndex.mergeChoice]]-driven
  * byte-capped merge slices while over the cap — simulated over
  * hundreds of passes on metadata alone (generation sizes and row
  * cohorts; no files, no Spark). The endurance runs measure individual
  * pauses on real data; this answers the questions a 40-batch run
  * cannot: how many times is a row REWRITTEN over the index's whole
  * life, and does the generation-size distribution stay geometrically
  * stratified? (Asking exactly this of the r19 smallest-pair policy
  * measured LINEAR write amplification — passes/cap rewrites per row —
  * and a store/cap steady-state pause, which is why r20 switched to
  * most-equal-pair choice + sliced execution; see TieredIndex's MERGE
  * SCHEDULE doc.)
  *
  * A row COHORT = all rows appended in one pass's tail. `rewrites`
  * counts the passes that rewrote the cohort's bytes after the append
  * itself: the tail clustering that creates its generation, plus every
  * merge its generation participates in (counted once per merge, at
  * merge start — slicing spreads the WORK, not the per-row rewrite
  * count). */
object TierSchedule {

  /** One simulated generation — mirrors [[TieredIndex.Gen]] on
    * metadata: creation id (merge tie-break), merged-so-far rows,
    * rows per cohort, rows still pending in `srcIds` sources. */
  final case class SimGen(id: Long, rows: Long, cohorts: Map[Int, Long],
                          pending: Long = 0L, srcIds: Seq[Long] = Seq.empty)

  /** Post-pass snapshot: live generations, rows (re)written by this
    * pass (the inline-pause proxy: tail + merge slices), and whether
    * merge work ran. */
  final case class PassStat(pass: Int, gens: Seq[SimGen],
                            rewrittenRows: Long, merged: Boolean)

  final case class SimResult(stats: Seq[PassStat],
                             rewrites: Map[Int, Int], totalRows: Long) {
    def maxRewrites: Int = if (rewrites.isEmpty) 0 else rewrites.values.max
    def finalGens: Seq[SimGen] = if (stats.isEmpty) Seq.empty
      else stats.last.gens
  }

  /** Run `appends(pass)` rows through one maintenance pass each,
    * `passes` times, with the REAL pair policy
    * ([[TieredIndex.mergeChoice]]) and the r20 slice execution:
    * `sliceRows` (0 = unbounded) models [[TieredIndex.Spec]]'s
    * mergeBytesCap in rows; over-cap backlog past
    * [[TieredIndex.CatchupSlack]] runs [[TieredIndex.CatchupSlices]]
    * slices in one pass, like compact(). */
  def simulate(passes: Int, appends: Int => Long,
               maxGenerations: Int = TieredIndex.DefaultMaxGenerations,
               sliceRows: Long = 0L): SimResult = {
    var gens = Vector.empty[SimGen]
    var nextId = 0L
    val rewrites = scala.collection.mutable.Map.empty[Int, Int]
    val stats = Vector.newBuilder[PassStat]
    var total = 0L
    for (pass <- 0 until passes) {
      val tail = appends(pass)
      var written = 0L
      if (tail > 0) {
        gens :+= SimGen(nextId, tail, Map(pass -> tail))
        nextId += 1
        total += tail
        rewrites(pass) = 1 // the tail clustering itself
        written += tail
      }
      var merged = false
      var budget =
        if (gens.size > maxGenerations + TieredIndex.CatchupSlack)
          TieredIndex.CatchupSlices
        else 1
      while (budget > 0 && (gens.exists(_.pending > 0) ||
          gens.size > maxGenerations)) {
        budget -= 1
        merged = true
        gens.find(_.pending > 0) match {
          case None => // start a merge: pair by the REAL policy
            val choice = TieredIndex.mergeChoice(
              gens.map(g => (g.id, g.rows))).toSet
            val (pair, rest) = gens.partition(g => choice(g.id))
            // every row of both sources is rewritten once by this
            // merge, however many slices execute it
            pair.flatMap(_.cohorts.keys).distinct
              .foreach(c => rewrites(c) = rewrites(c) + 1)
            val totalR = pair.map(_.rows).sum
            val take = if (sliceRows <= 0) totalR
              else math.min(sliceRows, totalR)
            val (moved, remSrcs) = consume(pair, take)
            written += moved.values.sum
            val tgt = SimGen(nextId, moved.values.sum, moved,
              pending = totalR - moved.values.sum,
              srcIds = if (remSrcs.isEmpty) Seq.empty else remSrcs.map(_.id))
            nextId += 1
            gens = rest ++ remSrcs :+ tgt
          case Some(t) => // continue: one more slice into the target
            val (srcs, rest) = gens.partition(g => t.srcIds.contains(g.id))
            val take = if (sliceRows <= 0) t.pending
              else math.min(sliceRows, t.pending)
            val (moved, remSrcs) = consume(srcs, take)
            written += moved.values.sum
            val rem = remSrcs.map(_.rows).sum
            val t2 = t.copy(rows = t.rows + moved.values.sum,
              cohorts = merge(t.cohorts, moved), pending = rem,
              srcIds = if (rem == 0) Seq.empty else t.srcIds)
            gens = rest.filterNot(_.id == t.id) ++ remSrcs :+ t2
        }
      }
      stats += PassStat(pass, gens, written, merged)
    }
    SimResult(stats.result(), rewrites.toMap, total)
  }

  /** Take `take` rows off the front of `srcs` (cohort-proportional
    * within each source); returns (moved cohort rows, shrunken
    * still-live sources). */
  private def consume(srcs: Seq[SimGen],
                      take: Long): (Map[Int, Long], Seq[SimGen]) = {
    var left = take
    val moved = scala.collection.mutable.Map.empty[Int, Long]
    val rem = Vector.newBuilder[SimGen]
    srcs.foreach { g =>
      val t = math.min(left, g.rows)
      left -= t
      if (t >= g.rows) g.cohorts.foreach { case (c, n) =>
        moved(c) = moved.getOrElse(c, 0L) + n
      } else if (t > 0) {
        // proportional split, remainder assigned deterministically
        var assigned = 0L
        val keys = g.cohorts.keys.toSeq.sorted
        val parts = keys.map { c =>
          val share = g.cohorts(c) * t / g.rows
          assigned += share; c -> share
        }.toMap
        var extra = t - assigned
        val fixed = keys.map { c =>
          val bump = math.min(extra, g.cohorts(c) - parts(c))
          extra -= bump
          c -> (parts(c) + bump)
        }.toMap
        fixed.foreach { case (c, n) =>
          if (n > 0) moved(c) = moved.getOrElse(c, 0L) + n
        }
        val remCoh = g.cohorts.map { case (c, n) =>
          c -> (n - fixed.getOrElse(c, 0L))
        }.filter(_._2 > 0)
        rem += g.copy(rows = g.rows - t, cohorts = remCoh)
      } else rem += g
      ()
    }
    (moved.toMap, rem.result())
  }

  private def merge(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
    (a.keySet ++ b.keySet).map(c =>
      c -> (a.getOrElse(c, 0L) + b.getOrElse(c, 0L))).toMap
}
