package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BloomMembership

/** Generation-tiered maintenance for an append-heavy CLUSTERED parquet
  * index — the shared machinery behind the near-dup band index
  * (CorpusIngest) and the winnow anchor index (Dedup): a streaming
  * loop appends one small file per micro-batch, and the per-batch
  * probe wants (a) a key-summary bloom to decide whether the store
  * must be read at all and (b) per-file clustered key ranges so only
  * the files a hot key lands in are opened.
  *
  * The store is a flat parquet dir; a SIDECAR at `<dir>_keys` (one
  * row per GENERATION: right-sized key bloom + per-file lexicographic
  * key ranges + row count) describes the files a compaction pass has
  * clustered. Files the sidecar does not reference are TAIL — scanned
  * in full by probes, bounded by the appends since the last pass.
  *
  * Generations are IMMUTABLE once complete (r19 — this is what
  * removes the r18 design's capacity-triggered full rewrite): each
  * compaction pass clusters ONLY the tail into a NEW generation whose
  * bloom is sized to exactly its keys, so there is no shared bloom to
  * exhaust. The probe-side cost of tiering is one bloom predicate
  * per generation (a few map-side tests per key, overall fpp ≤ the
  * sum of per-generation fpps) instead of one.
  *
  * MERGE SCHEDULE (r20 — rewritten after the long-horizon simulation
  * VERDICT r19 item 7 asked for MEASURED the r19 policy's asymptotics
  * instead of trusting the O(log n) theory claim): r19 merged the two
  * SMALLEST generations when the count exceeded [[Spec.maxGenerations]].
  * Huffman-style smallest-pair merging is write-optimal for a BATCH of
  * runs, but under online arrivals it converges to UNIFORM generation
  * sizes — one accumulator generation absorbs every tail one cadence
  * at a time, so rewrites/row grew as passes/cap (measured 30 at 240
  * passes, 3,000 at 24,000 — linear write amplification) and the
  * steady-state per-pass merge pause grew as store/cap. No policy can
  * simultaneously hold a hard generation cap, a hard per-pass pause
  * bound, and low write amplification (once every slot holds a
  * max-pause-sized run, arrivals have nowhere to fold), so r20 splits
  * the concerns the way production LSM stores do:
  *
  *   - PAIR CHOICE ([[mergeChoice]]): the MOST-EQUAL adjacent pair by
  *     row count — generation sizes stratify geometrically and each
  *     row is rewritten ~log2(store/append) times (simulated max 22
  *     at 24,000 passes vs smallest-pair's 3,000), at the price that
  *     top-tier merges now touch two store-fraction generations;
  *   - PAUSE BOUND: merges execute as byte-capped SLICES
  *     ([[Spec.mergeBytesCap]] per pass) — the target generation is
  *     created on the first slice with a bloom sized once for the
  *     whole pair (rows + pending, invariant across slices) and grows
  *     by OR-merge; sources shrink file-by-file (their blooms stay as
  *     conservative supersets). Every pass's inline pause is
  *     tail-cap + merge-cap bytes, INDEPENDENT of the store size;
  *   - COUNT: ≤ maxGenerations complete generations in steady state,
  *     +1 in-flight target, + tails accumulated while a long top-tier
  *     merge drains. Keep mergeBytesCap ≥ appends × log2(store/append)
  *     per cadence and the drain outruns arrivals; a backlog past
  *     [[CatchupSlack]] raises the per-pass budget to [[CatchupSlices]]
  *     slices.
  *
  * A missing, stale (referencing deleted files) or unparsable sidecar
  * — including a pre-r19 single-bloom layout — degrades every file to
  * tail: probes full-scan exactly as before the sidecar existed, and
  * the next compaction self-heals by reclustering the unreferenced
  * files as ordinary tail, converted at most [[Spec.maxTailBytesPerPass]]
  * bytes per pass so even the upgrade/repair migration never
  * full-rewrites in one inline pause.
  *
  * Commit protocol (all driver-side fs metadata ops around one
  * tail-/pair-bounded distributed write):
  *
  *   1. write the clustered files to `<dir>__tier` (a crash here
  *      leaves an uncommitted staging dir — discarded by [[recover]]);
  *   2. write the `_COMMIT` manifest (add/del lines) ATOMICALLY into
  *      staging (tmp + rename — a truncated manifest must never be
  *      half-replayed);
  *   3. rename each staged file into the store (between 3 and 4 a
  *      probe sees the new generation as tail beside its sources —
  *      transiently duplicated rows, which every probe consumer
  *      already distinct-collapses for foreachBatch replay safety);
  *   4. swap the updated sidecar in ([[DirSwap]] twin) — THE COMMIT
  *      PIVOT: [[recover]] decides redo-vs-undo by whether the
  *      current sidecar references the manifest's added files;
  *   5. delete the source files (now unreferenced);
  *   6. delete staging (manifest gone = fully committed).
  *
  * [[recover]] is idempotent and runs before every read and every
  * pass: no manifest → discard staging; manifest + sidecar referencing
  * the adds → re-run 5–6; manifest + sidecar NOT referencing the adds
  * → undo (delete any renamed adds; sources were never deleted, so
  * the pre-pass state is restored exactly and the pass re-runs next
  * cadence). */
private[graft] object TieredIndex {

  /** Per-index shape: `rowCols` is the full row projection the store
    * carries, `keyCols` (a prefix-free subset, integral types only —
    * Int/Long; normalized to Long for range order) is the clustering
    * and summary key. */
  final case class Spec(rowCols: Seq[String], keyCols: Seq[String],
                        maxGenerations: Int = DefaultMaxGenerations,
                        targetFileBytes: Long = 128L * 1024 * 1024,
                        maxTailBytesPerPass: Long = 0L,
                        fpp: Double = DefaultFpp,
                        maxMergeBytesPerPass: Long = 0L) {
    require(keyCols.nonEmpty && keyCols.forall(rowCols.contains),
      s"keyCols $keyCols must be a subset of rowCols $rowCols")
    require(maxGenerations >= 2, s"maxGenerations must be >= 2")
    /** 0 = derive from targetFileBytes (32 files' worth per pass). */
    def tailBytesCap: Long =
      if (maxTailBytesPerPass > 0) maxTailBytesPerPass
      else 32L * targetFileBytes
    /** Per-pass merge SLICE budget (0 = derive like [[tailBytesCap]]).
      * Sizing rule: merge throughput must cover appends times the
      * write amplification — keep this ≥ (expected per-cadence append
      * bytes) × log2(store/append), or the generation count backs up
      * behind a long top-tier merge (the [[compact]] catch-up budget
      * then drains it at up to [[CatchupSlices]] slices per pass). */
    def mergeBytesCap: Long =
      if (maxMergeBytesPerPass > 0) maxMergeBytesPerPass
      else 32L * targetFileBytes
  }

  /** One clustered data file's key summary: lexicographic (Long-
    * normalized) min/max of the clustering key, plus its row count
    * (r20 — lets an incremental merge shrink a source generation's
    * row total exactly as files are consumed). */
  final case class FileRange(name: String, lo: Seq[Long], hi: Seq[Long],
                             rows: Long = 0L)

  /** One generation: key bloom, clustered file ranges, row count.
    * COMPLETE generations (`pending` == 0) are immutable. A gen born
    * from an incremental merge (r20) is IN-FLIGHT while `pending` > 0:
    * it holds the rows merged so far, `pending` counts the rows still
    * in its `srcIds` source generations, and its bloom — sized once
    * for the FULL pair (rows + pending, an invariant across slices) —
    * grows by OR-merge as slices land. Sources shrink file-by-file;
    * their blooms stay put (conservative supersets — a moved key can
    * only false-positive, never false-negative). */
  final case class Gen(id: Long, bloom: Array[Byte],
                       files: Seq[FileRange], rows: Long,
                       pending: Long = 0L, srcIds: Seq[Long] = Seq.empty)

  val DefaultMaxGenerations: Int = 8

  /** Per-generation false-positive rate of the key-summary blooms.
    * Each false positive only promotes one probe key into the pruned
    * base scan (the exact join still decides), so the rate trades
    * sidecar size against scan narrowing; the probe's overall fpp is
    * ≤ maxGenerations × this. */
  val DefaultFpp: Double = 0.001

  /** Past this many hot keys the driver-side per-file range pruning
    * is skipped (the collect would be the bottleneck) and every base
    * file is read — the bloom narrowing still applies through the hot
    * semi-join. ~1M keys ≈ 16 MB collected. */
  private[graft] val MaxHotKeysForFilePrune: Long = 1000000L

  /** Staging-dir suffix and commit-manifest name (see the commit
    * protocol above). The staging dir lives BESIDE the store, so
    * probes never list its files as data. */
  private[graft] val StageSuffix = "__tier"
  private val CommitMarker = "_COMMIT"

  def sidecarPath(dir: String): String = dir + "_keys"

  /** The summary-key hash column both the generation blooms and the
    * probe flags are built over (the bloom aggregate hashes it once
    * more internally — consistent on both sides). */
  def keyHash(spec: Spec): org.apache.spark.sql.Column =
    xxhash64(spec.keyCols.map(col): _*)

  /** Driver-side membership test against one generation's bloom for a
    * SINGLE-Long-key spec (the anchor index's shape) — bounded hot-set
    * filtering on already-collected probe keys, NO Spark job. Must
    * mirror the build chain exactly: [[keyHash]] is Spark's `xxhash64`
    * over the key column (XXH64 seed 42), and
    * [[graft.operators.BloomMembership.sketch]] hashes that once more
    * with the same `xxhash64` before inserting the long.
    * TieredIndexSpec pins the mirror against the distributed
    * [[graft.operators.BloomMembership.flagSeenAny]] predicate. */
  def mightContainKey(gen: Gen, key: Long): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    BloomMembership.mightContainHash(gen.bloom,
      XXH64.hashLong(XXH64.hashLong(key, 42L), 42L))
  }

  // ---------------------------------------------------------------
  // compaction

  /** One maintenance pass: recover any interrupted commit, cluster
    * the tail (files the sidecar does not reference) into a new
    * generation, then merge the two smallest generations if the count
    * exceeds the cap. Single-writer contract: NEVER call concurrently
    * with another pass or an in-flight append. */
  def compact(ss: SparkSession, dir: String, spec: Spec): Unit = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    DirSwap.recover(fs, target, "__compact") // pre-r19 full-rewrite twin
    recover(ss, dir)
    if (!fs.exists(target)) return
    val live = liveNames(ss, dir)
    if (live.isEmpty) return
    var gens = load(ss, dir, live).getOrElse(Seq.empty)
    val known = gens.flatMap(_.files.map(_.name)).toSet
    val tail = live.diff(known).toSeq.sorted
    if (tail.nonEmpty) {
      // bound the per-pass conversion: a steady-state tail is a few
      // cadences of appends (far under the cap); the cap only bites
      // on a legacy-upgrade / sidecar-repair backlog, which then
      // migrates one bounded slice per cadence instead of one
      // store-sized inline pause
      val capped = takeUpToBytes(ss, dir, tail, spec.tailBytesCap)
      gens = clusterInto(ss, dir, spec, capped, gens, Seq.empty)
    }
    // merge work (r20 — rewritten after the r19-item-7 long-horizon
    // simulation MEASURED the r19 policy's two asymptotic failures;
    // see the object doc's MERGE SCHEDULE section): continue the
    // in-flight merge one byte-capped slice, or start one when over
    // the cap. Under backlog (a long top-tier merge while tails keep
    // arriving) the budget rises to CatchupSlices so the generation
    // count drains instead of growing without bound.
    var budget =
      if (gens.size > spec.maxGenerations + CatchupSlack) CatchupSlices
      else 1
    while (budget > 0 &&
        (gens.exists(_.pending > 0) || gens.size > spec.maxGenerations)) {
      gens = mergeSlice(ss, dir, spec, gens)
      budget -= 1
    }
  }

  /** Generation-count slack past the cap before [[compact]] raises
    * its per-pass slice budget from 1 to [[CatchupSlices]]. */
  private[graft] val CatchupSlack = 4
  private[graft] val CatchupSlices = 4

  /** The merge schedule's PURE policy core — the ids of the two
    * COMPLETE generations a pass over the cap starts merging: the
    * MOST-EQUAL adjacent pair in row-count order (minimum size ratio;
    * ties by smaller combined size, then id). Extracted so the
    * long-horizon schedule simulation ([[TierSchedule.simulate]],
    * TieredIndexSpec's schedule property) drives the exact policy
    * [[compact]] executes rather than a re-implementation (VERDICT
    * r19 item 7 — and the reason the policy changed in r20: the
    * simulation MEASURED the r19 smallest-pair policy converging to
    * uniform generation sizes, where one accumulator generation
    * absorbs every tail one cadence at a time — rewrites/row grew as
    * passes/cap, i.e. LINEAR write amplification, and the steady-
    * state merge pause grew as store/cap. Most-equal-pair merging
    * measures geometric size stratification and ~log2 rewrites/row at
    * every horizon tried; the byte-capped slicing bounds what a pass
    * pays for the now-occasionally-huge top-tier merges). */
  def mergeChoice(sizes: Seq[(Long, Long)]): Seq[Long] = {
    val sorted = sizes.sortBy { case (id, rows) => (rows, id) }
    if (sorted.size < 2) return sorted.map(_._1)
    sorted.sliding(2).minBy { pair =>
      val Seq((ia, ra), (ib, rb)) = pair
      (rb.toDouble / math.max(1L, ra), ra + rb, ia)
    }.map(_._1)
  }

  /** One byte-capped merge slice: continue the in-flight merge if one
    * exists, else start merging [[mergeChoice]]'s pair. A slice
    * reclusters the lowest-key `mergeBytesCap` bytes of the sources'
    * files into the target generation (created on the first slice,
    * its bloom sized once for the whole pair), shrinks the sources
    * file-by-file, and commits through the same staged-manifest
    * protocol as a tail pass — every crash window recovers
    * identically. Returns the updated generation list. */
  private def mergeSlice(ss: SparkSession, dir: String, spec: Spec,
                         gens: Seq[Gen]): Seq[Gen] = {
    val target = gens.find(_.pending > 0)
    val srcs = target match {
      case Some(t) => gens.filter(g => t.srcIds.contains(g.id))
        .sortBy(g => (g.rows, g.id))
      case None =>
        val ids = mergeChoice(gens.map(g => (g.id, g.rows))).toSet
        gens.filter(g => ids(g.id)).sortBy(g => (g.rows, g.id))
    }
    if (srcs.isEmpty) {
      // in-flight target whose sources vanished (all consumed but a
      // crash landed between slices' accounting): finalize it
      val fixed = gens.map(g =>
        if (g.pending > 0) g.copy(pending = 0L, srcIds = Seq.empty) else g)
      writeSidecar(ss, dir, fixed)
      return fixed
    }
    // rows the finished merge will hold — the bloom-sizing invariant
    // across slices (target.rows + target.pending == srcs' original
    // total at merge start)
    val totalRows = target.map(t => t.rows + t.pending)
      .getOrElse(math.max(1L, srcs.map(_.rows).sum))
    val byLo = srcs.flatMap(_.files).sortBy(f => (f.lo, f.name))(
      Ordering.Tuple2(SeqLongOrdering, Ordering.String))
    val sliceNames = takeUpToBytes(ss, dir,
      byLo.map(_.name), spec.mergeBytesCap).toSet
    val consumed = byLo.filter(f => sliceNames.contains(f.name))
    val (fs, targetDir) = DirSwap.fsOf(ss, dir)
    val staging = new Path(dir + StageSuffix)
    if (fs.exists(staging)) fs.delete(staging, true)
    val srcPaths = consumed.map(f => new Path(targetDir, f.name))
    val srcBytes = srcPaths.map(p => fs.getFileStatus(p).getLen).sum
    val nFiles = math.max(1,
      math.ceil(srcBytes.toDouble / spec.targetFileBytes).toInt)
    ss.read.parquet(srcPaths.map(_.toString): _*)
      .select(spec.rowCols.map(col): _*)
      .repartitionByRange(nFiles, spec.keyCols.map(col): _*)
      .sortWithinPartitions(spec.keyCols.map(col): _*)
      .write.mode("overwrite").parquet(staging.toString)
    val staged = ss.read.parquet(staging.toString)
    val (ranges, n) = fileStats(staged, spec)
    val existing = gens.flatMap(_.files.map(_.name)).toSet
    if (ranges.exists(r => existing.contains(r.name))) {
      fs.delete(staging, true) // UUID collision: refuse, retry next pass
      return gens
    }
    // shrink sources; drop the ones fully consumed
    val consumedNames = consumed.map(_.name).toSet
    val shrunk = srcs.map { g =>
      val left = g.files.filterNot(f => consumedNames.contains(f.name))
      g.copy(files = left,
        rows = math.max(0L, g.rows - g.files.filter(f =>
          consumedNames.contains(f.name)).map(_.rows).sum))
    }
    val liveSrcs = shrunk.filter(_.files.nonEmpty)
    val remaining = liveSrcs.map(_.rows).sum
    val untouched = gens.filterNot(g =>
      srcs.exists(_.id == g.id) || target.exists(_.id == g.id))
    if (n == 0) {
      // nothing but (legacy) empty source files consumed: drop them;
      // the target — if any — just re-counts what is left pending
      fs.delete(staging, true)
      val t2 = target.map(t => t.copy(pending = remaining,
        srcIds = if (remaining == 0) Seq.empty else t.srcIds))
      val newGens = (untouched ++ liveSrcs ++ t2).sortBy(_.id)
      commit(ss, dir, Seq.empty, consumed.map(_.name), newGens)
      return newGens
    }
    val sliceBloom = BloomMembership.sketch(
      staged.select(keyHash(spec).as("__k")), "__k", totalRows, spec.fpp)
      .head().getAs[Array[Byte]](0)
    val newTarget = target match {
      case Some(t) => t.copy(
        bloom = BloomMembership.merge(t.bloom, sliceBloom),
        files = t.files ++ ranges, rows = t.rows + n,
        pending = remaining,
        srcIds = if (remaining == 0) Seq.empty else t.srcIds)
      case None => Gen(gens.map(_.id).foldLeft(-1L)(math.max) + 1,
        sliceBloom, ranges, n, pending = remaining,
        srcIds = if (remaining == 0) Seq.empty else liveSrcs.map(_.id))
    }
    val newGens = (untouched ++ liveSrcs :+ newTarget).sortBy(_.id)
    commit(ss, dir, ranges.map(_.name), consumed.map(_.name), newGens)
    newGens
  }

  /** Longest PREFIX of `names` whose byte total stays under `cap`
    * (always at least one file, so progress is guaranteed — the first
    * file is taken even when it alone exceeds the cap). A true prefix
    * matters (ADVICE r19): skipping a too-large file and continuing
    * with later, smaller ones would return an arbitrary subset, and a
    * big tail file sorting behind lexicographically-earlier appends
    * could then be deferred indefinitely while passes keep folding
    * files written after it. */
  private def takeUpToBytes(ss: SparkSession, dir: String,
                            names: Seq[String], cap: Long): Seq[String] = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    var total = 0L
    val out = Seq.newBuilder[String]
    var first = true
    var stop = false
    names.foreach { n =>
      if (!stop) {
        val len = fs.getFileStatus(new Path(target, n)).getLen
        if (first || total + len <= cap) { out += n; total += len }
        else stop = true
        first = false
      }
    }
    out.result()
  }

  /** Cluster `srcNames`' rows into a fresh generation and commit it,
    * dropping the generations in `replaced` (empty for a tail pass,
    * the merged pair for a merge). Returns the new generation list. */
  private def clusterInto(ss: SparkSession, dir: String, spec: Spec,
                          srcNames: Seq[String], gens: Seq[Gen],
                          replaced: Seq[Long]): Seq[Gen] = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    val staging = new Path(dir + StageSuffix)
    if (fs.exists(staging)) fs.delete(staging, true) // uncommitted leftover
    val srcPaths = srcNames.map(n => new Path(target, n))
    val srcBytes = srcPaths.map(p => fs.getFileStatus(p).getLen).sum
    val nFiles = math.max(1,
      math.ceil(srcBytes.toDouble / spec.targetFileBytes).toInt)
    ss.read.parquet(srcPaths.map(_.toString): _*)
      .select(spec.rowCols.map(col): _*)
      .repartitionByRange(nFiles, spec.keyCols.map(col): _*)
      .sortWithinPartitions(spec.keyCols.map(col): _*)
      .write.mode("overwrite").parquet(staging.toString)
    val staged = ss.read.parquet(staging.toString)
    val (ranges, n) = fileStats(staged, spec)
    val kept = gens.filterNot(g => replaced.contains(g.id))
    if (n == 0) { // all-empty sources: just drop them
      fs.delete(staging, true)
      if (replaced.nonEmpty) writeSidecar(ss, dir, kept)
      srcPaths.foreach(p => fs.delete(p, false))
      return kept
    }
    // UUID part names make a collision ~impossible; refuse rather
    // than silently shadow a live file
    val existing = gens.flatMap(_.files.map(_.name)).toSet
    if (ranges.exists(r => existing.contains(r.name))) {
      fs.delete(staging, true)
      return gens
    }
    val bloom = BloomMembership.sketch(
      staged.select(keyHash(spec).as("__k")), "__k", n, spec.fpp)
      .head().getAs[Array[Byte]](0)
    val gen = Gen(gens.map(_.id).foldLeft(-1L)(math.max) + 1, bloom, ranges, n)
    commit(ss, dir, ranges.map(_.name), srcNames, kept :+ gen)
    kept :+ gen
  }

  /** Per-staged-file (Long-normalized) key ranges + total row count.
    * Zero-row part files produce no stats row and never commit (they
    * die with the staging delete). */
  private def fileStats(staged: DataFrame,
                        spec: Spec): (Seq[FileRange], Long) = {
    val k = struct(spec.keyCols.map(c => col(c).cast("long")): _*)
    val stats = staged
      .select(input_file_name().as("f"), k.as("k"))
      .groupBy("f").agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    def seqOf(r: Row): Seq[Long] = (0 until r.length).map(r.getLong)
    val ranges = stats.map(r => FileRange(new Path(r.getString(0)).getName,
        seqOf(r.getStruct(1)), seqOf(r.getStruct(2)), r.getLong(3)))
      .sortBy(_.lo)(SeqLongOrdering).toSeq
    (ranges, stats.map(_.getLong(3)).sum)
  }

  /** Steps 2–6 of the commit protocol (staging already holds the add
    * files). */
  private def commit(ss: SparkSession, dir: String, adds: Seq[String],
                     dels: Seq[String], newGens: Seq[Gen]): Unit = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    val staging = new Path(dir + StageSuffix)
    val manifest = new Path(staging, CommitMarker)
    val tmp = new Path(staging, CommitMarker + ".tmp")
    val out = fs.create(tmp, true)
    try {
      val body = (adds.map("add " + _) ++ dels.sorted.map("del " + _))
        .mkString("\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    require(fs.rename(tmp, manifest), "tiered-index manifest rename failed")
    adds.foreach { n =>
      require(fs.rename(new Path(staging, n), new Path(target, n)),
        s"tiered-index commit rename of $n failed")
    }
    writeSidecar(ss, dir, newGens) // THE COMMIT PIVOT
    dels.foreach { n =>
      val p = new Path(target, n)
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(staging, true)
    ()
  }

  /** Finish (redo) or roll back (undo) an interrupted commit —
    * idempotent, run before every read and every pass. See the object
    * doc's crash analysis; the pivot is whether the CURRENT sidecar
    * references the manifest's added files. */
  def recover(ss: SparkSession, dir: String): Unit = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    val staging = new Path(dir + StageSuffix)
    if (!fs.exists(staging)) return
    val manifest = new Path(staging, CommitMarker)
    if (!fs.exists(manifest)) { fs.delete(staging, true); return }
    val in = fs.open(manifest)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val (addLines, delLines) = body.split("\n").filter(_.nonEmpty)
      .partition(_.startsWith("add "))
    val adds = addLines.map(_.stripPrefix("add ")).toSeq
    val dels = delLines.map(_.stripPrefix("del ")).toSeq
    val referenced = parseRaw(ss, dir).map(_.flatMap(_.files.map(_.name)).toSet)
      .getOrElse(Set.empty[String])
    if (adds.nonEmpty && adds.forall(referenced.contains))
      // committed: the sidecar swap happened — re-run the deletes
      dels.foreach { n =>
        val p = new Path(target, n)
        if (fs.exists(p)) fs.delete(p, false)
      }
    else
      // uncommitted: undo any renamed adds; the sources were never
      // deleted, so the pre-pass state is restored exactly
      adds.foreach { n =>
        val p = new Path(target, n)
        if (fs.exists(p)) fs.delete(p, false)
      }
    fs.delete(staging, true)
    ()
  }

  // ---------------------------------------------------------------
  // sidecar serialization

  /** Serialize the generation list behind the DirSwap twin protocol
    * and invalidate the driver cache. */
  private[graft] def writeSidecar(ss: SparkSession, dir: String,
                                  gens: Seq[Gen]): Unit = {
    import ss.implicits._
    val scPath = sidecarPath(dir)
    val (fs, root) = DirSwap.fsOf(ss, scPath)
    DirSwap.recover(fs, root, "__compact")
    val twin = scPath + "__compact"
    gens.map(g => (g.id, g.bloom,
        g.files.map(f => (f.name, f.lo, f.hi, f.rows)),
        g.rows, g.pending, g.srcIds))
      .toDF("gen", "bloom", "files", "rows", "pending", "src_ids")
      .coalesce(1)
      .write.mode("overwrite").parquet(twin)
    DirSwap.swap(fs, root, new Path(twin))
    cache.synchronized { cache.remove(scPath); () }
  }

  /** Driver-side sidecar cache keyed by (path, data-file names): the
    * sidecar is immutable between passes but a streaming loop reads
    * it every batch — the parse should be paid once per pass, not per
    * batch. Part names are unique per write, so a rewrite misses. */
  private val cache = new java.util.HashMap[String, (String, Seq[Gen])]()

  /** Parse the sidecar rows without liveness validation (also the
    * recovery pivot's view). Any failure — including a pre-r19
    * single-bloom layout — degrades to None. */
  private def parseRaw(ss: SparkSession, dir: String): Option[Seq[Gen]] = {
    val scPath = sidecarPath(dir)
    val (fs, root) = DirSwap.fsOf(ss, scPath)
    DirSwap.recover(fs, root, "__compact")
    if (!DirSwap.hasData(fs, root)) return None
    val stamp = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.mkString(",")
    cache.synchronized {
      val hit = cache.get(scPath)
      if (hit != null && hit._1 == stamp) return Some(hit._2)
    }
    val parsed = scala.util.Try {
      ss.read.parquet(scPath).collect().map { r =>
        val files = r.getAs[scala.collection.Seq[Row]]("files").map(f =>
          FileRange(f.getString(0),
            f.getAs[scala.collection.Seq[Long]](1).toSeq,
            f.getAs[scala.collection.Seq[Long]](2).toSeq,
            f.getLong(3))).toSeq
        // a pre-r20 sidecar (no per-file rows / pending / src_ids)
        // throws here and degrades to None — the documented legacy
        // path: every file becomes tail and the next passes recluster
        // it byte-capped, exactly like the pre-r19 single-bloom layout
        Gen(r.getAs[Long]("gen"), r.getAs[Array[Byte]]("bloom"), files,
          r.getAs[Long]("rows"), r.getAs[Long]("pending"),
          r.getAs[scala.collection.Seq[Long]]("src_ids").toSeq)
      }.sortBy(_.id).toSeq
    }.toOption
    parsed.foreach(p => cache.synchronized { cache.put(scPath, (stamp, p)); () })
    parsed
  }

  /** Committed data-file names of the store. */
  def liveNames(ss: SparkSession, dir: String): Set[String] = {
    val (fs, target) = DirSwap.fsOf(ss, dir)
    if (!fs.exists(target)) return Set.empty
    fs.listStatus(target).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
  }

  /** The validated generation list: parsed sidecar whose every file
    * is in `live` (a stale sidecar — e.g. mid-crash debris — reads as
    * None, so probes degrade to the full tail scan and the next pass
    * self-heals). */
  def load(ss: SparkSession, dir: String,
           live: Set[String]): Option[Seq[Gen]] =
    parseRaw(ss, dir).filter(_.forall(_.files.forall(f =>
      live.contains(f.name))))

  /** [[load]] with its own live listing. */
  def load(ss: SparkSession, dir: String): Option[Seq[Gen]] =
    load(ss, dir, liveNames(ss, dir))

  // ---------------------------------------------------------------
  // probe-side pruning

  private[graft] val SeqLongOrdering: Ordering[Seq[Long]] =
    new Ordering[Seq[Long]] {
      def compare(a: Seq[Long], b: Seq[Long]): Int = {
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = java.lang.Long.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }

  /** Files whose clustered key range contains at least one hot key —
    * pure, driver-side (ranges and hot keys are both bounded
    * collections). Lexicographic interval test on the Long-normalized
    * composite key, matching `min/max(struct(keyCols cast long))`;
    * binary search per file — O(F log H), not O(F·H). */
  def pruneFiles(files: Seq[FileRange], hot: Seq[Seq[Long]]): Seq[String] = {
    if (hot.isEmpty) return Seq.empty
    val ord = SeqLongOrdering
    val sortedHot = hot.sorted(ord).toIndexedSeq
    def firstAtLeast(lo: Seq[Long]): Int = {
      var l = 0; var r = sortedHot.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (ord.lt(sortedHot(m), lo)) l = m + 1 else r = m
      }
      l
    }
    files.filter { f =>
      val i = firstAtLeast(f.lo)
      i < sortedHot.length && ord.lteq(sortedHot(i), f.hi)
    }.map(_.name)
  }
}
