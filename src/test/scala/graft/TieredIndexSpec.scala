package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TieredIndex
import graft.sources.TieredIndex.{FileRange, Gen, Spec}

/** The generation-tiered index machinery (VERDICT r18 item 1): every
  * maintenance pass is tail- or merged-pair-bounded — the store-
  * scaling MAJOR rewrite of the r18 design no longer exists as a code
  * path. Pinned here: immutable generations (a pass never rewrites a
  * prior generation's files), the smallest-pair merge at the
  * generation cap, the byte-capped tail conversion (upgrade/repair
  * migration), content invariance under every pass, and the commit
  * protocol's redo/undo recovery from every crash window. */
class TieredIndexSpec extends SparkSpec {
  import spark.implicits._

  private val spec = Spec(rowCols = Seq("doc", "band", "bucket"),
    keyCols = Seq("band", "bucket"), maxGenerations = 3,
    targetFileBytes = 4096)

  private def append(dir: String, rows: Seq[(Long, Int, Long)]): Unit = {
    rows.toDF("doc", "band", "bucket").coalesce(1)
      .write.mode("append").parquet(dir)
    ()
  }

  private def rowsOf(n: Int, from: Long = 0L): Seq[(Long, Int, Long)] =
    (0 until n).map(i => (from + i, i % 16, from * 1000 + i))

  private def contentOf(dir: String): Set[(Long, Int, Long)] =
    spark.read.parquet(dir).as[(Long, Int, Long)].collect().toSet

  test("tail pass clusters only the appends into a new immutable " +
      "generation; prior generations survive by file name; content " +
      "is invariant under every pass") {
    val dir = Files.createTempDirectory("tier_tail").toString + "/idx"
    val r1 = rowsOf(300, 0)
    append(dir, r1)
    append(dir, rowsOf(100, 1000))
    val all1 = contentOf(dir)
    TieredIndex.compact(spark, dir, spec)
    val gens1 = TieredIndex.load(spark, dir).get
    assert(gens1.size == 1 && gens1.head.rows == 400)
    assert(contentOf(dir) == all1, "first pass must preserve content")
    val base = TieredIndex.liveNames(spark, dir)
    assert(gens1.head.files.map(_.name).toSet == base)

    // two more appends -> one new generation; gen 0 untouched by name
    append(dir, rowsOf(50, 2000))
    append(dir, rowsOf(50, 3000))
    val all2 = contentOf(dir)
    TieredIndex.compact(spark, dir, spec)
    val gens2 = TieredIndex.load(spark, dir).get
    assert(gens2.size == 2, s"want 2 generations, got ${gens2.size}")
    assert(gens2.map(_.id) == Seq(0L, 1L))
    assert(gens2.head.files == gens1.head.files,
      "a tail pass must not touch the prior generation")
    assert(gens2(1).rows == 100)
    assert(contentOf(dir) == all2, "tail pass must preserve content")
    // each generation's bloom is right-sized at build time and never
    // grows (immutable generations = no capacity to exhaust)
    assert(gens2.forall(g =>
      graft.operators.BloomMembership.fillRatio(g.bloom) <= 0.55))
    // empty tail: a pass with nothing to do changes nothing
    TieredIndex.compact(spark, dir, spec)
    assert(TieredIndex.load(spark, dir).get == gens2)
    // no scratch debris
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.contains("__tier") || f.getName.contains("__compact") ||
        f.getName.contains("__old")))
  }

  test("generation cap merges the MOST-EQUAL adjacent pair (r20 " +
      "policy — geometric stratification, measured ~log2 write amp) " +
      "— the largest generation is never touched") {
    val dir = Files.createTempDirectory("tier_merge").toString + "/idx"
    append(dir, rowsOf(500, 0)) // the big base
    TieredIndex.compact(spark, dir, spec)
    append(dir, rowsOf(40, 10000))
    TieredIndex.compact(spark, dir, spec)
    append(dir, rowsOf(30, 20000))
    TieredIndex.compact(spark, dir, spec)
    val gens3 = TieredIndex.load(spark, dir).get
    assert(gens3.size == 3 && gens3.map(_.rows) == Seq(500L, 40L, 30L))
    val bigFiles = gens3.head.files
    val all = contentOf(dir)
    // the 4th generation passes the cap: of the adjacent pairs
    // (20,30) ratio 1.5, (30,40) ratio 1.33, (40,500) ratio 12.5 the
    // most-equal is (30,40); the 500-row base is untouched by name
    append(dir, rowsOf(20, 30000))
    TieredIndex.compact(spark, dir, spec)
    val gens4 = TieredIndex.load(spark, dir).get
    assert(gens4.size == 3, s"cap must hold: ${gens4.map(_.rows)}")
    assert(gens4.exists(_.files == bigFiles),
      "merge must not touch the largest generation")
    assert(gens4.map(_.rows).sorted == Seq(20L, 70L, 500L),
      s"most-equal pair (30+40) must merge: ${gens4.map(_.rows)}")
    assert(gens4.forall(_.pending == 0), "small merge completes in one slice")
    assert(contentOf(dir) == all ++ rowsOf(20, 30000),
      "merge must preserve content")
  }

  test("a merge past Spec.maxMergeBytesPerPass executes as SLICES " +
      "(r20): bounded per-pass work, an in-flight target generation " +
      "with a pair-sized bloom, shrinking sources, content and probe " +
      "correctness in every intermediate state") {
    val sliced = spec.copy(maxMergeBytesPerPass = 1) // one file per slice
    val dir = Files.createTempDirectory("tier_slice").toString + "/idx"
    // 4 generations of multiple small files each (targetFileBytes
    // 4096 keeps several files per gen)
    for (g <- 0 until 3) {
      append(dir, rowsOf(120, g * 10000))
      TieredIndex.compact(spark, dir, sliced)
    }
    val all0 = contentOf(dir)
    append(dir, rowsOf(110, 90000))
    // pass: tail -> gen 3 (over cap) + first slice of the most-equal
    // pair (110,120)
    TieredIndex.compact(spark, dir, sliced)
    val mid = TieredIndex.load(spark, dir).get
    val tgt = mid.find(_.pending > 0)
    assert(tgt.isDefined, s"in-flight target expected: ${mid.map(_.rows)}")
    assert(tgt.get.srcIds.nonEmpty && tgt.get.rows > 0)
    // most-equal adjacent of [110,120,120,120] is a (120,120) pair
    val totalR = tgt.get.rows + tgt.get.pending
    assert(totalR == 240L, s"pair total must be 120+120, got $totalR")
    // content invariant mid-merge; every key still probe-reachable
    // through SOME generation's bloom (sources keep conservative
    // supersets, moved keys are in the target's)
    assert(contentOf(dir) == all0 ++ rowsOf(110, 90000))
    val gens = TieredIndex.load(spark, dir).get
    import org.apache.spark.sql.catalyst.expressions.XXH64
    contentOf(dir).foreach { case (_, band, bucket) =>
      // mirror the build chain: keyHash = xxhash64(band, bucket)
      // (seed-42 chain; band is an Int column -> hashInt), then
      // sketch hashes the key once more
      val key = XXH64.hashLong(bucket, XXH64.hashInt(band, 42L))
      assert(gens.exists(g => KernelOracles
          .mightContainHash(g.bloom, XXH64.hashLong(key, 42L))),
        s"key ($band,$bucket) lost from every bloom mid-merge")
    }
    // drive passes to completion: pending drains, sources disappear,
    // the target's bloom (sized once for the pair) holds every key
    var guard = 0
    while (TieredIndex.load(spark, dir).get.exists(_.pending > 0) &&
        guard < 50) {
      TieredIndex.compact(spark, dir, sliced)
      guard += 1
    }
    val done = TieredIndex.load(spark, dir).get
    assert(done.forall(_.pending == 0), "merge must complete")
    assert(done.size <= sliced.maxGenerations)
    assert(done.map(_.rows).sum == 470L)
    assert(contentOf(dir) == all0 ++ rowsOf(110, 90000),
      "content invariant after the sliced merge completes")
    // bloom stays under its design fill: sized for the pair up front
    assert(done.forall(g =>
      graft.operators.BloomMembership.fillRatio(g.bloom) <= 0.55))
  }

  test("byte-capped tail conversion: an oversize tail (the legacy-" +
      "upgrade / sidecar-repair backlog) migrates one bounded slice " +
      "per pass instead of one store-sized pause") {
    val dir = Files.createTempDirectory("tier_cap").toString + "/idx"
    (0 until 6).foreach(b => append(dir, rowsOf(100, b * 1000L)))
    val all = contentOf(dir)
    val fileBytes = TieredIndex.liveNames(spark, dir).map(n =>
      new java.io.File(dir, n).length()).max
    // cap ~2 files' worth per pass -> 6 appended files need 3 passes
    val capped = spec.copy(maxGenerations = 8,
      maxTailBytesPerPass = 2 * fileBytes + 16)
    TieredIndex.compact(spark, dir, capped)
    val g1 = TieredIndex.load(spark, dir).get
    assert(g1.map(_.rows).sum < 600,
      s"one capped pass must not convert the whole backlog: ${g1.map(_.rows)}")
    assert(contentOf(dir) == all, "capped pass must preserve content")
    TieredIndex.compact(spark, dir, capped)
    TieredIndex.compact(spark, dir, capped)
    val g3 = TieredIndex.load(spark, dir).get
    assert(g3.map(_.rows).sum == 600,
      s"backlog must finish migrating: ${g3.map(_.rows)}")
    assert(contentOf(dir) == all)
  }

  test("a corrupt or legacy sidecar reads as absent and self-heals: " +
      "probes degrade to the tail scan, the next pass reclusters") {
    val dir = Files.createTempDirectory("tier_heal").toString + "/idx"
    append(dir, rowsOf(200, 0))
    TieredIndex.compact(spark, dir, spec)
    assert(TieredIndex.load(spark, dir).isDefined)
    val all = contentOf(dir)
    // overwrite the sidecar with an alien schema (the pre-r19 layout
    // shape): parse must fail -> None, compact must recluster
    val sc = TieredIndex.sidecarPath(dir)
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(sc))
    Seq((Array[Byte](1, 2, 3), 10L, 5L)).toDF("bloom", "capacity", "inserted")
      .write.parquet(sc)
    assert(TieredIndex.load(spark, dir).isEmpty,
      "a legacy sidecar must parse as absent")
    TieredIndex.compact(spark, dir, spec)
    val gens = TieredIndex.load(spark, dir).get
    assert(gens.size == 1 && gens.head.rows == 200)
    assert(contentOf(dir) == all, "self-heal must preserve content")
  }

  test("commit recovery: manifest-less staging is discarded; an " +
      "uncommitted manifest is undone (sources intact); a committed " +
      "manifest is redone (sources deleted) — idempotent in every " +
      "case") {
    val base = Files.createTempDirectory("tier_rec").toString
    val dir = s"$base/idx"
    def onePart(tag: String, dest: String, name: String): Unit = {
      val tmp = s"$base/tmp_$tag"
      Seq((1L, 0, 1L)).toDF("doc", "band", "bucket")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(dest).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dest, name))
      ()
    }
    def names = TieredIndex.liveNames(spark, dir)
    def bloomOf(rows: Seq[Long]) = graft.operators.BloomMembership
      .sketch(rows.toDF("k"), "k", math.max(rows.size.toLong, 1L)).get
    val staging = dir + TieredIndex.StageSuffix
    def manifest(body: String): Unit = {
      val w = new java.io.FileWriter(s"$staging/_COMMIT")
      w.write(body); w.close()
    }

    onePart("a", dir, "A.parquet")
    onePart("b", dir, "B.parquet")

    // crash mid-STAGING (no manifest): discarded, store untouched
    onePart("s0", staging, "S0.parquet")
    TieredIndex.recover(spark, dir)
    assert(!new java.io.File(staging).exists())
    assert(names == Set("A.parquet", "B.parquet"))

    // crash AFTER the add renames but BEFORE the sidecar swap: the
    // manifest's adds are NOT referenced by the sidecar -> UNDO (the
    // renamed add is deleted, the del sources were never deleted, so
    // the pre-pass state is restored exactly)
    TieredIndex.writeSidecar(spark, dir, Seq(
      Gen(0L, bloomOf(Seq(1L)),
        Seq(FileRange("A.parquet", Seq(0L, 1L), Seq(0L, 1L)),
          FileRange("B.parquet", Seq(0L, 1L), Seq(0L, 1L))), 2L)))
    onePart("c", staging, "C.parquet")
    manifest("add C.parquet\ndel A.parquet\ndel B.parquet")
    onePart("c2", dir, "C.parquet") // the rename already happened
    TieredIndex.recover(spark, dir)
    assert(names == Set("A.parquet", "B.parquet"),
      s"uncommitted pass must undo, got $names")
    assert(!new java.io.File(staging).exists())
    TieredIndex.recover(spark, dir) // idempotent
    assert(names == Set("A.parquet", "B.parquet"))

    // crash AFTER the sidecar swap (the commit pivot) but BEFORE the
    // source deletes: the manifest's adds ARE referenced -> REDO (the
    // listed sources are deleted, the new generation stands)
    onePart("d", staging, "D.parquet")
    manifest("add D.parquet\ndel A.parquet\ndel B.parquet")
    onePart("d2", dir, "D.parquet")
    TieredIndex.writeSidecar(spark, dir, Seq(
      Gen(1L, bloomOf(Seq(1L)),
        Seq(FileRange("D.parquet", Seq(0L, 1L), Seq(0L, 1L))), 1L)))
    TieredIndex.recover(spark, dir)
    assert(names == Set("D.parquet"),
      s"committed pass must redo the deletes, got $names")
    assert(!new java.io.File(staging).exists())
    TieredIndex.recover(spark, dir) // idempotent
    assert(names == Set("D.parquet"))
    assert(TieredIndex.load(spark, dir).get.map(_.id) == Seq(1L))
  }

  test("pruneFiles: lexicographic interval hit test on the Long-" +
      "normalized composite key — only files whose clustered range " +
      "contains a hot key") {
    val files = Seq(
      FileRange("f0", Seq(0L, 100L), Seq(0L, 500L)),
      FileRange("f1", Seq(0L, 501L), Seq(1L, 200L)), // spans band edge
      FileRange("f2", Seq(1L, 201L), Seq(3L, 900L)),
      FileRange("f3", Seq(4L, 0L), Seq(7L, Long.MaxValue)))
    def prune(hot: (Long, Long)*) =
      TieredIndex.pruneFiles(files, hot.map(t => Seq(t._1, t._2)))
    assert(prune() == Seq.empty)
    assert(prune((0L, 100L)) == Seq("f0")) // exact lo boundary
    assert(prune((1L, 200L)) == Seq("f1")) // exact hi boundary
    assert(prune((0L, 999L), (2L, 5L)) == Seq("f1", "f2"))
    assert(prune((9L, 0L)) == Seq.empty)   // past every range
    assert(prune((0L, 50L)) == Seq.empty)  // before every range
    assert(prune((0L, 300L), (5L, 1L), (0L, 450L)) == Seq("f0", "f3"))
    assert(prune((4L, 1L), (0L, 100L), (1L, 500L)) == Seq("f0", "f2", "f3"))
    // single-column keys (the winnow anchor index's shape)
    val single = Seq(FileRange("g0", Seq(10L), Seq(20L)),
      FileRange("g1", Seq(21L), Seq(40L)))
    assert(TieredIndex.pruneFiles(single, Seq(Seq(20L))) == Seq("g0"))
    assert(TieredIndex.pruneFiles(single, Seq(Seq(41L))) == Seq.empty)
  }

  test("merge-schedule property (r19 item 7): over random long-horizon " +
      "append schedules, the generation count respects the cap, every " +
      "pass is tail+pair-bounded, and no row cohort is rewritten more " +
      "than ~log2(growth) times") {
    import graft.sources.TierSchedule
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 50) {
      val passes = 50 + rnd.nextInt(250)
      // realistic caps only: with cap <~ 3 there is no room to
      // stratify, so EVERY policy's write amp degenerates toward
      // linear (you cannot fold n arrivals into 2 runs without
      // rewriting one of them ~n times) — the default is 8
      val cap = 4 + rnd.nextInt(5) // maxGenerations in [4, 8]
      // schedule mixes steady, bursty (16x spread), and empty cadences
      val sched = Array.fill(passes) {
        rnd.nextInt(4) match {
          case 0 => 0L
          case 1 => 1000L + rnd.nextInt(1000)
          case _ => 4000L + rnd.nextInt(60000)
        }
      }
      val r = TierSchedule.simulate(passes, sched(_), cap)
      val tag = s"trial $trial (passes=$passes cap=$cap)"
      // cap respected after every pass
      r.stats.foreach(s => assert(s.gens.size <= cap, s"$tag: gen count"))
      // pause bound: a pass rewrites at most its tail + the two
      // generations it merged — never more than tail + the two
      // LARGEST pre-existing generations (pair-bounded, not
      // store-bounded); with >= 3 gens live the pair is strictly
      // under the whole store
      r.stats.foreach { s =>
        val store = s.gens.map(_.rows).sum
        if (s.merged && s.gens.size >= 3) {
          val biggest = s.gens.map(_.rows).sorted.reverse.take(2).sum
          assert(s.rewrittenRows <= sched(s.pass) + biggest + 1,
            s"$tag pass ${s.pass}: rewrote ${s.rewrittenRows} of $store")
        }
      }
      // amortized rewrite bound: each merge a cohort participates in
      // is a smallest-pair merge, so its generation at least grows by
      // the OTHER participant; empirically max rewrites tracks
      // log2(total/minAppend) — assert a generous 2x + 4 envelope
      val minApp = sched.filter(_ > 0).min
      if (r.totalRows > 0) {
        val bound = 2 * math.ceil(math.log(r.totalRows.toDouble / minApp) /
          math.log(2)).toInt + 4
        assert(r.maxRewrites <= bound,
          s"$tag: max rewrites ${r.maxRewrites} > envelope $bound")
      }
      // conservation: every appended row is in exactly one generation
      assert(r.finalGens.map(_.rows).sum == r.totalRows, s"$tag: rows lost")
      assert(r.finalGens.flatMap(_.cohorts.values).sum == r.totalRows,
        s"$tag: cohort rows lost")
    }
  }

  test("the schedule model's merge decisions MATCH real compact() " +
      "passes on a live store (same policy, same generation sizes)") {
    import graft.sources.TierSchedule
    val dir = Files.createTempDirectory("tier_conform").toString + "/idx"
    // 7 cadences of appends with distinct sizes; cap 3 forces merges
    // from pass 4 on
    val appends = Seq(40L, 10L, 25L, 15L, 30L, 5L, 20L)
    var next = 0L
    appends.zipWithIndex.foreach { case (n, pass) =>
      append(dir, (0L until n).map(i =>
        (next + i, pass, (next + i) % 7)))
      next += n
      TieredIndex.compact(spark, dir, spec) // maxGenerations = 3
    }
    val real = TieredIndex.load(spark, dir).get.map(_.rows).sorted
    val sim = TierSchedule.simulate(appends.size, p => appends(p),
      spec.maxGenerations).finalGens.map(_.rows).sorted
    assert(real == sim,
      s"real generation sizes $real != simulated $sim")
  }
}
