package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
object Bench {
  /** Untimed warmup: absorb session init (parquet reader, codegen
    * infra, JIT of common paths) so per-query timings reflect steady
    * state; each query still pays its own plan/codegen cost. One
    * representative per table family (lineitem / documents /
    * embeddings / events) — with the name-sorted run order the first
    * catalog queries would otherwise absorb every table's first-read
    * cost and their times would measure run position, not the query.
    * A failing warmup query is reported and left to fail its own row. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    for (w <- Seq("q1_pricing_summary", "t2_quality_score",
        "s1_cosine_topk", "e1_tumbling_window", "t7_vocab_topk"))
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case NonFatal(e) => System.err.println(s"[bench] warmup $w failed: $e") }

  /** Release leftover blocks (localCheckpoints inside operators are
    * otherwise only freed by the ContextCleaner after GC) so earlier
    * queries don't tax later ones — measurement hygiene, VERDICT r2
    * item 4. Blocking unpersist, then a forced GC: broadcast blocks
    * and shuffle files are reclaimed by the ContextCleaner only after
    * their references are collected — without it late queries pay the
    * accumulated memory/GC tax (the BENCH_r02/r03 late-run slowdown). */
  def hygiene(spark: SparkSession, keepPersisted: Boolean = false): Unit = {
    spark.catalog.clearCache()
    if (!keepPersisted)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    Thread.sleep(50) // let the async ContextCleaner drain its queue
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    // per-query repetitions; the reported figure is the MEDIAN, so a
    // single ambient-load spike on the box can't masquerade as a plan
    // regression (VERDICT r5 item 7 — three rounds of uniform
    // "uplift" noise in the driver artifact)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // 5-min load average at bench START, recorded in the artifact
    // (VERDICT r16 item 7): a bench taken in the wake of a 32-core
    // evidence run measures +10-20% across the whole catalog — the
    // r16 drift triage separated such runs by hand; the artifact now
    // carries the precondition so a dirty run is self-identifying
    // (round_check refuses to take a binding run over the threshold).
    val loadavg5m = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
        .split("\\s+")(1).toDouble).getOrElse(-1.0)
    val spark = Session.local(cpus)
    warmup(spark, sfDir)
    // median of `runs` timed executions; hygiene between every run.
    // A row that throws is named in `failed`, left out of every
    // figure, and turns the exit code non-zero.
    // keepPersisted=true for the index-split timings below: their
    // whole point is probing a LIVE prebuilt artifact, which the
    // blanket unpersist would silently evict between runs.
    // ALL run times are retained (not just the median): the artifact
    // carries per-query (min, med, max) so a reader can tell a plan
    // regression from ambient noise — the r12/r13 lesson, where
    // t15_bigram_lm swung 1.693 s -> 0.616 s on byte-identical code
    // and a round's top priority was spent on a phantom. THE RULE: a
    // median move only counts as a regression if it sits OUTSIDE the
    // other round's [min, max] band (tools/bench_drift.py applies it).
    def medianOf(times: Seq[Double]): Double = times.sorted.apply(times.size / 2)
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // sub-second rows re-run to 5 samples (r19, VERDICT r18 item 6):
    // the r17->r18 drift report band-separated ~20 UNTOUCHED
    // sub-second plans on a measured 27% same-code day spread —
    // 3-run [min, max] bands are too tight to absorb ambient noise on
    // rows at the box's scheduling floor, and a drift gate that cries
    // wolf 20 times a round will eventually hide a real one. Rows
    // whose base median lands under 1 s collect 5 samples total, so
    // the band reflects the spread it is asked to absorb; >= 1 s rows
    // keep the cheaper 3 (their bands were never the false-flag
    // source). bench_drift.py additionally gates sub-second rows on
    // min-vs-band, the statistic least sensitive to ambient load.
    val subSecondRuns = math.max(runs, 5)
    def allTimed(name: String, f: () => Unit,
                 keepPersisted: Boolean = false): Option[Seq[Double]] = {
      def one(): Double = {
        val t0 = System.nanoTime()
        try { f(); (System.nanoTime() - t0) / 1e9 }
        finally hygiene(spark, keepPersisted)
      }
      try {
        val base = (1 to runs).map(_ => one())
        Some(if (medianOf(base) < 1.0 && base.size < subSecondRuns)
          base ++ (base.size until subSecondRuns).map(_ => one())
        else base)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
        None
      }
    }
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the catalog (the
    // driver sets no filter and always times everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val catalog = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // deterministic name-sorted run order: Map iteration order is
    // hash-arbitrary and changes as the catalog grows, which makes
    // per-query times incomparable across rounds (a query's cost
    // depends on which queries warmed the JVM before it)
    val allRuns = catalog.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      allTimed(name, () => { fn(spark, sfDir).count(); () }).map(name -> _)
    }
    val results = allRuns.map { case (name, ts) => name -> medianOf(ts) }

    // ---- ANN index-build vs probe sub-timings (VERDICT r5 item 8):
    // the catalog rows time fit+index+query in one number; production
    // builds the index once and probes forever, so the split is the
    // figure that story rests on. Same parameters as the catalog
    // queries; artifacts stay in memory (eager localCheckpoint), the
    // probe reuses them exactly as a persisted-index caller would.
    import graft.operators.{IvfPq, KMeans, ProductQuantizer, SimilaritySearch}
    import graft.ql.t
    val splits = scala.collection.mutable.LinkedHashMap[String, Double]()
    val splitRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // named split timing: records raw runs so the spread object covers
    // the index-split rows too (same noise rule as the catalog rows)
    def timeSplit(name: String)(f: => Unit): Unit =
      allTimed(name, () => f, keepPersisted = true).foreach { ts =>
        splitRuns(name) = ts
        splits(name) = medianOf(ts)
      }
    if (only.isEmpty) try {
      val emb = t(spark, sfDir, "embeddings")
      val qv = emb.filter(col("vec_id") < 5)
      var quant3: DataFrame = null
      timeSplit("s3_ivf_ann_build") {
        quant3 = KMeans.fitLocal(emb, "vec_id", "embedding", k = 8,
          iters = 3, sampleMod = 8)
        quant3.count(); ()
      }
      timeSplit("s3_ivf_ann_probe") {
        SimilaritySearch.ivfKmeansTopK(qv, emb, "vec_id", "embedding",
          k = 3, nCells = 8, nProbe = 2, quantizer = Some(quant3)).count(); ()
      }
      var cent4: DataFrame = null
      timeSplit("s4_ivf_label_build") {
        cent4 = SimilaritySearch.ivfLabelIndex(
          emb, "vec_id", "embedding", "label").localCheckpoint(true); ()
      }
      timeSplit("s4_ivf_label_probe") {
        SimilaritySearch.ivfTopK(qv, emb, "vec_id", "embedding", "label",
          k = 3, centroids = Some(cent4)).count(); ()
      }
      var mdl6: ProductQuantizer.PqModel = null
      var idx6: DataFrame = null
      timeSplit("s6_pq_ann_build") {
        mdl6 = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, ks = 16)
        idx6 = ProductQuantizer.encode(emb, "vec_id", "embedding", mdl6)
          .localCheckpoint(true); ()
      }
      timeSplit("s6_pq_ann_probe") {
        ProductQuantizer.pqTopK(qv, emb, "vec_id", "embedding", k = 5,
          m = 8, ks = 16, refine = 4, model = Some(mdl6), index = Some(idx6))
          .count(); ()
      }
      var quant7: DataFrame = null
      var mdl7: ProductQuantizer.PqModel = null
      var idx7: DataFrame = null
      timeSplit("s7_ivfpq_build") {
        quant7 = KMeans.fitLocal(emb, "vec_id", "embedding", k = 8, iters = 3)
        mdl7 = ProductQuantizer.fit(emb, "vec_id", "embedding", m = 8, ks = 8,
          iters = 3)
        idx7 = IvfPq.buildIndex(emb, "vec_id", "embedding", quant7, mdl7)
          .localCheckpoint(true); ()
      }
      timeSplit("s7_ivfpq_probe") {
        IvfPq.topK(qv, emb, "vec_id", "embedding", k = 5, nProbe = 3,
          refine = 4, quantizer = Some(quant7), model = Some(mdl7),
          index = Some(idx7)).count(); ()
      }
      // lexical analogue of the ANN split: BM25 inverted-index build
      // vs probe (train-once/probe-forever, same terms as s8_bm25)
      import graft.operators.Bm25
      var idx8: Bm25.Bm25Index = null
      timeSplit("s8_bm25_build") {
        val built = Bm25.buildIndex(t(spark, sfDir, "documents"), "doc_id", "text")
        idx8 = Bm25.Bm25Index(built.postings.localCheckpoint(true),
          built.stats.localCheckpoint(true)); ()
      }
      timeSplit("s8_bm25_probe") {
        Bm25.topKFromIndex(idx8,
          terms = Seq("dup", "spark", "window", "key"), k = 10).count(); ()
      }
      // paragraph-dedup index split (VERDICT r10 item 5): persisted
      // segment-index build vs incremental-batch clean — the ParaDedup
      // ingest path (t30 is the fresh-corpus special case). 90% of
      // documents build the index; the other 10% probe as a daily batch.
      import graft.operators.ParaDedup
      var segIdx: DataFrame = null
      var segIdxRdds: Set[Int] = Set.empty
      val paraDocs = t(spark, sfDir, "documents")
      timeSplit("t30_para_build") {
        // drop the previous run's replica first — keepPersisted skips
        // the blanket unpersist, so without this every extra run leaks
        // a cached copy of the segment index for the process lifetime.
        // localCheckpoint blocks live on the internal RDD (not in the
        // cache manager), so free them by persistent-RDD id diff.
        val sc = spark.sparkContext
        segIdxRdds.foreach(id => sc.getPersistentRDDs.get(id)
          .foreach(_.unpersist(true)))
        val before = sc.getPersistentRDDs.keySet.toSet
        segIdx = ParaDedup.segments(
            paraDocs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
          .select("doc_id", "seg").localCheckpoint(true)
        segIdxRdds = sc.getPersistentRDDs.keySet.toSet.diff(before); ()
      }
      timeSplit("t30_para_probe") {
        ParaDedup.cleanAgainstIndex(segIdx,
          paraDocs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
          .count(); ()
      }
      // p9's WRITE side (VERDICT r11 item 4): the actual shard-file
      // sink — shuffle on shard, in-partition sort, dynamic-partition
      // parquet write of 16 one-file shards. Timed end to end against
      // a scratch dir (the sink IS the cost; there is no probe half).
      val shardDir = java.nio.file.Files
        .createTempDirectory("bench_shards").toFile.getAbsolutePath
      timeSplit("p9_shard_write") {
        graft.sources.ShardSink.writeShards(
          t(spark, sfDir, "documents")
            .select(col("doc_id"),
              graft.functions.TextOps.wsTokenCount(col("text")).cast("long")
                .as("toks")),
          "doc_id", shardDir, numShards = 16); ()
      }
      // the maintenance half (VERDICT r13 item 3): compact a
      // 4-batch-fragmented streamed store back to one file per shard.
      // Compaction consumes its input, so each timed run gets its own
      // pre-fragmented store (built untimed).
      val fragDocs = t(spark, sfDir, "documents")
        .select(col("doc_id"),
          graft.functions.TextOps.wsTokenCount(col("text")).cast("long")
            .as("toks"))
      // one pre-fragmented store per POSSIBLE timed run: the adaptive
      // sub-second extension can take this row to subSecondRuns
      // samples, and an exhausted iterator here read as a failure
      // in the first r19 artifact
      val fragDirs = (1 to subSecondRuns).map { _ =>
        val d = java.nio.file.Files
          .createTempDirectory("bench_shards_frag").toFile.getAbsolutePath
        (0 until 4).foreach(m => graft.sources.ShardSink.appendShards(
          fragDocs.filter(col("doc_id") % 4 === m), "doc_id", d, 16))
        d
      }.iterator
      timeSplit("p9_shard_compact") {
        graft.sources.ShardSink.compactShards(spark, fragDirs.next(),
          "doc_id"); ()
      }
    } catch { case NonFatal(e) =>
      // set-up outside any one row failed: every split row is suspect
      System.err.println(s"[bench] ann_split set-up failed: $e")
      failed += "ann_split"
    }

    // ms-rounded per-query times and a duplicate total at the END of
    // the object: the driver keeps only the last ~2000 chars of output,
    // and with a 70+-query catalog the line's head (where "value" sits)
    // can fall outside that window — the trailing "total_sec" keeps the
    // headline number visible even if the head is truncated.
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal locale would emit invalid JSON ("value":1,234)
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val sp = splits.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // per-query spread of the raw runs (min/med/max): the
    // noise-vs-regression discriminator (VERDICT r13 item 2)
    val spread = (allRuns ++ splitRuns.toSeq).map { case (k, ts) =>
      s"\"" + k + "\":{\"min\":" + r3(ts.min) + ",\"med\":" + r3(medianOf(ts)) +
        ",\"max\":" + r3(ts.max) + "}"
    }.mkString("{", ",", "}")
    val fl = failed.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // r22 (VERDICT r21 item 8): the STDOUT line carries only the
    // medians — r20's line, with the per-query min/med/max spread
    // inlined, overflowed the driver's ~2000-char stdout tail and cost
    // the round its prev/now comparison. The spread object still goes
    // to the FILE artifact below (same schema as before), where
    // tools/bench_drift.py reads it.
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"loadavg_5m":${r3(loadavg5m)},"queries":$qs,"ann_split":$sp,"sf":"$sfDir","n_queries":${results.size},"failed":$fl,"total_sec":${r3(total)}}"""
    val fileLine = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"loadavg_5m":${r3(loadavg5m)},"queries":$qs,"ann_split":$sp,"spread":$spread,"sf":"$sfDir","n_queries":${results.size},"failed":$fl,"total_sec":${r3(total)}}"""
    println(line)
    // durability: the driver keeps only a ~2000-char stdout tail, which
    // has truncated 40 of 119 per-query medians in past rounds — also
    // write the complete line to a file (committed with the round) so
    // the binding artifact can never be tail-truncated. Path
    // overridable for dev loops; failure to write must not fail the
    // bench (read-only cwd on some runners).
    // a restricted dev-loop run (SPARK_GRAFT_ONLY) must never clobber
    // the committed full-catalog 'latest' artifact (ADVICE r11): it
    // defaults to a _partial file instead; an explicit
    // SPARK_GRAFT_BENCH_OUT always wins.
    val defaultOut =
      if (only.isDefined) "BENCH_LOCAL_partial.json" else "BENCH_LOCAL_latest.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), fileLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
