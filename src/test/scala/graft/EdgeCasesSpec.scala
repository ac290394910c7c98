package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Components, Dedup, Packing, Sampling, SemDedup}

/** Degenerate inputs: empty frames and no-op changelogs must produce
  * empty/identity results, never exceptions — a library dies in
  * production on the empty partition of a partitioned run, not on the
  * happy path. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators on an empty corpus return empty") {
    assert(Dedup.exactDedup(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashLshPairs(noDocs, "doc_id", "text",
      k = 5, numHashes = 128, bands = 16).count() == 0)
    assert(Dedup.ngramJaccardPairs(noDocs, "doc_id", "text",
      k = 5, threshold = 0.5, maxDf = 10L, minCommon = 1L).count() == 0)
  }

  test("packing an empty frame is empty; sampling caps at the row count") {
    val noTok = Seq.empty[(Long, Long, Long)].toDF("id", "shard", "toks")
    assert(Packing.packNextFit(noTok, "shard", Seq("id"), "toks", 2048L)
      .count() == 0)
    // k larger than the (positive-weight) population: all rows, no error
    val tiny = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "w")
    assert(Sampling.weightedSample(tiny, "id", "w", k = 50).count() == 2)
    assert(Sampling.weightedSample(
      Seq.empty[(Long, Double)].toDF("id", "w"), "id", "w", k = 5).count() == 0)
  }

  test("bm25 batched/indexed paths on degenerate inputs") {
    import graft.operators.Bm25
    val corpus = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    // whitespace-only query tokenizes to no terms: absent from output,
    // no exception; well-formed queries in the same batch unaffected
    val qs = Seq((0L, "   "), (1L, "y")).toDF("q_id", "qtext")
    val out = Bm25.topKQueries(corpus, "doc_id", "text", qs, "q_id", "qtext")
      .select("q_id").distinct().as[Long].collect().toSeq
    assert(out == Seq(1L))
    // empty corpus: empty output and an index that probes empty
    val idx = Bm25.buildIndex(noDocs, "doc_id", "text")
    assert(Bm25.topKQueries(noDocs, "doc_id", "text", qs, "q_id", "qtext").count() == 0)
    assert(Bm25.topKFromIndex(idx, Seq("x")).count() == 0)
    assert(Bm25.topKQueriesFromIndex(idx, qs, "q_id", "qtext").count() == 0)
    // merging an empty batch into a live index is identity
    val live = Bm25.buildIndex(corpus, "doc_id", "text")
    val merged = Bm25.mergeIndexes(live, idx)
    assert(merged.postings.count() == live.postings.count())
    assert(merged.stats.as[(Long, Long)].head() ==
      live.stats.as[(Long, Long)].head())
  }

  test("image codec extremes: 1x1 black and white decode to exact features") {
    def onePx(r: Int, g: Int, bl: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, (r << 16) | (g << 8) | bl)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq((1L, onePx(0, 0, 0)), (2L, onePx(255, 255, 255)))
      .toDF("media_id", "media")
    val f = graft.multimodal.Binary
      .extractFeatures(media, graft.multimodal.ImageIoCodec)
      .orderBy("media_id").select("features").as[Array[Float]].collect()
    assert(f(0).toSeq == Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f))
    // luma(255,255,255) = (299+587+114)*255/1000 = 255 exactly
    assert(f(1).toSeq == Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f))
  }

  test("semantic dedup with a supplied quantizer handles an empty corpus") {
    val noVec = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    val quant = Seq((0L, Seq(1.0, 0.0))).toDF("cell", "cv")
    val out = SemDedup.dedup(noVec, "id", "v", threshold = 0.9,
      quantizer = Some(quant))
    assert(out.count() == 0)
  }

  test("triangle count of an empty graph is a zero row, not a crash") {
    val r = Components.triangleCount(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("CDC with an empty changelog is the identity on the base") {
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
    val empty = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("k", "ts", "seq", "op", "value")
    val got = Cdc.applyChanges(base, empty, "k", "ts", "seq", "op",
        Seq("bal" -> col("value")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq(1L -> 10.0, 2L -> 20.0))
  }

  test("freq-items over an empty stream yields an empty candidate array") {
    val got = Seq.empty[String].toDF("t")
      .agg(call_function("graft_freq_items", col("t"), lit(8)))
      .head().getSeq[String](0)
    assert(got.isEmpty)
  }

  test("docs shorter than the shingle length are excluded, not crashed on") {
    val tiny = Seq((1L, "ab"), (2L, "abcdefghij"), (3L, "abcdefghij"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(tiny, "doc_id", "text",
        k = 5, numHashes = 128, bands = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 3L)))
  }

  /** Texts a single-pass byte kernel can get wrong at its edges. */
  private val degenerateTexts: Seq[Option[String]] = Seq(
    None, Some(""), Some("   "), Some("ab"), Some("a"),
    Some("é"), Some("日本語"), Some("😀😀 🎉"), Some("naïve café 日本 😀x"),
    Some("...."), Some("......."), Some(". . ..."), Some("end....\n...."),
    Some(" the the "), Some(" the  the of of and that have with "),
    Some("a\tb\tthe\tc"), Some("line\r\nnext\r\n"),
    Some("  lead and trail  "), Some("one line\n"), Some("\n"),
    Some("- bullet\n* star\n  - indented ...\n...\n  \n"),
    Some("##### ### #"))

  test("graft_gopher and the fused MinHash equal their Column/HOF forms " +
      "on degenerate texts") {
    val diffs = TextKernelsPropSpec.gopherDiffs(spark, degenerateTexts) ++
      Seq(1, 3, 5).flatMap(k =>
        TextKernelsPropSpec.minhashDiffs(spark, degenerateTexts, k)
          .map(d => s"minhash k=$k: $d"))
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  /** Malformed UTF-8, hex-coded: stray continuation bytes, invalid
    * lead bytes, and truncated lead bytes that Spark's char stepping
    * lets swallow the spaces, newlines, '#', dots and stop words after
    * them — plus a long text the Gopher gate keeps, one such byte in. */
  private val malformedHex: Seq[String] = {
    def hex(t: String) = t.getBytes("UTF-8").map("%02X".format(_)).mkString
    val long = hex("the river and the stone of the lake " * 10)
    Seq("80E36120", "E3202020616263", "E30A0A61", "F0232341",
      "E32E2E2E2E2E", "E3207468652074686520", "C3", "61E3", "E382",
      "808080", "F8FF20FE", "C3A92080", "2D20E30A2D20782E2E2E",
      "E0A0" + hex("...\n* b"), long + "E32020" + long, long + "80" + long)
  }

  test("graft_gopher and the fused MinHash equal their Column/HOF forms " +
      "on malformed UTF-8") {
    val texts = TextKernelsPropSpec.hexFrame(spark, malformedHex)
    assert(texts.filter(col("text").isNull).isEmpty)
    // Spark's `substr` copies a cut-short LAST lead byte's full width,
    // reading past the string's end, so the HOF shingles are no oracle
    // for those texts (KernelOracles.shinglesHof's precondition); the
    // native Shingles (which the fusion replaces) ends that window at
    // the last byte
    val cutTail = Set("C3", "61E3", "E382")
    val whole = TextKernelsPropSpec.hexFrame(spark, malformedHex.filterNot(cutTail))
    val diffs = TextKernelsPropSpec.gopherDiffs(texts) ++
      Seq(1, 3, 5).flatMap(k =>
        (TextKernelsPropSpec.minhashDiffs(whole, k) ++
          TextKernelsPropSpec.unfusedMinhashDiffs(texts, k))
          .map(d => s"minhash k=$k: $d"))
    assert(diffs.isEmpty, diffs.mkString("\n"))
    assert(texts.filter(KernelOracles.gopherShapeHof(col("text"))
      .getField("keep")).count() > 0, "no malformed text reaches keep = true")
  }

  test("drift bucket side derived from token counts equals per-occurrence " +
      "bucket counts on degenerate texts") {
    val docs = degenerateTexts.map(t => (t.orNull, "s")).toDF("text", "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source", "b").collect().map(_.toSeq).toSeq
    assert(rows(graft.operators.Drift.bucketCounts(docs, "source", "text")) ==
      rows(TextKernelsPropSpec.occurrenceBuckets(docs)))
  }
}
