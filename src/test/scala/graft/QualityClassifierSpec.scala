package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityClassifier

/** Gates for the trained quality filter:
  *   - learns a planted separable signal (spam-token docs vs clean)
  *     to ≥ 95 % train accuracy with a clear margin between class
  *     mean scores;
  *   - training is partition-invariant BIT-FOR-BIT (every floating
  *     sum routed through decimal — 1 vs 7 input partitions yield
  *     identical weights);
  *   - scoring generalizes to held-out docs drawn from the same
  *     generator (the filter is useful, not memorized);
  *   - unseen-vocabulary docs score the bias alone (no NPE, no NaN).
  */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val spamWords = Seq("buy", "pills", "click", "winner", "free")
  private val cleanWords = Seq("the", "model", "data", "train", "corpus",
    "with", "learn", "token")
  private def doc(i: Int, spam: Boolean): (Long, String, Int) = {
    val rnd = new scala.util.Random(i * 7919 + (if (spam) 1 else 0))
    val pool = if (spam) spamWords ++ cleanWords.take(3) else cleanWords
    val words = (1 to 30).map(_ => pool(rnd.nextInt(pool.size)))
    (i.toLong, words.mkString(" "), if (spam) 1 else 0)
  }
  private val trainRows = (1 to 150).map(i => doc(i, i % 2 == 0))
  private val testRows = (1000 to 1060).map(i => doc(i, i % 2 == 0))

  test("learns the planted signal and generalizes") {
    val df = trainRows.toDF("doc_id", "text", "label")
    val (bias, w) = QualityClassifier.train(
      df, "doc_id", "text", "label", nBuckets = 256, epochs = 25, lr = 1.0)
    val scored = QualityClassifier
      .score(testRows.toDF("doc_id", "text", "label"),
        "doc_id", "text", bias, w, "p")
      .select(col("label"), col("p")).collect()
    val acc = scored.count(r =>
      (r.getDouble(1) >= 0.5) == (r.getInt(0) == 1)).toDouble / scored.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    val spamMean = scored.filter(_.getInt(0) == 1).map(_.getDouble(1)).sum /
      scored.count(_.getInt(0) == 1)
    val cleanMean = scored.filter(_.getInt(0) == 0).map(_.getDouble(1)).sum /
      scored.count(_.getInt(0) == 0)
    assert(spamMean - cleanMean > 0.5,
      s"margin too small: spam $spamMean vs clean $cleanMean")
  }

  test("training is partition-invariant bit-for-bit") {
    def run(parts: Int) = QualityClassifier.train(
      trainRows.toDF("doc_id", "text", "label").repartition(parts),
      "doc_id", "text", "label", nBuckets = 128, epochs = 5, lr = 1.0)
    val (b1, w1) = run(1)
    val (b7, w7) = run(7)
    assert(b1 == b7 && w1.sameElements(w7))
  }

  test("algebraic link learns the planted signal too (t35's oracle-" +
      "portable form) and its bias-only score matches the scalar link") {
    val df = trainRows.toDF("doc_id", "text", "label")
    val (bias, w) = QualityClassifier.train(
      df, "doc_id", "text", "label", nBuckets = 256, epochs = 25,
      lr = 1.0, link = "algebraic")
    val scored = QualityClassifier
      .score(testRows.toDF("doc_id", "text", "label"),
        "doc_id", "text", bias, w, "p", link = "algebraic")
      .select(col("label"), col("p")).collect()
    val acc = scored.count(r =>
      (r.getDouble(1) >= 0.5) == (r.getInt(0) == 1)).toDouble / scored.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // empty doc scores exactly linkScalar(bias) — the same algebraic
    // squash the DuckDB oracle evaluates
    val b = QualityClassifier.score(
        Seq((9999L, "", 0)).toDF("doc_id", "text", "label"),
        "doc_id", "text", bias, w, "p", link = "algebraic")
      .select("p").head().getDouble(0)
    assert(b == QualityClassifier.linkScalar(bias, "algebraic"))
  }

  test("broadcast-weights scoring runs inside a stream: micro-batch " +
      "scores equal the batch scores (the CorpusIngest-gate claim)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (bias, w) = QualityClassifier.train(
      trainRows.toDF("doc_id", "text", "label"),
      "doc_id", "text", "label", nBuckets = 128, epochs = 5, lr = 1.0)
    val mem = MemoryStream[(Long, String, Int)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = mem.toDF().toDF("doc_id", "text", "label").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= QualityClassifier
          .score(batch, "doc_id", "text", bias, w, "p")
          .select(col("doc_id"), col("p")).as[(Long, Double)].collect()
        ()
      }.start()
    try {
      mem.addData(testRows.take(30): _*); q.processAllAvailable()
      mem.addData(testRows.drop(30): _*); q.processAllAvailable()
    } finally q.stop()
    val batchScores = QualityClassifier
      .score(testRows.toDF("doc_id", "text", "label"),
        "doc_id", "text", bias, w, "p")
      .select(col("doc_id"), col("p")).as[(Long, Double)].collect().toMap
    assert(acc.size == testRows.size)
    assert(acc.toMap == batchScores)
  }

  test("one-vs-rest joint loop == K independent train() runs, " +
      "bit-for-bit (the invariant the t37 oracle's per-class replay " +
      "rests on), and classify picks the argmax class") {
    // three classes with distinct vocabularies + shared filler
    val pools = Map(
      "aa" -> Seq("alpha", "apex", "arrow"),
      "bb" -> Seq("beta", "brick", "bloom"),
      "cc" -> Seq("gamma", "cloud", "crisp"))
    val filler = Seq("the", "of", "and", "data")
    def doc(i: Int, cls: String): (Long, String, String) = {
      val rnd = new scala.util.Random(i * 31 + cls.hashCode)
      val pool = pools(cls) ++ filler
      (i.toLong, (1 to 20).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(" "), cls)
    }
    val classes = Seq("aa", "bb", "cc")
    val rows = (1 to 90).map(i => doc(i, classes(i % 3)))
    val df = rows.toDF("doc_id", "text", "cls")
    val joint = QualityClassifier.trainOneVsRest(
      df, "doc_id", "text", "cls", classes, nBuckets = 64, epochs = 6,
      lr = 1.0, link = "algebraic")
    classes.foreach { c =>
      val (bSolo, wSolo) = QualityClassifier.train(
        df.withColumn("y", when(col("cls") === c, 1.0).otherwise(0.0)),
        "doc_id", "text", "y", nBuckets = 64, epochs = 6, lr = 1.0,
        link = "algebraic")
      val (bJoint, wJoint) = joint.toMap.apply(c)
      assert(bJoint == bSolo && wJoint.sameElements(wSolo),
        s"joint OvR diverges from independent train() for class $c")
    }
    // held-out classification: argmax recovers the planted class
    val held = (1000 to 1059).map(i => doc(i, classes(i % 3)))
      .toDF("doc_id", "text", "cls")
    val preds = QualityClassifier.classifyOneVsRest(
        held, "doc_id", "text", joint, "pred", "score", link = "algebraic")
      .select(col("cls"), col("pred")).collect()
    val accuracy = preds.count(r => r.getString(0) == r.getString(1))
      .toDouble / preds.length
    assert(accuracy >= 0.95, s"held-out OvR accuracy $accuracy")
  }

  test("unseen vocabulary scores the bias alone, no NaN") {
    val df = trainRows.toDF("doc_id", "text", "label")
    val (bias, w) = QualityClassifier.train(
      df, "doc_id", "text", "label", nBuckets = 128, epochs = 3, lr = 1.0)
    val out = QualityClassifier.score(
        Seq((9999L, "", 0)).toDF("doc_id", "text", "label"),
        "doc_id", "text", bias, w, "p")
      .select("p").head().getDouble(0)
    assert(!out.isNaN && out == 1.0 / (1.0 + math.exp(-bias)))
  }

  test("one-vs-rest learns five planted languages and beats the " +
      "marker heuristic, which has no rule for the fifth") {
    // language-independent filler plus ten copies of a per-language
    // marker: the heuristic's own markers for de/en/fr/es, an unknown
    // one for zh, so the heuristic tops out at 4 of 5 languages
    val markers = Map("de" -> "der", "en" -> "the", "fr" -> "le",
      "es" -> "el", "zh" -> "zhong")
    val filler = Seq("data", "model", "token", "corpus", "river", "stone")
    val langs = markers.keys.toSeq.sorted
    def doc(i: Int): (Long, String, String) = {
      val rnd = new scala.util.Random(i * 131)
      val lang = langs(i % langs.size)
      val words = Seq.fill(20)(filler(rnd.nextInt(filler.size))) ++
        Seq.fill(10)(markers(lang))
      (i.toLong, words.mkString(" "), lang)
    }
    val rows = (1 to 500).map(doc).toDF("doc_id", "text", "lang")
    val heldOut = rows.filter(col("doc_id") % 4 =!= 0)
    val models = QualityClassifier.trainOneVsRest(
      rows.filter(col("doc_id") % 4 === 0), "doc_id", "text", "lang", langs,
      nBuckets = 128, epochs = 3, lr = 0.5, link = "algebraic")
    def acc(df: org.apache.spark.sql.DataFrame, pred: org.apache.spark.sql.Column) =
      df.agg(avg(when(pred === col("lang"), 1.0).otherwise(0.0))).head().getDouble(0)
    val trained = acc(QualityClassifier.classifyOneVsRest(heldOut, "doc_id",
      "text", models, "pred", "score", link = "algebraic"), col("pred"))
    val heuristic = acc(heldOut, graft.functions.TextOps.langId(col("text")))
    assert(trained >= 0.95, s"held-out accuracy $trained")
    assert(heuristic <= 0.8 + 1e-9 && trained > heuristic,
      s"trained $trained vs heuristic $heuristic")
  }
}
