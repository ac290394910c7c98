package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean

import graft.functions.TextOps
import graft.operators.{Dedup, Drift}

/** Differential properties of the single-pass text kernels against the
  * forms they replace, over ScalaCheck-generated texts (each sample is
  * a whole batch of texts, so one Spark query checks many at once):
  *
  *   - `graft_gopher` equals `KernelOracles.gopherShapeHof` on all
  *     nine fields, doubles compared bit for bit;
  *   - the fused MinHash kernel (`MinHashShingles`, swapped in by plan
  *     shape) equals `KernelOracles.minhashSignatureHof`;
  *   - the drift card read from a token-only store equals the one-shot
  *     `sourceDrift` card and the card of the two-kind store (bucket
  *     rows counted per token occurrence, as stores used to be
  *     written) over the same batches.
  */
class TextKernelsPropSpec extends SparkSpec {
  import spark.implicits._

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(6).withInitialSeed(20261018L)

  private def check(p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val words = Seq("alpha", "river", "stone", "Cloud", "x", "ember",
    "frost", "lake", "information", "a", "b2", "zeta")
  private val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val piece: Gen[String] = Gen.frequency(
    20 -> Gen.oneOf(words),
    6 -> Gen.oneOf(stops),
    3 -> Gen.oneOf("#", "##", "..", "...", "....", ".......", "-", "*",
      "- item", "* item", "end...", "A1", "123", "x#y", "...word"),
    2 -> Gen.oneOf("é", "naïve", "日本語", "😀", "€uro", "ß", "Ωmega"))
  private val sep: Gen[String] = Gen.frequency(
    20 -> " ", 3 -> "  ", 3 -> "\n", 1 -> " \n ", 1 -> "\t", 1 -> "\r\n",
    1 -> "\n\n", 1 -> "\n  ")
  private val text: Gen[String] = for {
    n <- Gen.choose(0, 120)
    toks <- Gen.listOfN(n, piece)
    seps <- Gen.listOfN(n, sep)
    lead <- Gen.oneOf("", " ", "  ", "\n")
    trail <- Gen.oneOf("", " ", "\n", " \n")
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString.trim + trail
  private val texts: Gen[List[Option[String]]] =
    Gen.listOfN(150, Gen.frequency(30 -> text.map(Some(_)), 1 -> Gen.const(None)))

  import TextKernelsPropSpec._

  test("graft_gopher equals the Column form on all nine fields, doubles bitwise") {
    var kept = 0L
    check(Prop.forAllNoShrink(texts) { in =>
      val diffs = gopherDiffs(spark, in)
      kept += frame(spark, in)
        .filter(TextOps.gopherShape(col("text")).getField("keep")).count()
      diffs.isEmpty :| diffs.take(3).mkString("\n")
    })
    assert(kept > 0, "the generator never reached keep = true")
  }

  test("fused MinHash signatures equal minhashSignatureHof; the fusion is " +
      "chosen by plan shape") {
    check(Prop.forAllNoShrink(texts, Gen.oneOf(1, 3, 5)) { (in, k) =>
      val diffs = minhashDiffs(spark, in, k)
      diffs.isEmpty :| s"k=$k: ${diffs.take(3)}"
    })
  }

  private val doc: Gen[(String, String)] = for {
    t <- text
    s <- Gen.oneOf("a.com", "b.org", "c.net")
  } yield (t, s)
  private val batches: Gen[List[List[(String, String)]]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.listOfN(40, doc)))

  /** One batch's rows as a store of the two-kind layout: bucket rows
    * counted per token occurrence, beside the token rows. */
  private def twoKindIncrement(docs: DataFrame): DataFrame =
    occurrenceBuckets(docs)
      .select(lit("b").as("kind"), col("source"),
        col("b").cast("string").as("k"), col("cnt"))
      .unionByName(Drift.tokenCounts(docs, "source", "text")
        .select(lit("t").as("kind"), col("source"), col("w").as("k"),
          col("c").as("cnt")))

  /** The two-kind store's card, its bucket side read from its bucket
    * rows. */
  private def twoKindCard(dir: String): DataFrame = {
    val all = spark.read.parquet(dir).groupBy("kind", "source", "k")
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    Drift.cardFromCounts(
      all.filter(col("kind") === "b")
        .select(col("source"), col("k").cast("long").as("b"), col("cnt")),
      all.filter(col("kind") === "t")
        .select(col("source"), col("k").as("w"), col("cnt").as("c")))
  }

  test("token-only drift store card == sourceDrift == the two-kind store's " +
      "card over the same batches") {
    check(Prop.forAllNoShrink(batches) { bs =>
      val dir = Files.createTempDirectory("drift_prop").toString
      val (tokenOnly, twoKind) = (s"$dir/t", s"$dir/tb")
      bs.foreach { b =>
        val docs = b.toDF("text", "source")
        Drift.foldDocsIntoStore(tokenOnly, docs, "source", "text")
        twoKindIncrement(docs).write.mode("append").parquet(twoKind)
      }
      def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      val card = rows(Drift.cardFromStore(spark, tokenOnly))
      val oneShot = rows(Drift.sourceDrift(bs.flatten.toDF("text", "source"),
        "source", "text"))
      val parent = rows(twoKindCard(twoKind))
      // an older store is read through its token rows alone
      val mixed = rows(Drift.cardFromStore(spark, twoKind))
      (card == oneShot && card == parent && card == mixed) :|
        s"store $card\none-shot $oneShot\ntwo-kind $parent\nmixed read $mixed"
    })
  }
}

/** The kernel-vs-Column-form comparisons, shared with EdgeCasesSpec's
  * degenerate texts. */
object TextKernelsPropSpec {

  /** `in` as a distributed frame: a projection over a local relation
    * would be folded into it at planning time, interpreted, and never
    * reach the optimizer rules or generated code under test. */
  def frame(spark: SparkSession, in: Seq[Option[String]]): DataFrame = {
    import spark.implicits._
    in.toDF("text").repartition(2)
  }

  /** Hex-coded byte strings as a distributed `text` frame, bytes kept
    * as they are: Spark does not validate UTF-8 it reads, so a kernel
    * sees malformed text from parquet, not only from Java strings. */
  def hexFrame(spark: SparkSession, hexes: Seq[String]): DataFrame = {
    import spark.implicits._
    hexes.toDF("h").repartition(2)
      .select(expr("cast(unhex(h) as string)").as("text"))
  }

  def gopherDiffs(spark: SparkSession, in: Seq[Option[String]]): Seq[String] =
    gopherDiffs(frame(spark, in))

  /** Texts whose `graft_gopher` and Column-form structs differ on any
    * field (doubles by bits), through the kernel's generated code. */
  def gopherDiffs(texts: DataFrame): Seq[String] =
    KernelOracles.diffs(texts.select("text"), TextOps.gopherShape(col("text")),
      KernelOracles.gopherShapeHof(col("text")), classOf[graft.plans.GopherShape])

  /** Texts whose fused MinHash signature differs from
    * `minhashSignatureHof`; a plan in which no codegen stage runs the
    * fused kernel is a difference too. */
  def minhashDiffs(spark: SparkSession, in: Seq[Option[String]],
                   k: Int): Seq[String] =
    minhashDiffs(frame(spark, in), k)

  def minhashDiffs(texts: DataFrame, k: Int): Seq[String] =
    KernelOracles.diffs(texts.select("text"), Dedup.minhashSignature(col("text"), k, 32),
      KernelOracles.minhashSignatureHof(col("text"), k, 32),
      classOf[graft.plans.MinHashShingles])

  /** Texts whose fused MinHash signature differs from the unfused
    * native one (`graft_minhash` over checkpointed `graft_shingles`,
    * out of the fusion's reach). */
  def unfusedMinhashDiffs(texts: DataFrame, k: Int): Seq[String] =
    texts.select(col("text"), TextOps.shingles(col("text"), k).as("sh"))
      .localCheckpoint()
      .select(col("text"), Dedup.minhashSignature(col("text"), k, 32).as("a"),
        call_function("graft_minhash", col("sh"), lit(32)).as("b"))
      .filter(!(col("a") <=> col("b"))).collect().toSeq
      .map(r => s"unfused: ${Option(r.getString(0)).map(_.take(80))}")

  /** (source, b, cnt) bucket counts of (source, text) docs, one count
    * per token occurrence: how drift stores counted buckets before the
    * bucket side was derived from the token counts. */
  def occurrenceBuckets(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"),
        (call_function("graft_fingerprint", col("w")) % 4096).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("cnt"))
}
