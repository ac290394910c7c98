package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 (10× the bench SF) synthetic data for the sf1 exactness runs
  * (`tools/sf1_correctness.sh`).
  *
  * The generator mirrors sf0.1's measured marginals (31-word vocab,
  * 10–100 words/doc, lang mix ≈ 41/15/15/15/14, 20 uniform sources,
  * ~0.32% planted exact-dup docs, unit-norm 64-dim embeddings with ~1
  * near-dup pair per 2000 vectors, labels 0–9) rather than replaying
  * the driver's unknown seed — relational tables and events are
  * instead replicated `mult`× with disjoint key spaces (copy 0 is the
  * original; cross-copy keys never join, so every join/agg fan-out
  * scales linearly by construction and a superlinear RUNTIME is a
  * plan property, not a data artifact). Fresh-generated documents /
  * embeddings keep duplicate RATES constant so dedup outputs scale
  * linearly too — replicating text 10× would make every doc a 10-way
  * exact dup and quadratically explode the very pair counts the
  * timing is supposed to isolate.
  */
object ScaleDataGen {
  val Stride = 1000000000L

  /** The sf0.1 document vocabulary (measured, 31 words). */
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  def genDocuments(spark: SparkSession, nDocs: Long): DataFrame = {
    val vocabCol = array(Vocab.map(lit): _*)
    // content seed: %625==1 → exact copy of the previous doc (the
    // measured 16-in-5000 planting), %625==2 → near copy (tail words
    // rewritten below)
    val seed = when(pmod(col("doc_id"), lit(625L)) === 1, col("doc_id") - 1)
      .when(pmod(col("doc_id"), lit(625L)) === 2, col("doc_id") - 2)
      .otherwise(col("doc_id"))
    val n = (pmod(xxhash64(lit("len"), seed), lit(91L)) + 10L).cast("int")
    def word(tag: String, k: org.apache.spark.sql.Column,
             i: org.apache.spark.sql.Column) =
      element_at(vocabCol,
        (pmod(xxhash64(lit(tag), k, i), lit(Vocab.size.toLong)) + 1).cast("int"))
    val words = transform(sequence(lit(1), n), i => word("w", seed, i))
    val isNear = pmod(col("doc_id"), lit(625L)) === 2
    val tail3 = transform(sequence(lit(1), lit(3)),
      i => word("nd", col("doc_id"), i))
    val finalWords = when(isNear,
      concat(slice(words, lit(1), greatest(n - 3, lit(1))), tail3))
      .otherwise(words)
    val langR = pmod(xxhash64(lit("lang"), col("doc_id")), lit(100L))
    spark.range(nDocs).select(col("id").as("doc_id"))
      .select(col("doc_id"), array_join(finalWords, " ").as("text"),
        when(langR < 41, "en").when(langR < 56, "zh").when(langR < 71, "es")
          .when(langR < 86, "fr").otherwise("de").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def genEmbeddings(spark: SparkSession, nVecs: Long): DataFrame = {
    // %2000==1 → near copy of the previous vector (the measured ~1
    // cos≥0.6 pair per 2000): same raw components plus a tiny
    // id-keyed perturbation, then both are unit-normalized
    val seed = when(pmod(col("vec_id"), lit(2000L)) === 1, col("vec_id") - 1)
      .otherwise(col("vec_id"))
    val isNear = pmod(col("vec_id"), lit(2000L)) === 1
    val raw = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(xxhash64(lit("e"), seed, j), lit(2001L)) - 1000L) / 1000.0) +
        when(isNear,
          (pmod(xxhash64(lit("p"), col("vec_id"), j), lit(21L)) - 10L) / 1000.0)
          .otherwise(lit(0.0)))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    spark.range(nVecs).select(col("id").as("vec_id"))
      .select(col("vec_id"),
        transform(raw, x => (x / norm).cast("float")).as("embedding"),
        pmod(xxhash64(lit("lab"), col("vec_id")), lit(10L)).cast("int")
          .as("label"))
  }

  def replicate(spark: SparkSession, srcDir: String, name: String,
                keys: Seq[String], mult: Int,
                perCopy: (DataFrame, Int) => DataFrame = (d, _) => d)
      : DataFrame = {
    val src = spark.read.parquet(s"$srcDir/$name.parquet")
    (0 until mult).map { i =>
      perCopy(keys.foldLeft(src)((d, k) =>
        d.withColumn(k, (col(k) + lit(i.toLong * Stride)).cast(
          src.schema(k).dataType))), i)
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("target/sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local(Session.cpus)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    // dimensions: fixed size at every SF (as in TPC-H)
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t)
    write(replicate(spark, srcDir, "customer", Seq("c_custkey"), mult),
      "customer")
    write(replicate(spark, srcDir, "supplier", Seq("s_suppkey"), mult),
      "supplier")
    // tag the LAST word of p_name per copy (copy 0 verbatim): without
    // it, key-shifted copies share names and q_entity_resolution's
    // (noun, size) blocks grow mult× → ~mult² candidate pairs — a
    // replication artifact, not a plan property. Suffixing the noun
    // keeps each copy's blocks sf0.1-sized (linear pair growth) while
    // leaving every other p_name consumer (prefix/type filters)
    // untouched.
    write(replicate(spark, srcDir, "part", Seq("p_partkey"), mult,
      (d, i) => if (i == 0) d
        else d.withColumn("p_name", concat(col("p_name"), lit("x"), lit(i)))),
      "part")
    write(replicate(spark, srcDir, "orders",
      Seq("o_orderkey", "o_custkey"), mult), "orders")
    write(replicate(spark, srcDir, "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"), mult), "lineitem")
    write(replicate(spark, srcDir, "events",
      Seq("event_id", "user_id"), mult), "events")
    val nDocs = spark.read.parquet(s"$srcDir/documents.parquet").count() * mult
    val nVecs = spark.read.parquet(s"$srcDir/embeddings.parquet").count() * mult
    write(genDocuments(spark, nDocs), "documents")
    write(genEmbeddings(spark, nVecs), "embeddings")
    println(s"[sf-gen] wrote ${mult}x of $srcDir to $outDir " +
      s"($nDocs docs, $nVecs vectors)")
    spark.stop()
  }
}
