package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Higher-order-function (HOF) and Column forms of graft's native
  * kernels: the reference implementations the kernels' differential
  * specs compare against. Each is built from Spark built-ins only — an
  * oracle built on the kernel it checks proves nothing (HofFallbackSpec
  * asserts no graft_* expression in their trees) — and each is
  * interpreted per element, which is why the library runs the native
  * forms.
  *
  * [[diffs]] runs a native kernel against its oracle through the
  * kernel's generated code. */
object KernelOracles {

  /** Sequential left-to-right dot product in double — oracle of
    * `VectorOps.dot` (graft.plans.VecDot). Null on a length mismatch
    * or a null element: zip_with pads with null and a null product
    * nulls the sum. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Oracle of `Dedup.minhashSignature` — the same hash family as the
    * native expression (murmur3: h1 = hash(s), h2 = hash(s, s) i.e.
    * murmur3 of s seeded by h1), so both produce identical signatures
    * (MinHashFamilySpec, TextKernelsPropSpec). Single fold with an
    * elementwise-min accumulator: the per-lane formulation
    * (numHashes × array_min(transform(...))) re-inlines the shingle
    * expression into every lane — Catalyst does not CSE across array
    * lambdas; measured 128× slower. Built on `shinglesHof` (not the
    * native `shingles`), so it inherits that oracle's precondition. */
  def minhashSignatureHof(text: Column, k: Int, numHashes: Int): Column = {
    val p = 1000000007L // keep h1 + i*h2 far from long overflow (ANSI mode)
    val hs = transform(shinglesHof(text, k),
      s => struct(pmod(hash(s).cast("long"), lit(p)).as("h1"),
        pmod(hash(s, s).cast("long"), lit(p)).as("h2")))
    aggregate(hs,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => transform(acc,
        (a, i) => least(a, pmod(h.getField("h1") + i * h.getField("h2"), lit(p)))))
  }

  /** Oracle of `Dedup.simhash64` — identical result (SimHashExprSpec),
    * but each of the 64 bit lambdas re-hashes every token (no
    * cross-lambda CSE in Catalyst). */
  def simhash64Hof(text: Column): Column = {
    val th = transform(split(trim(text), " +"), t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Oracle of `TextOps.fingerprint` — identical result
    * (FingerprintSpec). */
  def fingerprintHof(c: Column): Column =
    aggregate(
      sequence(lit(1), length(c)),
      lit(0L),
      (acc, i) => (acc * 31 + ascii(c.substr(i, lit(1)))) % 1000000007L)

  /** Oracle of `TextOps.shingles` — identical result (ShinglesSpec).
    *
    * Precondition: the text does not end in a cut-short UTF-8 lead
    * byte (e.g. the hex strings C3, 61E3, E382). Spark's `substr`
    * copies such a last lead byte's full width, reading past the
    * string's end, where the native Shingles ends that window at the
    * last byte; EdgeCasesSpec keeps those texts away from this oracle
    * and from [[minhashSignatureHof]]. */
  def shinglesHof(c: Column, k: Int): Column =
    when(length(c) < k, array().cast("array<string>")).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(c) - (k - 1)),
        i => c.substr(i, lit(k)))))

  /** Column form of `TextOps.gopherShape` — identical struct, doubles
    * bit for bit (TextKernelsPropSpec, EdgeCasesSpec); the formula the
    * DuckDB mirror follows field by field
    * (`TextQueries.gopherFieldsSql`). */
  def gopherShapeHof(text: Column): Column = {
    val words = split(trim(text), " +")
    val nWords = size(words).cast("long")
    val denomW = greatest(nWords, lit(1L)).cast("double")
    val nLines = (length(text) -
      length(replace(text, lit("\n"), lit(""))) + 1).cast("long")
    val meanWlen =
      length(replace(text, lit(" "), lit(""))).cast("double") / denomW
    val hashRatio = TextOps.countOccurrences(text, "#").cast("double") / denomW
    val ellipsisRatio = TextOps.countOccurrences(text, "...").cast("double") / denomW
    val alphaFrac = size(filter(words, w => w.rlike("[A-Za-z]")))
      .cast("long").cast("double") / denomW
    val bulletFrac = size(filter(split(text, "\n"),
        l => trim(l).startsWith("-") || trim(l).startsWith("*")))
      .cast("long").cast("double") / nLines.cast("double")
    val ellipsisLineFrac = size(filter(split(text, "\n"),
        l => trim(l).endsWith("...")))
      .cast("long").cast("double") / nLines.cast("double")
    val nStops = Seq(" the ", " be ", " to ", " of ", " and ", " that ",
      " have ", " with ").map(TextOps.countOccurrences(text, _)).reduce(_ + _)
    val keep = nWords >= 50 && nWords <= 100000 &&
      meanWlen >= 3.0 && meanWlen <= 10.0 &&
      hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisLineFrac <= 0.3 &&
      alphaFrac >= 0.8 && nStops >= 2
    struct(nWords.as("n_words"), meanWlen.as("mean_wlen"),
      hashRatio.as("hash_ratio"), ellipsisRatio.as("ellipsis_ratio"),
      alphaFrac.as("alpha_frac"), bulletFrac.as("bullet_frac"),
      ellipsisLineFrac.as("ellipsis_line_frac"), nStops.as("n_stops"),
      keep.as("keep"))
  }

  /** Oracle of `VectorOps.lshBucket` — same result bit for bit
    * (LshBucketSpec). */
  def lshBucketHof(v: Column, nBits: Int, bitOffset: Int = 0): Column = {
    val bits = (0 until nBits).map { i =>
      val d = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => x * when(xxhash64(lit(bitOffset + i), j) % 2 === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Driver-side reference of the [[graft.operators.BloomMembership.flagSeen]]
    * probe for an already-`xxhash64`-hashed key: Spark's own
    * `BloomFilter` deserialized and tested directly — no Spark
    * expression involved (BloomMembershipSpec, TieredIndexSpec).
    * Deserialized filters are cached by array identity, so a spec
    * testing thousands of keys parses each filter once. */
  def mightContainHash(bytes: Array[Byte], hashed: Long): Boolean =
    filters.computeIfAbsent(bytes, b => org.apache.spark.util.sketch
        .BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      .mightContainLong(hashed)

  private val filters = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Array[Byte], org.apache.spark.util.sketch.BloomFilter]())

  /** [[mightContainHash]] against one tiered-index generation for a
    * SINGLE-Long-key spec (the anchor index's shape). Mirrors the
    * build chain: `TieredIndex.keyHash` is Spark's `xxhash64` over the
    * key column (XXH64 seed 42), and `BloomMembership.sketch` hashes
    * that once more with the same `xxhash64` before inserting it. */
  def mightContainKey(gen: graft.sources.TieredIndex.Gen, key: Long): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    mightContainHash(gen.bloom, XXH64.hashLong(XXH64.hashLong(key, 42L), 42L))
  }

  /** Longest common prefix LENGTH of two strings, in code points — the
    * plain-Scala reference of the match extension `graft_lcp_ext`
    * fuses (ExactSubstrSpec). */
  def lcp(a: String, b: String): Int = {
    var i = 0; var cp = 0
    while (i < a.length && i < b.length && a.codePointAt(i) == b.codePointAt(i)) {
      cp += 1
      i += Character.charCount(a.codePointAt(i))
    }
    cp
  }

  /** The rows of `input` on which `native` and `oracle` differ —
    * compared by value, doubles (also inside arrays and structs) by
    * their bits — after a line if no whole-stage codegen stage
    * evaluates a `kernel`, so a pass means the generated code ran.
    *
    * Both sit past an exchange: a projection over a local relation
    * (`Seq(...).toDF`) is folded into it and evaluated interpreted on
    * the driver (ConvertToLocalRelation). The oracle sits past a
    * second one: its HOFs are CodegenFallback, which takes the whole
    * projection holding them out of whole-stage codegen. */
  def diffs(input: DataFrame, native: Column, oracle: Column,
            kernel: Class[_ <: Expression]): Seq[String] = {
    val in = input.columns.toSeq.map(col)
    val q = input.repartition(2).select(in :+ native.as("__native"): _*)
      .repartition(2).select(in :+ col("__native") :+ oracle.as("__oracle"): _*)
    val rows = q.collect()
    val compiled = codegenStages(q.queryExecution.executedPlan).exists(w =>
      stageBody(w.child).exists(_.expressions.exists(_.exists(kernel.isInstance))))
    val n = in.size
    (if (compiled) Nil
     else Seq(s"no whole-stage codegen stage evaluates ${kernel.getSimpleName}")) ++
      rows.toSeq.filterNot(r => same(r.get(n), r.get(n + 1))).map { r =>
        val key = (0 until n).map(i => Option(r.get(i)).map(_.toString.take(80)))
        s"${key.mkString(", ")}: native ${r.get(n)} vs oracle ${r.get(n + 1)}"
      }
  }

  /** The rows of `input` on which `kernel`'s generated code and its
    * interpreted `eval` disagree — the differential of the kernels
    * with no HOF oracle. `expr` is evaluated over `input` twice, past
    * an exchange (see [[diffs]]): compiled, after a line if no
    * whole-stage codegen stage evaluates a `kernel`; and with
    * whole-stage codegen off and `spark.sql.codegen.factoryMode` at
    * `NO_CODEGEN`, where every projection interprets (a line if a
    * codegen stage still appears). Rows pair up by input position;
    * values compare like [[diffs]], doubles by their bits. */
  def codegenDiffs(input: DataFrame, expr: Column,
                   kernel: Class[_ <: Expression]): Seq[String] = {
    val spark = input.sparkSession
    val rows = input.collect()
    val keyed = spark.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i) }: _*),
      input.schema.add("__row", org.apache.spark.sql.types.IntegerType))
    def run(): (Map[Int, Any], Seq[WholeStageCodegenExec]) = {
      val q = keyed.repartition(2).select(col("__row"), expr.as("__out"))
      val out = q.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      (out, codegenStages(q.queryExecution.executedPlan))
    }
    val (generated, stages) = run()
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (interpreted, interpStages) =
      try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; run() }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    val compiled = stages.exists(w =>
      stageBody(w.child).exists(_.expressions.exists(_.exists(kernel.isInstance))))
    (if (compiled) Nil
     else Seq(s"no whole-stage codegen stage evaluates ${kernel.getSimpleName}")) ++
      (if (interpStages.isEmpty) Nil
       else Seq("the interpreted run still compiled a whole-stage codegen stage")) ++
      rows.indices.filterNot(i => same(generated(i), interpreted(i))).map { i =>
        val key = rows(i).toSeq.map(v => Option(v).map(_.toString.take(80)))
        escaped(s"${key.mkString(", ")}: codegen ${generated(i)} vs interpreted ${interpreted(i)}")
      }
  }

  /** `s` with every non-ASCII char as a Java unicode escape: a failure
    * message carrying raw multi-byte text can break the test-report
    * writer on a non-UTF-8 default charset. */
  def escaped(s: String): String = s.flatMap(c =>
    if (c < 128) c.toString else f"\\u${c.toInt}%04x")

  /** Value equality with doubles compared by bits, recursively. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length &&
        Option(x.schema).map(_.fieldNames.toSeq) == Option(y.schema).map(_.fieldNames.toSeq) &&
        (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(same)
    case _ => a == b
  }

  /** Every whole-stage codegen stage of an executed plan, through the
    * AQE wrappers. */
  private def codegenStages(p: SparkPlan): Seq[WholeStageCodegenExec] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => codegenStages(a.executedPlan)
      case s: QueryStageExec => codegenStages(s.plan)
      case _ => p.children.flatMap(codegenStages)
    }
    p match {
      case w: WholeStageCodegenExec => w +: below
      case _ => below
    }
  }

  /** The operators one codegen stage compiles: down to its inputs. */
  private def stageBody(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageBody)
  }
}
