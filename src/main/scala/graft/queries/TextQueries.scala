package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ql._
import graft.functions.TextOps

/** Text-analysis suite over `documents` (SURVEY §2.5). Formulas are
  * length/replace arithmetic so the DuckDB oracle reproduces them
  * exactly; see TextOps scaladoc. */
object TextQueries {

  // shared SQL fragments mirroring TextOps.countOccurrences
  private[queries] def occ(sub: String, l: Int) =
    s"CAST((length(text) - length(replace(text, '$sub', '')))/$l AS BIGINT)"
  private val nEn = occ(" the ", 5); private val nDe = occ(" der ", 5)
  private val nFr = occ(" le ", 4); private val nEs = occ(" el ", 4)

  // shared SQL mirror of TextOps.langId's argmax-with-priority CASE
  private[queries] val langPredSql =
    s"""CASE WHEN $nEn = GREATEST($nEn, $nDe, $nFr, $nEs) AND $nEn > 0 THEN 'en'
       |     WHEN $nDe = GREATEST($nEn, $nDe, $nFr, $nEs) AND $nDe > 0 THEN 'de'
       |     WHEN $nFr = GREATEST($nEn, $nDe, $nFr, $nEs) AND $nFr > 0 THEN 'fr'
       |     WHEN $nEs = GREATEST($nEn, $nDe, $nFr, $nEs) AND $nEs > 0 THEN 'es'
       |     ELSE 'und' END""".stripMargin

  // shared SQL mirror of TextOps.qualityScore (unrounded — see there)
  private[queries] val qualitySql =
    s"""0.4 * LEAST(1.0, GREATEST(CAST(length(text) AS DOUBLE), 1.0)/400.0)
      |  + 0.3 * (1.0 - CAST(${occ(".", 1)} + ${occ(",", 1)} AS DOUBLE)/GREATEST(CAST(length(text) AS DOUBLE), 1.0))
      |  + 0.3 * LEAST(1.0, CAST(${occ(" the ", 5)} + ${occ(" a ", 3)} + ${occ(" of ", 4)} AS DOUBLE) * 10.0
      |      / CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE))""".stripMargin

  /** Adjacent-token (doc_id, w1, w2) pairs, formed MAP-SIDE on the
    * split array — `zip_with` of the array against its own tail, the
    * form the t15 oracle uses in SQL. Replaces the posexplode +
    * per-doc `lead` window the t15/t17/t18 family carried (VERDICT
    * r13 item 5): the window was doc-bounded and hub-safe, but this
    * deletes its per-doc sort entirely — pairs fall out of the scan
    * projection inside whole-stage codegen, 0 WindowExec
    * (PlanShapeSpec). zip_with pads the shorter tail with null, so
    * the last token pairs (w_n, null) and is filtered — identical
    * row semantics to the lead(1) form, empty docs included. */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val ws = split(trim(col("text")), " +")
    docs.select(col("doc_id"), explode(
        zip_with(ws, slice(ws, lit(2), size(ws) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .filter(col("p.w2").isNotNull)
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Deterministic synthetic page around a documents row — the t28/p7
    * crawl-stage input: chrome + script/style noise + entity-bearing
    * running text + the doc's text as `<p>` paragraphs. */
  private[queries] def htmlPage: org.apache.spark.sql.Column = {
    val did = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), did, lit("</title>"),
      lit("<style>p{margin:0}.nav{display:flex}</style>"),
      lit("<script>var lang=\""), col("lang"), lit("\";if(2<3){x()}</script>"),
      lit("</head><body><div class=\"nav\"><a href=\"/\">home</a> <a href=\"/c\">corpus</a></div>"),
      lit("<h1>Doc "), did, lit("</h1>"),
      lit("<p>Entities &amp; markers &lt;escaped&gt; appear in running text here</p>"),
      lit("<p>"), replace(col("text"), lit(". "), lit(".</p><p>")), lit("</p>"),
      lit("<div class=\"footer\">&copy; 2026 &amp; Co</div></body></html>"))
  }

  /** SQL mirror of [[htmlPage]] (DuckDB `||` concatenation). NOTE the
    * concatenation operator sits at END of line: these helpers are
    * interpolated into templates that run their OWN stripMargin, which
    * would truncate a leading `||` to `|`. */
  private[queries] val htmlPageSql: String =
    """'<html><head><title>Doc ' || doc_id || '</title>' ||
      '<style>p{margin:0}.nav{display:flex}</style>' ||
      '<script>var lang="' || lang || '";if(2<3){x()}</script>' ||
      '</head><body><div class="nav"><a href="/">home</a> <a href="/c">corpus</a></div>' ||
      '<h1>Doc ' || doc_id || '</h1>' ||
      '<p>Entities &amp; markers &lt;escaped&gt; appear in running text here</p>' ||
      '<p>' || replace(text, '. ', '.</p><p>') || '</p>' ||
      '<div class="footer">&copy; 2026 &amp; Co</div></body></html>'"""

  /** SQL mirror of `TextOps.htmlExtract(col, 5)` applied to `src` —
    * the same regex cascade + line-density filter in DuckDB. */
  private[queries] def htmlExtractSql(src: String): String =
    s"""array_to_string(list_filter(list_transform(string_split(
       |     replace(replace(replace(replace(replace(
       |       regexp_replace(regexp_replace(regexp_replace($src,
       |         '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |         '</(p|div|li|ul|ol|h[1-6]|table|tr|blockquote)>|<br[^>]*>', chr(10), 'g'),
       |         '<[^>]*>', ' ', 'g'),
       |       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '),
       |       '&amp;', '&'), chr(10)),
       |     l -> trim(regexp_replace(l, '[ \t]+', ' ', 'g'))),
       |   l -> len(string_split(l, ' ')) >= 5 AND length(l) > 0), chr(10))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact heavy hitters from a bounded-state sketch: pass 1 runs the
    // native Misra-Gries aggregate (k counters TOTAL, map-side
    // combining — guaranteed superset of every token with count >
    // n/(k+1) under any partitioning); pass 2 re-counts JUST the ≤k
    // candidates behind a broadcast join and applies the exact
    // threshold. Output is therefore the exact heavy-hitter set —
    // deterministic even though the sketch itself is order-sensitive.
    "t12_heavy_hitters" -> { (s, d) =>
      val K = 32
      def toks = t(s, d, "documents")
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val sk = toks.agg(
        call_function("graft_freq_items", col("token"), lit(K)).as("cand"),
        count(lit(1)).as("n_total"))
      val cand = sk.select(explode(col("cand")).as("token"), col("n_total"))
      toks.join(broadcast(cand), "token")
        .groupBy("token", "n_total").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * (K + 1) > col("n_total"))
        .select(col("token"), col("cnt"))
        .orderBy(desc("cnt"), col("token"))
    },

    // keyword extraction, integer-exact: rank each doc's tokens by
    // (rarest df, then highest tf) — the tf-idf ORDERING without the
    // engine-varying log arithmetic, so the oracle is bit-trivial.
    // Two count aggregations + a per-doc window (partitioned — no
    // global-window trap).
    "t13_keywords" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("df"), desc("tf"), col("token"))
      tf.join(dfreq, "token")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rk"))
        .orderBy("doc_id", "rk")
    },

    "t1_langid" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"),
          (TextOps.langId(col("text")) === col("lang")).as("match_label"))
        .orderBy("doc_id")
    },

    // canonical text normalization (the pre-dedup cleanup every corpus
    // pipeline runs before hashing): lowercase, strip punctuation to
    // spaces, collapse whitespace runs, trim. Pure codegen'd column
    // arithmetic, map-side only; reports the md5 of the canonical form
    // (what d1-style exact dedup would key on post-normalization) and
    // the token delta the cleanup caused.
    "t24_normalize" -> { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
      t(s, d, "documents")
        .select(col("doc_id"), md5(norm).as("norm_hash"),
          TextOps.wsTokenCount(col("text")).as("toks_raw"),
          when(length(norm) === 0, lit(0L))
            .otherwise(size(split(norm, " ")).cast("long")).as("toks_norm"))
        .orderBy("doc_id")
    },

    // HTML/boilerplate extraction (the crawl stage BEFORE t24: raw
    // HTML in, prose out). The page is built deterministically from
    // the row itself — title/nav/footer chrome, script+style noise,
    // entity-bearing running text, the doc's text as <p> paragraphs —
    // then TextOps.htmlExtract strips elements, restores line
    // structure, decodes entities and drops low-density lines. The
    // oracle replays the same construction and cascade in DuckDB, so
    // the comparison is exact (md5 of the cleaned text). Map-side
    // only: regexps + HOFs, no shuffle before the output sort.
    "t28_html_extract" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("html", htmlPage)
        .withColumn("clean", TextOps.htmlExtract(col("html"), minWords = 5))
        .select(col("doc_id"), md5(col("clean")).as("clean_hash"),
          length(col("clean")).cast("long").as("clean_chars"),
          when(length(col("clean")) === 0, lit(0L))
            .otherwise(size(split(col("clean"), "\n")).cast("long")).as("n_lines"),
          // integer DIV (= DuckDB //): double division + cast could
          // round the wrong way at exact-quotient boundaries
          expr("CAST(length(clean) AS BIGINT) * 1000000 DIV length(html)")
            .as("retained_ppm"))
        .orderBy("doc_id")
    },

    // compression-ratio quality signal (the Gopher/CCNet degenerate-
    // text gate t17/t18 complement): DEFLATE size over raw UTF-8 size
    // as an integer ppm ratio. Repetitive machine junk compresses far
    // below prose; high-entropy noise lands near 1e6. Native codegen'd
    // expression, map-side only. zlib output is JVM-build-dependent →
    // rows-only; DeflateSpec pins the band structure and determinism.
    // r18 (VERDICT r17 item 8): the catalog gate runs on the
    // token-dictionary coder (TextOps.tokenDictBytes) — a real,
    // decodable two-part code whose size is pure integer arithmetic,
    // identical in Spark and DuckDB, so every column is exact-oracle.
    // Same band semantics as the zlib ratio (repetition << prose <
    // noise); `graft_deflate_size` (true zlib DEFLATE, LZ77 matching)
    // stays the spec+QUALITY-gated production alternative — its bytes
    // are zlib-build-dependent, which is WHY it left the hash gate.
    "t29_compress_ratio" -> { (s, d) =>
      val raw = octet_length(col("text")).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), raw.as("raw_bytes"),
          graft.functions.TextOps.tokenDictBytes(col("text"))
            .as("dict_bytes"))
        .withColumn("ratio_ppm",
          expr("dict_bytes * 1000000 DIV greatest(raw_bytes, 1)"))
        .withColumn("degenerate", col("ratio_ppm") < 200000L)
        .orderBy("doc_id")
    },

    // paragraph-level dedup (the C4/CCNet pass BETWEEN doc-level d1
    // and substring-level d16: remove repeated paragraphs, keep the
    // doc): paragraphs are fixed 10-word segments (the corpus has no
    // newlines — t14's chunking convention), keep-first = a segment
    // survives iff its doc is the FIRST doc containing that exact
    // text. First owner per segment via a partial-agg-combinable
    // groupBy(seg).min joined back (AQE-skew-splittable) — NOT a
    // segment-keyed window: windows have no map-side partials, so a
    // hub segment (boilerplate chrome present in ~every web doc, the
    // very thing paragraph dedup exists for) would pile every
    // occurrence into ONE task's sort buffer (VERDICT r10 item 1).
    "t30_paragraph_dedup" -> { (s, d) =>
      val segs = graft.operators.ParaDedup.segments(
        t(s, d, "documents"), "doc_id", "text")
      val owners = segs.groupBy("seg")
        .agg(min(col("doc_id")).as("first_doc"))
      val kept = segs.join(owners, Seq("seg"))
        .withColumn("keep", col("doc_id") === col("first_doc"))
      kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(col("keep").cast("long")).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(when(col("keep"),
                struct(col("seg_idx"), col("seg"))))),
              p => p.getField("seg")),
            " ")).as("clean_hash"))
        .orderBy("doc_id")
    },

    // PII redaction (the privacy scrub every released corpus runs):
    // deterministic dirty-column construction (an email + two phone
    // shapes injected around the doc's text — the corpus itself is
    // synthetic and PII-free), then sequential regex redaction: emails
    // first, phones on the email-redacted text (counts can't overlap).
    // Same Java/RE2-shared dialect as t28 → exact oracle on counts,
    // redacted-text md5, and the char delta. Map-side only.
    "t31_pii_redact" -> { (s, d) =>
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phoneRe = "\\+?[0-9][0-9() .-]{6,}[0-9]"
      val dirty = concat(
        lit("contact user"), col("doc_id").cast("string"),
        lit("@example.com "), col("text"),
        lit(" call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" or (020) 7946 0958 now"))
      t(s, d, "documents")
        .withColumn("dirty", dirty)
        .withColumn("r1", regexp_replace(col("dirty"), emailRe, "<EMAIL>"))
        .withColumn("clean", regexp_replace(col("r1"), phoneRe, "<PHONE>"))
        .select(col("doc_id"),
          regexp_count(col("dirty"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("r1"), lit(phoneRe)).cast("long").as("n_phone"),
          md5(col("clean")).as("clean_hash"),
          (length(col("dirty")) - length(col("clean"))).cast("long")
            .as("chars_removed"))
        .orderBy("doc_id")
    },

    // URL canonicalization (the crawl dedup KEY step beside t28/t31:
    // a page's identity for frontier dedup and recrawl detection) —
    // the TextOps.canonicalizeUrl library cascade (r11: extracted,
    // scheme-aware default ports, edge-cases specced in ParaPiiSpec).
    // The dirty URL is built deterministically from the row (mixed
    // case, tracking params, :443, #fragment all present);
    // split_part/HOF string ops shared by both engines → exact
    // oracle. Map-side only.
    "t32_url_canonicalize" -> { (s, d) =>
      val url = concat(
        lit("HTTPS://WWW.Example"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".COM:443/Docs/"), col("lang"), lit("/"),
        col("doc_id").cast("string"),
        lit("/index.html?utm_source=feed&ref=tw"),
        pmod(col("doc_id"), lit(3)).cast("string"),
        lit("&b=2&a=1#sec"))
      val canon = TextOps.canonicalizeUrl(col("url"))
      t(s, d, "documents")
        .withColumn("url", url)
        .select(col("doc_id"), col("url"), canon.as("canon_url"),
          md5(canon).as("url_key"))
        .orderBy("doc_id")
    },

    // n-gram novelty vs the growing corpus (dedup-adjacent curation
    // signal: how much of each doc is text the corpus has never seen
    // before it, in ingestion order): per 8-gram the first doc_id that
    // contains it. NO window and NO join-back of the gram table: a
    // doc's novel-gram count is just how many grams it OWNS, so
    // groupBy(g).min(doc_id) (combinable — a hub gram collapses
    // map-side instead of filling one task's window sort buffer,
    // VERDICT r10 item 1) re-aggregated by owner gives n_novel, a
    // doc-keyed count gives n_grams, and the final join is between two
    // doc-cardinality tables. Exact integers + one division.
    "t25_novelty" -> { (s, d) =>
      // graft_shingles dedups per doc, so (doc_id, g) is already unique
      val grams = t(s, d, "documents")
        .select(col("doc_id"),
          explode(TextOps.shingles(col("text"), 8)).as("g"))
      val perDoc = grams.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"))
      val novel = grams.groupBy("g").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    },

    "t2_quality_score" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("chars"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },

    "t3_token_count" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextOps.wsTokenCount(col("text")).as("ws_tokens"),
          TextOps.bpeEstimate(col("text")).as("bpe_est"),
          TextOps.regexTokenCount(col("text")).as("word_tokens"))
        .orderBy("doc_id")
    },

    "t4_fingerprint" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // quality-gated corpus filtering: the keep/drop + per-language
    // yield stats a training-data pipeline reports after filtering
    "t5_quality_filter" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("q", TextOps.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("kept"),
          (sum(col("q").cast("decimal(10,6)")).cast("double") / count(lit(1)))
            .as("avg_q"))
        .orderBy("lang")
    },

    // vocabulary building: top-k character n-grams by document
    // frequency (the shingle inventory an LLM tokenizer/dedup pass
    // profiles first) — exact, deterministic tie-break on the gram
    "t7_vocab_topk" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("gram"))
        .limit(20)
    },

    // corpus length profile: 100-char histogram buckets
    "t8_length_histogram" -> { (s, d) =>
      t(s, d, "documents")
        .groupBy(floor(length(col("text")) / 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("chars"))
        .orderBy("bucket")
    },

    // exact corpus length quantiles per language (the distribution
    // profile a filtering threshold is tuned against). Spark's exact
    // `percentile` and DuckDB's quantile_cont share the (n-1)*p
    // interpolation formula, so the doubles match bit-for-bit.
    "t11_length_quantiles" -> { (s, d) =>
      val len = length(col("text")).cast("long")
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          percentile(len, lit(0.5)).as("p50"),
          percentile(len, lit(0.9)).as("p90"),
          percentile(len, lit(0.99)).as("p99"))
        .orderBy("lang")
    },

    // EXACT corpus quantiles with bounded memory (the scale path for
    // t11: plain `percentile` buffers the whole value multiset per
    // group — fine per-language here, fatal on a 10^12-row column).
    // Sketch-bracket + rank-exact selection: same bit-exact
    // (n-1)p-interpolated answer, memory bounded by the accuracy knob
    // (ExactQuantile scaladoc). accuracy=100 keeps the bracket slice
    // genuinely small (~4n/100) even at this SF.
    "t20_exact_quantiles" -> { (s, d) =>
      import s.implicits._
      val docs = t(s, d, "documents")
        .select(length(col("text")).cast("long").as("chars"))
      val n = docs.count()
      val qs = graft.operators.ExactQuantile.quantilesAt(
        docs, "chars", Seq(0.5, 0.9, 0.99), accuracy = 100)
      Seq((n, qs(0), qs(1), qs(2))).toDF("n_docs", "p50", "p90", "p99")
    },

    // edit-distance fuzzy matching (the record-linkage primitive MinHash
    // can't express — Jaccard sees shingle SETS, levenshtein sees
    // ORDER): adjacent-id doc pairs compared on an 80-char prefix.
    // Bounded per-pair cost (80² DP), deterministic pairing, exact
    // integer distance — both engines implement the classic metric.
    // At scale the pairing side is any candidate generator (d2's LSH
    // buckets); the adjacent-id pairing keeps the oracle replayable.
    "t22_edit_distance" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 80).as("prefix"))
      val a = docs.select(col("doc_id").as("a_id"), col("prefix").as("a_pre"))
      val b = docs.select((col("doc_id") - 1).as("a_id"),
        col("doc_id").as("b_id"), col("prefix").as("b_pre"))
      a.join(b, "a_id")
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_pre"), col("b_pre")).cast("long").as("dist"))
        .withColumn("near_match", col("dist") <= 20)
        .orderBy("a_id")
    },

    // stratified sampling with an EXACT per-stratum quota (t6's modulo
    // stratum can't hit a fixed k): rank docs inside each language by
    // a deterministic multiplicative hash (t10's Knuth constant —
    // reproducible in any SQL engine, unlike a seeded RNG) and keep
    // the first 10. Partitioned window — no global sort; the k rows
    // per stratum are a uniform-without-replacement draw.
    "t21_stratified_fixed_k" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val key = pmod(col("doc_id") * 2654435761L, lit(1000000007L))
      val w = Window.partitionBy("lang").orderBy(key, col("doc_id"))
      t(s, d, "documents")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("lang", "rk")
    },

    // deterministic stratified sample: hash-free modulo stratum so the
    // sample is reproducible and oracle-checkable
    "t6_stratified_sample" -> { (s, d) =>
      t(s, d, "documents")
        .filter(col("doc_id") % 7 === 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .orderBy("lang")
    },

    // bigram language-model table (the n-gram LM used for perplexity
    // quality filters, CCNet-style): adjacent-token pairs counted,
    // conditional probability cnt / count(w1 ·), top 20. Token stream
    // stays partitioned by doc (per-doc windows are tiny); the
    // (w1, w2) count is the word-count shape — map-side combine, one
    // vocab-sized shuffle. The w1 denominator is a combinable
    // groupBy(w1) aggregate joined back — NOT sum().over(partitionBy
    // (w1)): w1 is a vocab key with guaranteed hubs ("the" precedes a
    // large fraction of the vocabulary), and a keyed window would sort
    // every ("the", ·) bigram row in one task (r11, the t30 finding
    // applied to the one remaining hub-keyed window). Integer counts →
    // the double division is bit-exact in any engine.
    "t15_bigram_lm" -> { (s, d) =>
      val bigrams = bigramPairs(t(s, d, "documents"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      val denom = bigrams.groupBy("w1").agg(sum(col("cnt")).as("w1_tot"))
      bigrams.join(denom, "w1")
        .withColumn("p_cond", col("cnt").cast("double") / col("w1_tot"))
        .select(col("w1"), col("w2"), col("cnt"), col("p_cond"))
        .orderBy(desc("cnt"), asc("w1"), asc("w2"))
        .limit(20)
    },

    // Gopher-style repetition quality signals (Rae et al. 2021,
    // MassiveText §A1.1): duplicate-token fraction, top-token
    // fraction, duplicate-bigram fraction per document — the standard
    // "is this doc degenerate boilerplate/spam" filters. Integer
    // counts end to end; the three fractions are single double
    // divisions at the edge, so the oracle is bit-exact. Shape: two
    // word-count aggregations (doc,token) and (doc,bigram) + one
    // doc-keyed join — map-side combine everywhere, partitioned by
    // doc, no global state.
    "t17_repetition" -> { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(col("text")), " +")).as("w"))
      val tokStats = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum(col("cnt")).as("n_tok"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
      val bigStats = bigramPairs(t(s, d, "documents"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum(col("cnt")).as("n_big"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_big"))
      tokStats.join(bigStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          ((col("n_tok") - col("n_distinct")).cast("double") / col("n_tok"))
            .as("dup_token_frac"),
          (col("top_cnt").cast("double") / col("n_tok")).as("top_token_frac"),
          when(col("n_big").isNull || col("n_big") === 0, lit(0.0))
            .otherwise(col("dup_big").cast("double") / col("n_big"))
            .as("dup_bigram_frac"))
        .withColumn("keep",
          col("dup_token_frac") <= 0.6 && col("top_token_frac") <= 0.2 &&
            col("dup_bigram_frac") <= 0.9)
        .orderBy("doc_id")
    },

    // LM-familiarity scoring (the CCNet perplexity-filter shape
    // without engine-varying log arithmetic): score each doc by the
    // mean corpus-frequency of its bigrams against the t15-style LM
    // table trained on the same corpus. hits = Σ global cnt of each
    // bigram instance (exact integers), score = hits / n_big — ONE
    // double division. The LM table is vocab²-bounded (a model
    // artifact, like KenLM): at 100 TB it is the small join side.
    "t18_lm_score" -> { (s, d) =>
      def bigrams = bigramPairs(t(s, d, "documents"))
      val lm = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("gcnt"))
      val docIds = t(s, d, "documents").select("doc_id")
      docIds.join(
          bigrams.join(lm, Seq("w1", "w2"))
            .groupBy("doc_id").agg(
              count(lit(1)).as("n_big"), sum(col("gcnt")).as("lm_hits")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("lm_hits"), lit(0L)).as("lm_hits"),
          when(col("n_big").isNull, lit(0.0))
            .otherwise(col("lm_hits").cast("double") / col("n_big")).as("score"))
        .orderBy("doc_id")
    },

    // robust outlier flagging (data cleaning): per-language median +
    // MAD of document length, flag |len − med| > 3·MAD. Exact
    // `percentile` twice (both group aggregates are language-count
    // rows — broadcast back), so thresholds are reproducible — unlike
    // mean/stddev, one pathological doc can't move the fence.
    "t19_outliers" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("chars"))
      val med = docs.groupBy("lang")
        .agg(percentile(col("chars"), lit(0.5)).as("med"))
      val mad = docs.join(broadcast(med), "lang")
        .groupBy("lang", "med")
        .agg(percentile(abs(col("chars") - col("med")), lit(0.5)).as("mad"))
      docs.join(broadcast(mad), "lang")
        .select(col("doc_id"), col("lang"), col("chars"), col("med"), col("mad"),
          (abs(col("chars") - col("med")) > col("mad") * 3).as("is_outlier"))
        .orderBy("doc_id")
    },

    // fixed-size overlapping chunking (RAG / context-window prep):
    // 200-char chunks stepped 150 (50 overlap). One codegen'd pass —
    // sequence() builds the start offsets, explode + substr cut the
    // chunks; no UDF, no shuffle until the final sort. Map-side only
    // at any corpus size (chunks inherit the scan's partitioning).
    "t14_doc_chunks" -> { (s, d) =>
      val size = 200; val step = 150
      t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
            lit(step))).as("start"))
        .select(col("doc_id"),
          expr(s"(start - 1) DIV $step").cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          length(col("text").substr(col("start"), lit(size)))
            .cast("long").as("chunk_chars"),
          md5(col("text").substr(col("start"), lit(size))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // BPE tokenizer training (Sennrich et al. 2016) on the corpus:
    // learn 5 merges from the vocab-bounded word table (see
    // Bpe.scaladoc for the scale argument — the corpus reduces to a
    // (word, count) table once; every iteration runs on that), report
    // the per-step trajectory: the merged pair, its weighted adjacency
    // count, and the corpus token count after the merge (= the encoded
    // token mass — the "encode + token-count" signal). Deterministic:
    // integer counts, (n desc, a, b) tie-break — the oracle unrolls
    // the same 5 iterations as sequential CTEs.
    "t23_bpe" -> { (s, d) =>
      import s.implicits._
      val (steps, _) =
        graft.operators.Bpe.trainDetailed(t(s, d, "documents"), "text", 5)
      steps.zipWithIndex
        .map { case (m, i) => (i + 1L, m.a, m.b, m.n, m.toksAfter) }
        .toDF("step", "a", "b", "n", "toks_after")
        .orderBy("step")
    },

    // tokenizer APPLICATION at corpus scale: train 5 merges (t23's
    // machinery), then encode every document — per-doc token counts
    // under the TRAINED tokenizer, the token-budget statistic packing
    // and mix-budget stages consume. Encoding is map-side (merges fold
    // per word; no shuffle beyond the train step's vocab table); the
    // oracle replays the same 5 merges and joins each word occurrence
    // to its final segmentation length.
    "t27_bpe_encode" -> { (s, d) =>
      val (steps, _) =
        graft.operators.Bpe.trainDetailed(t(s, d, "documents"), "text", 5)
      // pin kept: t27 1.14 -> 2.33 s unpinned (medians, 5 pairs, pinned IQR 0.08 s, 4 cores)
      graft.operators.Bpe.encode(spread(t(s, d, "documents")), "text",
          steps.map(st => (st.a, st.b)))
        .select(col("doc_id"), col("bpe_tokens"))
        .orderBy("doc_id")
    },

    // DSIR domain-targeted selection (Xie et al. 2023): weight every
    // doc by its hashed-unigram+bigram likelihood ratio under the
    // English-labeled slice (target) vs the whole corpus (raw), keep
    // the top 100. ppm fixed-point ratios — exact integers, see
    // Dsir scaladoc for the log-free convention and the 100 TB shape
    // (bucket stats ≤ 4096 rows broadcast; selection is TakeOrdered).
    "t26_dsir" -> { (s, d) =>
      graft.operators.Dsir.importanceSelect(
          t(s, d, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en", nBuckets = 4096, topK = 100)
        .orderBy("doc_id")
    },

    // mergeable quantile sketch (DDSketch/HdrHistogram family, r13):
    // per-language p50/p90/p99 of document length through the
    // power-of-2 log-linear sketch — the 100 TB path where t20's
    // exact bracket passes give way to a ≤2k-row mergeable bucket
    // table per group. Bucketing is INTEGER (length(bin(x)), shifts),
    // representatives are dyadic rationals: engine-exact, so unlike
    // approx_percentile this sketch carries a full DuckDB oracle.
    // Error contract vs the exact order statistic: ≤ 2^-6 ≈ 1.6 %
    // relative (QuantileSketchSpec gates it).
    "t34_sketch_quantiles" -> { (s, d) =>
      graft.operators.QuantileSketch.groupQuantiles(
          t(s, d, "documents").select(col("lang"), col("n_chars")),
          Seq("lang"), "n_chars",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), subBits = 5)
        .select(col("lang"), col("p50"), col("p90"), col("p99"))
        .orderBy("lang")
    },

    // Gopher document-shape rules (Rae et al. 2021, Table A1) — the
    // structural complement to t17's repetition rules: word-count
    // bounds, mean-word-length band, symbol-to-word ratios (# and
    // ellipsis), bullet/ellipsis line ratios, ≥80 % alphabetic words,
    // ≥2 required stop words. Pure length/replace/filter arithmetic →
    // map-side only (one explode-free pass; the word-level alpha test
    // rides on the already-split array), bit-exact in the oracle.
    "t33_gopher_rules" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.gopherShape(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy("doc_id")
    },

    // Trained quality filter (fastText/DCLM-style linear ranker —
    // Li et al. 2024; Penedo et al. 2024): full-batch logistic-family
    // GD over hashed bag-of-words features, target domain = 'en'
    // (the DSIR positive-vs-crawl setup), then map-side scoring of
    // every doc. Uses the ALGEBRAIC link (σ̃ = 0.5+0.5·s/(1+|s|)) so
    // the whole 5-epoch training loop — decimal gradient sums,
    // driver double updates, link evaluations — replays bit-for-bit
    // in the DuckDB oracle (exp() is not ulp-portable; see
    // QualityClassifier.linkCol). At 100 TB: train on the labeled
    // sample, broadcast the 256-weight model, score at scan speed.
    // per-source distribution drift vs the corpus (bucket-level TV
    // distance + DSIR-ppm top token) — the snapshot monitor; log-free
    // by design so the whole card is exact-oracle
    "t36_source_drift" -> { (s, d) =>
      graft.operators.Drift.sourceDrift(
        t(s, d, "documents"), "source", "text")
    },

    // Trained language ID (t37, VERDICT r13 item 4) — the learned
    // companion to t1's marker heuristic: one-vs-rest logistic models
    // (fastText's supervised setup, Joulin et al. 2017) over the same
    // hashed bag-of-words features as t35, trained jointly (one
    // doc-keyed dot aggregation + one bucket-keyed gradient
    // aggregation per epoch for ALL five classes) on the
    // deterministic 20 % sample, then argmax-classified map-side over
    // the full corpus. Algebraic link + decimal sums, so the whole
    // 5-class × 3-epoch loop replays bit-for-bit in DuckDB. At
    // 100 TB: train on the labeled sample; scoring is one broadcast
    // of K·(nBuckets+1) doubles + one doc-keyed aggregation.
    "t37_langid_trained" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val models = graft.operators.QualityClassifier.trainOneVsRest(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", "lang",
        langClasses, nBuckets = 128, epochs = 3, lr = 0.5,
        link = "algebraic")
      graft.operators.QualityClassifier.classifyOneVsRest(
          docs, "doc_id", "text", models, "pred_lang", "pred_score",
          link = "algebraic")
        .select("doc_id", "lang", "pred_lang", "pred_score")
        .orderBy("doc_id")
    },

    // Mojibake repair (t38, VERDICT r13 item 9 — the ftfy-style
    // crawl-cleanup stage): the corpus text is ASCII, so the query
    // PLANTS the two classic double-encoding classes (" the " →
    // " thÃ© ", a 2-byte Latin-1 digraph; " and " → " â€”and ", a
    // 3-byte cp1252 sequence), repairs with TextOps.fixMojibake, and
    // reports per-doc sizes plus repaired_ok — the repaired text must
    // equal the directly-planted clean twin, char for char. Map-side
    // only; the oracle replays the entire byte-classification cascade
    // in SQL.
    "t38_fix_mojibake" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val bad = replace(replace(col("text"),
        lit(" the "), lit(Moj2)),
        lit(" and "), lit(Moj3))
      val want = replace(replace(col("text"),
        lit(" the "), lit(Fix2)),
        lit(" and "), lit(Fix3))
      docs.select(col("doc_id"), bad.as("bad"), want.as("want"))
        .select(col("doc_id"), col("bad"), col("want"),
          TextOps.fixMojibake(col("bad")).as("fixed"))
        .select(col("doc_id"),
          length(col("bad")).cast("long").as("chars_corrupt"),
          length(col("fixed")).cast("long").as("chars_fixed"),
          (col("fixed") === col("want")).as("repaired_ok"))
        .orderBy("doc_id")
    },

    // Gated mojibake repair (t39, r15 — the exact form CorpusIngest
    // runs over every crawled doc): repairMojibake only rewrites docs
    // bearing a high-confidence signature. Three planted classes by
    // doc_id mod 3 — real mojibake (must repair to the clean twin),
    // clean text ending in lead+continuation pairs the RAW rewrite
    // would falsely re-decode (must pass through byte-identical), and
    // untouched ascii. Map-side only; the oracle replays gate +
    // cascade.
    "t39_repair_mojibake_gated" -> { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val m3 = col("doc_id") % 3
      val bad = when(m3 === 0, replace(replace(col("text"),
          lit(" the "), lit(Moj2)), lit(" and "), lit(Moj3)))
        .when(m3 === 1, concat(col("text"), lit(CleanTail)))
        .otherwise(col("text"))
      val want = when(m3 === 0, replace(replace(col("text"),
          lit(" the "), lit(Fix2)), lit(" and "), lit(Fix3)))
        .when(m3 === 1, concat(col("text"), lit(CleanTail)))
        .otherwise(col("text"))
      docs.select(col("doc_id"), bad.as("bad"), want.as("want"))
        .select(col("doc_id"), col("bad"), col("want"),
          TextOps.repairMojibake(col("bad")).as("rep"))
        .select(col("doc_id"),
          length(col("rep")).cast("long").as("chars_out"),
          (col("rep") =!= col("bad")).as("rewritten"),
          (col("rep") === col("want")).as("repaired_ok"))
        .orderBy("doc_id")
    },

    "t35_quality_classifier" -> { (s, d) =>
      val labeled = t(s, d, "documents")
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      // train on the deterministic 20 % labeled sample, score the full
      // corpus — the production shape (the labeled set is always tiny
      // next to the corpus; scoring is the full-scan broadcast pass)
      val (bias, w) = graft.operators.QualityClassifier.train(
        labeled.filter(col("doc_id") % 5 === 0), "doc_id", "text", "y",
        nBuckets = 256, epochs = 5, lr = 0.5, link = "algebraic")
      graft.operators.QualityClassifier
        .score(labeled, "doc_id", "text", bias, w, "score",
          link = "algebraic")
        .select(col("doc_id"), col("y"), col("score"),
          (col("score") >= 0.5).as("pred_target"))
        .orderBy("doc_id")
    }
  )

  /** Shared BPE-oracle CTEs: `k` unrolled iterations over the word
    * table. Each iteration counts adjacent pairs, picks argmax with
    * the (n desc, a, b) tie-break, and re-segments via a left-to-right
    * list_reduce fold into a chr(1)-delimited string (append = new
    * token, merge = concat onto the last token) — the same greedy
    * overlap order as Bpe.applyMerge. The word string `w` rides
    * through every v$i so t27 can map per-doc occurrences to their
    * final segmentation lengths. */
  private def bpeOracleCtes(k: Int): String = {
    val iters = (1 to k).map { i =>
      s"""p$i AS (SELECT u.pr.a AS a, u.pr.b AS b, CAST(SUM(v.cnt) AS BIGINT) AS n
         |  FROM v${i - 1} v, UNNEST(list_transform(range(1, len(v.syms)),
         |    j -> struct_pack(a := v.syms[CAST(j AS INT)],
         |                     b := v.syms[CAST(j AS INT) + 1]))) AS u(pr)
         |  GROUP BY 1, 2),
         | b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
         | v$i AS (SELECT v.w, string_split(list_reduce(v.syms, (acc, s) -> CASE
         |     WHEN s = b.b AND (string_split(acc, chr(1)))[-1] = b.a THEN acc || s
         |     ELSE acc || chr(1) || s END), chr(1)) AS syms, v.cnt
         |   FROM v${i - 1} v CROSS JOIN b$i b),
         | tk$i AS (SELECT CAST(SUM(len(syms) * cnt) AS BIGINT) AS toks FROM v$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""words AS (SELECT u.w AS w FROM documents,
       |    UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS u(w)
       |  WHERE len(u.w) > 0),
       | v0 AS (SELECT w, list_transform(range(1, len(w) + 1),
       |    i2 -> substr(w, CAST(i2 AS INT), 1)) AS syms,
       |    COUNT(*) AS cnt FROM words GROUP BY w),
       |$iters""".stripMargin
  }

  /** t23's oracle: the shared CTEs + the per-step trajectory rows. */
  private def bpeOracleSql(k: Int): String = {
    val rows = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a, b, n, (SELECT toks FROM tk$i) AS toks_after FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeOracleCtes(k)}
       |$rows
       |ORDER BY step""".stripMargin
  }

  /** t27's oracle: the shared CTEs + per-doc token counts — each word
    * occurrence joins its final (v$k) segmentation length; docs with
    * no tokens keep 0 via the left join. */
  private def bpeEncodeOracleSql(k: Int): String =
    s"""WITH ${bpeOracleCtes(k)},
       | toks AS (SELECT doc_id, u.w AS w FROM documents,
       |    UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS u(w)
       |  WHERE len(u.w) > 0),
       | perdoc AS (SELECT t.doc_id, CAST(SUM(len(v.syms)) AS BIGINT) AS n
       |  FROM toks t JOIN v$k v USING (w) GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(p.n, 0) AS BIGINT) AS bpe_tokens
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // SQL mirrors of TextOps.gopherShape's fields, ratio denominators
  // cast to DOUBLE so the IEEE evaluation matches Spark's
  private[queries] val gopherFieldsSql: Seq[(String, String)] = {
    val nWords = "CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)"
    val nLines = s"CAST(length(text) - length(replace(text, chr(10), '')) + 1 AS BIGINT)"
    val denomW = s"CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val stops = Seq(" the " -> 5, " be " -> 4, " to " -> 4, " of " -> 4,
      " and " -> 5, " that " -> 6, " have " -> 6, " with " -> 6)
      .map { case (sb, l) => occ(sb, l) }.mkString("(", " + ", ")")
    Seq(
      "n_words" -> nWords,
      "mean_wlen" ->
        s"CAST(length(replace(text, ' ', '')) AS DOUBLE) / $denomW",
      "hash_ratio" -> s"CAST(${occ("#", 1)} AS DOUBLE) / $denomW",
      "ellipsis_ratio" -> s"CAST(${occ("...", 3)} AS DOUBLE) / $denomW",
      "alpha_frac" ->
        s"""CAST(len(list_filter(regexp_split_to_array(trim(text), ' +'),
           |    w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / $denomW""".stripMargin,
      "bullet_frac" ->
        s"""CAST(len(list_filter(string_split(text, chr(10)),
           |    l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
           |  AS DOUBLE) / CAST($nLines AS DOUBLE)""".stripMargin,
      "ellipsis_line_frac" ->
        s"""CAST(len(list_filter(string_split(text, chr(10)),
           |    l -> ends_with(trim(l), '...'))) AS DOUBLE)
           |  / CAST($nLines AS DOUBLE)""".stripMargin,
      "n_stops" -> s"CAST($stops AS BIGINT)")
  }

  /** The t33 composite keep as one SQL predicate (reused by p11). */
  private[queries] val gopherKeepSql: String = {
    val f = gopherFieldsSql.toMap
    s"""${f("n_words")} >= 50 AND ${f("n_words")} <= 100000
       |    AND ${f("mean_wlen")} >= 3.0 AND ${f("mean_wlen")} <= 10.0
       |    AND ${f("hash_ratio")} <= 0.1 AND ${f("ellipsis_ratio")} <= 0.1
       |    AND ${f("bullet_frac")} <= 0.9 AND ${f("ellipsis_line_frac")} <= 0.3
       |    AND ${f("alpha_frac")} >= 0.8 AND ${f("n_stops")} >= 2""".stripMargin
  }

  /** DuckDB replay of the ENTIRE t35 training loop —
    * QualityClassifier.train(nBuckets=256, epochs=5, lr=0.5,
    * link="algebraic") + the final scoring pass — unrolled to one CTE
    * chain per epoch. Exact by construction:
    *   - features: t26's fingerprint-mod fold over the same ' +'
    *     word split;
    *   - every double→decimal(28,16) cast is VARCHAR-staged (OracleVec's
    *     measured Decimal(Double.toString) HALF_UP parity) and every
    *     decimal→double goes back through VARCHAR (exact decimal print →
    *     correctly-rounded parse ≡ BigDecimal.doubleValue);
    *   - decimal SUMs are exact and order-free — the partition-
    *     invariance the Spark side routes through the same casts;
    *   - the driver updates (w − (lr·g)/n), the algebraic link
    *     0.5+(0.5·s)/(1+|s|), and the dot re-assembly are single
    *     correctly-rounded IEEE ops in both engines.
    * Each stage MATERIALIZED (the chained-CTE discipline of the
    * hash/quantizer oracles). */
  /** The five language classes, sorted — shared by the t37 query and
    * its oracle so class order (and the argmax tiebreak) agree. */
  private val langClasses = Seq("de", "en", "es", "fr", "zh")

  // t38's planted mojibake pairs, from explicit code points so the
  // source carries no ambiguous bytes (shared by query + oracle):
  // " thÃ© " repairs to " thé " (2-byte Latin-1 digraph C3 A9) and
  // " â€”and " to " —and " (3-byte cp1252 display of E2 80 94).
  private val Moj2 = " thÃ© "
  private val Fix2 = " thé "
  private val Moj3 = " â€”and "
  private val Fix3 = " —and "
  // t39's clean-but-byte-ambiguous tail: lead-range chars followed by
  // continuation-range chars ("Ö«", "ß»") — valid-looking byte runs
  // the RAW rewrite would re-decode; the gated repair must not touch
  // them (no mojibake signature anywhere in the doc)
  private val CleanTail = " Ö« ß»"

  /** t38's oracle: the full fixMojibake cascade in DuckDB SQL —
    * cp1252 fold (`translate` over the shared tables), per-position
    * byte classification over the char/codepoint arrays (same
    * validity rules: 0xC2 floor, overlong-E0 and surrogate-ED bands
    * excluded), re-decode via `decode(unhex(..))`, pass-through with
    * the reverse fold. Mirrors TextOps.fixMojibake clause for
    * clause. */
  /** The per-position byte-classification CASE of the fixMojibake
    * cascade (shared by the t38 and t39 oracles — both CTE chains
    * bind the same `ch`/`cps`/`i` names). */
  private def mojibakePieceSql: String = {
    import graft.functions.TextOps.{Cp1252Bytes, Cp1252Chars}
    def at(j: String) =
      s"(CASE WHEN ($j) >= 1 THEN coalesce(cps[CAST($j AS INT)], -1) ELSE -1 END)"
    def cont(x: String) = s"($x BETWEEN 128 AND 191)"
    def l2(x: String) = s"($x BETWEEN 194 AND 223)"
    def v3(a: String, b: String, c: String) =
      s"($a BETWEEN 224 AND 239 AND ${cont(b)} AND ${cont(c)} AND " +
        s"NOT ($a = 224 AND $b < 160) AND NOT ($a = 237 AND $b > 159))"
    def v4(a: String, b: String, c: String, d: String) =
      s"($a BETWEEN 240 AND 244 AND ${cont(b)} AND ${cont(c)} AND ${cont(d)} AND " +
        s"NOT ($a = 240 AND $b < 144) AND NOT ($a = 244 AND $b > 143))"
    def hx(x: String) = s"lpad(hex($x), 2, '0')"
    val (c0, c1, c2, c3) = (at("i"), at("i + 1"), at("i + 2"), at("i + 3"))
    val (p1, p2, p3) = (at("i - 1"), at("i - 2"), at("i - 3"))
    s"""CASE WHEN ${v4(c0, c1, c2, c3)}
       |       THEN decode(unhex(${hx(c0)} || ${hx(c1)} || ${hx(c2)} || ${hx(c3)}))
       |     WHEN ${v3(c0, c1, c2)}
       |       THEN decode(unhex(${hx(c0)} || ${hx(c1)} || ${hx(c2)}))
       |     WHEN ${l2(c0)} AND ${cont(c1)}
       |       THEN decode(unhex(${hx(c0)} || ${hx(c1)}))
       |     WHEN ${cont(c0)} AND (${l2(p1)} OR ${v3(p1, c0, c1)} OR ${v3(p2, p1, c0)}
       |       OR ${v4(p1, c0, c1, c2)} OR ${v4(p2, p1, c0, c1)} OR ${v4(p3, p2, p1, c0)})
       |       THEN ''
       |     ELSE translate(ch[CAST(i AS INT)], '$Cp1252Bytes', '$Cp1252Chars')
       |END""".stripMargin
  }

  private def t38OracleSql: String = {
    import graft.functions.TextOps.{Cp1252Bytes, Cp1252Chars}
    val piece = mojibakePieceSql
    s"""WITH t38_src AS (SELECT doc_id,
       |    replace(replace(text, ' the ', '$Moj2'), ' and ', '$Moj3') AS bad,
       |    replace(replace(text, ' the ', '$Fix2'), ' and ', '$Fix3') AS want
       |  FROM documents),
       | t38_arr AS (SELECT doc_id, bad, want,
       |    string_split(translate(bad, '$Cp1252Chars', '$Cp1252Bytes'), '') AS ch,
       |    list_transform(string_split(translate(bad, '$Cp1252Chars', '$Cp1252Bytes'), ''),
       |      x -> ascii(x)) AS cps
       |  FROM t38_src),
       | t38_fx AS (SELECT doc_id, bad, want,
       |    array_to_string(list_transform(range(1, len(ch) + 1), i ->
       |      $piece), '') AS fixed
       |  FROM t38_arr)
       |SELECT doc_id, CAST(length(bad) AS BIGINT) AS chars_corrupt,
       |  CAST(length(fixed) AS BIGINT) AS chars_fixed,
       |  (fixed = want) AS repaired_ok
       |FROM t38_fx ORDER BY doc_id""".stripMargin
  }

  /** t39's oracle: the SAME cascade behind the same per-doc
    * plausibility gate — rewrite only when the cp1252-folded text
    * matches a high-confidence mojibake signature
    * (TextOps.MojibakeSignature verbatim; RE2 and Java agree on
    * literal-char classes and bounded repeats). */
  private def t39OracleSql: String = {
    import graft.functions.TextOps.{Cp1252Bytes, Cp1252Chars, MojibakeSignature}
    val piece = mojibakePieceSql
    s"""WITH t39_src AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |           THEN replace(replace(text, ' the ', '$Moj2'), ' and ', '$Moj3')
       |         WHEN doc_id % 3 = 1 THEN text || '$CleanTail'
       |         ELSE text END AS bad,
       |    CASE WHEN doc_id % 3 = 0
       |           THEN replace(replace(text, ' the ', '$Fix2'), ' and ', '$Fix3')
       |         WHEN doc_id % 3 = 1 THEN text || '$CleanTail'
       |         ELSE text END AS want
       |  FROM documents),
       | t39_arr AS (SELECT doc_id, bad, want,
       |    string_split(translate(bad, '$Cp1252Chars', '$Cp1252Bytes'), '') AS ch,
       |    list_transform(string_split(translate(bad, '$Cp1252Chars', '$Cp1252Bytes'), ''),
       |      x -> ascii(x)) AS cps
       |  FROM t39_src),
       | t39_fx AS (SELECT doc_id, bad, want,
       |    CASE WHEN regexp_matches(
       |           translate(bad, '$Cp1252Chars', '$Cp1252Bytes'),
       |           '$MojibakeSignature')
       |         THEN array_to_string(list_transform(range(1, len(ch) + 1), i ->
       |           $piece), '')
       |         ELSE bad END AS rep
       |  FROM t39_arr)
       |SELECT doc_id, CAST(length(rep) AS BIGINT) AS chars_out,
       |  (rep <> bad) AS rewritten, (rep = want) AS repaired_ok
       |FROM t39_fx ORDER BY doc_id""".stripMargin
  }

  /** t37's oracle: five independent replays of the t35 GD chain (one
    * per language, y = (lang = cls)), sharing one hashed-feature
    * table, then per-doc argmax with the (score DESC, cls DESC)
    * tiebreak mirroring Spark's greatest-over-structs. */
  private def t37OracleSql: String = {
    val nb = 128; val epochs = 3
    val dec = "DECIMAL(28,16)"
    def d2dec(x: String) = s"CAST(CAST($x AS VARCHAR) AS $dec)"
    def dec2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    def lnk(s: String) = s"0.5 + (0.5 * ($s)) / (1.0 + abs($s))"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts += s"""lc_tok AS MATERIALIZED (SELECT doc_id,
  unnest(regexp_split_to_array(trim(text), ' +')) AS f FROM documents)"""
    parts += s"""lc_feats AS MATERIALIZED (SELECT doc_id,
  list_reduce(list_transform(range(1, length(f) + 1),
      i -> ascii(substr(f, CAST(i AS INT), 1))::BIGINT),
    (x, y) -> (x * 31 + y) % 1000000007) % $nb AS b,
  CAST(COUNT(*) AS DOUBLE) AS x
  FROM lc_tok WHERE length(f) > 0 GROUP BY doc_id, b)"""
    parts += s"""lc_tfeat AS MATERIALIZED (SELECT * FROM lc_feats
  WHERE doc_id % 5 = 0)"""
    parts += s"""lc_n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n
  FROM documents WHERE doc_id % 5 = 0)"""
    for (cls <- langClasses) {
      val m = s"l$cls"
      parts += s"""${m}_tlab AS MATERIALIZED (SELECT doc_id,
  CAST(CASE WHEN lang = '$cls' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
  FROM documents WHERE doc_id % 5 = 0)"""
      parts += s"""${m}_w0 AS MATERIALIZED (SELECT unnest(generate_series(0, ${nb - 1}))::BIGINT AS b, 0.0 AS wv)"""
      parts += s"""${m}_b0 AS MATERIALIZED (SELECT 0.0 AS bv)"""
      for (k <- 1 to epochs) {
        val p = k - 1
        parts += s"""${m}_dot$k AS MATERIALIZED (SELECT f.doc_id,
  ${dec2d(s"SUM(${d2dec("w.wv * f.x")})")} AS dot
  FROM lc_tfeat f JOIN ${m}_w$p w USING (b) GROUP BY f.doc_id)"""
        parts += s"""${m}_p$k AS MATERIALIZED (SELECT l.doc_id, l.y,
  ${lnk("COALESCE(d.dot, 0.0) + b.bv")} AS p
  FROM ${m}_tlab l LEFT JOIN ${m}_dot$k d USING (doc_id) CROSS JOIN ${m}_b$p b)"""
        parts += s"""${m}_g$k AS MATERIALIZED (SELECT f.b,
  ${dec2d(s"SUM(${d2dec("(p.p - p.y) * f.x")})")} AS g
  FROM lc_tfeat f JOIN ${m}_p$k p USING (doc_id) GROUP BY f.b)"""
        parts += s"""${m}_gb$k AS MATERIALIZED (SELECT
  ${dec2d(s"SUM(${d2dec("p.p - p.y")})")} AS g FROM ${m}_p$k p)"""
        parts += s"""${m}_w$k AS MATERIALIZED (SELECT w.b,
  w.wv - (0.5 * COALESCE(g.g, 0.0)) / nn.n AS wv
  FROM ${m}_w$p w LEFT JOIN ${m}_g$k g USING (b) CROSS JOIN lc_n nn)"""
        parts += s"""${m}_b$k AS MATERIALIZED (SELECT b.bv - (0.5 * gb.g) / nn.n AS bv
  FROM ${m}_b$p b CROSS JOIN ${m}_gb$k gb CROSS JOIN lc_n nn)"""
      }
      parts += s"""${m}_sdot AS MATERIALIZED (SELECT f.doc_id,
  ${dec2d(s"SUM(${d2dec("w.wv * f.x")})")} AS dot
  FROM lc_feats f JOIN ${m}_w$epochs w USING (b) GROUP BY f.doc_id)"""
    }
    val scoredUnion = langClasses.map { cls =>
      val m = s"l$cls"
      s"""SELECT d.doc_id, '$cls' AS cls,
  ${lnk("COALESCE(s.dot, 0.0) + b.bv")} AS score
  FROM documents d LEFT JOIN ${m}_sdot s USING (doc_id) CROSS JOIN ${m}_b$epochs b"""
    }.mkString("\nUNION ALL\n")
    "WITH " + parts.mkString(",\n") + s""",
lc_scored AS MATERIALIZED (
$scoredUnion),
lc_best AS (SELECT doc_id, cls, score,
  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls DESC) AS rn
  FROM lc_scored)
SELECT d.doc_id, d.lang, b.cls AS pred_lang, b.score AS pred_score
FROM documents d JOIN lc_best b ON d.doc_id = b.doc_id AND b.rn = 1
ORDER BY d.doc_id"""
  }

  private def t35OracleSql: String = {
    val nb = 256; val epochs = 5
    val dec = "DECIMAL(28,16)"
    def d2dec(x: String) = s"CAST(CAST($x AS VARCHAR) AS $dec)"
    def dec2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    def lnk(s: String) = s"0.5 + (0.5 * ($s)) / (1.0 + abs($s))"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts += s"""qc_tok AS MATERIALIZED (SELECT doc_id,
  unnest(regexp_split_to_array(trim(text), ' +')) AS f FROM documents)"""
    parts += s"""qc_feats AS MATERIALIZED (SELECT doc_id,
  list_reduce(list_transform(range(1, length(f) + 1),
      i -> ascii(substr(f, CAST(i AS INT), 1))::BIGINT),
    (x, y) -> (x * 31 + y) % 1000000007) % $nb AS b,
  CAST(COUNT(*) AS DOUBLE) AS x
  FROM qc_tok WHERE length(f) > 0 GROUP BY doc_id, b)"""
    parts += s"""qc_lab AS MATERIALIZED (SELECT doc_id,
  CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
  FROM documents)"""
    // the training sample: deterministic 20 % of labeled docs
    parts += s"""qc_tlab AS MATERIALIZED (SELECT * FROM qc_lab WHERE doc_id % 5 = 0)"""
    parts += s"""qc_tfeat AS MATERIALIZED (SELECT f.* FROM qc_feats f
  JOIN qc_tlab USING (doc_id))"""
    parts += s"""qc_n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM qc_tlab)"""
    parts += s"""qc_w0 AS MATERIALIZED (SELECT unnest(generate_series(0, ${nb - 1}))::BIGINT AS b, 0.0 AS wv)"""
    parts += s"""qc_b0 AS MATERIALIZED (SELECT 0.0 AS bv)"""
    for (k <- 1 to epochs) {
      val p = k - 1
      parts += s"""qc_dot$k AS MATERIALIZED (SELECT f.doc_id,
  ${dec2d(s"SUM(${d2dec("w.wv * f.x")})")} AS dot
  FROM qc_tfeat f JOIN qc_w$p w USING (b) GROUP BY f.doc_id)"""
      parts += s"""qc_p$k AS MATERIALIZED (SELECT l.doc_id, l.y,
  ${lnk("COALESCE(d.dot, 0.0) + b.bv")} AS p
  FROM qc_tlab l LEFT JOIN qc_dot$k d USING (doc_id) CROSS JOIN qc_b$p b)"""
      parts += s"""qc_g$k AS MATERIALIZED (SELECT f.b,
  ${dec2d(s"SUM(${d2dec("(p.p - p.y) * f.x")})")} AS g
  FROM qc_tfeat f JOIN qc_p$k p USING (doc_id) GROUP BY f.b)"""
      parts += s"""qc_gb$k AS MATERIALIZED (SELECT
  ${dec2d(s"SUM(${d2dec("p.p - p.y")})")} AS g FROM qc_p$k p)"""
      parts += s"""qc_w$k AS MATERIALIZED (SELECT w.b,
  w.wv - (0.5 * COALESCE(g.g, 0.0)) / nn.n AS wv
  FROM qc_w$p w LEFT JOIN qc_g$k g USING (b) CROSS JOIN qc_n nn)"""
      parts += s"""qc_b$k AS MATERIALIZED (SELECT b.bv - (0.5 * gb.g) / nn.n AS bv
  FROM qc_b$p b CROSS JOIN qc_gb$k gb CROSS JOIN qc_n nn)"""
    }
    parts += s"""qc_sdot AS MATERIALIZED (SELECT f.doc_id,
  ${dec2d(s"SUM(${d2dec("w.wv * f.x")})")} AS dot
  FROM qc_feats f JOIN qc_w$epochs w USING (b) GROUP BY f.doc_id)"""
    "WITH " + parts.mkString(",\n") + s"""
SELECT l.doc_id, l.y,
  ${lnk("COALESCE(d.dot, 0.0) + b.bv")} AS score,
  (${lnk("COALESCE(d.dot, 0.0) + b.bv")}) >= 0.5 AS pred_target
FROM qc_lab l LEFT JOIN qc_sdot d USING (doc_id) CROSS JOIN qc_b$epochs b
ORDER BY l.doc_id"""
  }

  /** DuckDB replay of QuantileSketch (subBits = 5) over `table`,
    * grouped by `group`: bucket → cumsum → rank pick → dyadic
    * representative, all engine-exact (see QuantileSketch scaladoc).
    * Shared by the t34 oracle and p11's data-card oracle. */
  private[queries] def sketchQuantilesSql(group: String, v: String,
      table: String, qs: Seq[(Double, String)]): String = {
    def bkt(v: String) =
      s"""CASE WHEN $v <= 0 THEN -1
         |  ELSE CAST((length(bin($v)) - 1) * 32
         |    + (($v * 32) >> (length(bin($v)) - 1)) - 32 AS INT) END""".stripMargin
    def pick(q: Double, name: String) =
      s"""MIN(CASE WHEN cum >= CAST(FLOOR($q * (n - 1)) AS BIGINT) + 1
         |  THEN bucket END) AS b_$name""".stripMargin
    def rep(name: String) =
      s"""CASE WHEN b_$name < 0 THEN 0.0
         |  ELSE pow(2.0, b_$name // 32) * (1.0 + ((b_$name % 32) + 0.5) / 32.0)
         |  END AS $name""".stripMargin
    s"""WITH b AS (
       |  SELECT $group, ${bkt(v)} AS bucket, COUNT(*) AS cnt
       |  FROM $table GROUP BY 1, 2),
       | c AS (
       |  SELECT $group, bucket, cnt,
       |    SUM(cnt) OVER (PARTITION BY $group ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(cnt) OVER (PARTITION BY $group) AS n
       |  FROM b),
       | p AS (
       |  SELECT $group, ${qs.map { case (q, n) => pick(q, n) }.mkString(",\n    ")}
       |  FROM c GROUP BY $group)
       |SELECT $group, ${qs.map { case (_, n) => rep(n) }.mkString(",\n  ")}
       |FROM p ORDER BY $group""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "t23_bpe" -> bpeOracleSql(5),
    "t27_bpe_encode" -> bpeEncodeOracleSql(5),

    // replays QuantileSketch's power-of-2 log-linear bucketing
    // exactly: bucket = integer (bin-length, shift) math; the
    // representative is a dyadic rational, identical IEEE evaluation
    // in both engines (the reason this sketch is oracle-able and
    // approx_percentile is not — see QuantileSketch scaladoc)
    "t34_sketch_quantiles" ->
      sketchQuantilesSql("lang", "n_chars", "documents",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")),

    // t33: same length/replace/list arithmetic as the Spark side;
    // all ratio denominators cast to DOUBLE before dividing so the
    // IEEE evaluation order matches column-for-column
    "t33_gopher_rules" ->
      s"""SELECT doc_id,
         |  ${gopherFieldsSql.map { case (n, e) => s"$e AS $n" }
              .mkString(",\n  ")},
         |  ($gopherKeepSql) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t35_quality_classifier" -> t35OracleSql,
    "t37_langid_trained" -> t37OracleSql,
    "t38_fix_mojibake" -> t38OracleSql,
    "t39_repair_mojibake_gated" -> t39OracleSql,

    // Drift.sourceDrift mirror: t26's fingerprint-mod bucket fold, the
    // FULL generated (source x bucket) grid (absent buckets count with
    // p=0), VARCHAR-staged decimal terms for the order-free TV sum,
    // DSIR integer-ppm ratio + (ppm DESC, w DESC) argmax window
    "t36_source_drift" ->
      """WITH tok AS MATERIALIZED (SELECT source, u.t AS w FROM documents,
        |    UNNEST(regexp_split_to_array(trim(text), ' +')) AS u(t)
        |  WHERE len(u.t) > 0),
        | tb AS MATERIALIZED (SELECT source,
        |    list_reduce(list_transform(range(1, length(w) + 1),
        |        i -> ascii(substr(w, CAST(i AS INT), 1))::BIGINT),
        |      (x, y) -> (x * 31 + y) % 1000000007) % 4096 AS b
        |  FROM tok),
        | sb AS (SELECT source, b, COUNT(*) AS cnt FROM tb GROUP BY 1, 2),
        | st AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM sb GROUP BY source),
        | cb AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM sb GROUP BY b),
        | ct AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS ctot FROM cb),
        | grid AS (SELECT st.source, st.tot,
        |    abs(COALESCE(sb.cnt, 0) / st.tot - cb.ccnt / ct.ctot) AS dp
        |  FROM st CROSS JOIN cb CROSS JOIN ct
        |  LEFT JOIN sb ON sb.source = st.source AND sb.b = cb.b),
        | tv AS (SELECT source, tot AS n_tokens,
        |    CAST(SUM(CAST(CAST(dp AS VARCHAR) AS DECIMAL(28,16))) AS DOUBLE)
        |      * 0.5 AS tv
        |  FROM grid GROUP BY source, tot),
        | sw AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        | cw AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cc FROM sw GROUP BY w),
        | ranked AS (SELECT sw.source, sw.w,
        |    CAST(CAST(sw.c + 1 AS HUGEINT) * (ct.ctot + 4096) * 1000000
        |      // (CAST(cw.cc + 1 AS HUGEINT) * (st.tot + 4096))
        |      AS BIGINT) AS ppm
        |  FROM sw JOIN cw USING (w) JOIN st USING (source) CROSS JOIN ct),
        | top AS (SELECT source, w AS top_token, ppm AS top_token_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ppm DESC, w DESC) AS rn FROM ranked)
        |SELECT tv.source, n_tokens, tv, top_token, top_token_ppm
        |FROM tv JOIN (SELECT * FROM top WHERE rn = 1) t USING (source)
        |ORDER BY tv.source""".stripMargin,

    // mirrors Dsir.importanceSelect bit-for-bit: same fingerprint fold
    // (t4's convention), same add-one-smoothed ppm integer ratios
    // (DuckDB `//` = Spark DIV on non-negative BIGINTs), same top-100
    // (weight desc, doc_id) selection
    "t26_dsir" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), ' +') AS a
        |  FROM documents),
        | uni AS (SELECT doc_id, lang, unnest(a) AS f FROM t),
        | big AS (SELECT doc_id, lang,
        |    a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS f
        |  FROM t, UNNEST(range(1, len(a))) AS g(i)),
        | feats AS (SELECT doc_id, lang,
        |    list_reduce(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substr(f, CAST(i AS INT), 1))::BIGINT),
        |      (x, y) -> (x * 31 + y) % 1000000007) % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
        |  WHERE length(f) > 0),
        | stats AS (SELECT b, COUNT(*) AS cr,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM feats GROUP BY b),
        | tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_r,
        |    CAST(SUM(ct) AS BIGINT) AS n_t FROM stats),
        | scored AS (SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
        |    CAST(SUM((CAST(ct + 1 AS HUGEINT) * (n_r + 4096) * 1000000)
        |             // (CAST(cr + 1 AS HUGEINT) * (n_t + 4096)))
        |      AS BIGINT) AS weight_ppm
        |  FROM feats f JOIN stats USING (b) CROSS JOIN tot
        |  GROUP BY f.doc_id),
        | sel AS (SELECT doc_id FROM scored
        |  ORDER BY weight_ppm DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_feat, weight_ppm,
        | doc_id IN (SELECT doc_id FROM sel) AS selected
        |FROM scored ORDER BY doc_id""".stripMargin,

    // same split_part/HOF pipeline; DuckDB's list_sort and Spark's
    // array_sort are both UTF8-binary on these ASCII params
    "t32_url_canonicalize" ->
      """WITH u AS (SELECT doc_id,
        |   'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Docs/' || lang
        |   || '/' || doc_id || '/index.html?utm_source=feed&ref=tw'
        |   || (doc_id % 3) || '&b=2&a=1#sec' AS url
        |  FROM documents),
        | p AS (SELECT doc_id, url,
        |   split_part(split_part(url, '#', 1), '?', 1) AS base,
        |   split_part(split_part(url, '#', 1), '?', 2) AS query
        |  FROM u),
        | q AS (SELECT doc_id, url,
        |   lower(split_part(base, '://', 1)) AS scheme,
        |   split_part(base, '://', 2) AS hostpath,
        |   split_part(split_part(base, '://', 2), '/', 1) AS raw_host,
        |   query
        |  FROM p),
        | c AS (SELECT doc_id, url,
        |   scheme || '://'
        |   || CASE WHEN scheme = 'https' THEN regexp_replace(
        |          regexp_replace(lower(raw_host), '^www\.', ''), ':443$', '')
        |        WHEN scheme = 'http' THEN regexp_replace(
        |          regexp_replace(lower(raw_host), '^www\.', ''), ':80$', '')
        |        ELSE regexp_replace(lower(raw_host), '^www\.', '') END
        |   || regexp_replace(substr(hostpath, length(raw_host) + 1, 100000),
        |        '/index\.html$', '/')
        |   || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon
        |  FROM (SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(query, '&'),
        |      x -> NOT starts_with(x, 'utm_') AND NOT starts_with(x, 'ref='))),
        |      '&') AS cq FROM q))
        |SELECT doc_id, url, canon AS canon_url, md5(canon) AS url_key
        |FROM c ORDER BY doc_id""".stripMargin,

    // 10-word segments via 1-based inclusive list slicing (DuckDB
    // ws[a:b] ≡ Spark slice(ws, a, 10)); keep-first via min-doc per
    // exact segment text; ordered FILTER list ≡ the sorted
    // collect_list reassembly
    "t30_paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | segs AS (SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
        |    array_to_string(ws[(CAST(g.i AS INT)*10+1):(CAST(g.i AS INT)*10+10)], ' ') AS seg
        |  FROM w, UNNEST(range(0, CAST(ceil(len(ws)/10.0) AS BIGINT))) AS g(i)),
        | f AS (SELECT seg, MIN(doc_id) AS first_doc FROM segs GROUP BY seg),
        | k AS (SELECT s.doc_id, s.seg_idx, s.seg, s.doc_id = f.first_doc AS keep
        |   FROM segs s JOIN f USING (seg))
        |SELECT doc_id, COUNT(*) AS n_segs,
        | CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(COALESCE(
        |     array_to_string(list(seg ORDER BY seg_idx) FILTER (WHERE keep), ' '),
        |     '')) AS clean_hash
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same dirty-column construction + sequential email-then-phone
    // redaction; regexp_extract_all length ≡ Spark regexp_count
    "t31_pii_redact" ->
      """WITH dirt AS (SELECT doc_id,
        |   'contact user' || doc_id || '@example.com ' || text || ' call +1-555-'
        |   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   || ' or (020) 7946 0958 now' AS dirty
        |  FROM documents),
        | r AS (SELECT doc_id, dirty,
        |   regexp_replace(dirty,
        |     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS r1
        |  FROM dirt),
        | c AS (SELECT doc_id, dirty, r1,
        |   regexp_replace(r1, '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g') AS clean
        |  FROM r)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(dirty,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(r1,
        |   '\+?[0-9][0-9() .-]{6,}[0-9]')) AS BIGINT) AS n_phone,
        | md5(clean) AS clean_hash,
        | CAST(length(dirty) - length(clean) AS BIGINT) AS chars_removed
        |FROM c ORDER BY doc_id""".stripMargin,

    // the same page construction + regex cascade as the Spark side;
    // RE2 and java.util.regex agree on this dialect subset (no
    // backrefs/lookaround, inline (?s) for the dotall block match)
    "t28_html_extract" ->
      s"""WITH h AS (SELECT doc_id, $htmlPageSql AS html FROM documents),
        | c AS (SELECT doc_id, html, ${htmlExtractSql("html")} AS clean FROM h)
        |SELECT doc_id, md5(clean) AS clean_hash,
        | CAST(length(clean) AS BIGINT) AS clean_chars,
        | CAST(CASE WHEN length(clean) = 0 THEN 0
        |   ELSE len(string_split(clean, chr(10))) END AS BIGINT) AS n_lines,
        | CAST(length(clean) * 1000000 // length(html) AS BIGINT) AS retained_ppm
        |FROM c ORDER BY doc_id""".stripMargin,

    // r18: FULLY EXACT oracle (was the catalog's last declared
    // rows+schema row) — the token-dictionary coder is 4 + Σ_distinct
    // (len+1) + ceil(W·bits/8) with bits = binary digits of the
    // dictionary size, integer arithmetic end to end; `bin()` exists
    // in both engines with identical output, so no float log anywhere
    "t29_compress_ratio" ->
      """WITH w AS (SELECT doc_id,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
        |   list_filter(regexp_split_to_array(trim(text), ' +'),
        |     x -> length(x) > 0) AS ws
        |  FROM documents),
        | s AS (SELECT doc_id, raw_bytes, len(ws) AS wn,
        |   len(list_distinct(ws)) AS u,
        |   coalesce(list_sum(list_transform(list_distinct(ws),
        |     x -> octet_length(encode(x)) + 1)), 0) AS dict
        |  FROM w),
        | d AS (SELECT doc_id, raw_bytes,
        |   CAST(4 + dict + (wn * length(bin(u)) + 7) // 8 AS BIGINT)
        |     AS dict_bytes
        |  FROM s)
        |SELECT doc_id, raw_bytes, dict_bytes,
        | dict_bytes * 1000000 // greatest(raw_bytes, 1) AS ratio_ppm,
        | dict_bytes * 1000000 // greatest(raw_bytes, 1) < 200000 AS degenerate
        |FROM d ORDER BY doc_id""".stripMargin,

    "t24_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |     ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS norm_hash,
        | CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS toks_raw,
        | CAST(CASE WHEN length(norm) = 0 THEN 0
        |   ELSE len(string_split(norm, ' ')) END AS BIGINT) AS toks_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    "t25_novelty" ->
      """WITH g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS g
        |  FROM documents CROSS JOIN generate_series(1, 100000) AS gs(i)
        |  WHERE i <= length(text) - 7),
        | fs AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_grams,
        | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_novel,
        | CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |   / COUNT(*) AS novelty
        |FROM g JOIN fs USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t12_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        | t2 AS (SELECT token FROM t WHERE length(token) > 0),
        | n AS (SELECT COUNT(*) AS n_total FROM t2)
        |SELECT token, COUNT(*) AS cnt FROM t2, n GROUP BY token, n_total
        |HAVING COUNT(*) * 33 > n_total
        |ORDER BY cnt DESC, token""".stripMargin,

    "t13_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        | t2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
        | tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
        | dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        | r AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY dfq.df, tf.tf DESC, tf.token) AS rk
        |   FROM tf JOIN dfq USING (token))
        |SELECT doc_id, token, tf, df, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "t1_langid" ->
      s"""WITH c AS (SELECT doc_id, lang, $nEn AS n_en, $nDe AS n_de,
        |    $nFr AS n_fr, $nEs AS n_es FROM documents),
        | p AS (SELECT doc_id, lang,
        |   CASE WHEN n_en = GREATEST(n_en, n_de, n_fr, n_es) AND n_en > 0 THEN 'en'
        |        WHEN n_de = GREATEST(n_en, n_de, n_fr, n_es) AND n_de > 0 THEN 'de'
        |        WHEN n_fr = GREATEST(n_en, n_de, n_fr, n_es) AND n_fr > 0 THEN 'fr'
        |        WHEN n_es = GREATEST(n_en, n_de, n_fr, n_es) AND n_es > 0 THEN 'es'
        |        ELSE 'und' END AS lang_pred
        |  FROM c)
        |SELECT doc_id, lang_pred, lang_pred = lang AS match_label
        |FROM p ORDER BY doc_id""".stripMargin,

    "t2_quality_score" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
        | ($qualitySql) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_quality_filter" ->
      s"""WITH q AS (SELECT doc_id, lang,
        | ($qualitySql) AS q
        | FROM documents)
        |SELECT lang, COUNT(*) AS kept,
        | CAST(SUM(CAST(q AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*) AS avg_q
        |FROM q WHERE q >= 0.5 GROUP BY lang ORDER BY lang""".stripMargin,

    "t20_exact_quantiles" ->
      """SELECT COUNT(*) AS n_docs,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.5) AS p50,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.9) AS p90,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.99) AS p99
        |FROM documents""".stripMargin,

    "t22_edit_distance" ->
      """WITH p AS (SELECT doc_id, substr(text, 1, 80) AS prefix FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS dist,
        | levenshtein(a.prefix, b.prefix) <= 20 AS near_match
        |FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
        |ORDER BY a_id""".stripMargin,

    "t21_stratified_fixed_k" ->
      """SELECT doc_id, lang, rk FROM (
        | SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS BIGINT) AS rk
        | FROM documents) t
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,

    "t6_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n, MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
        |FROM documents WHERE doc_id % 7 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t11_length_quantiles" ->
      """SELECT lang, COUNT(*) AS n,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.5) AS p50,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.9) AS p90,
        | quantile_cont(CAST(length(text) AS BIGINT), 0.99) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // per-row unnest(range(...)) enumerates positions from each row's
    // own length — no fixed series bound a longer document could
    // silently overflow on the oracle side only
    "t7_vocab_topk" ->
      """WITH sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS gram
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
        |        FROM documents))
        |SELECT gram, COUNT(*) AS df FROM sh GROUP BY gram
        |ORDER BY df DESC, gram LIMIT 20""".stripMargin,

    "t8_length_histogram" ->
      """SELECT CAST(FLOOR(length(text)/100) AS BIGINT) AS bucket,
        | COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,

    // DuckDB list_reduce's first-element seed equals Spark's 0-seeded
    // fold here: acc1 = (0*31 + c1) % p = c1 either way. Guard: empty
    // text folds over Spark's descending sequence(1,0) of ascii('')=0
    // to 0 — mirrored by the CASE (corpus has none; belt+braces).
    "t4_fingerprint" ->
      """SELECT doc_id,
        | CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |   list_transform(range(1, length(text)+1),
        |     i -> ascii(substr(text, CAST(i AS INT), 1))::BIGINT),
        |   (a, b) -> (a * 31 + b) % 1000000007) END AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t3_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS ws_tokens,
        | CAST(CEIL(length(text)/4.0) AS BIGINT) AS bpe_est,
        | CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // array adjacency a[i], a[i+1] ≡ Spark's per-doc lead(w) over pos.
    // generate_series(1, 50000) + WHERE is the repo's oracle-side
    // corpus bound (same convention as d4/t9: driver docs are ≤ a few
    // KB; the Spark side is unbounded)
    "t15_bigram_lm" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS a
        |  FROM documents),
        | b AS (SELECT a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2
        |  FROM t CROSS JOIN generate_series(1, 50000) AS g(i)
        |  WHERE i <= len(a) - 1),
        | c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2),
        | tot AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS w1_total
        |  FROM c GROUP BY w1)
        |SELECT c.w1, c.w2, c.cnt, CAST(c.cnt AS DOUBLE)/w1_total AS p_cond
        |FROM c JOIN tot USING (w1)
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,

    // same array-adjacency bigram convention as t15; SUM() returns
    // HUGEINT in DuckDB so integer outputs re-cast to BIGINT. The
    // keep flag reuses DuckDB's lateral column aliases.
    "t17_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS a
        |  FROM documents),
        | tok AS (SELECT doc_id, unnest(a) AS w FROM t),
        | tc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        | ts AS (SELECT doc_id, SUM(cnt) AS n_tok, COUNT(*) AS n_distinct,
        |    MAX(cnt) AS top_cnt FROM tc GROUP BY doc_id),
        | b AS (SELECT doc_id, a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2
        |  FROM t CROSS JOIN generate_series(1, 50000) AS g(i)
        |  WHERE i <= len(a) - 1),
        | bc AS (SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
        | bs AS (SELECT doc_id, SUM(cnt) AS n_big,
        |    SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_big
        |  FROM bc GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        | CAST(n_tok - n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS dup_token_frac,
        | CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_token_frac,
        | CASE WHEN n_big IS NULL OR n_big = 0 THEN 0.0
        |      ELSE CAST(dup_big AS DOUBLE) / CAST(n_big AS DOUBLE) END AS dup_bigram_frac,
        | (dup_token_frac <= 0.6 AND top_token_frac <= 0.2
        |   AND dup_bigram_frac <= 0.9) AS keep
        |FROM ts LEFT JOIN bs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "t18_lm_score" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS a
        |  FROM documents),
        | b AS (SELECT doc_id, a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2
        |  FROM t CROSS JOIN generate_series(1, 50000) AS g(i)
        |  WHERE i <= len(a) - 1),
        | lm AS (SELECT w1, w2, COUNT(*) AS gcnt FROM b GROUP BY 1, 2),
        | ds AS (SELECT doc_id, COUNT(*) AS n_big, SUM(gcnt) AS lm_hits
        |  FROM b JOIN lm USING (w1, w2) GROUP BY doc_id)
        |SELECT doc_id,
        | CAST(COALESCE(n_big, 0) AS BIGINT) AS n_big,
        | CAST(COALESCE(lm_hits, 0) AS BIGINT) AS lm_hits,
        | CASE WHEN n_big IS NULL THEN 0.0
        |      ELSE CAST(lm_hits AS DOUBLE) / CAST(n_big AS DOUBLE) END AS score
        |FROM documents d LEFT JOIN ds USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "t19_outliers" ->
      """WITH docs AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS chars
        |  FROM documents),
        | med AS (SELECT lang, quantile_cont(chars, 0.5) AS med
        |  FROM docs GROUP BY lang),
        | mad AS (SELECT d.lang, med, quantile_cont(abs(d.chars - med), 0.5) AS mad
        |  FROM docs d JOIN med USING (lang) GROUP BY d.lang, med)
        |SELECT doc_id, d.lang, chars, med, mad,
        | abs(chars - med) > mad * 3 AS is_outlier
        |FROM docs d JOIN mad USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // starts 1, 151, 301, ... <= max(len, 1); substr clamps the tail
    // chunk; generate_series is inclusive like Spark's sequence().
    // the 50000 ceiling is the oracle-side corpus bound (d4/t9
    // convention) — the Spark side is unbounded
    "t14_doc_chunks" ->
      """SELECT doc_id,
        | (i - 1) // 150 AS chunk_idx,
        | i AS start,
        | CAST(length(substr(text, CAST(i AS INT), 200)) AS BIGINT) AS chunk_chars,
        | md5(substr(text, CAST(i AS INT), 200)) AS chunk_hash
        |FROM documents
        |CROSS JOIN generate_series(1, 50000, 150) AS g(i)
        |WHERE i <= GREATEST(length(text), 1)
        |ORDER BY doc_id, chunk_idx""".stripMargin
  )
}
