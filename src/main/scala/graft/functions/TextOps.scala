package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for the LLM-data-pipeline suite (SURVEY §2.5).
  * Pure Column combinators (codegen'd, no UDFs). Formula shapes are
  * kept SQL-mirrorable so the DuckDB oracle can reproduce them
  * bit-for-bit (replace/length arithmetic instead of engine-specific
  * tokenizers).
  */
object TextOps {

  /** Occurrences of a literal substring: length-difference trick. */
  def countOccurrences(c: Column, sub: String): Column =
    ((length(c) - length(replace(c, lit(sub), lit("")))) / sub.length).cast("long")

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column =
    size(split(trim(c), " +")).cast("long")

  /** BPE-ish size estimate: the usual chars/4 heuristic. */
  def bpeEstimate(c: Column): Column =
    ceil(length(c) / 4.0).cast("long")

  /** Word-regex token count (letter runs). */
  def regexTokenCount(c: Column): Column =
    regexp_count(c, lit("[a-z]+")).cast("long")

  /** Deterministic token-dictionary compressed size (bytes) — the
    * r18 exact-oracle compressibility gate behind t29: the size of
    * the text under a two-part token code, 4-byte header + the
    * DICTIONARY (each distinct whitespace token once, len+1 bytes —
    * the +1 is the separator/length byte) + the TOKEN STREAM at
    * fixed width (⌈W·bits/8⌉ bytes, bits = binary digits of the
    * dictionary size — `bin()` in both engines, so the oracle
    * mirrors bit-for-bit with no log() float anywhere).
    *
    * This is a REAL (decodable) coder, and it preserves the quality
    * bands the gate exists for: repeated-token junk collapses into a
    * one-entry dictionary (measured 0.03x on 200-fold repetition),
    * prose sits mid-band (sf0.1 documents median 0.60x), high-entropy
    * token noise pays dictionary + stream and lands ≥ 1.0x (1.05x) —
    * same ordering as the zlib DEFLATE ratio, with engine-independent
    * integer arithmetic instead of zlib-build-dependent bytes (the
    * catalog's former t29 sentinel columns). `graft_deflate_size`
    * (real zlib, plans/DeflateSizeExpression) remains the
    * spec+QUALITY-gated production alternative where true LZ77
    * matching matters. Map-side only: split/distinct/aggregate over
    * one row's tokens, no state — streams at any scale. */
  def tokenDictBytes(c: Column): Column = {
    val ws = filter(split(trim(c), " +"), w => length(w) > 0)
    val uniq = array_distinct(ws)
    // octet_length, not length: dictionary entries are stored BYTES
    // (the doc says "len+1 bytes"), so multibyte tokens must count
    // their UTF-8 width or the coder under-reports real output size
    // and shifts the compress-ratio bands on non-ASCII corpora
    // (ADVICE r18). DuckDB mirrors with octet_length(encode(x)).
    val dict = aggregate(uniq, lit(0L),
      (acc, w) => acc + octet_length(w).cast("long") + lit(1L))
    val bits = length(bin(size(uniq).cast("long"))).cast("long")
    val stream = floor((size(ws).cast("long") * bits + lit(7L)) / lit(8))
      .cast("long")
    lit(4L) + dict + stream
  }

  /** Marker-stopword counts used by langId — (lang, marker) pairs. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "de" -> " der ", "fr" -> " le ", "es" -> " el ")

  /** n-gram/stopword language-ID heuristic: argmax of marker counts
    * with deterministic priority order; 'und' when all zero. */
  def langId(c: Column): Column = {
    val counts = langMarkers.map { case (l, m) => l -> countOccurrences(c, m) }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und"): Column) { case ((l, cnt), els) =>
      when(cnt === best && cnt > 0, lit(l)).otherwise(els)
    }
  }

  /** Quality score in [0,1]: length saturation + punctuation sparsity +
    * stopword density (SURVEY §2.5 T2). All-double arithmetic in a
    * fixed shape; round(6) at the edge for oracle stability. */
  def qualityScore(c: Column): Column = {
    // greatest(_, 1): empty text would otherwise yield 0/0 = NaN that
    // silently fails every threshold comparison
    val chars = greatest(length(c).cast("double"), lit(1.0))
    val tokens = wsTokenCount(c).cast("double")
    val punct = (countOccurrences(c, ".") + countOccurrences(c, ",")).cast("double")
    val stop = (countOccurrences(c, " the ") + countOccurrences(c, " a ") +
      countOccurrences(c, " of ")).cast("double")
    // no round(): Spark and DuckDB ROUND disagree on doubles whose
    // shortest decimal repr ends in '5' at the rounded digit; the raw
    // IEEE arithmetic is bit-identical across engines.
    lit(0.4) * least(lit(1.0), chars / 400.0) +
      lit(0.3) * (lit(1.0) - punct / chars) +
      lit(0.3) * least(lit(1.0), stop * 10.0 / tokens)
  }

  /** HTML → clean text extraction (the crawl-pipeline stage BEFORE
    * every other text operator: raw HTML in, prose out). Deterministic
    * and fully SQL-mirrorable — a fixed regex cascade + a line-density
    * filter, no parser state:
    *
    *  1. script/style elements vanish whole (their content is code,
    *     not prose);
    *  2. block-element closers and <br> become newlines, so the
    *     line structure of the page survives tag stripping;
    *  3. every remaining tag becomes a space;
    *  4. the five named entities that appear in running text decode
    *     (amp last, so "&amp;lt;" cannot double-decode into a tag);
    *  5. each line collapses interior whitespace, and only lines with
    *     at least `minWords` whitespace words survive — the classic
    *     line-density boilerplate filter (nav bars, button labels and
    *     footers are short lines; prose is long lines).
    *
    * Every regex is in the dialect subset Java regex and RE2 interpret
    * identically (no backrefs, no lookaround; inline (?s) for the
    * dotall block match), so the DuckDB oracle replays the cascade
    * bit-for-bit. Map-side only; codegen'd (regexp + HOFs). */
  def htmlExtract(c: Column, minWords: Int = 5): Column = {
    val noScript = regexp_replace(c,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val blocksToNl = regexp_replace(noScript,
      "</(p|div|li|ul|ol|h[1-6]|table|tr|blockquote)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(blocksToNl, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (col0, (e, ch)) =>
        replace(col0, lit(e), lit(ch)) }
    val lines = transform(split(decoded, "\n"),
      l => trim(regexp_replace(l, "[ \\t]+", " ")))
    val kept = filter(lines,
      l => size(split(l, " ")) >= minWords && length(l) > 0)
    array_join(kept, "\n")
  }

  /** Rolling polynomial hash fingerprint (mod 1e9+7, base 31) — the
    * document-fingerprinting primitive; order-sensitive by design.
    * Native codegen'd expression (graft.plans.Fingerprint): one
    * code-point walk per row instead of an interpreted lambda +
    * substring + ascii per character. Requires GraftExtensions
    * (`Session.local` sets it). */
  def fingerprint(c: Column): Column =
    call_function("graft_fingerprint", c)

  /** Distinct character k-shingles of a string (dedup primitive).
    * Texts shorter than k have no k-shingle → empty array (mirrors the
    * SQL-oracle formulation; callers that can't handle empty sets —
    * e.g. MinHash — filter short texts out first). Native codegen'd
    * expression (graft.plans.Shingles): one char-offset walk + hash-set
    * dedup per row instead of an interpreted lambda per character —
    * profiled as the dominant cost of the n-gram suite. Requires
    * GraftExtensions (`Session.local` sets it). */
  def shingles(c: Column, k: Int): Column =
    call_function("graft_shingles", c, lit(k))

  /** Canonical URL — a crawled page's identity for frontier dedup and
    * recrawl detection (t32's cascade as a library function, r11):
    * fragment off, scheme + host lowercased, `www.` stripped,
    * SCHEME-AWARE default-port stripping (`:443` only for https,
    * `:80` only for http — any other (scheme, port) pair is
    * identity-bearing), tracking params (`utm_*`, `ref=`) dropped,
    * remaining params byte-order sorted, trailing `/index.html`
    * collapsed to `/`. Map-side column arithmetic only (split_part +
    * HOFs — every step reproducible in any SQL engine).
    *
    * Contract: input must be an ABSOLUTE URL (`scheme://host...`),
    * the only thing a crawl frontier ever holds — relative URLs are
    * resolved against their base at extraction time, before this
    * function. */
  def canonicalizeUrl(url: Column): Column = {
    val nofrag = split_part(url, lit("#"), lit(1))
    val base = split_part(nofrag, lit("?"), lit(1))
    val query = split_part(nofrag, lit("?"), lit(2))
    val scheme = lower(split_part(base, lit("://"), lit(1)))
    val hostpath = split_part(base, lit("://"), lit(2))
    val rawHost = split_part(hostpath, lit("/"), lit(1))
    val noWww = regexp_replace(lower(rawHost), "^www\\.", "")
    val host = when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .otherwise(noWww)
    val path = regexp_replace(
      substring(hostpath, length(rawHost) + 1, lit(100000)),
      "/index\\.html$", "/")
    val canonQ = array_join(array_sort(filter(split(query, "&"),
      p => !startswith(p, lit("utm_")) && !startswith(p, lit("ref=")))), "&")
    concat(scheme, lit("://"), host, path,
      when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ)))
  }

  /** The 27 printable characters Windows-1252 places in 0x80–0x9F
    * (where Latin-1 has control codes) and the bytes they display —
    * the "sloppy cp1252" table every mojibake fixer carries (ftfy's
    * `sloppy-windows-1252` convention): a UTF-8 byte like 0x94 read
    * through cp1252 shows up as U+201D ("), so repair first folds
    * these 27 characters back to their byte values (the byte string
    * holds U+0080–U+009F code points, one per display char, same
    * order). */
  private[graft] val Cp1252Chars: String =
    "€‚ƒ„…†‡ˆ‰Š‹" +
      "ŒŽ‘’“”•–—˜" +
      "™š›œžŸ"
  private[graft] val Cp1252Bytes: String =
    "" +
      "" +
      ""

  /** Mojibake (double-encoded UTF-8) repair — the ftfy-style crawl
    * cleanup stage (t38): text whose UTF-8 bytes were once read as
    * Latin-1/cp1252 shows "Ã©" for "é" and "â€”" for "—"; this
    * reverses it. Map-side column arithmetic only, exact-oracle
    * replayable:
    *
    *   1. fold the 27 printable cp1252 displays back to bytes
    *      (1:1 `translate`);
    *   2. per character position, classify by code point: a valid
    *      2-byte lead (0xC2–0xDF + continuation), 3-byte lead
    *      (0xE0–0xEF + 2 continuations) or 4-byte lead (0xF0–0xF4
    *      + 3 continuations — overlong/surrogate/past-U+10FFFF forms
    *      all excluded so the byte run is always well-formed UTF-8)
    *      re-decodes via `decode(unhex(hex bytes), 'UTF-8')`; its
    *      continuations emit ""; everything else passes through
    *      (cp1252 displays folded back out, so a lone "€" survives).
    *
    * Per-position lookups hit a pre-split char/codepoint ARRAY
    * (O(1) access — `substr(s, i, 1)` would seek byte offsets and go
    * quadratic per doc). Sequences the rules don't cover (truncated
    * leads, malformed continuations) pass through unchanged — repair
    * never invents bytes; running it on clean text is the identity
    * (EncodingRepairSpec). One deliberate exception: a stray C1
    * control char (U+0080-U+009F) that is NOT a continuation of a
    * valid sequence re-emerges as its cp1252 printable — ftfy's
    * "fix C1 controls" repair, a side effect of the fold being
    * byte-level. */
  def fixMojibake(c: Column): Column = {
    val s = translate(c, Cp1252Chars, Cp1252Bytes)
    // LET-BINDING via 1-element-array transform (r16): HOF lambdas are
    // CodegenFallback — interpreted, NO common-subexpression
    // elimination — so an inlined `chars`/`cps` re-evaluates its whole
    // split/transform chain at EVERY element_at reference: ~20
    // references per position × n positions = O(n²) with heavy
    // constants per repaired doc (measured 12 s for just 100 2 KB docs
    // on 32 cores; invisible at the 350 B docs it was written
    // against). Wrapping each array in `array(...)` and transforming
    // over THAT binds it to a lambda variable — evaluated once per
    // row, O(1) to reference — restoring the O(n) the scaladoc above
    // always claimed. Same expressions, same output, bit for bit
    // (EncodingRepairSpec unchanged).
    def piecesOf(chars: Column, cps: Column): Column = {
      // index 0 throws even in try_element_at; clamp below-range
      def at(j: Column) = coalesce(
        try_element_at(cps, when(j >= 1, j).otherwise(lit(1000000000))),
        lit(-1))
      def cont(x: Column) = x.between(128, 191)
      def l2(x: Column) = x.between(194, 223)
      def v3(a: Column, b: Column, c2: Column) =
        a.between(224, 239) && cont(b) && cont(c2) &&
          !(a === 224 && b < 160) && !(a === 237 && b > 159)
      // 4-byte (astral/emoji) class: F0 90-BF / F1-F3 80-BF / F4 80-8F
      // first-continuation bands (overlongs and > U+10FFFF excluded)
      def v4(a: Column, b: Column, c2: Column, d: Column) =
        a.between(240, 244) && cont(b) && cont(c2) && cont(d) &&
          !(a === 240 && b < 144) && !(a === 244 && b > 143)
      def hx(x: Column) = lpad(hex(x), 2, "0")
      transform(sequence(lit(1), size(chars)), i => {
        val c0 = at(i); val c1 = at(i + 1); val c2 = at(i + 2); val c3 = at(i + 3)
        val p1 = at(i - 1); val p2 = at(i - 2); val p3 = at(i - 3)
        val isL2 = l2(c0) && cont(c1)
        val isL3 = v3(c0, c1, c2)
        val isL4 = v4(c0, c1, c2, c3)
        val consumed = cont(c0) &&
          (l2(p1) || v3(p1, c0, c1) || v3(p2, p1, c0) ||
            v4(p1, c0, c1, c2) || v4(p2, p1, c0, c1) || v4(p3, p2, p1, c0))
        when(isL4, decode(unhex(concat(hx(c0), hx(c1), hx(c2), hx(c3))), "UTF-8"))
          .when(isL3, decode(unhex(concat(hx(c0), hx(c1), hx(c2))), "UTF-8"))
          .when(isL2, decode(unhex(concat(hx(c0), hx(c1))), "UTF-8"))
          .when(consumed, lit(""))
          .otherwise(translate(element_at(chars, i), Cp1252Bytes, Cp1252Chars))
      })
    }
    val pieces = element_at(
      transform(array(split(s, "")), chars =>
        element_at(
          transform(array(transform(chars, ch => ascii(ch))), cps =>
            piecesOf(chars, cps)),
          1)),
      1)
    when(length(c) === 0 || c.isNull, coalesce(c, lit(null).cast("string")))
      .otherwise(array_join(pieces, ""))
  }

  /** High-confidence mojibake SIGNATURES over the cp1252-folded text —
    * the plausibility gate [[repairMojibake]] requires before touching
    * a doc (ftfy's "only fix what looks broken" convention):
    *
    *   - `[Â-Å]` + continuation — the 2-byte leads C2–C5 cover
    *     U+0080–U+017F (Latin-1 supplement + Latin Extended-A), i.e.
    *     virtually every Western/Central-European letter's mojibake
    *     ("Ã©" for é, "Å‚" for ł); clean prose with Â/Ã/Ä/Å directly
    *     followed by a C1-control/«»°±-range char essentially does not
    *     occur (those letters precede ASCII letters in real words).
    *   - `â` + 2 continuations — E2-led General Punctuation ("â€”"
    *     for —, "â€œ" for curly quotes), the other dominant class.
    *   - `ð` + 3 continuations — F0-led astral/emoji ("ðŸ˜€").
    *
    * Deliberately NARROWER than what [[fixMojibake]] can decode: rarer
    * leads (Æ–ß 2-byte, ã–ï 3-byte) only repair when the doc also
    * carries one of the signatures above. */
  private[graft] val MojibakeSignature: String =
    "[Â-Å][-¿]|â[-¿]{2}|ð[-¿]{3}"

  /** [[fixMojibake]] gated per doc on [[MojibakeSignature]] — the form
    * the ingest loop runs unconditionally over every crawled doc
    * (ADVICE r14): the raw rewrite is NOT the identity on all clean
    * text — a genuine lead-range char followed by continuation-range
    * chars (e.g. clean "Ö«", U+00D6 U+00AB) is indistinguishable from
    * mojibake at the byte level and falsely re-decodes (→ U+05AB). The
    * gate only rewrites docs bearing a high-confidence signature, so
    * clean docs — including the "Ö«" class — pass through untouched.
    * Residual false-positive class (documented, accepted): a doc
    * containing BOTH real mojibake and a clean lead+continuation pair
    * still re-decodes the clean pair; each doc is judged whole because
    * mojibake corruption is a whole-doc encoding event, not per-char.
    * The signature check reads the same cp1252 fold the repair uses,
    * so "â€”"-style displays (folded: E2 80 94) trigger correctly. */
  def repairMojibake(c: Column): Column =
    when(translate(c, Cp1252Chars, Cp1252Bytes).rlike(MojibakeSignature),
      fixMojibake(c)).otherwise(c)

  /** Gopher document-shape metrics (Rae et al. 2021, Table A1) as a
    * single struct — the structural complement to the t17 repetition
    * rules: word-count band, mean-word-length band, symbol ratios,
    * bullet/ellipsis line fractions, alphabetic-word floor, stop-word
    * floor, plus the composite `keep`. One map-side pass, no shuffle;
    * shared verbatim by the t33 catalog query (whose DuckDB oracle
    * replays each field), `CorpusStats` and the streaming ingest
    * quality gate. Native codegen'd expression (graft.plans.GopherShape):
    * one byte walk per row instead of the Column form's three splits,
    * per-word regex lambdas and twelve whole-text `replace` copies
    * (the Column form is the spec oracle
    * `graft.KernelOracles.gopherShapeHof`).
    * Requires GraftExtensions (`Session.local` sets it). */
  def gopherShape(text: Column): Column =
    call_function("graft_gopher", text)
}
