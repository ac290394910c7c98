package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ql._
import graft.functions.VectorOps
import graft.operators.{Components, Dedup, PageRank, SemDedup}

/** Dedup suite over `documents`/`embeddings` (SURVEY §2.3). The
  * whole hash-seeded family is replayed exactly in DuckDB SQL (r12):
  * d2/d9's murmur3 MinHash bands (`minhashBandsCte`), d3's XXH64
  * SimHash votes and d6's XXH64 KMV sketch (64-bit wrapping
  * arithmetic staged over HUGEINT), so they join d1/d4/d15-d17 in
  * the exact oracle set. d12's decimal PageRank unrolls its 10
  * fixed rounds in scale-18 fixed point, and d11's centroid-seeded
  * quantizer replays via [[OracleVec]] — every §2.3 catalog query
  * is exact-oracle-checked. */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> { (s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    },

    "d2_minhash_lsh" -> { (s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text",
          k = 5, numHashes = 128, bands = 16)
        .orderBy("a_id", "b_id")
    },

    // EXACT repeated-substring pairs (Lee et al. 2021 ExactSubstr):
    // every doc pair sharing >= 50 verbatim chars + their exact
    // longest-common-substring length, via winnowed fingerprints ->
    // anchor verification (see Dedup.exactSubstrPairs — the winnowing
    // theorem makes the output exact, so a full oracle applies: the
    // all-50-grams diagonal-run scan below, the quadratic job the
    // winnowed path exists to avoid at scale)
    "d15_exact_substr" -> { (s, d) =>
      Dedup.exactSubstrPairs(t(s, d, "documents"), "doc_id", "text",
          minLen = 50, k = 16)
        .orderBy("a_id", "b_id")
    },

    // the ExactSubstr dedup ACTION: cut every >=50-char span that
    // already occurs in an earlier doc (keep-first); reports the
    // affected docs' size delta. Exact output -> exact oracle (the
    // diagonal-run spans, interval-merged per doc in SQL).
    "d16_substr_remove" -> { (s, d) =>
      val docs = t(s, d, "documents").select("doc_id", "text")
      val cleaned = Dedup.exactSubstrRemove(docs, "doc_id", "text",
        minLen = 50, k = 16)
      docs.select(col("doc_id"),
          length(col("text")).cast("long").as("chars_before"))
        .join(cleaned.select(col("doc_id"),
          length(col("text")).cast("long").as("chars_after")), "doc_id")
        .filter(col("chars_after") =!= col("chars_before"))
        .orderBy("doc_id")
    },

    // cross-corpus exact-substring: batch (doc_id % 5 == 0) probed
    // against the corpus anchor index (the ingest shape, like d9 for
    // MinHash); exact output -> exact oracle. dedupIndex=false: the
    // index is freshly built this session (append-once)
    "d17_cross_substr" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val idx = Dedup.winnowIndex(corpus, "doc_id", "text",
        minLen = 50, k = 16)
      Dedup.exactSubstrPairsAgainst(idx, corpus,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          minLen = 50, k = 16, dedupIndex = false)
        .orderBy("corpus_id", "batch_id")
    },

    "d3_simhash" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    "d4_ngram_jaccard" -> { (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          k = 5, threshold = 0.6, maxDf = 50L, minCommon = 5L)
        .orderBy("a_id", "b_id")
    },

    "d5_embedding_neardup" -> { (s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("a_id", "b_id")
    },

    // cluster resolution: transitive closure of the d5 near-dup pairs —
    // every vector labeled with its component's min id (the canonical
    // keeper). Exact oracle via DuckDB recursive CTE.
    "d7_dup_clusters" -> { (s, d) =>
      val e = t(s, d, "embeddings")
      val nodes = e
        .filter(VectorOps.norm(col("embedding")) > 0)
        .select("vec_id")
      val pairs = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.4)
      Components.connectedComponents(pairs, "a_id", "b_id", nodes = Some(nodes))
        .select(col("node").as("vec_id"), col("comp").as("component"))
        .orderBy("vec_id")
    },

    // cross-batch dedup: the "new crawl vs existing corpus" shape —
    // batch (doc_id % 5 == 0) probed against the corpus index; only
    // the batch is shingled, cross pairs only (hash-family dependent
    // buckets -> rows-only; CrossDedupSpec pins recall + self-join
    // equivalence + the persisted-index contract)
    "d9_cross_dedup" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val idx = Dedup.minhashIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        k = 5, numHashes = 128, bands = 16)
      // dedupIndex=false: the index is freshly built this session
      // (append-once by construction), so the replay-safety distinct
      // would be a pure extra shuffle here
      Dedup.minhashLshPairsAgainst(idx, docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5, numHashes = 128, bands = 16,
          dedupIndex = false)
        .orderBy("corpus_id", "batch_id")
    },

    // triangle census of the near-dup pair graph — transitively-
    // consistent duplicate groups close into triangles; open wedges
    // flag borderline pairs. Degree-ordered node-iterator: equi-joins
    // only, wedge fan-out bounded by min-degree (exact oracle via a
    // canonical triple self-join).
    "d10_triangles" -> { (s, d) =>
      val pairs = Dedup.embeddingNearDups(
        t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
      Components.triangleCount(pairs, "a_id", "b_id")
    },

    // link-centrality quality signal (the CommonCrawl-style page rank
    // a crawl pipeline attaches to documents): PageRank over the
    // near-dup pair graph. Decimal-exact iteration -> deterministic,
    // and since iters is FIXED the fixpoint unrolls: the oracle
    // replays all 10 rounds in scale-18 fixed point over HUGEINT
    // (r12, exact). PageRankSpec still pins mass conservation,
    // bit-identical reruns and a double-precision reference
    "d12_pagerank" -> { (s, d) =>
      val pairs = Dedup.embeddingNearDups(
        t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
      // the 12-decimal rounding happens in EXACT decimal arithmetic
      // and only the <= 2^53 integer converts to double (r19, found by
      // the sf1 heavy-ten oracle sidecar): the old round(cast(double))
      // let each engine convert the full scale-18 value first — ONE
      // rounding in Spark (decimal -> nearest double), TWO in DuckDB
      // (hugeint -> double, then /1e18) — and at sf1 one node's rank
      // landed on opposite sides of the 1e-12 half-boundary
      PageRank.run(pairs, "a_id", "b_id", iters = 10)
        .select(col("node").as("vec_id"),
          (round(col("rank") * lit(1000000000000L), 0).cast("double") /
            lit(1e12)).as("rank"))
        .orderBy("vec_id")
    },

    // semantic dedup (SemDeDup, arXiv:2303.09540): k-means cells
    // confine the near-dup cosine search to within-cluster blocks —
    // the linear-cost semantic twin of d5's exact pair search. Keep
    // policy: min id per dup set survives. Exact oracle as of r12
    // (OracleVec replays the fitLocal quantizer in DuckDB SQL);
    // SemDedupSpec still pins the same-cell differential vs d5,
    // planted-dup recall, and bit-identical reruns.
    "d11_semantic_dedup" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      // fit/apply split: the quantizer is an index-build artifact
      // (bounded-sample fitLocal — one job), reused by the dedup pass;
      // the production shape per VERDICT r2's s3 lesson
      val quant = graft.operators.KMeans.fitLocal(
        emb, "vec_id", "embedding", k = 8, iters = 2)
      SemDedup.dedup(emb, "vec_id", "embedding",
          threshold = 0.4, blocks = 4, quantizer = Some(quant))
        .select(col("id").as("vec_id"), col("cell"), col("keep"),
          col("n_dup_pairs"))
        .orderBy("vec_id")
    },

    // KMV distinct sketch vs exact: bounded-state cardinality per
    // group. Exact-oracle as of r12 (the XXH64 family is replayed in
    // DuckDB SQL below); KmvSketchSpec still pins the accuracy and
    // partition-invariance contracts.
    "d6_kmv_distinct" -> { (s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(call_function("graft_kmv_distinct", col("l_partkey"), lit(256))
            .as("est_distinct"),
          countDistinct(col("l_partkey")).as("exact_distinct"))
        .orderBy("l_returnflag")
    }
  )


  /** Shared DuckDB replay of the MinHash family (VERDICT r11 item 3):
    * distinct char 5-shingles -> Spark's Murmur3_x86_32.hashUnsafeBytes
    * (one 4-byte little-endian block + one per-byte tail step + fmix,
    * seeds 42 then h1 — exactly MinHashExpression's family) in 32-bit
    * arithmetic over HUGEINT, -> 128 double-hash lanes mod 1e9+7 ->
    * 16 8-lane bands. Stages are MATERIALIZED so each reused column is
    * computed once (DuckDB inlines lateral aliases textually — a
    * chained x^(x>>16) would blow up exponentially otherwise). Valid
    * because the testdata text is pure ASCII (octet_length == length
    * for every document at every SF): each 5-char shingle is exactly 5
    * positive bytes, so Spark's sign-extended tail bytes and UTF-8
    * multi-byte offsets never diverge from ascii(). Band collision is
    * joined on SLICE equality where Spark compares xxhash64(slice) —
    * identical output unless two unequal 8-lane slices collide in a
    * 64-bit hash (~2^-64 per band pair; zero at any tested SF). */
  private[queries] val minhashBandsCte: String =
"""WITH sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, substring(text, i, 5) AS s
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS i
        FROM documents WHERE length(text) >= 5)
),
m1 AS MATERIALIZED (
  SELECT doc_id,
    ((ascii(substring(s,1,1))::HUGEINT + ascii(substring(s,2,1))::HUGEINT * 256
      + ascii(substring(s,3,1))::HUGEINT * 65536
      + ascii(substring(s,4,1))::HUGEINT * 16777216) * 3432918353::HUGEINT) % 4294967296::HUGEINT AS w1,
    (ascii(substring(s,5,1))::HUGEINT * 3432918353::HUGEINT) % 4294967296::HUGEINT AS w2
  FROM sh
),
m2 AS MATERIALIZED (
  SELECT doc_id,
    (((w1 * 32768::HUGEINT) % 4294967296::HUGEINT | w1 // 131072::HUGEINT) * 461845907::HUGEINT) % 4294967296::HUGEINT AS k1,
    (((w2 * 32768::HUGEINT) % 4294967296::HUGEINT | w2 // 131072::HUGEINT) * 461845907::HUGEINT) % 4294967296::HUGEINT AS k2
  FROM m1
),
m3 AS MATERIALIZED (
  SELECT doc_id, k1, k2, xor(42::HUGEINT, k1) AS v FROM m2
),
m4 AS MATERIALIZED (
  SELECT doc_id, k1, k2,
    xor((((v * 8192::HUGEINT) % 4294967296::HUGEINT | v // 524288::HUGEINT) * 5::HUGEINT
      + 3864292196::HUGEINT) % 4294967296::HUGEINT, k2) AS v
  FROM m3
),
m5 AS MATERIALIZED (
  SELECT doc_id, k1, k2,
    xor((((v * 8192::HUGEINT) % 4294967296::HUGEINT | v // 524288::HUGEINT) * 5::HUGEINT
      + 3864292196::HUGEINT) % 4294967296::HUGEINT, 5::HUGEINT) AS v
  FROM m4
),
m6 AS MATERIALIZED (
  SELECT doc_id, k1, k2, (xor(v, v // 65536::HUGEINT) * 2246822507::HUGEINT) % 4294967296::HUGEINT AS v FROM m5
),
m7 AS MATERIALIZED (
  SELECT doc_id, k1, k2, (xor(v, v // 8192::HUGEINT) * 3266489909::HUGEINT) % 4294967296::HUGEINT AS v FROM m6
),
m8 AS MATERIALIZED (
  SELECT doc_id, k1, k2, xor(v, v // 65536::HUGEINT) AS h1u FROM m7
),
m9 AS MATERIALIZED (
  SELECT doc_id, k2, h1u, xor(h1u, k1) AS v FROM m8
),
m10 AS MATERIALIZED (
  SELECT doc_id, h1u,
    xor((((v * 8192::HUGEINT) % 4294967296::HUGEINT | v // 524288::HUGEINT) * 5::HUGEINT
      + 3864292196::HUGEINT) % 4294967296::HUGEINT, k2) AS v
  FROM m9
),
m11 AS MATERIALIZED (
  SELECT doc_id, h1u,
    xor((((v * 8192::HUGEINT) % 4294967296::HUGEINT | v // 524288::HUGEINT) * 5::HUGEINT
      + 3864292196::HUGEINT) % 4294967296::HUGEINT, 5::HUGEINT) AS v
  FROM m10
),
m12 AS MATERIALIZED (
  SELECT doc_id, h1u, (xor(v, v // 65536::HUGEINT) * 2246822507::HUGEINT) % 4294967296::HUGEINT AS v FROM m11
),
m13 AS MATERIALIZED (
  SELECT doc_id, h1u, (xor(v, v // 8192::HUGEINT) * 3266489909::HUGEINT) % 4294967296::HUGEINT AS v FROM m12
),
hp AS MATERIALIZED (
  SELECT doc_id,
    (((CASE WHEN h1u >= 2147483648::HUGEINT THEN h1u - 4294967296::HUGEINT ELSE h1u END) % 1000000007 + 1000000007) % 1000000007)::BIGINT AS h1p,
    (((CASE WHEN v2 >= 2147483648::HUGEINT THEN v2 - 4294967296::HUGEINT ELSE v2 END) % 1000000007 + 1000000007) % 1000000007)::BIGINT AS h2p
  FROM (SELECT doc_id, h1u, xor(v, v // 65536::HUGEINT) AS v2 FROM m13)
),
lanes AS MATERIALIZED (
  SELECT doc_id, i, MIN((h1p + i * h2p) % 1000000007) AS lane
  FROM hp, range(0, 128) t(i) GROUP BY doc_id, i
),
bands AS MATERIALIZED (
  SELECT doc_id, b, sig[b*8+1 : b*8+8] AS bs
  FROM (SELECT doc_id, list(lane ORDER BY i) AS sig FROM lanes GROUP BY doc_id),
       range(0, 16) t(b)
)
"""

  val oracle: Map[String, String] = Map(
    // exact replay of the d2 pipeline (see minhashBandsCte)
    "d2_minhash_lsh" -> (minhashBandsCte + """
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS n_bands
        |FROM bands a JOIN bands b
        |  ON a.b = b.b AND a.bs = b.bs AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin),

    // exact replay of the d9 cross-corpus probe: same bands, corpus
    // (doc_id %5 != 0) joined against batch (doc_id %5 == 0)
    "d9_cross_dedup" -> (minhashBandsCte + """
        |SELECT c.doc_id AS corpus_id, p.doc_id AS batch_id, COUNT(*)::BIGINT AS n_bands
        |FROM bands c JOIN bands p
        |  ON c.b = p.b AND c.bs = p.bs AND c.doc_id <> p.doc_id
        |WHERE c.doc_id % 5 <> 0 AND p.doc_id % 5 = 0
        |GROUP BY 1, 2 ORDER BY corpus_id, batch_id""".stripMargin),

    // exact replay of d3 (r12): Spark's XXH64 (seed 42) of each
    // whitespace token, staged in 64-bit-wrapping arithmetic over
    // HUGEINT (multiplies via 32-bit limb split, rotates as
    // shift-and-add of disjoint bit ranges, xor/shift native), then
    // the 64 per-bit signed votes with token MULTIPLICITY (split, not
    // distinct). Valid because every token is pure ASCII (ascii() ==
    // byte value) and <= 15 bytes: one 8-byte lane + one 4-byte lane
    // + up to 3 tail bytes covers it, and the corpus vocabulary maxes
    // at 8. Hash computed once per DISTINCT token, joined back.
    "d3_simhash" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS t
        |  FROM documents),
        | dt AS MATERIALIZED (SELECT DISTINCT t FROM tk),
        | c(b, m, p1, p2, p3, p4, p5) AS (
        |  SELECT CAST('4294967296' AS HUGEINT), CAST('18446744073709551616' AS HUGEINT),
        |         CAST('11400714785074694791' AS HUGEINT), CAST('14029467366897019727' AS HUGEINT),
        |         CAST('1609587929392839161' AS HUGEINT), CAST('9650029242287828579' AS HUGEINT),
        |         CAST('2870177450012600261' AS HUGEINT)),
        | ln AS MATERIALIZED (
        |  SELECT t, CAST(length(t) AS HUGEINT) AS n,
        |    CASE WHEN length(t) >= 8 THEN 1 ELSE 0 END AS o8,
        |    CASE WHEN length(t) - 8 * (CASE WHEN length(t) >= 8 THEN 1 ELSE 0 END) >= 4
        |         THEN 1 ELSE 0 END AS o4
        |  FROM dt),
        | rd AS MATERIALIZED (
        |  SELECT t, n, o8, o4, n - 8*o8 - 4*o4 AS nb,
        |    CAST(ascii(substring(t,1,1)) AS HUGEINT)
        |      + CAST(ascii(substring(t,2,1)) AS HUGEINT) * 256
        |      + CAST(ascii(substring(t,3,1)) AS HUGEINT) * 65536
        |      + CAST(ascii(substring(t,4,1)) AS HUGEINT) * 16777216
        |      + CAST(ascii(substring(t,5,1)) AS HUGEINT) * 4294967296
        |      + CAST(ascii(substring(t,6,1)) AS HUGEINT) * 1099511627776
        |      + CAST(ascii(substring(t,7,1)) AS HUGEINT) * 281474976710656
        |      + CAST(ascii(substring(t,8,1)) AS HUGEINT) * 72057594037927936 AS w8,
        |    CAST(ascii(substring(t, 1 + 8*o8, 1)) AS HUGEINT)
        |      + CAST(ascii(substring(t, 2 + 8*o8, 1)) AS HUGEINT) * 256
        |      + CAST(ascii(substring(t, 3 + 8*o8, 1)) AS HUGEINT) * 65536
        |      + CAST(ascii(substring(t, 4 + 8*o8, 1)) AS HUGEINT) * 16777216 AS w4,
        |    CAST(ascii(substring(t, 1 + 8*o8 + 4*o4, 1)) AS HUGEINT) AS y0,
        |    CAST(ascii(substring(t, 2 + 8*o8 + 4*o4, 1)) AS HUGEINT) AS y1,
        |    CAST(ascii(substring(t, 3 + 8*o8 + 4*o4, 1)) AS HUGEINT) AS y2
        |  FROM ln),
        | h0 AS MATERIALIZED (SELECT rd.*, c.*, (42 + p5 + n) % m AS h FROM rd, c),
        | e1 AS MATERIALIZED (SELECT *, ((w8 % b) * (p2 % b) + ((((w8 % b) * (p2 // b) + (w8 // b) * (p2 % b)) % b) * b)) % m AS a1 FROM h0),
        | e2 AS MATERIALIZED (SELECT * EXCLUDE (a1), (((a1) * 2147483648) % m) + ((a1) // 8589934592) AS a2 FROM e1),
        | e3 AS MATERIALIZED (SELECT * EXCLUDE (a2), xor(h, ((a2 % b) * (p1 % b) + ((((a2 % b) * (p1 // b) + (a2 // b) * (p1 % b)) % b) * b)) % m) AS a4 FROM e2),
        | e4 AS MATERIALIZED (SELECT * EXCLUDE (a4), (((a4) * 134217728) % m) + ((a4) // 137438953472) AS a5 FROM e3),
        | e5 AS MATERIALIZED (SELECT * EXCLUDE (a5, h, w8, o8),
        |    CASE WHEN o8 = 1 THEN (((a5 % b) * (p1 % b) + ((((a5 % b) * (p1 // b) + (a5 // b) * (p1 % b)) % b) * b)) % m + p4) % m ELSE h END AS h FROM e4),
        | g1 AS MATERIALIZED (SELECT *, xor(h, (w4 * p1) % m) AS b2 FROM e5),
        | g2 AS MATERIALIZED (SELECT * EXCLUDE (b2), (((b2) * 8388608) % m) + ((b2) // 2199023255552) AS b3 FROM g1),
        | g3 AS MATERIALIZED (SELECT * EXCLUDE (b3, h, w4, o4),
        |    CASE WHEN o4 = 1 THEN (((b3 % b) * (p2 % b) + ((((b3 % b) * (p2 // b) + (b3 // b) * (p2 % b)) % b) * b)) % m + p3) % m ELSE h END AS h FROM g2),
        | i1 AS MATERIALIZED (SELECT * EXCLUDE (h, y0),
        |    CASE WHEN nb >= 1 THEN ((((((xor(h, (y0 * p5) % m)) * 2048) % m) + ((xor(h, (y0 * p5) % m)) // 9007199254740992)) % b) * (p1 % b) + ((((((((xor(h, (y0 * p5) % m)) * 2048) % m) + ((xor(h, (y0 * p5) % m)) // 9007199254740992)) % b) * (p1 // b) + (((((xor(h, (y0 * p5) % m)) * 2048) % m) + ((xor(h, (y0 * p5) % m)) // 9007199254740992)) // b) * (p1 % b)) % b) * b)) % m ELSE h END AS h
        |  FROM g3),
        | i2 AS MATERIALIZED (SELECT * EXCLUDE (h, y1),
        |    CASE WHEN nb >= 2 THEN ((((((xor(h, (y1 * p5) % m)) * 2048) % m) + ((xor(h, (y1 * p5) % m)) // 9007199254740992)) % b) * (p1 % b) + ((((((((xor(h, (y1 * p5) % m)) * 2048) % m) + ((xor(h, (y1 * p5) % m)) // 9007199254740992)) % b) * (p1 // b) + (((((xor(h, (y1 * p5) % m)) * 2048) % m) + ((xor(h, (y1 * p5) % m)) // 9007199254740992)) // b) * (p1 % b)) % b) * b)) % m ELSE h END AS h
        |  FROM i1),
        | i3 AS MATERIALIZED (SELECT * EXCLUDE (h, y2, nb),
        |    CASE WHEN nb >= 3 THEN ((((((xor(h, (y2 * p5) % m)) * 2048) % m) + ((xor(h, (y2 * p5) % m)) // 9007199254740992)) % b) * (p1 % b) + ((((((((xor(h, (y2 * p5) % m)) * 2048) % m) + ((xor(h, (y2 * p5) % m)) // 9007199254740992)) % b) * (p1 // b) + (((((xor(h, (y2 * p5) % m)) * 2048) % m) + ((xor(h, (y2 * p5) % m)) // 9007199254740992)) // b) * (p1 % b)) % b) * b)) % m ELSE h END AS h
        |  FROM i2),
        | f1 AS MATERIALIZED (SELECT * EXCLUDE (h), xor(h, h // 8589934592) AS x1 FROM i3),
        | f2 AS MATERIALIZED (SELECT * EXCLUDE (x1), ((x1 % b) * (p2 % b) + ((((x1 % b) * (p2 // b) + (x1 // b) * (p2 % b)) % b) * b)) % m AS x2 FROM f1),
        | f3 AS MATERIALIZED (SELECT * EXCLUDE (x2), xor(x2, x2 // 536870912) AS x3 FROM f2),
        | f4 AS MATERIALIZED (SELECT * EXCLUDE (x3), ((x3 % b) * (p3 % b) + ((((x3 % b) * (p3 // b) + (x3 // b) * (p3 % b)) % b) * b)) % m AS x4 FROM f3),
        | th AS MATERIALIZED (SELECT t, xor(x4, x4 // 4294967296) AS h FROM f4),
        | v AS (SELECT tk.doc_id, g.bit,
        |    SUM(CASE WHEN ((th.h >> CAST(g.bit AS INTEGER)) % 2) = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM tk JOIN th USING (t) CROSS JOIN generate_series(0, 63) AS g(bit)
        |  GROUP BY tk.doc_id, g.bit)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN
        |    CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |         ELSE CAST(CAST(1 AS BIGINT) << CAST(bit AS INTEGER) AS HUGEINT) END
        |    ELSE 0 END) AS BIGINT) AS simhash
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact replay of d12 (r12): the 10 PageRank rounds unrolled as
    // chained CTEs in scale-18 fixed point over HUGEINT — HALF_UP
    // division as (2a+b)//(2b), teleport = HALF_UP(HALF_UP(1e36/
    // (n*1e18)) * 0.15e18 / 1e18), per round c = HALF_UP(rank/deg),
    // damping product HALF_UP at scale 18 then an exact add. The
    // within-scale-18 model was grid-validated against Spark's
    // decimal(38,18) promotion chain: every rounding variant agrees
    // below the round(…,12) output grid on this graph. Pairs are the
    // d5 oracle's cosine join.
    "d12_pagerank" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM emb
        |   WHERE list_dot_product(v, v) > 0),
        | pr AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM nn a JOIN nn b
        |   ON a.vec_id < b.vec_id
        |   WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4),
        | ed AS (SELECT pa AS u, pb AS v FROM pr UNION SELECT pb, pa FROM pr),
        | dg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS HUGEINT) AS deg FROM ed GROUP BY u),
        | cst AS (SELECT CAST('1000000000000000000' AS HUGEINT) AS s,
        |   CAST('850000000000000000' AS HUGEINT) AS dd,
        |   CAST('150000000000000000' AS HUGEINT) AS q,
        |   (SELECT CAST(COUNT(*) AS HUGEINT) FROM dg) AS n),
        | c2 AS (SELECT *,
        |   (2*(s*s) + (n*s)) // (2*(n*s)) AS t0 FROM cst),
        | c3 AS (SELECT *, (2*(t0*q) + s) // (2*s) AS tp FROM c2),
        | r0 AS MATERIALIZED (SELECT u AS node, t0 AS r FROM dg, c3),
        | m1 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r0 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r1 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m1 m ON d.u = m.node, c3),
        | m2 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r1 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r2 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m2 m ON d.u = m.node, c3),
        | m3 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r2 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r3 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m3 m ON d.u = m.node, c3),
        | m4 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r3 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r4 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m4 m ON d.u = m.node, c3),
        | m5 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r4 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r5 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m5 m ON d.u = m.node, c3),
        | m6 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r5 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r6 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m6 m ON d.u = m.node, c3),
        | m7 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r6 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r7 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m7 m ON d.u = m.node, c3),
        | m8 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r7 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r8 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m8 m ON d.u = m.node, c3),
        | m9 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r8 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r9 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m9 m ON d.u = m.node, c3),
        | m10 AS (SELECT e.v AS node, SUM((2*r.r + d.deg) // (2*d.deg)) AS mass
        |   FROM ed e JOIN r9 r ON e.u = r.node JOIN dg d ON e.u = d.u GROUP BY e.v),
        | r10 AS MATERIALIZED (SELECT d.u AS node,
        |   tp + (2*(dd*COALESCE(m.mass, 0)) + s) // (2*s) AS r
        |   FROM dg d LEFT JOIN m10 m ON d.u = m.node, c3)
        |SELECT node AS vec_id,
        |  CAST((r + 500000) // 1000000 AS DOUBLE)/1e12 AS rank
        |FROM r10 ORDER BY vec_id""".stripMargin,

    // exact replay of d6 (r12): XXH64 of the BIGINT part key (one
    // 8-byte lane, same HUGEINT staging), per-group unsigned k-th
    // minimum of DISTINCT hashes, and the Bar-Yossef (k-1)/u estimate
    // replaying Java's exact double-rounding ORDER: the flipped
    // signed hash is converted to double BEFORE re-biasing by 2^63 —
    // converting the unsigned value first can differ in the last ulp
    // (2048- vs 1024-granular rounding near 2^64).
    "d6_kmv_distinct" ->
      """WITH u AS MATERIALIZED (
        |  SELECT DISTINCT l_returnflag, CAST(l_partkey AS HUGEINT) AS v FROM lineitem),
        | c(b, m, p1, p2, p3, p4, p5) AS (
        |  SELECT CAST('4294967296' AS HUGEINT), CAST('18446744073709551616' AS HUGEINT),
        |         CAST('11400714785074694791' AS HUGEINT), CAST('14029467366897019727' AS HUGEINT),
        |         CAST('1609587929392839161' AS HUGEINT), CAST('9650029242287828579' AS HUGEINT),
        |         CAST('2870177450012600261' AS HUGEINT)),
        | s1 AS MATERIALIZED (
        |  SELECT l_returnflag, v,
        |    ((v % b) * (p2 % b) + ((((v % b) * (p2 // b) + (v // b) * (p2 % b)) % b) * b)) % m AS vp2
        |  FROM u, c),
        | s2 AS MATERIALIZED (
        |  SELECT l_returnflag, v, ((vp2 * 2147483648) % m) + (vp2 // 8589934592) AS r31 FROM s1, c),
        | s3 AS MATERIALIZED (
        |  SELECT l_returnflag, v,
        |    ((r31 % b) * (p1 % b) + ((((r31 % b) * (p1 // b) + (r31 // b) * (p1 % b)) % b) * b)) % m AS k1
        |  FROM s2, c),
        | s4 AS MATERIALIZED (
        |  SELECT l_returnflag, v, xor((42 + p5 + 8) % m, k1) AS h1 FROM s3, c),
        | s5 AS MATERIALIZED (
        |  SELECT l_returnflag, v, ((h1 * 134217728) % m) + (h1 // 137438953472) AS r27 FROM s4, c),
        | s6 AS MATERIALIZED (
        |  SELECT l_returnflag, v,
        |    (((r27 % b) * (p1 % b) + ((((r27 % b) * (p1 // b) + (r27 // b) * (p1 % b)) % b) * b)) % m + p4) % m AS h2
        |  FROM s5, c),
        | f1 AS MATERIALIZED (SELECT l_returnflag, v, xor(h2, h2 // 8589934592) AS x1 FROM s6),
        | f2 AS MATERIALIZED (
        |  SELECT l_returnflag, v,
        |    ((x1 % b) * (p2 % b) + ((((x1 % b) * (p2 // b) + (x1 // b) * (p2 % b)) % b) * b)) % m AS x2
        |  FROM f1, c),
        | f3 AS MATERIALIZED (SELECT l_returnflag, v, xor(x2, x2 // 536870912) AS x3 FROM f2),
        | f4 AS MATERIALIZED (
        |  SELECT l_returnflag, v,
        |    ((x3 % b) * (p3 % b) + ((((x3 % b) * (p3 // b) + (x3 // b) * (p3 % b)) % b) * b)) % m AS x4
        |  FROM f3, c),
        | hsh AS MATERIALIZED (SELECT l_returnflag, v, xor(x4, x4 // 4294967296) AS h FROM f4),
        | rk AS (SELECT l_returnflag, h,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS nh
        |  FROM (SELECT DISTINCT l_returnflag, h FROM hsh)),
        | est AS (SELECT l_returnflag, CASE WHEN MAX(nh) < 256 THEN CAST(MAX(nh) AS DOUBLE)
        |    ELSE 255.0 / ((CAST(MAX(CASE WHEN rn = 256 THEN h END)
        |                     - 9223372036854775808 AS DOUBLE)
        |                   - (-9223372036854775808.0) + 1.0)
        |                  / 18446744073709551616.0) END AS est_distinct FROM rk GROUP BY l_returnflag)
        |SELECT e.l_returnflag, e.est_distinct, x.exact_distinct
        |FROM est e JOIN (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct
        |  FROM lineitem GROUP BY l_returnflag) x USING (l_returnflag)
        |ORDER BY e.l_returnflag""".stripMargin,

    // all 50-grams, diagonal consecutive-run scan: a common substring
    // of length L contributes a run of L-49 aligned 50-grams on one
    // (pa - pb) diagonal, so lcs_len = 49 + max run
    "d15_exact_substr" ->
      """WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 50) AS gram
        |  FROM documents CROSS JOIN generate_series(1, 100000) AS gs(i)
        |  WHERE i <= length(text) - 49),
        | sh AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.pos AS pa, b.pos AS pb
        |   FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        | d AS (SELECT a_id, b_id, pa - pb AS diag, pa,
        |    pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, pa - pb
        |      ORDER BY pa) AS grp
        |   FROM sh),
        | runs AS (SELECT a_id, b_id, COUNT(*) AS run
        |   FROM d GROUP BY a_id, b_id, diag, grp)
        |SELECT a_id, b_id, CAST(49 + MAX(run) AS BIGINT) AS lcs_len
        |FROM runs GROUP BY a_id, b_id ORDER BY a_id, b_id""".stripMargin,

    // spans = maximal diagonal runs cut from the HIGHER doc
    // (keep-first), interval-merged per doc (gaps-and-islands)
    "d16_substr_remove" ->
      """WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 50) AS gram
        |  FROM documents CROSS JOIN generate_series(1, 100000) AS gs(i)
        |  WHERE i <= length(text) - 49),
        | sh AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.pos AS pa, b.pos AS pb
        |   FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        | dd AS (SELECT a_id, b_id, pa - pb AS diag, pb,
        |    pb - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, pa - pb
        |      ORDER BY pb) AS grp
        |   FROM sh),
        | runs AS (SELECT b_id AS doc, MIN(pb) AS s,
        |    MIN(pb) + COUNT(*) + 49 AS e
        |   FROM dd GROUP BY a_id, b_id, diag, grp),
        | sp AS (SELECT DISTINCT doc, s, e FROM runs),
        | mk AS (SELECT doc, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) THEN 1 ELSE 0 END AS ng
        |   FROM sp),
        | isl AS (SELECT doc, s, e,
        |    SUM(ng) OVER (PARTITION BY doc ORDER BY s, e) AS island FROM mk),
        | mg AS (SELECT doc, MIN(s) AS ms, MAX(e) AS me
        |   FROM isl GROUP BY doc, island)
        |SELECT doc AS doc_id, CAST(length(text) AS BIGINT) AS chars_before,
        | CAST(length(text) - SUM(me - ms) AS BIGINT) AS chars_after
        |FROM mg JOIN documents ON documents.doc_id = mg.doc
        |GROUP BY doc, length(text) ORDER BY doc_id""".stripMargin,

    "d17_cross_substr" ->
      """WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 50) AS gram
        |  FROM documents CROSS JOIN generate_series(1, 100000) AS gs(i)
        |  WHERE i <= length(text) - 49),
        | sh AS (SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS batch_id,
        |    c.pos AS pa, b.pos AS pb
        |   FROM g c JOIN g b ON c.gram = b.gram
        |   WHERE c.doc_id % 5 <> 0 AND b.doc_id % 5 = 0),
        | dd AS (SELECT corpus_id, batch_id, pa - pb AS diag, pa,
        |    pa - ROW_NUMBER() OVER (PARTITION BY corpus_id, batch_id, pa - pb
        |      ORDER BY pa) AS grp
        |   FROM sh),
        | runs AS (SELECT corpus_id, batch_id, COUNT(*) AS run
        |   FROM dd GROUP BY corpus_id, batch_id, diag, grp)
        |SELECT corpus_id, batch_id, CAST(49 + MAX(run) AS BIGINT) AS lcs_len
        |FROM runs GROUP BY corpus_id, batch_id
        |ORDER BY corpus_id, batch_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        | COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "d4_ngram_jaccard" ->
      """WITH shall AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s
        |  FROM documents CROSS JOIN generate_series(1, 50000) AS g(i)
        |  WHERE i <= length(text) - 4),
        | keep AS (SELECT s FROM shall GROUP BY s HAVING COUNT(*) <= 50),
        | sh AS (SELECT doc_id, shall.s FROM shall JOIN keep USING (s)),
        | sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        | com AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jac
        |FROM com JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |WHERE c >= 5 AND CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,

    "d5_embedding_neardup" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM emb
        |   WHERE list_dot_product(v, v) > 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) AS cos
        |FROM nn a JOIN nn b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    // exact replay of d11 (r12): OracleVec's fitLocal quantizer
    // replay (k=8, 2 Lloyd rounds) + cell assignment + within-cell
    // cosine >= 0.4 pairs + min-id-survives keep labels
    "d11_semantic_dedup" -> OracleVec.d11SemanticDedup,

    "d10_triangles" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM emb
        |   WHERE list_dot_product(v, v) > 0),
        | pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |   FROM nn a JOIN nn b ON a.vec_id < b.vec_id
        |   WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4)
        |SELECT
        | (SELECT COUNT(*) FROM
        |   (SELECT a_id AS n FROM pairs UNION SELECT b_id FROM pairs)) AS n_nodes,
        | (SELECT COUNT(*) FROM pairs) AS n_edges,
        | (SELECT COUNT(*) FROM pairs e1
        |   JOIN pairs e2 ON e2.a_id = e1.a_id AND e2.b_id > e1.b_id
        |   JOIN pairs e3 ON e3.a_id = e1.b_id AND e3.b_id = e2.b_id) AS n_triangles""".stripMargin,

    // transitive closure of the d5 pair graph: component = min
    // reachable vec_id (recursive CTE; UNION dedups so it terminates)
    "d7_dup_clusters" ->
      """WITH RECURSIVE
        | emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | nn AS (SELECT vec_id, v FROM emb WHERE list_dot_product(v, v) > 0),
        | pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |   FROM nn a JOIN nn b ON a.vec_id < b.vec_id
        |   WHERE list_dot_product(a.v, b.v) /
        |     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
        | edges AS (SELECT a_id AS u, b_id AS w FROM pairs
        |   UNION SELECT b_id, a_id FROM pairs),
        | reach(node, r) AS (
        |   SELECT vec_id, vec_id FROM nn
        |   UNION
        |   SELECT e.w, reach.r FROM reach JOIN edges e ON e.u = reach.node)
        |SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
        |ORDER BY vec_id""".stripMargin
  )
}
