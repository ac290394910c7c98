package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ql._
import graft.streaming.EventStreams
import graft.multimodal.Binary

/** Events + multimodal batch queries (SURVEY §2.6/§2.7). Streaming
  * variants of e1/e2 are spec-tested (StreamingSpec) — the driver
  * correctness gate is batch-only. */
object EventQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_tumbling_window" -> { (s, d) =>
      EventStreams.tumblingHourly(events(s, d))
        .orderBy("hour", "event_type")
    },

    "e2_sessionization" -> { (s, d) =>
      EventStreams.sessionStats(events(s, d))
        .orderBy("user_id")
    },

    "e3_user_funnel" -> { (s, d) =>
      def n(t: String) = sum(when(col("event_type") === t, 1).otherwise(0))
        .cast("long").as(s"n_$t")
      events(s, d).groupBy("user_id")
        .agg(n("view"), n("click"), n("purchase"), n("signup"), n("error"),
          when(sum(when(col("event_type") === "click", 1).otherwise(0)) === 0, lit(null))
            .otherwise(
              sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("double") /
                sum(when(col("event_type") === "click", 1).otherwise(0)))
            .as("purchase_per_click"))
        .orderBy("user_id")
    },

    // sliding windows: each event lands in 4 overlapping hourly
    // windows stepped by 15 min (epoch-aligned like the streaming
    // variant). The oracle replays it as a generated window-start
    // series joined on containment.
    "e5_sliding_window" -> { (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    },

    // cohort retention: users bucketed by first-active day; how many
    // return exactly 7 days later. ONE distinct-activity shuffle + a
    // per-user min + join back — the standard product-analytics shape.
    "e4_retention_cohorts" -> { (s, d) =>
      val act = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = act.groupBy("user_id").agg(min(col("day")).as("cohort"))
      first.join(act, "user_id")
        .groupBy("cohort")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(datediff(col("day"), col("cohort")) === 7,
            col("user_id"))).as("retained_7d"))
        .withColumn("retention",
          col("retained_7d").cast("double") / col("n_users"))
        .orderBy("cohort")
    },

    // peak concurrency: how many sessions were simultaneously open at
    // the busiest instant — the sweep-line +1/-1 boundary sum. The
    // running sum uses PrefixSum.runningSumLong (range-repartitioned
    // two-phase scan), NOT an unpartitioned window: a global window
    // would drag every boundary row into ONE task at scale.
    "e6_peak_concurrency" -> { (s, d) =>
      import graft.operators.PrefixSum
      // eager localCheckpoint: the boundary frame is consumed by three
      // PrefixSum passes (sample, partials, final) + the peak agg —
      // without it the sessionization window re-executes per pass
      val sess = EventStreams.sessionIntervals(events(s, d))
        .localCheckpoint(true)
      val bounds = sess.select(col("st").as("ts"), lit(0).as("ord"),
          lit(1L).as("delta"), col("user_id"), col("session_id"))
        .unionAll(sess.select(col("en").as("ts"), lit(1).as("ord"),
          lit(-1L).as("delta"), col("user_id"), col("session_id")))
      // total order: (ts, +1-before--1, user, session) — deterministic
      val run = PrefixSum.runningSumLong(bounds,
        Seq("ts", "ord", "user_id", "session_id"), "delta", "conc")
      // ONE pass over the running frame: argmax via max-of-struct
      // (peak conc, then earliest ts at that conc via negated micros);
      // n_sessions rides along as count(boundaries)/2
      run.agg(
          max(struct(col("conc"),
            (-unix_micros(col("ts"))).as("nts"))).as("pk"),
          (count(lit(1)) / 2).cast("long").as("n_sessions"))
        .select(col("pk.conc").as("peak_concurrency"),
          timestamp_micros(-col("pk.nts")).as("peak_ts"),
          col("n_sessions"))
    },

    // sessionization via the BUILT-IN session_window (e2 builds the
    // same islands by hand with lag + cumsum — this is the engine-
    // native form, and the one whose streaming twin needs zero custom
    // state code). Same island rule as e2 (a gap of exactly 30 min
    // merges: Spark merges start <= open end); output is the window
    // itself, end = last event + gap.
    "e9_session_window" -> { (s, d) =>
      EventStreams.sessionWindows(events(s, d))
        .orderBy("user_id", "ws")
    },

    // ORDER-aware funnel (e3 counts events; this one requires the
    // sequence): a user converts iff a purchase happens strictly
    // AFTER their first view. Two per-user aggregations, one shuffle:
    // min view ts rides along, the purchase probe is a conditional
    // min over the same grouped pass via a self-join-free two-step.
    "e7_funnel_sequence" -> { (s, d) =>
      val ev = events(s, d)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(firstView, "user_id")
        .filter(col("ts") > col("first_view"))
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts")) - unix_micros(col("first_view")))
          .as("us_to_convert"))
      firstView.join(conv, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_viewers"),
          count(col("us_to_convert")).as("n_converted"),
          (sum(col("us_to_convert")).cast("double") /
            count(col("us_to_convert"))).as("avg_us_to_convert"))
    },

    // marketing attribution (first-touch × last-touch): per purchase,
    // the user's first-ever event type and the event immediately
    // preceding the purchase, rolled up to an attribution matrix with
    // exact-decimal revenue. Two frames over ONE per-user window —
    // partitioned, no global sort; (ts, event_id) total order keeps
    // both engines deterministic.
    "e10_attribution" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("first_touch", first(col("event_type")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("last_touch",
          coalesce(lag(col("event_type"), 1).over(byUser), lit("none")))
        .filter(col("event_type") === "purchase")
        .groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("first_touch", "last_touch")
    },

    // conversion-deadline funnel: a click converts iff the SAME user
    // purchases within 30 minutes. "Next purchase after each event" is
    // a conditional running min over the forward frame of the per-user
    // window (no self-join, no as-of machinery); integer-microsecond
    // delays keep the mean division the only double op.
    "e11_deadline_funnel" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val fwd = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val deadline = 30L * 60 * 1000000
      events(s, d)
        .withColumn("next_purchase", min(
          when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .over(fwd))
        .filter(col("event_type") === "click")
        .withColumn("delay_us",
          col("next_purchase") - unix_micros(col("ts")))
        .agg(count(lit(1)).as("n_clicks"),
          sum((col("delay_us") > 0 && col("delay_us") <= deadline)
            .cast("long")).as("n_converted"),
          (sum(when(col("delay_us") > 0 && col("delay_us") <= deadline,
              col("delay_us"))).cast("double") /
            sum((col("delay_us") > 0 && col("delay_us") <= deadline)
              .cast("long"))).as("avg_delay_us"))
    },

    // semi-structured payloads: the JSON props column parsed in-flight
    // (schema-on-read — the raw string stays in the lake, the engine
    // projects typed fields at scan time; codegen'd JSON path, no UDF)
    "e8_props_json" -> { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      events(s, d)
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("distinct_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    "m1_binary_meta" -> { (s, d) =>
      Binary.asOpaque(t(s, d, "documents"), "doc_id", "text", "text/plain")
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          sha2(col("media"), 256).as("sha"))
        .orderBy("media_id")
    },

    // frame sampling + decode through the REAL mapPartitions plumbing
    // (per-partition decoder lifecycle), made oracle-exact: the fake
    // codec's features are k/255 for byte k of a 64-bit polynomial
    // byte-fold, so round(f*255) recovers the bytes and re-packing them
    // yields the fold value — pure integer arithmetic DuckDB replays
    // via hex expansion + HUGEINT mod-2^64 folds. The top byte enters
    // sign-extended so the packed long never overflows (ANSI-safe).
    "m2_frame_features" -> { (s, d) =>
      frameFingerprints(s, d).orderBy("media_id", "frame_no")
    },

    // frame-level exact dedup: the m2 fingerprints collapsed by value —
    // the multimodal analogue of d1 (dedup the decoded FRAMES, not the
    // raw bytes: re-encoded copies of the same content share frame
    // fingerprints even when container bytes differ). One groupBy
    // shuffle over the mapPartitions decode output.
    "m3_frame_dedup" -> { (s, d) =>
      frameFingerprints(s, d)
        .groupBy("fingerprint")
        .agg(min(col("media_id")).as("keep_media"),
          count(lit(1)).as("n_frames"))
        .orderBy("fingerprint")
    },

    // JSONL interchange round trip with quarantine (M4, previously
    // spec-only): stage the corpus as JSONL with a deterministic fault
    // — every doc_id % 97 == 0 line loses its closing brace — then read
    // it back through the real permissive-mode parse. Clean rows prove
    // the JSON round trip (ids + text length survive); quarantined rows
    // prove capture-not-drop AND salvageability (the raw line is kept,
    // so the id is re-extractable by regexp — the triage a production
    // crawl pipeline runs on its quarantine frame). One staged write +
    // one cached read; the oracle replays the fault rule on the parquet
    // source directly.
    "m4_jsonl_quarantine" -> { (s, d) =>
      import graft.sources.Jsonl
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("graft-m4-jsonl").toString
      val line = to_json(struct(col("doc_id"), col("lang"), col("text")))
      t(s, d, "documents")
        .select(when(col("doc_id") % 97 === 0,
            line.substr(lit(1), length(line) - 1)).otherwise(line).as("value"))
        .write.mode("overwrite").text(dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      val (clean, quar) = Jsonl.readWithQuarantine(s, dir, schema)
      val a = clean.agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
        .select(lit("clean").as("status"), col("n"), col("sum_ids"), col("sum_chars"))
      val b = quar.agg(count(lit(1)).as("n"),
        sum(regexp_extract(col(Jsonl.CorruptCol), "\"doc_id\":(\\d+)", 1)
          .cast("long")).as("sum_ids"))
        .select(lit("quarantined").as("status"), col("n"), col("sum_ids"),
          lit(null).cast("long").as("sum_chars"))
      a.unionByName(b).orderBy("status")
    },

    // the REAL-codec pipeline under the exact oracle (M2/M5, previously
    // spec-only for genuine bytes): synthesize a 16×12 PNG per doc_id
    // whose pixels are pure integer (id,x,y) arithmetic, NN-resize to
    // 8×6 (source pixel (2x,2y) by the ⌊x·srcW/dstW⌋ rule), re-encode,
    // then decode through ImageIoCodec's mapPartitions path. The 8-dim
    // float features are inverted back to their integer accumulators
    // (channel sums ≤ 12240 < 2^24, so the float round trip is exact),
    // and DuckDB replays decode→resize→decode from the pixel formula
    // alone — PNG being lossless is what the oracle is checking.
    "m5_image_pipeline" -> { (s, d) =>
      import graft.multimodal.{ImageIoCodec, ImageOps}
      val n = lit((8 * 6 * 255).toDouble)
      // spread BEFORE the codec kernels: the documents scan is one
      // task, and synthesize/resize are per-row javax.imageio work
      // pin kept: m5 0.63 -> 0.77 s unpinned (medians, 5 pairs, pinned IQR 0.08 s, 4 cores)
      val png = ImageOps.synthesize(
        graft.ql.spread(t(s, d, "documents").select(col("doc_id").as("media_id"))),
        16, 12)
      val feats = Binary.extractFeatures(ImageOps.resize(png, 8, 6), ImageIoCodec)
      def f(i: Int) = element_at(col("features"), i + 1).cast("double")
      feats.select(col("media_id"),
          f(0).cast("long").as("w"), f(1).cast("long").as("h"),
          round(f(2) * n).cast("long").as("sum_r"),
          round(f(3) * n).cast("long").as("sum_g"),
          round(f(4) * n).cast("long").as("sum_b"),
          round(f(5) * 255).cast("long").as("min_luma"),
          round(f(6) * 255).cast("long").as("max_luma"),
          round(f(7) * n).cast("long").as("sum_luma"))
        .orderBy("media_id")
    }
  )

  /** Shared m2/m3 pipeline: sample 4 frames per document through the
    * real mapPartitions decode path and pack the fake codec's features
    * back into its 64-bit byte-fold (integer-exact, DuckDB-replayable;
    * see m2 scaladoc in the oracle below). */
  private def frameFingerprints(s: SparkSession, d: String): DataFrame = {
    val media = Binary.asOpaque(t(s, d, "documents"), "doc_id", "text", "text/plain")
    val frames = Binary.sampleFrames(media, 4)
    def k(i: Int) =
      round(element_at(col("features"), i + 1).cast("double") * 255).cast("long")
    val low = (0 until 7).map(i => k(i) * lit(1L << (8 * i))).reduce(_ + _)
    val hi = when(k(7) > 127, k(7) - 256).otherwise(k(7)) * lit(1L << 56)
    frames.select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
      (low + hi).as("fingerprint"))
  }

  val oracle: Map[String, String] = Map(
    "e1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour, event_type""".stripMargin,

    "e2_sessionization" ->
      """WITH l AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        | f AS (SELECT user_id, event_id, ts,
        |    CASE WHEN pts IS NULL OR epoch_ms(ts) - epoch_ms(pts) > 1800000
        |      THEN 1 ELSE 0 END AS nf FROM l),
        | s AS (SELECT user_id, SUM(nf) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        | sess AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
        | MAX(n) AS max_session_events
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e3_user_funnel" ->
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        | CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 0 THEN NULL
        |   ELSE CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
        |     / SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) END AS purchase_per_click
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e5_sliding_window" ->
      """WITH bounds AS (SELECT date_trunc('day', MIN(ts)) - INTERVAL 45 MINUTE AS lo,
        |    MAX(ts) AS hi FROM events),
        | st AS (SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ws
        |   FROM bounds)
        |SELECT ws, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN st ON ws <= ts AND ts < ws + INTERVAL 1 HOUR
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    "e4_retention_cohorts" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | f AS (SELECT user_id, MIN(day) AS cohort FROM act GROUP BY user_id)
        |SELECT cohort, COUNT(DISTINCT f.user_id) AS n_users,
        | COUNT(DISTINCT CASE WHEN date_diff('day', cohort, day) = 7
        |   THEN f.user_id END) AS retained_7d,
        | CAST(COUNT(DISTINCT CASE WHEN date_diff('day', cohort, day) = 7
        |   THEN f.user_id END) AS DOUBLE) / COUNT(DISTINCT f.user_id) AS retention
        |FROM f JOIN act ON f.user_id = act.user_id
        |GROUP BY cohort ORDER BY cohort""".stripMargin,

    "e6_peak_concurrency" ->
      """WITH l AS (SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        | f AS (SELECT user_id, event_id, ts,
        |    CASE WHEN pts IS NULL OR epoch_ms(ts) - epoch_ms(pts) > 1800000
        |      THEN 1 ELSE 0 END AS nf FROM l),
        | s AS (SELECT user_id, ts, SUM(nf) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        | sess AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
        |   FROM s GROUP BY user_id, sid),
        | b AS (SELECT st AS ts, 0 AS ord, 1 AS delta, user_id, sid FROM sess
        |   UNION ALL SELECT en, 1, -1, user_id, sid FROM sess),
        | r AS (SELECT ts, SUM(delta) OVER (ORDER BY ts, ord, user_id, sid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b)
        |SELECT CAST((SELECT MAX(conc) FROM r) AS BIGINT) AS peak_concurrency,
        | (SELECT MIN(ts) FROM r WHERE conc = (SELECT MAX(conc) FROM r)) AS peak_ts,
        | (SELECT COUNT(*) FROM sess) AS n_sessions""".stripMargin,

    // gaps-and-islands replay of session_window's boundary rule:
    // strictly > 30 min starts a new island (exact-gap merges, like
    // Spark's start <= open-end merge), we = last + gap
    "e9_session_window" ->
      """WITH l AS (SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        | f AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN pts IS NULL
        |      OR epoch_us(ts) - epoch_us(pts) > 1800000000
        |      THEN 1 ELSE 0 END AS nf FROM l),
        | s AS (SELECT user_id, ts, value, SUM(nf) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, MIN(ts) AS ws, MAX(ts) + INTERVAL 30 MINUTE AS we,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, ws""".stripMargin,

    "e7_funnel_sequence" ->
      """WITH fv AS (SELECT user_id, MIN(ts) AS first_view FROM events
        |   WHERE event_type = 'view' GROUP BY user_id),
        | cv AS (SELECT e.user_id,
        |    MIN(epoch_us(e.ts) - epoch_us(fv.first_view)) AS us_to_convert
        |   FROM events e JOIN fv USING (user_id)
        |   WHERE e.event_type = 'purchase' AND e.ts > fv.first_view
        |   GROUP BY e.user_id)
        |SELECT COUNT(*) AS n_viewers, COUNT(us_to_convert) AS n_converted,
        | CAST(SUM(us_to_convert) AS DOUBLE) / COUNT(us_to_convert)
        |   AS avg_us_to_convert
        |FROM fv LEFT JOIN cv USING (user_id)""".stripMargin,

    "e10_attribution" ->
      """WITH w AS (SELECT user_id, event_id, ts, event_type, value,
        |    FIRST_VALUE(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
        |    COALESCE(LAG(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id), 'none') AS last_touch
        |  FROM events)
        |SELECT first_touch, last_touch, COUNT(*) AS n_purchases,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,

    "e11_deadline_funnel" ->
      """WITH w AS (SELECT user_id, event_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
        |  FROM events),
        | c AS (SELECT np - epoch_us(ts) AS delay_us
        |   FROM w WHERE event_type = 'click')
        |SELECT COUNT(*) AS n_clicks,
        | CAST(SUM(CASE WHEN delay_us > 0 AND delay_us <= 1800000000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        | CAST(SUM(CASE WHEN delay_us > 0 AND delay_us <= 1800000000
        |   THEN delay_us END) AS DOUBLE)
        |  / SUM(CASE WHEN delay_us > 0 AND delay_us <= 1800000000
        |   THEN 1 ELSE 0 END) AS avg_delay_us
        |FROM c""".stripMargin,

    "e8_props_json" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha
        |FROM documents ORDER BY media_id""".stripMargin,

    // mirrors Binary.sampleFrames(n=4) + FakeHashCodec byte-for-byte:
    // hex-expand the utf8 payload, slice the same [i*span, min((i+1)*
    // span, len)) byte ranges, fold signed bytes through a*31+b mod
    // 2^64 (HUGEINT, positive mod), reinterpret as signed BIGINT
    "m2_frame_features" ->
      s"""$frameCte
        |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no, fingerprint
        |FROM fp ORDER BY media_id, frame_no""".stripMargin,

    "m3_frame_dedup" ->
      s"""$frameCte
        |SELECT fingerprint, MIN(media_id) AS keep_media,
        | COUNT(*) AS n_frames
        |FROM fp GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,

    // replays m4's deterministic fault rule (doc_id % 97 = 0 corrupted)
    // directly on the parquet source: clean rows keep their id + text
    // length through the JSON round trip; quarantined rows are counted
    // and their ids salvaged from the raw line
    "m4_jsonl_quarantine" ->
      """SELECT 'clean' AS status, COUNT(*) AS n,
        | CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        | CAST(SUM(length(text)) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT 'quarantined', COUNT(*), CAST(SUM(doc_id) AS BIGINT),
        | CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 97 = 0
        |ORDER BY status""".stripMargin,

    // replays m5's synthesize→resize→decode pixel math from the integer
    // formula: resized pixel (x,y) is source pixel (2x,2y) of the
    // 16×12 synth image for this doc_id; luma is the integer Rec.601
    // fold the codec computes
    "m5_image_pipeline" ->
      """WITH px AS (
        | SELECT d.doc_id AS media_id,
        |  ((7*d.doc_id + 11*(2*t1.x) + 13*(2*t2.y)) % 256 + 256) % 256 AS r,
        |  ((5*d.doc_id + 3*(2*t1.x) + 7*(2*t2.y)) % 256 + 256) % 256 AS g,
        |  ((3*d.doc_id + 5*(2*t1.x) + (2*t2.y)) % 256 + 256) % 256 AS b
        | FROM documents d, range(8) t1(x), range(6) t2(y)
        |), lm AS (
        | SELECT media_id, r, g, b, (299*r + 587*g + 114*b) // 1000 AS luma
        | FROM px
        |)
        |SELECT media_id, CAST(8 AS BIGINT) AS w, CAST(6 AS BIGINT) AS h,
        | CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        | CAST(SUM(b) AS BIGINT) AS sum_b,
        | CAST(MIN(luma) AS BIGINT) AS min_luma,
        | CAST(MAX(luma) AS BIGINT) AS max_luma,
        | CAST(SUM(luma) AS BIGINT) AS sum_luma
        |FROM lm GROUP BY media_id ORDER BY media_id""".stripMargin
  )

  /** Shared m2/m3 oracle fragment: per-frame signed 64-bit fold. */
  private lazy val frameCte: String =
    """WITH m AS (SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx,
      |   octet_length(CAST(text AS BLOB)) AS len,
      |   GREATEST(1, octet_length(CAST(text AS BLOB)) // 4) AS span
      |  FROM documents),
      | f AS (SELECT media_id, hx, len, span,
      |   unnest(range(0, LEAST(4, len))) AS frame_no FROM m),
      | c AS (SELECT media_id, frame_no,
      |   substr(hx, CAST(frame_no*span*2 + 1 AS INT),
      |     CAST((LEAST((frame_no+1)*span, len) - frame_no*span)*2 AS INT)) AS ch
      |  FROM f),
      | b AS (SELECT media_id, frame_no,
      |   list_transform(range(0, length(ch)//2), j ->
      |     16*(strpos('0123456789ABCDEF', substr(ch, CAST(2*j+1 AS INT), 1))-1)
      |      + (strpos('0123456789ABCDEF', substr(ch, CAST(2*j+2 AS INT), 1))-1)) AS bs
      |  FROM c),
      | h AS (SELECT media_id, frame_no,
      |   list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
      |     list_transform(bs, v ->
      |       CAST(CASE WHEN v > 127 THEN v - 256 ELSE v END AS HUGEINT))),
      |     (a, x) -> ((a * 31 + x) % 18446744073709551616
      |       + 18446744073709551616) % 18446744073709551616) AS hu
      |  FROM b),
      | fp AS (SELECT media_id, frame_no,
      |   CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616
      |     ELSE hu END AS BIGINT) AS fingerprint
      |  FROM h)""".stripMargin
}
