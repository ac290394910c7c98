package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ql._

/** Relational extension pack (SURVEY §2.2b, r4): the remaining classic
  * TPC-H shapes, adapted to the driver schema (no partsupp table, no
  * commit/receipt dates, no phone/container columns — each adaptation
  * keeps the SHAPE being exercised: multi-way joins with CASE shares,
  * correlated scalar predicates, EXISTS/NOT-EXISTS chains, scalar
  * subquery + anti-join).
  *
  * Oracle discipline as in Relational: decimal-exact money sums cast
  * to double at the edge, CASE arms kept NULL (SUM skips them) so no
  * zero-literal type coercion differs between engines, deterministic
  * ORDER BY with unique tie-breaks, aliases identical on both sides.
  */
object RelationalExt {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CDC merge (the Delta/Iceberg MERGE INTO shape as plain ops):
    // events replay as a changelog against the customer snapshot —
    // purchases upsert the account balance, errors delete the account,
    // latest (ts, event_id) version wins. One combinable max-struct
    // aggregation over the changelog (map-side partials — hub-safe) +
    // one anti-join; the reduced changelog broadcasts.
    "q_cdc_upsert" -> { (s, d) =>
      import graft.operators.Cdc
      val base = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      val ch = events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id").as("c_custkey"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value"))
      Cdc.applyChanges(base, ch, "c_custkey", "ts", "event_id", "op",
          Seq("c_acctbal" -> col("value")))
        .orderBy("c_custkey")
    },

    // decile bucketing the scale-correct way: exact percentile
    // boundaries in ONE aggregation, broadcast back, bucket by
    // comparison — NOT ntile()/percent_rank() over an unpartitioned
    // window, which drags the whole table into one task. Spark
    // percentile ≡ DuckDB quantile_cont bit-for-bit (t11 precedent).
    "q_decile_bucket" -> { (s, d) =>
      val c = t(s, d, "customer")
      val bs = c.agg(expr(
        "percentile(c_acctbal, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("bs"))
      c.crossJoin(broadcast(bs))
        .select(col("c_acctbal"),
          size(filter(col("bs"), b => col("c_acctbal") > b))
            .cast("long").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
        .orderBy("decile")
    },

    // rolling 7-day spend per customer — a RANGE window frame (value-
    // based, ties-inclusive: every order on the same day joins the
    // frame regardless of sort position, so no tiebreak ambiguity),
    // keyed by day number for engine-portable frame bounds. Partitioned
    // by customer — parallel, no global window.
    "q_rolling_7d" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val o = t(s, d, "orders")
        .withColumn("day", datediff(col("o_orderdate"),
          lit("1970-01-01").cast("timestamp")))
      val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
      o.select(col("o_custkey"), col("o_orderkey"), col("day"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("spend_7d"))
        .orderBy("o_custkey", "day", "o_orderkey")
    },

    // CUBE over (returnflag, linestatus): all four grouping levels in
    // one pass (partial-aggregation friendly). Grouping-null markers
    // coalesced to 'ALL' so both engines compare cleanly.
    "q_cube" -> { (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_price"))
        .orderBy("rf", "ls")
    },

    // set-operation surface: customers active in 1996 split by whether
    // they returned in 1997 — INTERSECT / EXCEPT with their distinct
    // (bag-to-set) semantics; both reduce to aggregate/join shapes
    // Catalyst plans without any special operator.
    "q_set_ops" -> { (s, d) =>
      def active(y: Int) = t(s, d, "orders")
        .filter(year(col("o_orderdate")) === y)
        .select("o_custkey")
      val y96 = active(1996); val y97 = active(1997)
      y96.intersect(y97).withColumn("tag", lit("retained"))
        .unionAll(y96.except(y97).withColumn("tag", lit("churned")))
        .select(col("tag"), col("o_custkey"))
        .orderBy("tag", "o_custkey")
    },

    // SCD2 dimension history (the warehouse slowly-changing-dimension
    // build): the purchase changelog per user becomes validity
    // intervals — valid_from = change ts, valid_to = next change's ts
    // (null = current row). ONE keyed window, no self-join; the shape
    // every dimension-history ETL runs nightly.
    "q_scd2_history" -> { (s, d) =>
      events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
          col("value"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(
          Window.partitionBy("user_id").orderBy("valid_from", "event_id")))
        .select(col("user_id"), col("event_id"), col("valid_from"),
          col("valid_to"), col("value"), col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },

    // ratio-to-report: each nation's share of its REGION's revenue —
    // the percent-of-total window shape. Numerator and denominator are
    // exact decimal sums (group agg + windowed agg over the groups);
    // ONE double division at the edge keeps it bit-reproducible.
    "q_share_of_total" -> { (s, d) =>
      val nations = broadcast(t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name")))
      val byNation = t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(nations, col("c_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      byNation
        .withColumn("region_dec",
          sum(col("rev_dec")).over(Window.partitionBy("r_name")))
        .select(col("r_name"), col("n_name"),
          col("rev_dec").cast("double").as("revenue"),
          (col("rev_dec").cast("double") / col("region_dec").cast("double"))
            .as("share"))
        .orderBy("r_name", "n_name")
    },

    // GROUPING SETS ((rf), (ls)): two independent subtotal reports in
    // ONE pass — the grouping shape rollup (prefix-closed) and cube
    // (power set) can't express. Same partial-agg-friendly plan as
    // q_cube: one expand + one aggregate, no re-scan per set.
    "q_grouping_sets" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_price"))
        .orderBy("rf", "ls")
    },

    // Q8 national market share: a nation's revenue share of PROMO-part
    // volume sold into ASIA, per year. Dims broadcast; the only big
    // shuffles are the lineitem-orders-customer fact joins.
    "q8_market_share" -> { (s, d) =>
      val region = broadcast(t(s, d, "region").filter(col("r_name") === "ASIA"))
      val nc = broadcast(t(s, d, "nation"))
      val ns = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val promo = broadcast(t(s, d, "part").filter(col("p_type") === "PROMO"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      t(s, d, "lineitem")
        .join(promo, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(nc, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(ns, col("s_nationkey") === col("sn_key"))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .groupBy("o_year")
        .agg((coalesce(sum(when(col("supp_nation") === "NATION_5",
              revenue(col("l_extendedprice"), col("l_discount")))).cast("double"), lit(0.0)) /
            sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double"))
          .as("mkt_share"))
        .orderBy("o_year")
    },

    // Q9 product-type profit (adapted: retailprice*quantity as the cost
    // term in place of partsupp supplycost): profit per supplier nation
    // per year, decimal-exact.
    "q9_product_profit" -> { (s, d) =>
      val std = broadcast(t(s, d, "part").filter(col("p_type") === "STANDARD"))
      val ns = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation")))
      val amount = revenue(col("l_extendedprice"), col("l_discount")) -
        (dec(col("p_retailprice")) * dec(col("l_quantity"))).cast("decimal(38,4)")
      t(s, d, "lineitem")
        .join(std, col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(ns, col("s_nationkey") === col("sn_key"))
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .groupBy("nation", "o_year")
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(asc("nation"), desc("o_year"))
    },

    // Q12 shape (adapted: no commit/receipt dates — "late" = shipped
    // more than 90 days after the order date): per lateness bucket,
    // how many high- vs low-priority lineitems.
    "q12_late_shipping" -> { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("late")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_count"))
        .orderBy("late")
    },

    // Q14 promo revenue ratio over one shipping month.
    "q14_promo_revenue" -> { (s, d) =>
      val parts = broadcast(t(s, d, "part")
        .select(col("p_partkey"), col("p_type")))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
            coalesce(sum(when(col("p_type") === "PROMO",
              revenue(col("l_extendedprice"), col("l_discount")))).cast("double"), lit(0.0)) /
            sum(revenue(col("l_extendedprice"), col("l_discount"))).cast("double"))
          .as("promo_revenue"),
          count(lit(1)).as("n"))
    },

    // Q16 shape (adapted: lineitem plays the part-supplier relation;
    // "complaint" suppliers = negative account balance, excluded via
    // anti-join like the NOT IN subquery): distinct suppliers per
    // (brand, type, size) for non-excluded brands/sizes.
    "q16_parts_supplier" -> { (s, d) =>
      val parts = broadcast(t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#9" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)))
      val complaints = t(s, d, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      t(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
    },

    // Q17 small-quantity revenue: lineitems under 20% of their part's
    // average quantity. The correlated scalar predicate is decimal-
    // exact: qty < 0.2*avg ⟺ 5*qty*cnt < sum_qty (no engine-specific
    // decimal-division scale rules on the comparison path).
    "q17_small_quantity" -> { (s, d) =>
      val parts = broadcast(t(s, d, "part").filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey")))
      val li = t(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(dec(col("l_quantity"))).as("sq"), count(lit(1)).as("cq"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(dec(col("l_quantity")) * lit(5) * col("cq") < col("sq"))
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n"))
    },

    // Q21 blame chain: for finished orders, returned ('R') lineitems
    // whose supplier is the ONLY one in a multi-supplier order to have
    // returns — EXISTS (other supplier in order) + NOT EXISTS (other
    // supplier with 'R'), both as equi-joins on the order key.
    "q21_blame_supplier" -> { (s, d) =>
      val ordF = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val li = t(s, d, "lineitem")
      val l1 = li.filter(col("l_returnflag") === "R")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val othersR = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1
        .join(others, col("ok2") === col("ok") && col("sk2") =!= col("sk"), "left_semi")
        .join(othersR, col("ok3") === col("ok") && col("sk3") =!= col("sk"), "left_anti")
        .join(t(s, d, "supplier"), col("sk") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(20)
    },

    // Q11 shape (adapted: lineitem revenue in place of partsupp stock
    // value): parts whose revenue exceeds a fraction of the GLOBAL
    // total — a correlated HAVING against a broadcast scalar.
    "q11_important_parts" -> { (s, d) =>
      val li = t(s, d, "lineitem")
      // r22 (guide §1.2 — one pass, not two): the global total is the
      // DECIMAL sum of the per-part decimal sums (decimal addition is
      // exact and associative, so sum-of-sums ≡ the old direct sum
      // bit-for-bit, and both sides cast to double only at the end).
      // The per-part aggregate materializes once (eager checkpoint,
      // ~|parts| rows) and feeds both the threshold scalar and the
      // filter — ONE lineitem scan instead of two.
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
          .as("dval"))
        .localCheckpoint(true)
      val total = perPart.agg((sum(col("dval"))
        .cast("double") * lit(0.0007)).as("thr"))
      perPart.select(col("l_partkey"), col("dval").cast("double").as("value"))
        .crossJoin(broadcast(total))
        .filter(col("value") > col("thr"))
        .select(col("l_partkey"), col("value"))
        .orderBy(desc("value"), asc("l_partkey"))
    },

    // Q15 shape: suppliers achieving the MAXIMUM windowed revenue —
    // the "create view + global max + join back" pattern, with the
    // max as a broadcast scalar and ties kept deterministically.
    "q15_top_supplier" -> { (s, d) =>
      // r22: the per-supplier view is consumed twice (global max +
      // join-back) — materialize it once (eager checkpoint, ~|suppliers|
      // rows) so the filtered lineitem scan+agg runs ONCE, not inside
      // both the broadcast subtree and the main branch. Values
      // unchanged: same aggregate, same max, same ties.
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revenue(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("total_revenue"))
        .localCheckpoint(true)
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },

    // Q20 shape (adapted: "excess share" in place of partsupp
    // half-year stock): suppliers responsible for more than 20% of
    // some part's total shipped quantity — correlated per-part share
    // + semi-join back to the supplier dimension.
    "q20_excess_suppliers" -> { (s, d) =>
      // ONE lineitem scan: the per-part total is a window sum over the
      // already-reduced (partkey, suppkey) aggregate — decimal addition
      // is exact, so sum-of-per-supplier-sums equals the direct per-part
      // sum bit-for-bit. (The previous formulation aggregated the full
      // fact table twice.)
      val wPart = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      // r22 (guide §2.4 — two operations keyed the same way share one
      // exchange): the agg keyed (l_partkey, l_suppkey) fed a window
      // keyed l_partkey — TWO full-width exchanges, and the profiled
      // second one (8 MB + a GC-heavy re-agg) cost more than the
      // partial agg saved (measured: (pk, sk) pairs are near-unique in
      // lineitem, so map-side partials reduced 600k rows to 8.7 MB —
      // barely below the raw 3-column projection). Repartitioning the
      // RAW rows by l_partkey once satisfies BOTH the aggregation
      // (hash partitioning on a subset of the grouping keys clusters
      // the groups) and the window — one wide shuffle instead of two.
      // Values identical: decimal sums are order-independent.
      val perPartSupp = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("sq"))
      val excess = perPartSupp
        .withColumn("tq", sum(col("sq")).over(wPart))
        .filter(col("sq") * lit(5) > col("tq")) // sq/tq > 0.2, decimal-exact
        .select(col("l_suppkey")).distinct()
      t(s, d, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },

    // Q2 shape (adapted: lineitem unit price in place of partsupp
    // supplycost): for each mid-size part, the supplier rows achieving
    // the part's MINIMUM unit price — correlated min-per-group via a
    // window, filtered back to the argmin rows (ties kept, distinct).
    "q2_min_cost_supplier" -> { (s, d) =>
      val parts = broadcast(t(s, d, "part")
        .filter(col("p_size").between(10, 20))
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("p_partkey")
      t(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .withColumn("unit", col("l_extendedprice") / col("l_quantity"))
        .withColumn("mu", min(col("unit")).over(w))
        .filter(col("unit") === col("mu"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("s_suppkey"), col("s_name"), col("unit").as("unit_price"))
        .distinct()
        .orderBy("p_partkey", "s_suppkey")
    },

    // Q22 shape: customers above the positive-balance average (exact
    // decimal sum / count scalar, broadcast) with no RECENT orders
    // (anti-join; the driver corpus gives every customer some order
    // ever, so "idle" = nothing since 2000), summarized per nation.
    "q22_idle_customers" -> { (s, d) =>
      val cust = t(s, d, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("thr"))
      cust.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .join(t(s, d, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    },

    // blocked entity resolution (the Fellegi-Sunter block-then-verify
    // shape): candidate pairs only WITHIN a cheap deterministic block
    // — (name's noun, size) — then edit-distance verification inside
    // the block. The block join is a plain equi-join (shuffle on the
    // block key, never a cross join); block cardinality is the scale
    // lever — add blocking attributes until the largest block's pair
    // count fits a task (same df-cap argument as d4). Threshold 1
    // keeps exact-duplicate names and single-edit variants
    // ("cold X" ~ "old X" — the corpus's planted near-synonyms).
    "q_entity_resolution" -> { (s, d) =>
      val p = t(s, d, "part").select(
        col("p_partkey"), col("p_name"), col("p_size"),
        substring_index(col("p_name"), " ", -1).as("noun"))
      val a = p.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
        col("noun"), col("p_size"))
      val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
        col("noun"), col("p_size"))
      a.join(b, Seq("noun", "p_size"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"))
        .orderBy("a_key", "b_key")
    }
  )

  private val rev =
    """CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"""

  val oracle: Map[String, String] = Map(
    "q_rolling_7d" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, CAST(day AS INT) AS day,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY day
        |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
        |FROM o ORDER BY o_custkey, day, o_orderkey""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        | COALESCE(l_linestatus, 'ALL') AS ls,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_set_ops" ->
      """WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
        |   WHERE year(o_orderdate) = 1996),
        | y97 AS (SELECT DISTINCT o_custkey FROM orders
        |   WHERE year(o_orderdate) = 1997)
        |SELECT 'retained' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
        |UNION ALL
        |SELECT 'churned' AS tag, o_custkey FROM (
        |  SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q_scd2_history" ->
      """SELECT user_id, event_id, ts AS valid_from,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        | value,
        | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   AS is_current
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q_share_of_total" ->
      """WITH bn AS (SELECT r_name, n_name,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        | CAST(rev_dec AS DOUBLE) /
        |   CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS share
        |FROM bn ORDER BY r_name, n_name""".stripMargin,

    "q_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        | COALESCE(l_linestatus, 'ALL') AS ls,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,

    "q_decile_bucket" ->
      """WITH bs AS (SELECT quantile_cont(c_acctbal,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS b FROM customer),
        | d AS (SELECT c_acctbal,
        |    len(list_filter(b, x -> c_acctbal > x)) AS decile
        |   FROM customer, bs)
        |SELECT decile, COUNT(*) AS n, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,

    "q_cdc_upsert" ->
      """WITH ch AS (SELECT user_id AS c_custkey, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        | rn AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM ch),
        | latest AS (SELECT c_custkey, op, value FROM rn WHERE rn = 1),
        | kept AS (SELECT c.c_custkey, c.c_acctbal FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = c.c_custkey)),
        | ups AS (SELECT c_custkey, value AS c_acctbal FROM latest WHERE op <> 'D')
        |SELECT * FROM kept UNION ALL SELECT * FROM ups ORDER BY c_custkey""".stripMargin,

    "q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | COALESCE(CAST(SUM(CASE WHEN ns.n_name = 'NATION_5' THEN $rev END) AS DOUBLE), 0.0)
        |   / CAST(SUM($rev) AS DOUBLE) AS mkt_share
        |FROM lineitem, part, orders, customer, supplier,
        |  nation nc, nation ns, region
        |WHERE l_partkey = p_partkey AND p_type = 'PROMO'
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_custkey = c_custkey AND c_nationkey = nc.n_nationkey
        |  AND nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND l_suppkey = s_suppkey AND s_nationkey = ns.n_nationkey
        |GROUP BY year(o_orderdate) ORDER BY o_year""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT ns.n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(SUM(($rev) - CAST(CAST(p_retailprice AS DECIMAL(18,2))
        |     * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)
        |   AS sum_profit
        |FROM lineitem, part, orders, supplier, nation ns
        |WHERE l_partkey = p_partkey AND p_type = 'STANDARD'
        |  AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = ns.n_nationkey
        |GROUP BY ns.n_name, year(o_orderdate)
        |ORDER BY nation ASC, o_year DESC""".stripMargin,

    "q12_late_shipping" ->
      """SELECT l_shipdate > o_orderdate + INTERVAL 90 DAY AS late,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY late ORDER BY late""".stripMargin,

    "q14_promo_revenue" ->
      s"""SELECT 100.0 * COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev END)
        |     AS DOUBLE), 0.0)
        |   / CAST(SUM($rev) AS DOUBLE) AS promo_revenue,
        | COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "q16_parts_supplier" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#9' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q17_small_quantity" ->
      """WITH lp AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        | pp AS (SELECT l_partkey AS pk,
        |   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, COUNT(*) AS cq
        |  FROM lp GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |   AS avg_yearly,
        | COUNT(*) AS n
        |FROM lp JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cq < sq""".stripMargin,

    "q21_blame_supplier" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      s"""WITH pp AS (SELECT l_partkey, CAST(SUM($rev) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY l_partkey),
        | thr AS (SELECT CAST(SUM($rev) AS DOUBLE) * 0.0007 AS thr FROM lineitem)
        |SELECT l_partkey, value FROM pp, thr WHERE value > thr.thr
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH r AS (SELECT l_suppkey, CAST(SUM($rev) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey),
        | m AS (SELECT MAX(total_revenue) AS mx FROM r)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r, m, supplier
        |WHERE total_revenue = m.mx AND l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    "q20_excess_suppliers" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        | p AS (SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (SELECT DISTINCT l_suppkey FROM ps JOIN p
        |  ON l_partkey = pk WHERE sq * 5 > tq)
        |ORDER BY s_suppkey""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH lp AS (SELECT p_partkey, p_brand, p_size, l_suppkey,
        |   l_extendedprice / l_quantity AS unit
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size BETWEEN 10 AND 20),
        | m AS (SELECT *, MIN(unit) OVER (PARTITION BY p_partkey) AS mu FROM lp)
        |SELECT DISTINCT p_partkey, p_brand, p_size, s_suppkey, s_name,
        | unit AS unit_price
        |FROM m JOIN supplier ON l_suppkey = s_suppkey
        |WHERE unit = mu
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "q22_idle_customers" ->
      """WITH thr AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS thr
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, thr
        |WHERE c_acctbal > thr.thr
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_entity_resolution" ->
      """WITH p AS (SELECT p_partkey, p_name, p_size,
        |    (regexp_split_to_array(p_name, ' '))[-1] AS noun FROM part)
        |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        | a.p_name AS a_name, b.p_name AS b_name,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b
        |  ON a.noun = b.noun AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 1
        |ORDER BY a_key, b_key""".stripMargin
  )
}
