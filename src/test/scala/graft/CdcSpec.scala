package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.Cdc

/** CDC merge semantics: latest-version-wins, deletes remove, inserts
  * of unseen keys appear, equal-timestamp changes resolve by seq, and
  * the result is partitioning-invariant, also under a hub key. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
    .toDF("k", "bal")

  // key 1: update; key 2: update then delete; key 3: untouched;
  // key 4: delete then re-insert; key 5: brand new; key 6: two
  // changes at the SAME ts — seq must break the tie
  private val changelog = Seq(
    (1L, ts(10), 1L, "U", 11.0),
    (2L, ts(10), 2L, "U", 21.0),
    (2L, ts(20), 3L, "D", 0.0),
    (4L, ts(10), 4L, "D", 0.0),
    (4L, ts(20), 5L, "U", 44.0),
    (5L, ts(10), 6L, "U", 55.0),
    (6L, ts(30), 7L, "U", 66.0),
    (6L, ts(30), 8L, "U", 67.0)
  ).toDF("k", "ts", "seq", "op", "value")

  test("applyChanges: upsert, delete, reinsert, insert, tie by seq") {
    val got = Cdc.applyChanges(base, changelog, "k", "ts", "seq", "op",
        Seq("bal" -> col("value")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq(1L -> 11.0, 3L -> 30.0, 4L -> 44.0, 5L -> 55.0, 6L -> 67.0))
  }

  test("latestState drops deleted keys and keeps the winning payload") {
    val got = Cdc.latestState(changelog, "k", "ts", "seq", "op")
      .select($"k", $"value").orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq(1L -> 11.0, 4L -> 44.0, 5L -> 55.0, 6L -> 67.0))
  }

  test("partitioning-invariant") {
    val a = Cdc.applyChanges(base.repartition(1), changelog.repartition(7),
        "k", "ts", "seq", "op", Seq("bal" -> col("value")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    val b = Cdc.applyChanges(base.repartition(5), changelog.repartition(2),
        "k", "ts", "seq", "op", Seq("bal" -> col("value")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("hub key: the merge equals the keyed row_number window formulation") {
    import org.apache.spark.sql.expressions.Window
    // key 1 carries half the changelog; (ts, seq) is total per key
    val ch = spark.range(2000).select(
      when(col("id") % 2 === 0, lit(1L)).otherwise(col("id") % 97 + 2).as("k"),
      timestamp_seconds(col("id") % 13).as("ts"), col("id").as("seq"),
      when(col("id") % 20 === 0, lit("D")).otherwise(lit("U")).as("op"),
      (col("id") % 1000 / 10.0).as("value"))
    val hubBase = spark.range(1, 120).select(col("id").as("k"), lit(0.0).as("bal"))
    val got = Cdc.applyChanges(hubBase, ch, "k", "ts", "seq", "op",
        Seq("bal" -> col("value")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    val w = Window.partitionBy("k").orderBy(col("ts").desc, col("seq").desc)
    val latest = ch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val want = hubBase.join(latest.select("k"), Seq("k"), "left_anti")
      .unionByName(latest.filter(col("op") =!= "D")
        .select(col("k"), col("value").as("bal")))
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == want)
    assert(got.size > 100)
  }
}
