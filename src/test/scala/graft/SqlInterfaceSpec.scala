package graft

/** The engine through plain spark.sql: registered views + extension
  * functions compose in SQL text. */
class SqlInterfaceSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("ql.events surfaces ts under BOTH parquet encodings") {
    // micros (the current driver testdata): TIMESTAMP_NTZ -> session-tz
    val cur = ql.events(spark, "/root/testdata/sf0.001")
    assert(cur.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // nanos-as-long (the pre-r9 encoding, kept working): a fixture
    // parquet with a raw long ts must floor-divide to the same micros
    val dir = java.nio.file.Files.createTempDirectory("graft_evts").toString
    Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = ql.events(spark, dir)
    assert(legacy.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(legacy.select(unix_micros(col("ts"))).head().getLong(0) ==
      1700000000123456L)
  }

  test("registerAll exposes every table and extension fn to SQL") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val r = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    assert(r.length == 3)
    // ns-timestamp events usable directly in SQL
    val hours = spark.sql(
      "SELECT COUNT(DISTINCT date_trunc('hour', ts)) FROM events").head().getLong(0)
    assert(hours > 100)
    // extension function callable from SQL text over a real table
    val cos = spark.sql(
      """SELECT graft_dot(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                 CAST(a.embedding AS ARRAY<DOUBLE>)) AS d
        |FROM embeddings a WHERE a.vec_id = 0""".stripMargin).head().getDouble(0)
    assert(cos > 0.0)
    // all four native expressions resolve from SQL text
    val r2 = spark.sql(
      """SELECT graft_lsh_bucket(CAST(embedding AS ARRAY<DOUBLE>), 8) AS b,
        |       size(graft_minhash(graft_shingles('hello world text', 3), 16)) AS m
        |FROM embeddings WHERE vec_id = 0""".stripMargin).head()
    assert(r2.getLong(0) >= 0L && r2.getLong(0) < 256L)
    assert(r2.getInt(1) == 16)
  }

  test("extension fns reject a column-valued or non-integer constant " +
      "argument, naming the function and the argument") {
    // (call with ? in the checked argument's place, function, argument)
    val calls = Seq(
      ("graft_minhash(array('a'), ?)", "graft_minhash", "numHashes"),
      ("graft_lsh_bucket(array(1.0D), ?)", "graft_lsh_bucket", "nBits"),
      ("graft_lsh_bucket(array(1.0D), 8, ?)", "graft_lsh_bucket", "bitOffset"),
      ("graft_shingles('a b', ?)", "graft_shingles", "k"),
      ("graft_kmv_distinct(id, ?)", "graft_kmv_distinct", "k"),
      ("graft_freq_items(id, ?)", "graft_freq_items", "k"),
      ("graft_kmv_sketch(id, ?)", "graft_kmv_sketch", "k"),
      ("graft_winnow('a b', ?, 4)", "graft_winnow", "k"),
      ("graft_winnow('a b', 4, ?)", "graft_winnow", "w"),
      ("graft_deflate_size('a b', ?)", "graft_deflate_size", "level"),
      ("graft_lcp_ext('a', 'b', 0, 0, ?)", "graft_lcp_ext", "k"))
    def rejection(call: String): String = {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM range(1)"))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
        .getOrElse(fail(s"$call: no IllegalArgumentException in $e"))
    }
    calls.foreach { case (call, fn, what) =>
      assert(rejection(call.replace("?", "id")) == s"$fn $what must be a literal")
      assert(rejection(call.replace("?", "1.5")) ==
        s"$fn $what must be an int literal, got 1.5")
    }
  }
}
