package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

/** The guard behind every `ql.spread` pin: a source
  * with fewer leaf partitions than `spark.sql.shuffle.partitions` gets
  * exactly one REPARTITION_BY_NUM exchange into that many partitions;
  * a source with at least that many is returned untouched, so at scale
  * the pins change no plan. */
class PinGuardSpec extends SparkSpec {
  private lazy val target =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** (id, k) over a parquet dir of exactly `files` part files. */
  private def parquetOf(files: Int): DataFrame = {
    val dir = Files.createTempDirectory("pin_guard").toString + "/t"
    spark.range(0, 400).select(col("id"), (col("id") % 7).as("k"))
      .repartition(files).write.parquet(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) == files)
    spark.read.parquet(dir)
  }

  private def pins(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }

  private def assertOnePin(in: DataFrame, out: DataFrame): Unit = {
    assert(pins(in).isEmpty)
    val added = pins(out)
    assert(added.size == 1, out.queryExecution.sparkPlan.treeString)
    assert(added.head.outputPartitioning.numPartitions == target)
  }

  private def assertUnchanged(in: DataFrame, out: DataFrame): Unit = {
    assert(pins(out).isEmpty, out.queryExecution.sparkPlan.treeString)
    assert(out.queryExecution.sparkPlan.treeString ==
      in.queryExecution.sparkPlan.treeString)
  }

  test("1-file parquet: spread adds exactly one REPARTITION_BY_NUM exchange") {
    val small = parquetOf(1)
    assert(ql.leafParallelism(small) < target)
    assertOnePin(small, ql.spread(small))
  }

  test("parquet with shuffle.partitions files: spread leaves the " +
      "physical plan unchanged") {
    val big = parquetOf(target)
    assert(ql.leafParallelism(big) >= target)
    assertUnchanged(big, ql.spread(big))
  }
}
