package graft

import java.nio.file.Files

import graft.sources.DirSwap

/** The [[DirSwap.replace]] contract, off disk: an absent target is
  * written directly, an existing one through a twin that only a
  * completed write swaps in. */
class DirSwapSpec extends SparkSpec {
  import spark.implicits._

  private def store(): String =
    Files.createTempDirectory("dirswap").toString + "/store"

  private def write(vals: Long*)(out: String): Unit =
    vals.toDF("v").write.mode("overwrite").parquet(out)

  private def read(dir: String): Seq[Long] =
    spark.read.parquet(dir).as[Long].collect().toSeq.sorted

  private def siblings(dir: String): Set[String] =
    new java.io.File(dir).getParentFile.listFiles().map(_.getName).toSet

  test("a first replace writes the absent target directly: no twin") {
    val dir = store()
    var handed = ""
    DirSwap.replace(spark, dir) { out => handed = out; write(1L, 2L)(out) }
    assert(handed == dir, s"absent target written through $handed")
    assert(read(dir) == Seq(1L, 2L))
    assert(siblings(dir) == Set("store"))
  }

  test("a writer that throws leaves the old target readable; the next " +
      "recover discards the partial twin") {
    val dir = store()
    DirSwap.replace(spark, dir)(write(1L))
    val e = intercept[IllegalStateException] {
      DirSwap.replace(spark, dir) { out =>
        write(7L)(out)
        throw new IllegalStateException("writer died")
      }
    }
    assert(e.getMessage == "writer died")
    assert(read(dir) == Seq(1L), "the target must be untouched")
    assert(siblings(dir).exists(_ != "store"), "the partial twin is left")
    val (fs, target) = DirSwap.fsOf(spark, dir)
    DirSwap.recover(fs, target)
    assert(siblings(dir) == Set("store"), "recover must drop the twin")
    assert(read(dir) == Seq(1L))
  }

  test("a second replace swaps the new content in") {
    val dir = store()
    DirSwap.replace(spark, dir)(write(1L))
    var handed = ""
    DirSwap.replace(spark, dir) { out =>
      handed = out
      assert(read(dir) == Seq(1L), "the writer may read the current target")
      write(2L, 3L)(out)
    }
    assert(!handed.endsWith("/store"), s"existing target overwritten in place")
    assert(read(dir) == Seq(2L, 3L))
    assert(siblings(dir) == Set("store"))
  }
}
