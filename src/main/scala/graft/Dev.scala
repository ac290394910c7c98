package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

import scala.collection.mutable
import scala.util.control.NonFatal

/** Dev tools over the catalog, on the Bench session
  * (`SPARK_GRAFT_CPUS` cores):
  *
  *   - `runMain graft.Dev explain <name>[,<name>...] <sfDir>` prints the
  *     formatted physical plan of each query (scan counts, exchange
  *     reuse, pushed filters, codegen spans).
  *   - `runMain graft.Dev audit <sfDir>` is the whole-catalog plan
  *     audit (SURVEY §5): it prints every query whose physical plan
  *     holds a BroadcastNestedLoopJoin, a CartesianProduct or an
  *     unpartitioned WindowExec; plans are built, not executed.
  *   - `runMain graft.Dev profile <name>[,<name>...] <sfDir>` runs each
  *     query once after Bench's warmup under a listener that
  *     attributes wall time to jobs and sums task/shuffle metrics per
  *     job — the Spark UI's "where does the time go" view, in text. */
object Dev {
  private val usage =
    "usage: Dev explain <name>[,<name>...] <sfDir> | audit <sfDir> | " +
      "profile <name>[,<name>...] <sfDir>"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("explain", names, sfDir) => explain(_, names.split(",").toSeq, sfDir)
      case Seq("audit", sfDir) => audit(_, sfDir)
      case Seq("profile", names, sfDir) => profile(_, names.split(",").toSeq, sfDir)
      case _ => sys.error(usage)
    }
    val spark = Session.local(Session.cpus)
    try run(spark) finally spark.stop()
  }

  def explain(spark: SparkSession, names: Seq[String], sfDir: String): Unit =
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    self ++ p.subqueries.flatMap(flatten)
  }

  /** An unpartitioned window whose input is already limit-bounded
    * (top-k'd) sorts k rows, not the corpus — Bm25.scoreRank's shape.
    * The limit must sit on the window's DIRECT input chain (walked
    * through unary row-preserving nodes only, ADVICE r11): a deep
    * limit on one input of a join below the window bounds that input,
    * not the window's frame. */
  private def limitBounded(w: WindowExec): Boolean = {
    @annotation.tailrec
    def walk(p: SparkPlan): Boolean = {
      val c = p.getClass.getSimpleName
      if (c.contains("TakeOrderedAndProject") || c.contains("GlobalLimit") ||
          c.contains("CollectLimit")) true
      else p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        // unary nodes can't widen their input (joins/unions can);
        // exchanges/sorts/projects/filters preserve the bound
        case u if u.children.length == 1 => walk(u.children.head)
        case _ => false
      }
    }
    walk(w.child)
  }

  /** Each flagged BNLJ / cartesian must be an intentional, documented
    * tiny-broadcast case, and each unpartitioned window must run over
    * a bounded (top-k shortlist / aggregate-sized) frame. A plan that
    * fails to build is flagged with its error. */
  def audit(spark: SparkSession, sfDir: String): Unit = {
    var hits = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (planStr, globalWindows) =
        try {
          val p = fn(spark, sfDir).queryExecution.executedPlan
          (p.toString,
            flatten(p).count {
              case w: WindowExec => w.partitionSpec.isEmpty && !limitBounded(w)
              case _ => false
            })
        } catch { case NonFatal(e) => (s"PLAN-ERROR ${e.getMessage}", 0) }
      val flags = Seq("BroadcastNestedLoopJoin", "CartesianProduct")
        .filter(planStr.contains) ++
        (if (globalWindows > 0) Seq(s"GlobalWindow x$globalWindows") else Nil)
      if (flags.nonEmpty || planStr.startsWith("PLAN-ERROR")) {
        hits += 1
        println(s"AUDIT $name: ${if (flags.nonEmpty) flags.mkString("+") else planStr.take(120)}")
      }
    }
    println(s"AUDIT done: $hits flagged of ${SparkEntry.queries.size}")
  }

  private class JobMetrics extends SparkListener {
    case class JobRow(id: Int, var desc: String, var t0: Long = 0L,
                      var t1: Long = 0L, var nTasks: Int = 0,
                      var taskTimeMs: Long = 0L, var shRead: Long = 0L,
                      var shWrite: Long = 0L, var input: Long = 0L,
                      var nStages: Int = 0, var gcMs: Long = 0L,
                      var cpuMs: Long = 0L, var deserMs: Long = 0L,
                      var fetchWaitMs: Long = 0L, var shWriteMs: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageToJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val r = JobRow(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      r.t0 = e.time; r.nStages = e.stageIds.size
      jobs(e.jobId) = r
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageToJob.get(e.stageId); r <- jobs.get(j);
           m <- Option(e.taskMetrics)) {
        r.nTasks += 1
        r.taskTimeMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.cpuMs += m.executorCpuTime / 1000000L
        r.deserMs += m.executorDeserializeTime
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.shWriteMs += m.shuffleWriteMetrics.writeTime / 1000000L
        r.shRead += m.shuffleReadMetrics.totalBytesRead
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        r.input += m.inputMetrics.bytesRead
      }
    }
    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
    def report(): String = synchronized {
      val rows = jobs.values.toSeq
      val hdr = f"${"job"}%4s ${"wall_ms"}%8s ${"stages"}%6s ${"tasks"}%6s " +
        f"${"taskTime"}%9s ${"cpu_ms"}%7s ${"deser"}%6s ${"gc_ms"}%6s ${"fetchW"}%6s ${"shWrMs"}%6s ${"input"}%9s ${"shRead"}%9s ${"shWrite"}%9s  desc"
      val body = rows.map { r =>
        f"${r.id}%4d ${r.t1 - r.t0}%8d ${r.nStages}%6d ${r.nTasks}%6d " +
          f"${r.taskTimeMs}%9d ${r.cpuMs}%7d ${r.deserMs}%6d ${r.gcMs}%6d ${r.fetchWaitMs}%6d ${r.shWriteMs}%6d ${r.input}%9d ${r.shRead}%9d ${r.shWrite}%9d  ${r.desc.take(60)}"
      }
      (hdr +: body).mkString("\n") +
        f"\nTOTAL jobs=${rows.size} wall=${rows.map(r => r.t1 - r.t0).sum}%d ms " +
        f"tasks=${rows.map(_.nTasks).sum} taskTime=${rows.map(_.taskTimeMs).sum} ms " +
        f"shRead=${rows.map(_.shRead).sum} shWrite=${rows.map(_.shWrite).sum}"
    }
  }

  def profile(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val acc = new JobMetrics
    spark.sparkContext.addSparkListener(acc)
    Bench.warmup(spark, sfDir)
    Bench.hygiene(spark)
    names.foreach { n =>
      // one untimed run to JIT the query's own codegen, then the profiled run
      SparkEntry.queries(n)(spark, sfDir).count()
      Bench.hygiene(spark)
      acc.reset()
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      println(s"===== $n rows=$cnt wall=${f"$sec%.3f"}s =====")
      println(acc.report())
      Bench.hygiene(spark)
    }
  }
}
