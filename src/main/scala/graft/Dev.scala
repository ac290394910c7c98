package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

import scala.util.control.NonFatal

/** Dev tools over the catalog, on the `Session.local` session
  * (`SPARK_GRAFT_CPUS` cores):
  *
  *   - `runMain graft.Dev explain <name>[,<name>...] <sfDir>` prints the
  *     formatted physical plan of each query (scan counts, exchange
  *     reuse, pushed filters, codegen spans).
  *   - `runMain graft.Dev audit <sfDir>` is the whole-catalog plan
  *     audit (SURVEY §5): it prints every query whose physical plan
  *     holds a BroadcastNestedLoopJoin, a CartesianProduct or an
  *     unpartitioned WindowExec; plans are built, not executed.
  *
  * Timing is `perfbench/`'s job; its traced runs break each query's
  * time down per job. */
object Dev {
  private val usage =
    "usage: Dev explain <name>[,<name>...] <sfDir> | audit <sfDir>"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toSeq match {
      case Seq("explain", names, sfDir) => explain(_, names.split(",").toSeq, sfDir)
      case Seq("audit", sfDir) => audit(_, sfDir)
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
}
