package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, leave running

  /** Every path under `dir`, relative to it (the dir itself is ""). */
  def fileTree(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(dir).toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  /** Every FileSourceScanExec in an EXECUTED plan, walked through the
    * AQE wrappers (final adaptive plan, materialized query stages,
    * reused exchanges/subqueries) that hide scans from
    * `collectLeaves`; deduped by node identity so a reused scan's
    * metrics count once. */
  def executedFileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case s: FileSourceScanExec => Seq(s)
        case _ => Nil
      }
      val below = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => p.children.flatMap(walk)
      }
      here ++ below ++ p.subqueries.flatMap(walk)
    }
    val seen = new java.util.IdentityHashMap[FileSourceScanExec, Unit]()
    walk(df.queryExecution.executedPlan).filter { s =>
      if (seen.containsKey(s)) false else { seen.put(s, ()); true }
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
