package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for the workload root. Times are
  * epoch milliseconds so benchmark spans and Spark job events share one
  * clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      t0: Double, var t1: Double = Double.NaN)

/** Spark-side counters, summed over the tasks of the jobs they cover. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var waitMs = 0L
  var fetchWaitMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var input = 0L; var output = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
}

/** Benchmark spans plus a SparkListener and a QueryExecutionListener.
  * With `enabled = false` nothing is registered and `span` only runs its
  * body, so the untraced run carries no tracing cost. Each span sets the
  * Spark job group to its own id, so every job is tied to the innermost
  * open span of the thread that launched it. */
final class Trace(val enabled: Boolean) {
  private val originMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs: Double = originMs + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Job spans: (span, group span id, succeeded). */
  val jobs = mutable.ArrayBuffer.empty[(Span, Long, Boolean)]
  @volatile var counters = new Counters
  private var nextId = 1L
  private var open = List.empty[Span]
  private var spark: SparkSession = _

  private val jobOpen = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toLongOption).getOrElse(0L)
      val s = Span(-e.jobId.toLong - 1, group, "job", s"job${e.jobId}", e.time.toDouble)
      jobOpen(e.jobId) = (s, group)
      counters.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobOpen.remove(e.jobId).foreach { case (s, g) =>
        s.t1 = e.time.toDouble
        jobs += ((s, g, e.jobResult == JobSucceeded))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stageSubmitted((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
      counters.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      counters.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) counters.taskFailures += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach(t =>
        counters.waitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        counters.cpuNs += m.executorCpuTime
        counters.runMs += m.executorRunTime
        counters.gcMs += m.jvmGCTime
        counters.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        counters.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        counters.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        counters.spill += m.diskBytesSpilled
        counters.input += m.inputMetrics.bytesRead
        counters.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private object Planning extends QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      counters.analysisMs += ms("analysis")
      counters.optimizationMs += ms("optimization")
      counters.planningMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(Listener)
      s.listenerManager.register(Planning)
    }
  }

  /** Wait until Spark has delivered every queued listener event. */
  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Hand back the counters collected so far and start fresh ones. */
  def takeCounters(): Counters = {
    drain()
    synchronized { val c = counters; counters = new Counters; c }
  }

  private def setGroup(id: Long): Unit =
    if (id == 0L) spark.sparkContext.clearJobGroup()
    else spark.sparkContext.setJobGroup(id.toString, s"bench span $id", interruptOnCancel = false)

  /** The most recently closed span (traced runs only). */
  @volatile var lastClosed: Option[Span] = None

  /** Run `f` inside a span of the given kind. */
  def span[A](kind: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = synchronized {
        val sp = Span(nextId, open.headOption.map(_.id).getOrElse(0L), kind, name, nowMs)
        nextId += 1; spans += sp; open = sp :: open; sp
      }
      setGroup(s.id)
      try f
      finally {
        s.t1 = nowMs
        synchronized { open = open.tail; lastClosed = Some(s) }
        setGroup(open.headOption.map(_.id).getOrElse(0L))
      }
    }

  /** Job spans launched directly inside the span `id`. */
  def jobsUnder(id: Long): Seq[Span] = synchronized {
    jobs.collect { case (s, g, _) if g == id => s }.toSeq
  }

  /** Duration of a span not covered by the given child intervals. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (s.t1 - s.t0) - covered
  }

  /** All spans (benchmark and job) with their self time. */
  def spanRows(): Seq[Map[String, Any]] = synchronized {
    val all = spans.toSeq ++ jobs.map { case (s, g, _) => s.copy(parent = g) }
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.t0, "end_ms" -> s.t1, "dur_ms" -> (s.t1 - s.t0),
        "self_ms" -> selfMs(s, byParent.getOrElse(s.id, Seq.empty)))
    }
  }
}
