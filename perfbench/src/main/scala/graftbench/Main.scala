package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation: a catalog query, a KITTI drive, an ingest batch
  * or a maintenance pass. A failed op keeps its name and error and has
  * no latency. */
final class OpResult(val kind: String, val name: String) {
  var ok = true
  var error: String = ""
  var latency = Double.NaN
  val phases = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Phase span per phase name (traced runs only). */
  val phaseSpans = mutable.LinkedHashMap.empty[String, Span]

  def toJson: Map[String, Any] = Map("kind" -> kind, "op" -> name, "ok" -> ok,
    "error" -> error, "latency_s" -> latency, "phases" -> phases, "info" -> info)
}

/** Everything one run shares: the session, the trace, the run settings
  * and the results so far. */
final class Bench(val spark: SparkSession, val trace: Trace, val conf: Map[String, String]) {
  val input: String = conf("input")
  val work: String = conf("work")
  val seed: Long = conf("seed").toLong
  val seconds: Double = conf("seconds").toDouble
  private val injected: Option[String] = conf.get("inject").filter(_.nonEmpty)

  val passes = mutable.ArrayBuffer.empty[(Double, Seq[OpResult])]
  /** Spark counters of the timed passes (traced runs). */
  var counters = new Counters
  val untimed = mutable.ArrayBuffer.empty[OpResult]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Run one op. Any non-fatal error fails the op by name; it is never
    * turned into a time. */
  def op(kind: String, name: String)(body: OpResult => Unit): OpResult = {
    val r = new OpResult(kind, name)
    val t0 = System.nanoTime()
    try {
      trace.span("op", name) {
        if (injected.contains(name))
          throw new IllegalStateException(s"injected failure in op $name")
        body(r)
      }
      r.latency = (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) =>
        r.ok = false
        r.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
        System.err.println(s"[perfbench] op $name failed: ${r.error}")
    }
    r
  }

  /** Time one phase of an op. */
  def phase[A](r: OpResult, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = trace.span("phase", name)(f)
    r.phases(name) = r.phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    trace.lastClosed.foreach(s => r.phaseSpans(name) = s)
    a
  }

  /** Repeat `pass` until the measuring time is used up (at least once).
    * Each pass is the same fixed work, so a faster program runs more
    * passes, not bigger ones. */
  def measure(pass: Int => Seq[OpResult]): Unit = {
    trace.takeCounters()
    val start = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val t0 = System.nanoTime()
      val ops = trace.span("pass", s"pass$p")(pass(p))
      passes += (((System.nanoTime() - t0) / 1e9, ops))
      p += 1
    }
    counters = trace.takeCounters()
  }

  /** Release what earlier ops left cached so they do not tax later ones
    * (untimed, between ops): unpersist, then a GC and a short pause so
    * the ContextCleaner can drop shuffle files and broadcasts. */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    Thread.sleep(50)
  }
}

object Main {
  def session(conf: Map[String, String]): SparkSession = {
    val cpus = conf("cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.limit.initialNumPartitions", cpus)
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf("work")}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set (VmHWM) of this JVM, the Spark driver, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val setups = conf("setups").toInt
    val trace = new Trace(conf("trace") == "1")

    // set-up, repeated: session start plus the workload's warm-up
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val warmupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(conf)
      val t1 = System.nanoTime()
      Workloads.warmup(workload, spark, conf("input"))
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      warmupS += (t2 - t1) / 1e9
    }
    trace.attach(spark)
    val bench = new Bench(spark, trace, conf)
    val wallT0 = System.nanoTime()
    trace.span("workload", workload)(Workloads.run(workload, bench))
    val totalS = (System.nanoTime() - wallT0) / 1e9
    trace.drain()

    // per-phase jobs and driver time (time not covered by any job)
    if (trace.enabled)
      (bench.passes.flatMap(_._2) ++ bench.untimed).foreach { r =>
        r.phaseSpans.foreach { case (name, s) =>
          val js = trace.jobsUnder(s.id)
          r.info(s"jobs.$name") = r.info.getOrElse(s"jobs.$name", 0).asInstanceOf[Int] + js.size
          r.info(s"driver_s.$name") =
            r.info.getOrElse(s"driver_s.$name", 0.0).asInstanceOf[Double] + trace.selfMs(s, js) / 1000.0
        }
      }

    val c = bench.counters
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "versions" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString),
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "measured_s" -> totalS,
      "passes" -> bench.passes.map { case (w, ops) =>
        Map("wall_s" -> w, "ops" -> ops.map(_.toJson)) },
      "untimed" -> bench.untimed.map(_.toJson),
      "info" -> bench.info,
      "peak_rss_mb" -> peakRssMb())
    if (trace.enabled) {
      out("counters") = Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_failures" -> c.taskFailures, "task_cpu_s" -> c.cpuNs / 1e9,
        "task_run_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3,
        "task_wait_s" -> c.waitMs / 1e3, "fetch_wait_s" -> c.fetchWaitMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
        "spill_mb" -> c.spill / 1048576.0, "input_mb" -> c.input / 1048576.0,
        "output_mb" -> c.output / 1048576.0,
        "analysis_s" -> c.analysisMs / 1e3, "optimization_s" -> c.optimizationMs / 1e3,
        "planning_s" -> c.planningMs / 1e3)
      out("spans") = trace.spanRows()
    }
    Files.write(Paths.get(conf("out")), Json.write(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
