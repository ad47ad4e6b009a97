package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Exec

/** Entry point of one benchmark run inside the JVM. `run.py` generates
  * the inputs, starts this main, and turns the result file it writes into
  * the run's metrics and checks.
  *
  * Usage: perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --inputs DIR --work DIR --out FILE [--python P --publisher F]
  */
final class Harness(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val cpus: Int = Harness.cpuCount(args("cpus"))
  val inputs: String = args("inputs")
  val work: String = args("work")
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  val spark: SparkSession = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.graft.catalog", s"$work/catalog")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionReadyMs: Double = Clock.nowMs

  val tracer = new Tracer(spark.sparkContext)
  val jobs = new JobListener

  /** Workload-specific results: checks, counters, stream progress. */
  val extra = mutable.LinkedHashMap[String, Any]()
  private val setupParts = mutable.LinkedHashMap[String, Double]()
  private val windows = mutable.ArrayBuffer[Map[String, Any]]()
  private var rssPeakKb = 0L
  /** Why the workload stopped before its end, if it did. */
  private var fatal: Option[String] = None

  /** Time one part of the set-up (seconds, recorded under `name`). */
  def setupPart[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body
    finally setupParts(name) = setupParts.getOrElse(name, 0.0) + (Clock.nowMs - t0) / 1000
  }

  /** Run `bodies` concurrently, one thread each; rethrows the first
    * failure once all have ended. Set-up steps that do not depend on each
    * other use it, so set-up costs what its longest step costs. */
  def parallel(bodies: Seq[() => Unit]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() =>
      try b() catch { case e: Throwable => failures.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  /** Run the measured window: `body` gets the deadline (epoch ms) and
    * the pass. An untraced run measures one pass of `seconds`; a traced
    * run measures two passes of half that, the first untraced and the
    * second traced, so the difference between them is the tracing
    * overhead on the same inputs in the same JVM. The peak resident set
    * is reset when the window opens and read when it closes, so set-up
    * and the output checks do not count towards it. */
  def measure(body: (Double, Int) => Unit): Unit = {
    val passes = if (traced) 2 else 1
    JvmStats.resetRssPeak()
    (0 until passes).foreach { p =>
      if (p == 1) {
        spark.sparkContext.addSparkListener(jobs)
        tracer.enabled = true
      }
      tracer.pass = p
      JvmStats.resetPeak()
      val gc0 = JvmStats.gcMs
      val t0 = Clock.nowMs
      body(t0 + seconds * 1000 / passes, p)
      windows += Map("start_ms" -> t0, "end_ms" -> Clock.nowMs,
        "gc_s" -> (JvmStats.gcMs - gc0) / 1000.0, "heap_peak_bytes" -> JvmStats.heapPeakBytes)
    }
    rssPeakKb = JvmStats.rssPeakKb
  }

  /** Evaluate `df` fully (every row, no driver collect), traced as the
    * Spark execution of the current span, with its planning phases. */
  def execute(df: DataFrame): Unit = {
    tracer.span("spark.execute")(Exec.drain(df))
    tracer.phases(df)
  }

  def writeResult(path: String): Unit = {
    if (traced) jobs.settle()
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "setup" -> Map(
        "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
        "measure_start_ms" -> windows.headOption.map(_("start_ms")).getOrElse(Clock.nowMs),
        "parts_s" -> setupParts),
      "windows" -> windows,
      "ops" -> tracer.opsJson,
      "errors" -> tracer.errors.toArray.toSeq.take(20),
      "spans" -> tracer.spansJson,
      "jobs" -> jobs.json,
      "rss_peak_kb" -> rssPeakKb,
      "extra" -> extra) ++ fatal.map("fatal" -> _)
    Files.write(Paths.get(path), Json.write(result).getBytes("UTF-8"))
  }
}

object Harness {

  /** The core count must be a positive integer; anything else is a usage
    * error, reported as such rather than passed on to the master URL. */
  def cpuCount(s: String): Int = s.trim.toIntOption.filter(_ > 0).getOrElse {
    System.err.println(s"[perfbench] --cpus must be a positive integer, got '$s'")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val h = new Harness(args)
    try {
      // A workload that cannot go on (a stream query that died, a failed
      // set-up step, ...) still leaves a result, marked fatal, which run.py
      // reports as a failed run.
      try h.workload match {
        case "trend-query"   => TrendQuery.run(h)
        case "view-maintain" => ViewMaintain.run(h)
        case "stream-ingest" => StreamIngest.run(h)
        case other => sys.error(s"unknown workload '$other'")
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          h.fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
      }
      h.writeResult(args("out"))
    } finally h.spark.stop()
  }
}
