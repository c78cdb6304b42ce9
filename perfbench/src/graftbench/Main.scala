package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM runner. Runs one workload against the graft classes
  * and writes a JSON result file for `perfbench/run.py`:
  *
  * {{{
  * graftbench.Main --workload <name> --corpus <dir> --work <dir>
  *   --seconds <n> --seed <n> --trace <0|1> --out <result.json>
  *   [--launched-ns <monotonic ns>] [--measure <0|1>]
  * }}}
  *
  * A run sets up once, cold: `setup_s` is the time from the JVM's launch
  * (`--launched-ns`) until the workload is ready to time. `--measure 0`
  * stops there; the launcher runs such set-up-only JVMs for more cold
  * set-up samples.
  *
  * The program under test is called only through its public entry points
  * (`Sessions.local`, `SparkEntry` query definitions, `DfsEngine`,
  * `LoopbackBus`); the benchmark never changes its code or configuration.
  */
object Main {
  /** Worker threads of every session: the benchmark is sized for a
    * 4-core machine, and `operators.core_busy_share` divides by this. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val trace = new Trace(opt("trace") == "1")
    val res = new Result
    val work = opt("work")
    val spansOut = Paths.get(work, "spans.jsonl")
    // the launcher's monotonic clock reading just before it started this
    // JVM: on Linux System.nanoTime reads the same CLOCK_MONOTONIC
    val launchedNs = opt.get("launched-ns").map(_.toLong)
      .getOrElse(System.nanoTime())
    val measure = opt.getOrElse("measure", "1") == "1"
    val workload: Workload = opt("workload") match {
      case "llm_build" => new BatchWorkload(BatchWorkload.LlmBuild, 15.0)
      case "relational_exec" =>
        new BatchWorkload(BatchWorkload.RelationalExec, 5.0)
      case "stream_window" => new StreamWorkload(opt("seed").toLong, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      val spark = trace.span("bench", "setup") {
        val t1 = System.nanoTime()
        val s = trace.span("core", "Sessions.local") {
          graft.core.Sessions.local(Cores, "graftbench")
        }
        res.metric("core.session_start_s", (System.nanoTime() - t1) / 1e9, "s")
        trace.attach(s.sparkContext)
        workload.setup(s, opt("corpus"), trace, res)
        s
      }
      res.metric("setup_s", (System.nanoTime() - launchedNs) / 1e9, "s")
      if (measure) {
        trace.span("bench", "measure") {
          workload.measure(spark, opt("corpus"), opt("seconds").toDouble,
            trace, res, work)
        }
        workload.teardown(spark)
        workload.afterMeasure(trace, res)
      }
    } catch {
      case e: Throwable =>
        res.error(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    res.metric("rss_peak_mb", Stats.rssPeakMb, "MB")
    if (trace.enabled) {
      Traced.layerMetrics(trace.all, res)
      Traced.writeSpans(trace.all, spansOut)
    }
    Files.writeString(Paths.get(opt("out")), res.json)
    // a set-up-only JVM skips Spark's shutdown: its scratch dir is removed
    if (measure) sys.exit(0) else Runtime.getRuntime.halt(0)
  }
}

/** A workload: set up inputs in a fresh session, measure, tear down. */
trait Workload {
  def setup(spark: SparkSession, corpus: String, trace: Trace,
      res: Result): Unit
  def measure(spark: SparkSession, corpus: String, seconds: Double,
      trace: Trace, res: Result, work: String): Unit
  def teardown(spark: SparkSession): Unit = spark.stop()
  /** Work after the measured session has stopped (traced extras). */
  def afterMeasure(trace: Trace, res: Result): Unit = ()
}

/** Metrics, counts and errors of one run, serialised as JSON. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)
  def error(msg: String): Unit = synchronized {
    errors += msg
    failed += 1
  }

  def json: String = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val i = info.map { case (k, v) => s"${Json.str(k)}: $v" }
      .mkString("{", ", ", "}")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $m, """ +
      s""""errors": ${errors.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""info": $i}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set size of this JVM (`VmHWM`), in MiB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
