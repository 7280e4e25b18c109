package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run, started by `perfbench/run.py`.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf dir> --run-dir <dir>
  *   --launch-ms <epoch ms the runner started the JVM>
  * }}}
  *
  * Writes `<run-dir>/result.json`: operations attempted and failed, the
  * end-to-end metrics, set-up phases and, for a traced run, the per-layer
  * metrics. A traced run also writes the whole trace to
  * `<run-dir>/trace.json`. Every number is taken from outside the engine:
  * wall clocks around calls to its public entry points and Spark's own
  * listeners. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, runDir: String, launchMs: Long)

  /** Spark cores of the measured runs: the load is sized for a 4-core box. */
  val Cores = 4

  /** What a workload reports back. `metrics` holds the end-to-end
    * metrics other than `setup_s` (set by [[main]]) and `peak_rss_mb`
    * (measured by the runner); `perLayer` is filled by a traced run. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val setup = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var setupEndMs = 0L
  }

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("run-dir"),
      need("launch-ms").toLong)
  }

  /** Exits explicitly either way: a stream or pool thread left running
    * must not keep the JVM alive after the run. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val tracer = if (a.trace) Some(new Tracer) else None
    val root = tracer.map(_.open(a.workload, "workload"))
    val res = new Result
    a.workload match {
      case "gates" => Gates.run(a, Gates.Floor ++ Gates.Corpus, res, tracer, root)
      case "riff-steady" => Riff.steady(a, res, tracer, root)
      case "riff-backlog" => Riff.backlog(a, res, tracer, root)
      case other => sys.error(s"unknown workload $other")
    }
    res.metrics("setup_s") = (res.setupEndMs - a.launchMs) / 1e3
    if (a.trace) {
      // set-up phases as the runner sees them: JVM start counts as session
      res.perLayer("setup.session_s") = res.setup("session_s") +
        (res.setup("session_start_ms") - a.launchMs) / 1e3
      res.perLayer("setup.warmup_s") = res.setup("warmup_s")
    }
    tracer.zip(root).foreach { case (t, r) =>
      t.close(r)
      write(s"${a.runDir}/trace.json", TraceReport.render(t, r, res))
    }
    write(s"${a.runDir}/result.json", Json.render(Map(
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> res.metrics, "per_layer" -> res.perLayer,
      "setup" -> res.setup, "info" -> res.info)))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def write(path: String, body: String): Unit =
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON rendering for the run's two output files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
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
    (b += '"').toString
  }
}
