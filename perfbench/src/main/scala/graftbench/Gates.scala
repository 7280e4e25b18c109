package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graftbench.Main.{median, quantile, since}

/** The gate workload: closed-loop passes over a fixed list of registered,
  * oracle-gated gates (`SparkEntry.queries`), each call's result drained
  * through the `noop` sink exactly as `graft.Bench` does. The first,
  * untimed pass writes every gate's output as parquet for the runner's
  * DuckDB oracle check. */
object Gates {

  /** Short read-only gates, bound by per-job latency (planning and job
    * scheduling) rather than operator work: TPC-H-style joins and
    * aggregates, a rank statistic and the riff round trip. */
  val Floor: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q_kendall_tau", "q_riff_roundtrip")

  /** Heavy gates: operator and function kernels (graph, span dedup),
    * shuffle, and a keyed upsert stream whose state commits every
    * micro-batch. */
  val Corpus: Seq[String] = Seq("q_stream_upsert", "q_triangle_counts", "q_dup_span_removal")

  final case class Call(gate: String, seconds: Double,
      error: Option[Throwable], span: Option[Span])

  /** One gate call, drained through the `noop` sink. With a tracer, the
    * call is a span and the attribution target of the jobs it starts. */
  def call(spark: SparkSession, gate: String, dir: String,
      tr: Option[Tracer], parent: Span): Call = {
    val fn = SparkEntry.queries(gate)
    val span = tr.map(_.open(gate, "gate", parent))
    def body(): Unit = fn(spark, dir).write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    val err = try {
      tr.zip(span) match {
        case Some((t, s)) => t.attributing(spark.sparkContext, s)(body())
        case None => body()
      }
      None
    } catch { case NonFatal(e) => Some(e) }
    val sec = since(t0)
    tr.zip(span).foreach { case (t, s) => t.close(s) }
    spark.catalog.clearCache() // operators cache signatures and centroids
    Call(gate, sec, err, span)
  }

  def pass(spark: SparkSession, gates: Seq[String], dir: String,
      tr: Option[Tracer] = None, parent: Span = null): Seq[Call] = {
    val span = tr.map(_.open("pass", "pass", parent))
    try gates.map(g => call(spark, g, dir, tr, span.orNull))
    finally tr.zip(span).foreach { case (t, s) => t.close(s) }
  }

  /** As many whole passes as fit in `seconds`, judged by the last pass's
    * length (at least one). */
  def measure(spark: SparkSession, gates: Seq[String], dir: String,
      seconds: Double, tr: Option[Tracer] = None,
      parent: Span = null): Seq[Seq[Call]] = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(pass(spark, gates, dir, tr, parent))
    while (since(t0) + passes.last.map(_.seconds).sum <= seconds)
      passes += pass(spark, gates, dir, tr, parent)
    passes.toSeq
  }

  def passSeconds(passes: Seq[Seq[Call]]): Seq[Double] = passes.map(_.map(_.seconds).sum)

  def run(a: Main.Args, gates: Seq[String], res: Main.Result,
      tr: Option[Tracer], root: Option[Span]): Unit = {
    res.setup("session_start_ms") = System.currentTimeMillis().toDouble
    var spark = Tracer.phase(tr, root, "setup") {
      var t = System.nanoTime()
      val s = Main.session(Main.Cores, a.runDir)
      res.setup("session_s") = since(t)
      // the first pass writes the outputs for the oracle check and
      // compiles every plan; a second untimed pass lets the JIT settle
      t = System.nanoTime()
      checkPass(s, gates, a.data, s"${a.runDir}/gates", res)
      pass(s, gates, a.data)
      res.setup("warmup_s") = since(t)
      s
    }
    res.setupEndMs = System.currentTimeMillis()

    val passes = Tracer.phase(tr, root, "timed")(measure(spark, gates, a.data, a.seconds))
    val calls = passes.flatten
    res.attempted += calls.size
    res.failed += calls.count(_.error.isDefined)
    calls.flatMap(c => c.error.map(e => c.gate -> e)).distinctBy(_._1).foreach {
      case (g, e) => System.err.println(s"[perfbench] $g failed: $e")
    }
    val passS = passSeconds(passes)
    val ms = calls.map(_.seconds * 1e3)
    res.metrics("pass_s") = median(passS)
    res.metrics("commit_p50_ms") = quantile(ms, 0.5)
    res.metrics("commit_p95_ms") = quantile(ms, 0.95)
    res.metrics("drain_rps") = calls.size / passS.sum
    res.info("passes") = passS
    res.info("gate_s") = calls.groupBy(_.gate).map { case (g, cs) => g -> median(cs.map(_.seconds)) }

    for (t <- tr; r <- root) {
      // traced passes at the same core count, then a local[1] pass: the
      // JVM's codegen cache and JIT are warm, artifacts are on disk
      val (traced, phase) = Layers.traced(spark, t, r, s"local[${Main.Cores}]") { ph =>
        measure(spark, gates, a.data, a.seconds, tr, ph)
      }
      spark.stop()
      spark = Tracer.phase(tr, root, "session local[1]")(Main.session(1, a.runDir))
      val (c1, _) = Layers.traced(spark, t, r, "local[1]") { ph =>
        Seq(pass(spark, gates, a.data, tr, ph))
      }
      val tracedS = passSeconds(traced)
      val c1S = passSeconds(c1)
      Layers.fill(t, res, phase, traced.flatten.flatMap(_.span), traced.size)
      res.perLayer("queries.par_ratio") = median(c1S) / median(tracedS)
      res.perLayer("harness.trace_overhead_frac") = median(tracedS) / median(passS) - 1
      res.info("gates") = Layers.perOp(t, traced.last.flatMap(_.span),
        c1.head.flatMap(_.span))
    }
  }

  /** The untimed first pass, which also compiles every plan: each gate's
    * output is written as parquet beside its oracle SQL, for the
    * runner's DuckDB comparison. */
  def checkPass(spark: SparkSession, gates: Seq[String], dir: String, out: String,
      res: Main.Result): Unit = {
    val oracle = SparkEntry.oracleSql
    gates.foreach { g =>
      res.attempted += 1
      try SparkEntry.queries(g)(spark, dir).write.mode("overwrite").parquet(s"$out/$g")
      catch { case NonFatal(e) =>
        res.failed += 1
        System.err.println(s"[perfbench] $g check pass failed: $e")
      }
      spark.catalog.clearCache()
    }
    Main.write(s"$out/oracle_sql.json", Json.render(gates.flatMap(g => oracle.get(g).map(g -> _)).toMap))
    res.info("gate_dir") = out
  }
}
