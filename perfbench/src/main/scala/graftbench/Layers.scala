package graftbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graftbench.Main.median

/** Per-layer numbers of a traced run, derived from the [[Tracer]]. */
object Layers {

  /** Runs `body` as one traced phase: the tracer's listeners are attached
    * for its duration and the phase is a span under `root`. */
  def traced[T](spark: SparkSession, t: Tracer, root: Span, name: String)(
      body: Span => T): (T, Span) = {
    val sc = spark.sparkContext
    t.bind(sc)
    sc.addSparkListener(t.sparkListener)
    spark.streams.addListener(t.streamListener)
    val phase = t.open(name, "phase", root)
    try (body(phase), phase)
    finally {
      t.close(phase)
      ListenerBusDrain(sc)
      spark.streams.removeListener(t.streamListener)
      sc.removeSparkListener(t.sparkListener)
    }
  }

  /** Totals over the jobs attributed to the given spans or their
    * descendants: the `queries`, `sources` and `operators` layers. */
  def totals(t: Tracer, ops: Seq[Span]): mutable.LinkedHashMap[String, Double] = {
    val perOp = ops.map(o => o -> t.jobsOf(t.descendants(o)))
    val js = perOp.flatMap(_._2)
    val st = t.stagesOf(js)
    val wallNs = ops.map(o => o.end - o.start).sum
    val busyNs = perOp.map { case (o, oj) =>
      t.unionNs(oj.map(j => (math.max(j.start, o.start), math.min(j.end, o.end))))
    }.sum
    def sum(f: StageAgg => Double) = st.map(f).sum
    mutable.LinkedHashMap(
      "queries.wall_s" -> wallNs / 1e9,
      "queries.jobs" -> js.size.toDouble,
      "queries.stages" -> st.size.toDouble,
      "queries.tasks" -> sum(_.tasks),
      "queries.task_s" -> sum(_.runMs) / 1e3,
      "queries.cpu_s" -> sum(_.cpuNs) / 1e9,
      "queries.deser_s" -> sum(_.deserMs) / 1e3,
      "queries.gc_s" -> sum(_.gcMs) / 1e3,
      "queries.sched_delay_s" -> sum(_.schedDelayMs) / 1e3,
      "queries.busy_frac" -> (if (wallNs > 0) busyNs.toDouble / wallNs else 0.0),
      "queries.driver_gap_s" -> (wallNs - busyNs) / 1e9,
      "queries.unattributed_jobs" ->
        js.count(j => !j.propSpan.contains(j.span)).toDouble,
      "sources.bytes_read" -> sum(_.bytesRead),
      "sources.records_read" -> sum(_.recordsRead),
      "operators.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "operators.shuffle_read_bytes" -> sum(_.shuffleRead),
      "operators.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "operators.spill_bytes" -> sum(_.spill),
      "streaming.files_written" -> sum(_.filesWritten),
      "streaming.bytes_written" -> sum(_.bytesWritten))
  }

  /** Ratios, which are not divided by the pass count. */
  private val Ratios = Set("queries.busy_frac")

  /** Fills the traced run's per-layer metrics. Counters are per pass (a
    * sweep of the gate list, or one riff micro-batch); the streaming
    * timings are medians over the micro-batches that reported progress
    * during `phase` (from the given queries only, if any are given). */
  def fill(t: Tracer, res: Main.Result, phase: Span, ops: Seq[Span],
      passes: Int, queries: Set[java.util.UUID] = Set.empty): Unit = {
    totals(t, ops).foreach { case (k, v) =>
      res.perLayer(k) = if (Ratios(k)) v else v / math.max(1, passes)
    }
    res.perLayer("operators.cached_peak_mb") = t.cachedPeak / 1048576.0
    val prog = t.synchronized(t.progress.toSeq)
      .filter { case (at, _) => at >= phase.start && at <= phase.end }.map(_._2.progress)
      .filter(p => queries.isEmpty || queries(p.id))
    def dur(k: String) = median(prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    res.perLayer("streaming.batches") = prog.size.toDouble / math.max(1, passes)
    res.perLayer("streaming.batch_ms") = orZero(dur("triggerExecution"))
    res.perLayer("streaming.plan_ms") = orZero(dur("queryPlanning"))
    res.perLayer("streaming.addbatch_ms") = orZero(dur("addBatch"))
    res.perLayer("streaming.walcommit_ms") = orZero(dur("walCommit"))
    res.perLayer("streaming.state_rows") =
      prog.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0)
  }

  def orZero(d: Double): Double = if (d.isNaN) 0.0 else d

  /** Per-gate rows of the trace artifact, with each gate's and each of
    * its stages' local[1] / local[4] ratio. Stages are matched by their
    * order within the gate call. */
  def perOp(t: Tracer, ops: Seq[Span], c1: Seq[Span]): Seq[scala.collection.Map[String, Any]] = {
    val c1ByName = c1.map(s => s.name -> s).toMap
    ops.map { o =>
      val tot = totals(t, Seq(o))
      val stages = t.stagesOf(t.jobsOf(t.descendants(o))).sortBy(_.stageId)
      val row = mutable.LinkedHashMap[String, Any]("gate" -> o.name,
        "self_s" -> t.selfNs(o) / 1e9)
      row ++= tot
      c1ByName.get(o.name).foreach { s =>
        val wall1 = (s.end - s.start) / 1e9
        val st1 = t.stagesOf(t.jobsOf(t.descendants(s))).sortBy(_.stageId)
        row("c1_wall_s") = wall1
        row("par_ratio") = wall1 / tot("queries.wall_s")
        row("stage_par_ratio") = stages.zip(st1).map { case (a, b) =>
          Map("stage" -> a.name, "c4_wall_ms" -> a.wallMs, "c1_wall_ms" -> b.wallMs,
            "ratio" -> (if (a.wallMs > 0) b.wallMs.toDouble / a.wallMs else Double.NaN))
        }
      }
      row
    }
  }
}
