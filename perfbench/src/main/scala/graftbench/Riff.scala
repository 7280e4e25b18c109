package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.util.LongAccumulator

import graft.functions.{MessageFunction, UppercaseFunction}
import graft.model.RiffMessage
import graft.serde.RiffWire
import graft.streaming.{Bridge, EosSink}
import graftbench.Main.{median, quantile, since}

/** The paper's pipeline: framed riff messages on a `MemoryStream` with a
  * fixed partition count (the stand-in for a 4-partition topic) →
  * `Bridge.transform(UppercaseFunction)` → `EosSink`, read back through
  * `EosSink.readCommitted` and checked frame by frame. */
object Riff {
  val Partitions = 4
  /** riff-steady: open-loop offered rate, generator tick, lead-in. */
  val Rate = 5000
  val TickNs = 10000000L
  val LeadS = 3.0
  /** riff-backlog: frames pre-loaded per drain round. */
  val Backlog = 60000

  private val Words = ("riff frame message stream function payload header " +
    "topic reply upper case spark batch commit offset record bridge sink " +
    "source partition channel envelope exactly once").split(" ")

  /** The payload of frame `id`: about 270 bytes of lower-case words,
    * drawn from the run's seed. */
  def payload(seed: Long, id: Long): String = {
    val rnd = new scala.util.Random(seed * 1000003L + id)
    val b = new StringBuilder
    while (b.length < 262) b ++= Words(rnd.nextInt(Words.length)) += ' '
    b.toString
  }

  def frame(seed: Long, id: Long, dueUs: Long): Array[Byte] =
    RiffWire.encode(RiffMessage(Map(
      "id" -> Seq(id.toString),
      "due_us" -> Seq(dueUs.toString),
      "content-type" -> Seq("text/plain")), payload(seed, id).getBytes(UTF_8)))

  /** Splits task time of the transform stage: time spent pulling input
    * (scan and `riff_decode`) and time inside the wrapped function. */
  final class CountingFunction(inner: MessageFunction, pullNs: LongAccumulator,
      totalNs: LongAccumulator) extends MessageFunction {
    override def apply(in: Iterator[RiffMessage]): Iterator[RiffMessage] = {
      def timed[T](acc: LongAccumulator)(f: => T): T = {
        val t0 = System.nanoTime()
        try f finally acc.add(System.nanoTime() - t0)
      }
      val pulled = new Iterator[RiffMessage] {
        def hasNext: Boolean = timed(pullNs)(in.hasNext)
        def next(): RiffMessage = timed(pullNs)(in.next())
      }
      val out = inner(pulled)
      new Iterator[RiffMessage] {
        def hasNext: Boolean = timed(totalNs)(out.hasNext)
        def next(): RiffMessage = timed(totalNs)(out.next())
      }
    }
  }

  /** One running stream: source, transform, sink and the commit clock
    * (the time each `EosSink.write` returned, by batch id). */
  final class Pipeline(spark: SparkSession, dir: String, fn: MessageFunction,
      tr: Option[Tracer], phase: Span) {
    val source = MemoryStream[Array[Byte]](spark, Partitions)(Encoders.BINARY)
    val out = s"$dir/out"
    val commits = new ConcurrentHashMap[Long, Long]()
    val writes = new ConcurrentHashMap[Long, Span]()
    private val sink = new EosSink(out)
    private val body: (DataFrame, Long) => Unit = (df, id) => {
      tr match {
        case Some(t) =>
          val s = t.open("EosSink.write", "sink_write", phase)
          writes.put(id, s)
          try t.attributing(df.sparkSession.sparkContext, s)(sink.write(df, id))
          finally t.close(s)
        case None => sink.write(df, id)
      }
      commits.put(id, System.nanoTime())
    }
    val query = Bridge.transform(spark, source.toDF(), fn,
        tapName = tr.map(_ => "riff"))
      .writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch(body)
      .start()

    def stop(): Unit = { query.processAllAvailable(); query.stop() }
  }

  /** Compiles and JITs the path before a measured stream starts: a
    * throwaway pipeline takes a few small batches. */
  def warm(spark: SparkSession, dir: String, seed: Long, fn: MessageFunction): Unit = {
    val p = new Pipeline(spark, s"$dir-warm", fn, None, null)
    (0 until 3).foreach { r =>
      p.source.addData((0 until 1000).map(i => frame(seed, r * 1000L + i, 0L)))
      p.query.processAllAvailable()
    }
    p.stop()
  }

  /** What one phase of a riff workload measured and checked. */
  final case class Phase(frames: Long, failed: Long, latMs: Seq[Double],
      passS: Seq[Double], rps: Double, batches: Int, lagMs: Double,
      backlogEnd: Double, growing: Boolean, notes: Map[String, Any])

  /** Reads the committed output back and checks every frame: present
    * exactly once, headers intact, payload upper-cased. Returns the
    * number of failed frames and each frame's commit batch. */
  def check(spark: SparkSession, p: Pipeline, seed: Long, n: Long,
      dueUs: Long => Long): (Long, Map[Long, Long]) = {
    val batchOf = mutable.HashMap.empty[Long, Long]
    var bad = 0L
    if (EosSink.committedBatchIds(p.out).nonEmpty) {
      val rows = EosSink.readCommitted(spark, p.out)
        .select(input_file_name().as("f"), col("value")).collect()
      val BatchDir = """.*/batch_(\d+)/.*""".r
      rows.foreach { r =>
        val batch = r.getString(0) match { case BatchDir(b) => b.toLong; case _ => -1L }
        val ok = try {
          val m = RiffWire.decode(r.getAs[Array[Byte]](1))
          val id = m.headers("id").head.toLong
          val good = id >= 0 && id < n && !batchOf.contains(id) &&
            m.headers("due_us").head.toLong == dueUs(id) &&
            new String(m.payload, UTF_8) == payload(seed, id).toUpperCase(Locale.ROOT)
          if (good) batchOf(id) = batch
          good
        } catch { case scala.util.control.NonFatal(_) => false }
        if (!ok) bad += 1
      }
    }
    (bad + (n - batchOf.size), batchOf.toMap)
  }

  /** riff-steady phase: frames due at `Rate`/s from a generator thread
    * that ticks every 10 ms and never slows down for the system; the
    * first `LeadS` seconds are lead-in, the next `seconds` are measured.
    * Latency runs from a frame's due time to the return of the
    * `EosSink.write` that committed it. */
  def steadyPhase(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      fn: MessageFunction, tr: Option[Tracer], phase: Span,
      onWindowStart: () => Unit): (Phase, Pipeline) = {
    val total = ((LeadS + seconds) * Rate).toInt
    val dueUs = (i: Long) => i * 1000000L / Rate
    val frames = Array.tabulate(total)(i => frame(seed, i, dueUs(i)))
    warm(spark, dir, seed, fn)
    val p = new Pipeline(spark, dir, fn, tr, phase)
    val t0 = System.nanoTime() + 100000000L
    val winStart = t0 + (LeadS * 1e9).toLong
    val winEnd = winStart + (seconds * 1e9).toLong
    var sent = 0
    var tick = 0L
    var maxLag = 0L
    var started = false
    while (sent < total) {
      val sched = t0 + tick * TickNs
      var now = System.nanoTime()
      while (now < sched) { LockSupport.parkNanos(sched - now); now = System.nanoTime() }
      if (sched >= winStart && !started) { started = true; onWindowStart() }
      if (sched >= winStart && sched < winEnd) maxLag = math.max(maxLag, now - sched)
      val due = math.min(total.toLong, (now - t0) * Rate / 1000000000L + 1).toInt
      if (due > sent) {
        p.source.addData(frames.slice(sent, due).toSeq)
        sent = due
      }
      tick += 1
    }
    p.stop()
    val (failed, batchOf) = check(spark, p, seed, total, dueUs)
    val commitAt = p.commits.asScala.toMap
    val dueAt = (i: Long) => t0 + dueUs(i) * 1000L
    // (batch, latency ms) of every committed frame due inside the window
    val win = (0L until total).filter(i => dueAt(i) >= winStart && dueAt(i) < winEnd)
      .flatMap(i => batchOf.get(i).map(b => (b, (commitAt(b) - dueAt(i)) / 1e6)))
    val lat = win.map(_._2)
    val winCommits = commitAt.values.filter(c => c >= winStart && c < winEnd).toSeq.sorted
    val cycles = winCommits.zip(winCommits.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    val committedBy = (at: Long) => batchOf.valuesIterator.count(b => commitAt(b) <= at)
    // a backlog that grows shows as latency rising across the window
    val third = lat.size / 3
    val growing = third > 0 &&
      median(lat.takeRight(third)) > 2 * median(lat.take(third)) + 250
    val p95 = quantile(lat, 0.95)
    // committed frames per second between the window's first and last commit
    val rps = if (winCommits.size < 2) 0.0 else
      (committedBy(winCommits.last) - committedBy(winCommits.head)) /
        ((winCommits.last - winCommits.head) / 1e9)
    (Phase(total, failed, lat, cycles, rps, winCommits.size,
      maxLag / 1e6, (total - committedBy(winEnd)).toDouble, growing,
      Map("backlog_growing" -> growing, "frames_in_window" -> lat.size,
        "batches_beyond_p95" -> win.filter(_._2 > p95).map(_._1).distinct.size)), p)
  }

  /** riff-backlog phase: rounds of `Backlog` frames added at once; each
    * round is timed from the add to the commit of its last batch. */
  def backlogPhase(spark: SparkSession, dir: String, seed: Long, seconds: Double,
      fn: MessageFunction, tr: Option[Tracer], phase: Span,
      onWindowStart: () => Unit): (Phase, Pipeline) = {
    warm(spark, dir, seed, fn)
    val p = new Pipeline(spark, dir, fn, tr, phase)
    var next = 0L
    def round(n: Int): (Long, Long, Long) = {
      val first = next
      val frames = (0 until n).map(i => frame(seed, first + i, 0L))
      next += n
      val t0 = System.nanoTime()
      p.source.addData(frames)
      p.query.processAllAvailable()
      (first, next, t0)
    }
    round(Backlog / 10) // lead-in: the query's first batch
    val rounds = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    onWindowStart()
    val start = System.nanoTime()
    while (rounds.isEmpty || since(start) < seconds) rounds += round(Backlog)
    p.stop()
    val (failed, batchOf) = check(spark, p, seed, next, _ => 0L)
    val commitAt = p.commits.asScala.toMap
    val lat = rounds.toSeq.flatMap { case (a, b, t0) =>
      (a until b).flatMap(i => batchOf.get(i).map(bt => (commitAt(bt) - t0) / 1e6)) }
    val roundS = rounds.toSeq.map { case (a, b, t0) =>
      ((a until b).flatMap(batchOf.get).map(commitAt).maxOption.getOrElse(t0) - t0) / 1e9 }
    (Phase(next, failed, lat, roundS, rounds.size * Backlog / roundS.sum,
      commitAt.size, 0.0, 0.0, growing = false,
      Map("rounds" -> rounds.size, "backlog" -> Backlog)), p)
  }

  type PhaseFn = (SparkSession, String, Long, Double, MessageFunction, Option[Tracer], Span,
    () => Unit) => (Phase, Pipeline)

  def steady(a: Main.Args, res: Main.Result, tr: Option[Tracer], root: Option[Span]): Unit =
    run(a, res, tr, root, steadyPhase, growthFails = true)

  def backlog(a: Main.Args, res: Main.Result, tr: Option[Tracer], root: Option[Span]): Unit =
    run(a, res, tr, root, backlogPhase, growthFails = false)

  private def run(a: Main.Args, res: Main.Result, tr: Option[Tracer], root: Option[Span],
      phaseFn: PhaseFn, growthFails: Boolean): Unit = {
    res.setup("session_start_ms") = System.currentTimeMillis().toDouble
    val t = System.nanoTime()
    var spark = Tracer.phase(tr, root, "session")(Main.session(Main.Cores, a.runDir))
    res.setup("session_s") = since(t)
    val (ph, _) = Tracer.phase(tr, root, "setup+timed") {
      phaseFn(spark, s"${a.runDir}/riff-timed", a.seed, a.seconds,
        UppercaseFunction, None, null, () => res.setupEndMs = System.currentTimeMillis())
    }
    res.setup("warmup_s") = (res.setupEndMs - res.setup("session_start_ms")) / 1e3 -
      res.setup("session_s")
    record(res, ph, growthFails)
    res.metrics("pass_s") = median(ph.passS)
    res.metrics("commit_p50_ms") = quantile(ph.latMs, 0.5)
    res.metrics("commit_p95_ms") = quantile(ph.latMs, 0.95)
    res.metrics("drain_rps") = ph.rps
    res.info("timed") = ph.notes ++ Map("batches" -> ph.batches,
      "frames" -> ph.frames, "generator_lag_ms" -> ph.lagMs)

    for (tc <- tr; r <- root) {
      def tracedPhase(name: String): (Phase, Pipeline, Span, LongAccumulator, LongAccumulator) = {
        val pull = spark.sparkContext.longAccumulator("pull_ns")
        val total = spark.sparkContext.longAccumulator("fn_ns")
        val fn = new CountingFunction(UppercaseFunction, pull, total)
        val ((ph2, p2), span) = Layers.traced(spark, tc, r, name) { s =>
          // no glob characters in the path: Spark's reader expands them
          phaseFn(spark, s"${a.runDir}/riff-${name.filter(_.isLetterOrDigit)}", a.seed,
            a.seconds, fn, tr, s, () => ())
        }
        record(res, ph2, growthFails = false)
        (ph2, p2, span, pull, total)
      }
      val (p4, pipe4, span4, pull, total) = tracedPhase(s"local[${Main.Cores}]")
      val writes = pipe4.writes.values.asScala.toSeq.sortBy(_.start)
      Layers.fill(tc, res, span4, writes, writes.size, Set(pipe4.query.id))
      res.perLayer("streaming.batches") = writes.size
      val sinkStages = tc.stagesOf(tc.jobsOf(writes.flatMap(w => tc.descendants(w)).toSet))
      val prog = tc.synchronized(tc.progress.toSeq)
        .filter { case (at, _) => at >= span4.start && at <= span4.end }.map(_._2.progress)
        .filter(_.id == pipe4.query.id)
      val observed = prog.flatMap(p => Option(p.observedMetrics.get("riff")))
      val n = math.max(1, writes.size).toDouble
      res.perLayer("functions.records_in") = observed.map(_.getAs[Long]("n_records")).sum / n
      res.perLayer("functions.bytes_in") =
        observed.map(r => Option(r.getAs[java.lang.Long]("n_bytes")).map(_.toLong).getOrElse(0L)).sum / n
      res.perLayer("functions.records_out") = sinkStages.map(_.recordsWritten).sum / n
      res.perLayer("functions.decode_s") = pull.value / 1e9 / n
      res.perLayer("functions.fn_s") = (total.value - pull.value) / 1e9 / n
      res.perLayer("functions.encode_write_s") =
        (sinkStages.map(_.runMs).sum / 1e3 - total.value / 1e9) / n
      res.perLayer("streaming.sink_write_ms") =
        median(writes.map(w => (w.end - w.start) / 1e6))
      res.perLayer("streaming.backlog_end") = p4.backlogEnd
      res.perLayer("harness.generator_lag_ms") = p4.lagMs
      res.perLayer("harness.trace_overhead_frac") = median(p4.passS) / median(ph.passS) - 1
      attachBatches(tc, prog, pipe4)

      spark.stop()
      spark = Tracer.phase(tr, root, "session local[1]")(Main.session(1, a.runDir))
      val (p1, _, _, _, _) = tracedPhase("local[1]")
      res.perLayer("queries.par_ratio") = median(p1.passS) / median(p4.passS)
      res.info("traced") = p4.notes ++ Map("batches" -> p4.batches,
        "p50_ms" -> quantile(p4.latMs, 0.5), "pass_s" -> median(p4.passS))
      res.info("c1") = p1.notes ++ Map("batches" -> p1.batches,
        "p50_ms" -> quantile(p1.latMs, 0.5), "pass_s" -> median(p1.passS))
    }
  }

  private def record(res: Main.Result, ph: Phase, growthFails: Boolean): Unit = {
    res.attempted += ph.frames
    res.failed += (if (growthFails && ph.growing) ph.frames else ph.failed)
  }

  /** Micro-batch spans from the streaming progress: each batch's offset
    * WAL commit, planning, addBatch and commit-log durations, with the
    * sink write that ran inside its addBatch re-parented under it. The
    * commit log is the last step, so the batch ends that long after the
    * sink write returned. */
  private def attachBatches(t: Tracer,
      prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], p: Pipeline): Unit =
    prog.foreach { pr =>
      p.writes.asScala.get(pr.batchId).foreach { w =>
        def ms(k: String) = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val end = w.end + ms("commitOffsets") * 1000000L
        val b = t.record(s"batch ${pr.batchId}", "micro_batch", w.parent,
          math.min(w.start, end - ms("triggerExecution") * 1000000L), end)
        b.attrs ++= pr.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.longValue }
        b.attrs("rows") = pr.numInputRows
        w.parent = b.id
      }
    }
}
