package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the traced run: a layer boundary crossed by the harness
  * (workload, pass, gate call, micro-batch, sink write) or a Spark job
  * attributed to one. Times are `System.nanoTime` values. */
final case class Span(id: Int, var parent: Int, name: String, kind: String,
    start: Long, var end: Long = -1L,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

/** Per-stage task counters, summed over the stage's tasks. */
final class StageAgg(val stageId: Int, val jobId: Int, val name: String) {
  var tasks = 0
  var wallMs = 0L
  var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
  var spill = 0L; var bytesRead = 0L; var recordsRead = 0L
  var bytesWritten = 0L; var recordsWritten = 0L; var filesWritten = 0
}

final case class JobRec(jobId: Int, span: Int, propSpan: Option[Int],
    start: Long, var end: Long, stageIds: Seq[Int])

/** In-memory trace of one run. Spans are opened and closed by the
  * harness around its calls into the engine; Spark jobs are attributed
  * to the innermost span open when they start. The harness marks each
  * attribution target (gate call, sink write) by a local property on the
  * thread that calls in, so a job whose property disagrees with the open
  * span (a pool thread that inherited a stale value) is counted, not
  * guessed at. Everything is written once, at the end of the run. */
final class Tracer {
  val SpanProp = "graftbench.span"
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  /** Streaming progress events with their arrival time. */
  val progress = mutable.ArrayBuffer.empty[(Long, StreamingQueryListener.QueryProgressEvent)]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var target: Span = _
  /** Job and stage ids restart with each SparkContext; ids are kept
    * unique across the run's contexts by this offset. */
  @volatile private var idOffset = 0
  private var lastContext: SparkContext = _

  def bind(sc: SparkContext): Unit = synchronized {
    if (lastContext ne sc) {
      if (lastContext != null) idOffset += 10000000
      lastContext = sc
    }
  }
  private val cachedBlocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L

  def open(name: String, kind: String, parent: Span = null): Span = synchronized {
    nextId += 1
    val s = Span(nextId, if (parent == null) 0 else parent.id, name, kind,
      System.nanoTime())
    spans += s
    s
  }

  def close(s: Span): Span = synchronized { s.end = System.nanoTime(); s }

  /** A span known only after the fact (a micro-batch, from its progress). */
  def record(name: String, kind: String, parent: Int, start: Long, end: Long): Span =
    synchronized {
      nextId += 1
      val s = Span(nextId, parent, name, kind, start, end)
      spans += s
      s
    }

  /** Runs `body` as the attribution target for the Spark jobs it starts. */
  def attributing[T](sc: SparkContext, s: Span)(body: => T): T = {
    val prevTarget = target
    val prevProp = sc.getLocalProperty(SpanProp)
    target = s
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body finally {
      target = prevTarget
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt)
      val t = target
      val jobId = idOffset + e.jobId
      jobs(jobId) = JobRec(jobId, if (t == null) 0 else t.id, prop,
        System.nanoTime(), -1L, e.stageIds.map(_ + idOffset))
      e.stageInfos.foreach { si =>
        stageJob(idOffset + si.stageId) = jobId
        stages.getOrElseUpdate(idOffset + si.stageId,
          new StageAgg(idOffset + si.stageId, jobId, si.name))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(idOffset + e.jobId).foreach(_.end = System.nanoTime())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (st <- stages.get(idOffset + i.stageId); a <- i.submissionTime; b <- i.completionTime)
        st.wallMs = b - a
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m == null) return
      val id = idOffset + e.stageId
      val st = stages.getOrElseUpdate(id, new StageAgg(id, stageJob.getOrElse(id, -1), ""))
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.deserMs += m.executorDeserializeTime
      st.gcMs += m.jvmGCTime
      if (e.taskInfo != null)
        st.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.bytesRead += m.inputMetrics.bytesRead
      st.recordsRead += m.inputMetrics.recordsRead
      st.bytesWritten += m.outputMetrics.bytesWritten
      st.recordsWritten += m.outputMetrics.recordsWritten
      if (m.outputMetrics.bytesWritten > 0) st.filesWritten += 1
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name + "@" + b.blockManagerId.executorId
        cachedNow -= cachedBlocks.getOrElse(key, 0L)
        val size = b.memSize + b.diskSize
        if (size > 0) cachedBlocks(key) = size else cachedBlocks.remove(key)
        cachedNow += size
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += (System.nanoTime() -> e) }
  }

  /** Jobs attributed to any span in `ids`. */
  def jobsOf(ids: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def descendants(root: Span): Set[Int] = synchronized {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSeq
    go(root.id).toSet
  }

  /** Length of the union of the given [start, end) intervals, in nanos. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** A span's duration minus the part of it its child spans (and the
    * jobs attributed to it) cover. */
  def selfNs(s: Span): Long = synchronized {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
      jobs.values.filter(_.span == s.id).map(j => (j.start, j.end))
    val clipped = kids.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
    (s.end - s.start) - unionNs(clipped.toSeq)
  }
}

object Tracer {
  /** Runs `body` as a phase span under `root` when the run is traced. */
  def phase[T](tr: Option[Tracer], root: Option[Span], name: String)(body: => T): T =
    tr.zip(root) match {
      case Some((t, r)) =>
        val s = t.open(name, "phase", r)
        try body finally t.close(s)
      case None => body
    }
}
