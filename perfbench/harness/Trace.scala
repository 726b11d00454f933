package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable

/** A timed interval in the span tree. Times are epoch milliseconds, the
  * clock Spark's listener events carry. `pass`, `op` and `phase` are
  * copied down from the harness span that caused the span, so every
  * job and stage is attributable without walking the tree.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    pass: Int, op: String, phase: String, start: Double, var end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Counters of one harness phase span, summed over its jobs' tasks. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var inputBytes, inputRows, cpuNs, runMs = 0L
  var shuffleWriteBytes, shuffleWriteNs, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes, outputBytes, outputRows = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; inputBytes += o.inputBytes
    inputRows += o.inputRows; cpuNs += o.cpuNs; runMs += o.runMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteNs += o.shuffleWriteNs
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    outputRows += o.outputRows
  }

  /** The values that must repeat exactly between runs of the same code. */
  def counts: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "output_bytes" -> outputBytes, "output_rows" -> outputRows)
}

/** One micro-batch progress report of a streaming query. */
final case class BatchProgress(runId: String, batchId: Long, startMs: Double,
    durations: Map[String, Long])

/** Span recorder plus the Spark listeners that feed it. Harness code
  * opens and closes workload, pass, operation and phase spans; the
  * listeners add job and stage spans under the phase span whose id the
  * submitting thread carries in the `perfbench.span` local property
  * (streaming query threads inherit it). Everything stays in memory
  * until the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageParent = new ConcurrentHashMap[Int, Int]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val streamStarts = new ConcurrentHashMap[String, Double]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  def open(kind: String, name: String, parent: Int, pass: Int = 0,
      op: String = "", phase: String = "", start: Double = Double.NaN): Span =
    synchronized {
      val s = Span(spans.size, parent, kind, name, pass, op, phase,
        if (start.isNaN) nowMs else start, Double.NaN)
      spans += s
      s
    }

  def close(s: Span): Unit = synchronized { s.end = nowMs }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def countersOf(spanId: Int): Counters =
    Option(counters.get(spanId)).getOrElse(new Counters)

  def streamStartMs: Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    streamStarts.forEach((k, v) => m += k -> v)
    m.result()
  }

  def batches: Seq[BatchProgress] = {
    val b = Seq.newBuilder[BatchProgress]
    progress.forEach(p => b += p)
    b.result()
  }

  private def spanById(id: Int): Option[Span] = synchronized(spans.lift(id))

  private def bump(spanId: Int)(f: Counters => Unit): Unit = {
    val c = counters.computeIfAbsent(spanId, _ => new Counters)
    c.synchronized(f(c))
  }

  private def eventSpan(kind: String, name: String, parentId: Int,
      start: Double): Span = {
    val p = spanById(parentId)
    open(kind, name, parentId, p.map(_.pass).getOrElse(0),
      p.map(_.op).getOrElse(""), p.map(_.phase).getOrElse(""), start)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(-1)
      if (parent >= 0) {
        val s = eventSpan("job", s"job ${e.jobId}", parent, e.time.toDouble)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(id => stageParent.putIfAbsent(id, s.id))
        bump(parent)(_.jobs += 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach(_.end = e.time.toDouble)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      Option(stageParent.get(info.stageId)).foreach { jobSpanId =>
        val start = info.submissionTime.map(_.toDouble).getOrElse(nowMs)
        val s = eventSpan("stage", s"stage ${info.stageId}.${info.attemptNumber()}",
          jobSpanId, start)
        stageSpan.put((info.stageId, info.attemptNumber()), s)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.get((info.stageId, info.attemptNumber()))).foreach { s =>
        s.end = info.completionTime.map(_.toDouble).getOrElse(nowMs)
        bump(phaseOf(s))(_.stages += 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get((e.stageId, e.stageAttemptId))).foreach { s =>
        bump(phaseOf(s)) { c =>
          c.tasks += 1
          if (e.reason != Success) c.taskFailures += 1
          val m = e.taskMetrics
          if (m != null) {
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
            c.cpuNs += m.executorCpuTime
            c.runMs += m.executorRunTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillBytes += m.diskBytesSpilled
            c.outputBytes += m.outputMetrics.bytesWritten
            c.outputRows += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  /** The phase span a stage span's job belongs to. */
  private def phaseOf(stage: Span): Int =
    spanById(stage.parent).map(_.parent).getOrElse(-1)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      streamStarts.put(e.runId.toString, isoMs(e.timestamp))

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = Map.newBuilder[String, Long]
      p.durationMs.forEach((k, v) => d += k -> v.longValue)
      progress.add(BatchProgress(p.runId.toString, p.batchId,
        isoMs(p.timestamp), d.result()))
    }

    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def isoMs(ts: String): Double =
    if (ts == null) nowMs else java.time.Instant.parse(ts).toEpochMilli.toDouble
}

object Trace {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).filterNot(_.end.isNaN).map(c => (c.start, c.end))
      s.id -> math.max(0.0, s.dur - covered(ch, s.start, s.end))
    }.toMap
  }
}
