package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced call: wall clock plus the Spark work its jobs did. */
final class Span(val id: Long, val name: String, val parent: Long,
    val phase: String, val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var wallS = 0.0
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var runMs = 0L
  var cpuNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time not covered by any of the span's jobs: driver-side work
    * (planning, metadata listing, commit protocol, driver loops). */
  def driverGapS: Double =
    math.max(0.0, wallS - Span.coveredMs(jobIntervals.toSeq, startMs, endMs) / 1e3)
}

object Span {
  /** Milliseconds of [lo, hi) covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter(t => t._2 > t._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** Span recorder. `span(name) { … }` sets the `perfbench.span` local
  * property (and the job description) on the SparkContext for the call's
  * duration, so every job the call starts — including those on Spark's
  * SQL execution threads, which inherit local properties — is attributed
  * to the innermost open span by the listener below. Disabled, it is a
  * plain call and no listener is registered. The tracer times its own
  * work (span bookkeeping and listener callbacks) into `overheadNs`.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String)
    extends SparkListener {
  import Tracer._

  private var nextId = 0L
  /** The run phase new spans are tagged with: setup, build, warmup, loop
    * or check. Per-layer metrics read only the build and loop spans. */
  var phase = "setup"
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val jobOf = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageOf = mutable.HashMap.empty[Int, Span]
  @volatile var unattributedJobs = 0L
  private val selfNs = new java.util.concurrent.atomic.AtomicLong()
  def overheadNs: Long = selfNs.get

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (s, prev, prevDesc) = timed {
        val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1L), phase,
          System.currentTimeMillis(), System.nanoTime())
        nextId += 1
        byId.put(s.id, s)
        spans += s
        val prev = (sc.getLocalProperty(Prop), sc.getLocalProperty(JobDescription))
        sc.setLocalProperty(Prop, s.id.toString)
        sc.setJobDescription(name)
        stack.push(s)
        (s, prev._1, prev._2)
      }
      try body
      finally timed {
        s.wallS = (System.nanoTime() - s.startNs) / 1e9
        s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(Prop, prev)
        sc.setLocalProperty(JobDescription, prevDesc)
      }
    }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchshim.Bus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toLong)))
    s match {
      case None => unattributedJobs += 1
      case Some(s) =>
        s.jobs += 1
        jobOf(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageOf(_) = s)
    }
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobOf.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += (t0 -> e.time) }
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(synchronized {
    stageOf.get(e.stageInfo.stageId).foreach(_.stages += 1)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    stageOf.get(e.stageId).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
      }
    }
  })

  /** The spans as JSON: one object per call, counters folded in. Self
    * time is the span's wall time minus what its child spans cover. */
  def spansJson: String = {
    val children = spans.toSeq.groupBy(_.parent)
    Json.arr(spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val selfS = math.max(0.0, s.wallS - Span.coveredMs(kids, s.startMs, s.endMs) / 1e3)
      Json.obj(Seq(
      "run" -> Json.str(runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "phase" -> Json.str(s.phase),
      "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "wall_s" -> Json.num(s.wallS),
      "self_s" -> Json.num(selfS),
      "driver_gap_s" -> Json.num(s.driverGapS), "jobs" -> s.jobs.toString,
      "stages" -> s.stages.toString, "tasks" -> s.tasks.toString,
      "shuffle_read_b" -> s.shuffleReadB.toString,
      "shuffle_write_b" -> s.shuffleWriteB.toString,
      "spill_b" -> s.spillB.toString, "exec_run_s" -> Json.num(s.runMs / 1e3),
      "exec_cpu_s" -> Json.num(s.cpuNs / 1e9)))
    })
  }
}

object Tracer {
  val Prop = "perfbench.span"
  private val JobDescription = "spark.job.description"
}
