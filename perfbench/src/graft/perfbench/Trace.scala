package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One interval of the trace tree. Times are epoch milliseconds with a
  * sub-millisecond fraction, on the same clock as Spark's event times, so
  * driver spans and the job spans the listener records can be laid side
  * by side. `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def dur: Double = end - start
}

/** Task metrics summed over the tasks of one job. */
final class JobAgg(val jobId: Int, val span: Long, val start: Double) {
  var end: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  /** Worst stage of this job: max task time ÷ median task time. */
  var skew = 1.0
}

/** In-memory span recorder. The benchmark wraps each call into a module
  * in a span; the span id rides in a Spark local property, so the
  * listener below attaches every job launched inside it (and its tasks'
  * metrics) as a child. Nothing is written until [[write]] at run end.
  * Single client thread: the current-span stack is a plain stack. The
  * listener runs on Spark's one listener-bus thread; readers drain the
  * bus before reading what it recorded. */
final class Tracer(sc: SparkContext) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val stack = mutable.Stack[Span]()
  private var nextId = 1L
  /** When false, [[span]] runs its body untraced (used to interleave
    * traced and untraced units for the overhead estimate). */
  var active = true

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTaskMs =
    new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProp))).map(_.toLong)
      sid.foreach { s =>
        val j = new JobAgg(e.jobId, s, e.time.toDouble)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(st => stageJob.put(st, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      for (j <- Option(stageJob.get(id)); ts <- Option(stageTaskMs.remove(id))
           if ts.size >= 2) {
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        j.skew = math.max(j.skew, sorted.last.toDouble / med)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        val info = e.taskInfo
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          j.waitMs += math.max(0L, info.launchTime - s))
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer())
          .append(info.finishTime - info.launchTime)
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  })

  /** Run `body` inside a span named `name` (a child of the current span),
    * or untraced when tracing is inactive. Returns the body's value and
    * the span (None when untraced). */
  def span[A](name: String)(body: => A): (A, Option[Span]) =
    if (!active) (body, None)
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = new Span(nextId, parent, name, now())
      nextId += 1
      spans += s
      stack.push(s)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try (body, Some(s))
      finally {
        s.end = now()
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** Attach a counter to the innermost open span. */
  def attr(k: String, v: Double): Unit =
    if (active) stack.headOption.foreach(_.attrs(k) = v)

  // ---- queries over the finished trace --------------------------------

  private lazy val childrenOf: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  private lazy val jobsOf: Map[Long, Seq[JobAgg]] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.filter(!_.end.isNaN).groupBy(_.span)
  }

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] =
    s +: childrenOf.getOrElse(s.id, Nil).flatMap(subtree)

  /** Every job launched anywhere inside `s`. */
  def jobsUnder(s: Span): Seq[JobAgg] =
    subtree(s).flatMap(x => jobsOf.getOrElse(x.id, Nil))

  /** Wall time inside `s` covered by at least one job. */
  def jobMs(s: Span): Double =
    Tracer.unionLength(jobsUnder(s).map(j =>
      (math.max(j.start, s.start), math.min(j.end, s.end))))

  /** Driver time: the span minus the time its jobs cover. */
  def selfMs(s: Span): Double = s.dur - jobMs(s)

  def write(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        w.write(s"""{"kind":"span","id":${s.id},"parent":${s.parent},""" +
          s""""name":"${s.name}","start_ms":${Json.num(s.start)},""" +
          s""""dur_ms":${Json.num(s.dur)},"attrs":{${a.mkString(",")}}}""")
        w.newLine()
      }
      jobs.values().asScala.toSeq.sortBy(_.jobId).foreach { j =>
        w.write(s"""{"kind":"job","id":${j.jobId},"parent":${j.span},""" +
          s""""start_ms":${Json.num(j.start)},"dur_ms":${Json.num(j.end - j.start)},""" +
          s""""tasks":${j.tasks},"exec_cpu_ms":${Json.num(j.cpuNs / 1e6)},""" +
          s""""gc_ms":${j.gcMs},"task_wait_ms":${j.waitMs},""" +
          s""""shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill},""" +
          s""""bytes_read":${j.bytesRead},"records_read":${j.recordsRead},""" +
          s""""bytes_written":${j.bytesWritten},"stage_skew":${Json.num(j.skew)}}""")
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Total length of the union of intervals (empty ones ignored). */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
