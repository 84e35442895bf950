package graft.e2ebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One public-call boundary, timed from the benchmark's side of the call.
  * Times are wall milliseconds (sub-ms precision), comparable with Spark's
  * job timestamps. */
final case class Span(id: Long, parent: Long, layer: String, epoch: Int,
                      t0: Double, t1: Double) {
  def ms: Double = t1 - t0
}

/** One Spark job as the listener saw it. `spanId` is the span that was open
  * on the submitting thread (0 = none); jobs submitted by a Structured
  * Streaming query thread are attributed by time containment instead,
  * because that thread inherits whatever span was open when it started. */
final class JobRec(val id: Int, val t0: Double, val spanId: Long, val phase: String,
                   val streaming: Boolean) {
  var t1: Double = Double.NaN
  var tasks = 0
  var emptyTasks = 0
  var taskMs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  val taskRuns = ArrayBuffer[(Double, Double)]()
}

/** Span recorder plus a SparkListener for the traced run. Spans stay in
  * memory and are written out when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val SpanKey = "graftbench.span"
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var nextSpan = 1L
  private var current = 0L
  @volatile var epoch = 0
  @volatile private var listening = false

  /** Time `f` as a span of `layer`; jobs it submits carry the span id. */
  def span[T](layer: String)(f: => T): T = {
    val id = nextSpan; nextSpan += 1
    val parent = current
    val prevProp = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    current = id
    val t0 = nowMs
    try f finally {
      val t1 = nowMs
      current = parent
      sc.setLocalProperty(SpanKey, prevProp)
      spans.synchronized { spans += Span(id, parent, layer, epoch, t0, t1) }
    }
  }

  def attach(): Unit = if (!listening) { sc.addSparkListener(this); listening = true }
  /** Drain the async listener bus, then stop listening. */
  def detach(): Unit = if (listening) {
    org.apache.spark.GraftListenerBridge.waitListeners(sc)
    sc.removeSparkListener(this); listening = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time.toDouble,
      prop(SpanKey).map(_.toLong).getOrElse(0L), prop("graft.phase").getOrElse(""),
      prop("sql.streaming.queryId").nonEmpty)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) j.emptyTasks += 1
        j.taskMs += m.executorRunTime
        j.scanBytes += m.inputMetrics.bytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      if (e.taskInfo != null)
        j.taskRuns += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    }
  }
}

/** Attribution of jobs to spans, and per-span time decomposition. */
final class TraceAnalysis(spans: Seq[Span], jobList: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val done = jobList.filter(j => !j.t1.isNaN)

  /** Innermost span containing time `t` (spans of one client thread nest). */
  private def containing(t: Double): Option[Span] =
    spans.filter(s => s.t0 <= t && t <= s.t1).sortBy(s => s.t1 - s.t0).headOption

  /** Span each job belongs to: its own span id when submitted from the
    * client thread, time containment for streaming-thread or untagged jobs. */
  val owner: Map[Int, Span] = done.flatMap { j =>
    val direct = if (!j.streaming) byId.get(j.spanId) else None
    direct.orElse(containing(j.t0)).map(j.id -> _)
  }.toMap
  val byContainment: Int = done.count(j => j.streaming || !byId.contains(j.spanId))

  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  /** `s` and every span nested in it. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  /** Jobs attributed to `s` or a span nested in it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    done.filter(j => owner.get(j.id).exists(o => ids.contains(o.id)))
  }

  /** Split span `s`'s wall into job time per phase tag ("" = untagged) and
    * driver time (no job running). Overlapping jobs share each instant
    * equally, so the parts always sum to the wall. */
  def decompose(s: Span): (Map[String, Double], Double) = {
    val js = jobsUnder(s).map(j => (math.max(j.t0, s.t0), math.min(j.t1, s.t1), j.phase))
      .filter { case (a, b, _) => b > a }
    val cuts = (Seq(s.t0, s.t1) ++ js.flatMap { case (a, b, _) => Seq(a, b) }).distinct.sorted
    val phase = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var driver = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = js.filter { case (x, y, _) => x <= a && b <= y }
        if (active.isEmpty) driver += b - a
        else active.foreach { case (_, _, p) => phase(p) += (b - a) / active.length }
      case _ =>
    }
    (phase.toMap, driver)
  }

  /** Wall of `s` during which none of its jobs ran. */
  def selfMs(s: Span): Double = decompose(s)._2

  /** Time jobs of `j` were in flight with no task running (scheduling,
    * stage hand-off, result handling). */
  def schedulerDelayMs(j: JobRec): Double = {
    val runs = j.taskRuns.map { case (a, b) => (math.max(a, j.t0), math.min(b, j.t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var end = j.t0
    runs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0.0, (j.t1 - j.t0) - covered)
  }
}
