package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import SpanListener.JobGroupKey

/** Spark work attributed to one span. */
final class SpanStats {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var filesRead = 0L
  val callSites: mutable.Map[String, Int] = mutable.LinkedHashMap()
}

/** Attributes Spark jobs, tasks and SQL scan metrics to spans. A span is
  * a job group: every job, and every SQL execution, submitted from a
  * thread while it runs a span carries the span's group id, so concurrent
  * callers are told apart. Listener callbacks all arrive on the listener
  * bus's shared-queue thread; the maps are concurrent only so the caller
  * may read them after [[drain]]. */
final class SpanListener(prefix: String) extends SparkListener {
  private val DrainGroup = prefix + "drain"
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = mutable.HashMap[Int, SpanStats]()
  // SQL execution id -> (span, accumulator ids of its "number of files read" metrics)
  private val execFiles = mutable.HashMap[Long, (SpanStats, mutable.Set[Long])]()
  // SQL execution id -> the action's call site ("take at X.scala:N")
  private val execSite = mutable.HashMap[Long, String]()
  private var drainJob = -1
  private val drained = new CountDownLatch(1)

  def stats(span: String): SpanStats = Option(spans.get(span)).getOrElse(new SpanStats)

  private def spanOf(group: String): Option[SpanStats] =
    Option(group).filter(g => g.startsWith(prefix) && g != DrainGroup)
      .map(g => spans.computeIfAbsent(g, _ => new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
    if (group == DrainGroup) drainJob = e.jobId
    spanOf(group).foreach { st =>
      st.jobs += 1
      // a SQL job's call site is its execution's action, also for the jobs
      // adaptive execution starts from its own threads; else the result stage's
      val site = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("?"))
      st.callSites(site) = st.callSites.getOrElse(site, 0) + 1
      e.stageIds.foreach(stageSpan(_) = st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (st <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.inputRows += m.inputMetrics.recordsRead
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == drainJob) drained.countDown()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite(s.executionId) = s.description
      spanOf(s.jobGroupId.orNull).foreach { st =>
        execFiles(s.executionId) = (st, fileMetricIds(s.sparkPlanInfo))
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execFiles.get(u.executionId).foreach(_._2 ++= fileMetricIds(u.sparkPlanInfo))
    case d: SparkListenerDriverAccumUpdates =>
      execFiles.get(d.executionId).foreach { case (st, ids) =>
        d.accumUpdates.foreach { case (id, v) => if (ids.contains(id)) st.filesRead += v }
      }
    case _ =>
  }

  private def fileMetricIds(p: SparkPlanInfo): mutable.Set[Long] = {
    val out = mutable.Set[Long]()
    def walk(n: SparkPlanInfo): Unit = {
      n.metrics.filter(_.name == "number of files read").foreach(out += _.accumulatorId)
      n.children.foreach(walk)
    }
    walk(p)
    out
  }

  /** Wait until every event posted before this call has reached the
    * listener: a marker job's end event is delivered after all earlier
    * events of the shared queue. No sleeping, and a bounded wait. */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup(DrainGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drained.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 120 s")
  }
}

object SpanListener {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** One recorded span: its group id, layer name and wall time. */
final case class Span(id: String, layer: String, wallNs: Long)

/** Span bookkeeping for the calling thread. An operation opens a span
  * per layer call; nested spans (the probe inside the scan) restore the
  * enclosing group when they close. */
final class Tracer(sc: SparkContext, val prefix: String) {
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val current = new ThreadLocal[mutable.ArrayBuffer[Span]]

  /** Run `f` as one operation; `traced = false` tags its jobs with one
    * group for the whole operation and records no layer spans. */
  def op[T](traced: Boolean)(f: => T): (T, Seq[Span]) = {
    val spans = mutable.ArrayBuffer[Span]()
    val id = s"${prefix}op${seq.incrementAndGet()}"
    if (traced) current.set(spans)
    val t0 = System.nanoTime()
    val t = try group(id)(f) finally current.remove()
    (t, Span(id, "op", System.nanoTime() - t0) +: spans.toSeq)
  }

  def span[T](layer: String)(f: => T): T = current.get match {
    case null => f
    case spans =>
      val id = s"$prefix${seq.incrementAndGet()}.$layer"
      val t0 = System.nanoTime()
      val t = group(id)(f)
      spans += Span(id, layer, System.nanoTime() - t0)
      t
  }

  private def group[T](id: String)(f: => T): T = {
    val prev = sc.getLocalProperty(JobGroupKey)
    // no description, so SQL executions keep their call site as description
    sc.setJobGroup(id, null, interruptOnCancel = false)
    try f
    finally if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, null, interruptOnCancel = false)
  }
}
