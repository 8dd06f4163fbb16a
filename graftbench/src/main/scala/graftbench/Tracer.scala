package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same base as the timestamps Spark puts on its listener
  * events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around the benchmark's calls into each graft layer, plus
  * Spark's own job, task and micro-batch records attributed to them.
  *
  * A span's id travels in an inheritable Spark local property, so a
  * job submitted while the span is open, from the calling thread or
  * from a thread it starts (graft overlaps independent writes from
  * fresh driver threads), carries the id in its job properties. Only
  * benchmark code registers the listeners; the engine is unchanged.
  * Everything is kept in memory and written out when the run ends.
  *
  * With `enabled = false` every call is a plain pass-through and no
  * listener is registered: that is the untraced run. `setActive` lets
  * a traced run alternate traced and untraced operations, which is how
  * it measures its own overhead: while inactive it opens no span and
  * the job listener is detached, so only the micro-batch progress
  * listener (one record per batch) stays on.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  @volatile private var on: Boolean = enabled
  def active: Boolean = on

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  // job and stage ids restart with every SparkContext: keys carry
  // the context's generation in their high bits
  private val jobs = new ConcurrentHashMap[Long, JobRec]()
  private val stageJob = new ConcurrentHashMap[Long, Long]()
  @volatile private var generation = 0L
  private def key(id: Long): Long = (generation << 32) | id
  private val executionSite = new ConcurrentHashMap[Long, String]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var sc: SparkContext = _

  /** Attach the listeners to a freshly built session's context. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    generation += 1
    if (on) sc.addSparkListener(jobListener)
    spark.streams.addListener(progressListener)
  }

  /** Start or stop tracing. Stopping first lets the listener bus
    * deliver every event already posted, so no job record of the
    * traced work is cut short, then detaches the job listener. */
  def setActive(active: Boolean): Unit = if (enabled && active != on) {
    if (active) sc.addSparkListener(jobListener)
    else {
      waitForListenerBus()
      sc.removeSparkListener(jobListener)
    }
    on = active
  }

  /** LiveListenerBus.waitUntilEmpty, which Spark keeps internal. */
  private def waitForListenerBus(): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(20000L))
  }

  /** Record a span timed by the caller (one that opens before the
    * session exists, such as building it). */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (active) spans.add(Map("id" -> ids.incrementAndGet(), "name" -> name, "parent" -> 0L,
      "start_ms" -> startMs, "end_ms" -> endMs))

  /** Run `f` inside a span named `name`; the enclosing span (if any)
    * is its parent. */
  def span[A](name: String)(f: => A): A =
    if (!active || sc == null) f
    else {
      val parent = Option(sc.getLocalProperty(SpanKey))
      val id = ids.incrementAndGet()
      // a streaming query pins every job's call site to the line that
      // started it, and its description to the batch; cleared, each SQL
      // execution is described by the engine line that ran its action
      val site = CallSiteKeys.map(k => k -> sc.getLocalProperty(k))
      CallSiteKeys.foreach(sc.setLocalProperty(_, null))
      val start = Clock.nowMs()
      sc.setLocalProperty(SpanKey, id.toString)
      try f
      finally {
        val end = Clock.nowMs()
        sc.setLocalProperty(SpanKey, parent.orNull)
        site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        spans.add(Map("id" -> id, "name" -> name, "parent" -> parent.map(_.toLong).getOrElse(0L),
          "start_ms" -> start, "end_ms" -> end))
      }
    }

  /** Block until the listener bus has delivered every event posted so
    * far, so no record is still in flight when the trace is written. */
  def drain(): Unit = if (enabled) waitForListenerBus()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toLong)
      // a job's call site: the description of the SQL execution it
      // serves, else the name of its result stage
      val site = prop(ExecutionIdKey).flatMap(id => Option(executionSite.get(key(id.toLong))))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs.put(key(e.jobId), new JobRec(key(e.jobId), span.getOrElse(0L), site, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(key(s), key(e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(key(e.jobId))).foreach(_.end = e.time.toDouble)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if x.description.nonEmpty =>
        executionSite.put(key(x.executionId), x.description + caller(x.details))
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobs.get(stageJob.getOrDefault(key(e.stageId), -1L))
      val m = e.taskMetrics
      if (j != null && m != null) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** " <- " and the first engine frame of a long-form call site that
    * lies in another class than the action's own frame: the caller of
    * a shared write helper. */
  private def caller(details: String): String = {
    val frames = details.split("\n").map(_.trim).filter(_.startsWith("graft."))
    val own = frames.headOption.map(f => f.take(f.lastIndexOf('.', f.indexOf('('))))
    frames.find(f => !own.exists(f.startsWith)).map(" <- " + _).getOrElse("")
  }

  def dump(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
    "progress" -> progress.asScala.toSeq)
}

object Tracer {
  val SpanKey = "graftbench.span"
  val CallSiteKeys = Seq("callSite.short", "callSite.long", "spark.job.description")
  val ExecutionIdKey = "spark.sql.execution.id"

  final class JobRec(val id: Long, val span: Long, val site: String, val start: Double) {
    @volatile var end: Double = -1
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "span" -> span, "site" -> site,
      "start_ms" -> start, "end_ms" -> end, "tasks" -> tasks, "cpu_ms" -> cpuNs / 1e6,
      "input_bytes" -> inputBytes, "shuffle_bytes" -> shuffleBytes, "output_bytes" -> outputBytes)
  }
}
