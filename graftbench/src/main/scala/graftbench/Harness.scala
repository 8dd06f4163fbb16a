package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.{GraftCaches, GraftSession}

/** Entry point of one benchmark run inside the JVM.
  *
  *   graftbench.Harness <workload> <work dir> <trace 0|1>
  *
  * `run.py` generates the inputs and their `schedule.json` under
  * `<dir>/input`, starts this, then checks the outputs this writes
  * under `<dir>/out` and turns the raw records in `<dir>/result.json`
  * into metrics. Every workload builds its session and warms up
  * `Setups` times; the last set-up also pre-loads the state, and the
  * window measures on it.
  */
object Harness {

  /** Set-ups per run; setup_s is their median. Each costs a fresh
    * session and a warm-up, and two keep a run near a minute. */
  val Setups = 2
  /** Task slots: at most four, and one core fewer than the machine
    * has, so the driver thread, the JIT and the collector, which sit on
    * every micro-batch's critical path, do not queue behind tasks. */
  val Cores: Int = math.max(1, math.min(5, Runtime.getRuntime.availableProcessors) - 1)

  /** A run's `input/schedule.json`: when the window opens and closes,
    * in ms after the workload's loop starts, and for an open loop each
    * staged file's due time on the same clock. */
  final case class Schedule(windowStartMs: Double, windowEndMs: Double, dueMs: Seq[Double])

  def schedule(work: String): Schedule = {
    val m = Json.read(new File(s"$work/input/schedule.json"))
    Schedule(m.get("window_start_ms").asDouble, m.get("window_end_ms").asDouble,
      m.path("due_ms").elements.asScala.map(_.asDouble).toSeq)
  }

  /** One workload: its set-up steps and its measured loop. */
  trait Workload {
    /** Run the workload's operations on throw-away state. */
    def warmup(spark: SparkSession, setup: Int): Unit
    /** Build the engine-side state the window measures against. */
    def preload(spark: SparkSession): Unit
    /** Ramp and window; returns the raw records for run.py. */
    def measure(spark: SparkSession): Map[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val Array(name, workDir, trace) = argv
    val work = new File(workDir).getAbsolutePath
    val tracer = new Tracer(trace == "1")
    val plan = schedule(work)
    val workload: Workload = name match {
      case "engagement_live" => new EngagementLive(plan, work, tracer)
      case "corpus_ingest"   => new CorpusIngest(plan, work, tracer)
      case other             => sys.error(s"unknown workload $other")
    }

    val setups = (1 to Setups).map { i =>
      SparkSession.getActiveSession.foreach { s =>
        s.streams.active.foreach(_.stop())
        s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        GraftCaches.clearAll()
      }
      val t0 = Clock.nowMs()
      val spark = GraftSession.builder(s"local[$Cores]", Cores)
        // also the live queries' state partitions, fixed in their checkpoints
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        // Spark's status store keeps up to 1000 finished jobs and SQL
        // executions on the heap, trimmed asynchronously; a short
        // history keeps the live-heap reading about graft's own memory
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = Clock.nowMs()
      tracer.record("session.build", t0, t1)
      tracer.attach(spark)
      tracer.span("session.warmup")(workload.warmup(spark, i))
      val t2 = Clock.nowMs()
      // the state is pre-loaded once, by the set-up the window uses
      if (i == Setups) tracer.span("streaming.preload")(workload.preload(spark))
      val t3 = Clock.nowMs()
      Map("build_ms" -> (t1 - t0), "warmup_ms" -> (t2 - t1), "preload_ms" -> (t3 - t2))
    }
    val spark = SparkSession.active
    // the full collections also start every loop from the same heap
    val heapAfterSetup = liveHeapMb()
    val gc0 = gcMs()
    val postGc = new PostGcHeap
    val raw = try workload.measure(spark) finally postGc.close()
    val gcWindow = gcMs() - gc0
    val heapAfterLoop = liveHeapMb()
    tracer.drain()
    val out = Map(
      "setups" -> setups,
      "peak_heap_mb" -> math.max(heapAfterSetup, heapAfterLoop),
      "post_gc_heap_mb" -> postGc.samplesMb,
      "gc_ms" -> gcWindow,
      "raw" -> raw,
      "trace" -> (if (tracer.enabled) tracer.dump() else Map.empty))
    Json.write(new File(s"$work/result.json"), out)
    spark.stop()
  }

  /** Heap occupied right after a full collection (the live set), as
    * the heap pools recorded it at the end of that collection. The
    * first collection lets Spark's context cleaner drop the blocks of
    * unreachable broadcasts and datasets; the second collects them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  /** The heap occupancy at the end of every collection from its
    * creation to `close()`, in MB: what the workload's loop holds,
    * including what a micro-batch holds while it runs. */
  final class PostGcHeap extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val samples = new ConcurrentLinkedQueue[Double]()
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        samples.add(used / 1048576.0)
      }

    def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
    def samplesMb: Seq[Double] = samples.asScala.toSeq
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes and files under a directory tree (state size on disk). */
  def du(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (dir.length, 1L)
    else dir.listFiles.map(du).foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }
}

/** Writes the run's records with the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(f: File, v: Any): Unit = mapper.writeValue(f, v)
  def read(f: File): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(f)
}
