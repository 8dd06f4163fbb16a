package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Engagement, Router}
import graft.sources.Tables
import graft.streaming.{CdcCompact, StreamSources}
import graft.streaming.EngagementStream.LeaderboardState

/** engagement_live: an open loop at one fixed offered rate.
  *
  * Why: it stresses per-micro-batch coordination and the versioned-
  * rewrite state layout (each batch rewrites the whole keyed state,
  * pre-loaded to far more rows than one batch carries) together with
  * the sinks, and it bypasses the MinHash kernels and the delta-append
  * layout.
  *
  * Small changelog files are pre-staged by the generator, with a due
  * time each in the run's schedule. One thread renames each file into
  * the watched directory at its due time and does no Spark work, so it
  * cannot contend with the system under test.
  * One streaming query, on a fixed processing-time trigger longer than
  * a batch takes (so a slow batch does not grow the next one), runs
  * the reference fan-out per micro-batch:
  * CdcCompact.merge (with `op`), the customer enrichment appended to
  * parquet, LeaderboardState.merge and Router.writeRouted. A file's
  * latency runs from its scheduled due time to the end of the fan-out
  * of the micro-batch that consumed it; run.py reads which batch that
  * was from the checkpoint's file-source log after the run, so the
  * timed path gets no extra Spark job.
  */
final class EngagementLive(plan: Harness.Schedule, work: String, tracer: Tracer)
    extends Harness.Workload {
  import EngagementLive._

  private val in = s"$work/input"
  private var root: String = _
  private var query: StreamingQuery = _
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  private final class Sinks(val root: String, spark: SparkSession) {
    val cdc = new CdcCompact(s"$root/state/cdc", extraCols = Seq("op"))
    val lb = new LeaderboardState(s"$root/state/leaderboard")
    val customer: DataFrame = Tables.customer(spark, in)

    /** The reference fan-out for one micro-batch. The batch is
      * persisted so its files are read once for the four writes, the
      * multi-sink idiom of Spark's foreachBatch guide. */
    def fanout(batchFiles: DataFrame, batchId: Long): Unit = tracer.span("streaming.batch") {
      val batch = batchFiles.persist()
      try {
        tracer.span("streaming.cdc_merge")(cdc.merge(batch, batchId))
        tracer.span("operators.enrich_sink") {
          Engagement.enrichTransform(batch, customer).write.mode("append").parquet(s"$root/enriched")
        }
        tracer.span("streaming.leaderboard_merge")(lb.merge(batch, batchId))
        tracer.span("operators.route_sink")(Router.writeRouted(batch, s"$root/routed", mode = "append"))
      } finally batch.unpersist()
    }
  }

  private def changelog(spark: SparkSession, path: String): DataFrame =
    Tables.normalizeTs(spark.read.parquet(path))

  /** The fan-out over the warm-up file into throw-away state. */
  def warmup(spark: SparkSession, setup: Int): Unit =
    new Sinks(s"$work/warm-$setup", spark).fanout(changelog(spark, s"$in/warmup.parquet"), 0L)

  /** Pre-load one changelog row per key into both state stores, as
    * batch 0. */
  def preload(spark: SparkSession): Unit = {
    root = s"$work/live"
    val sinks = new Sinks(root, spark)
    val pre = changelog(spark, s"$in/preload.parquet")
    sinks.cdc.merge(pre, 0L)
    sinks.lb.merge(pre, 0L)
  }

  /** Start the live query and let it consume the primer file (the
    * file source takes its schema from the watched directory). */
  private def startQuery(spark: SparkSession): Unit = {
    val sinks = new Sinks(root, spark)
    val incoming = new File(s"$root/incoming")
    incoming.mkdirs()
    Files.copy(Paths.get(s"$in/primer.parquet"), incoming.toPath.resolve("primer.parquet"))
    query = StreamSources.eventsFrom(spark, incoming.getPath, extraCols = Seq("op"))
      .writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        // a traced run alternates traced and untraced batches
        tracer.setActive(id % 2 == 0)
        val t0 = Clock.nowMs()
        sinks.fanout(b.toDF(), id + 1)
        batches.add(Map("batch" -> id, "start_ms" -> t0, "end_ms" -> Clock.nowMs(), "traced" -> tracer.active))
        ()
      }
      .start()
    while (batches.isEmpty) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  /** The schedule runs for a ramp before the window opens, so the
    * window starts on a stream already in its steady state. */
  def measure(spark: SparkSession): Map[String, Any] = {
    startQuery(spark)
    val staged = new File(s"$in/staged").listFiles.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(staged.length == plan.dueMs.length, "one due time per staged file")
    val incoming = new File(s"$root/incoming")
    val actual = new Array[Double](staged.length)
    val start = Clock.nowMs() + 20
    val due = plan.dueMs.map(start + _)
    val generator = new Thread(() => {
      staged.indices.foreach { i =>
        val wait = due(i) - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(staged(i).toPath, incoming.toPath.resolve(staged(i).getName),
          StandardCopyOption.ATOMIC_MOVE)
        actual(i) = Clock.nowMs()
      }
    }, "graftbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    query.processAllAvailable()
    query.stop()
    query.exception.foreach(e => throw e)

    // outputs for the correctness check, outside the timed window
    val sinks = new Sinks(root, spark)
    val out = s"$work/out"
    sinks.cdc.live(spark).write.mode("overwrite").parquet(s"$out/live")
    sinks.lb.topN(spark, 10).write.mode("overwrite").parquet(s"$out/topn")
    Router.routedCounts(spark, s"$root/routed").write.mode("overwrite").parquet(s"$out/routed_counts")
    val (stateBytes, stateFiles) = Harness.du(new File(s"$root/state"))
    Map(
      "t0_ms" -> (start + plan.windowStartMs), "window_end_ms" -> (start + plan.windowEndMs),
      "files" -> staged.indices.map(i => Map("name" -> staged(i).getName, "due_ms" -> due(i),
        "moved_ms" -> actual(i), "bytes" -> new File(incoming, staged(i).getName).length)),
      "batches" -> batches.asScala.toSeq,
      "checkpoint" -> s"$root/checkpoint", "query_id" -> query.id.toString,
      "state_bytes_end" -> stateBytes, "state_files_end" -> stateFiles)
  }
}

object EngagementLive {
  /** Processing-time trigger: longer than a batch takes at the offered
    * rate, so a slow batch does not grow the next one. */
  val TriggerMs = 2500L
}
