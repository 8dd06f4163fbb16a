package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{CorpusFilterState, StreamSources}

/** corpus_ingest: a closed-loop drain of fixed-size document batches
  * through the training-data gate.
  *
  * Why: it stresses the signature kernels, the delta-append index that
  * every batch re-reads in full, and the label propagation of the
  * report, and it bypasses the versioned rewrite and the events
  * operators. The index is pre-loaded through the same `merge` with
  * several times the documents the run itself ingests.
  *
  * One client: batch k+1 is renamed into the watched directory only
  * when batch k's merge has returned. A batch's latency runs from that
  * rename to the end of its merge, so it includes the engine's trigger
  * and commit work. After the window the report (representative
  * election plus keep/drop verdicts) is materialized once.
  */
final class CorpusIngest(plan: Harness.Schedule, work: String, tracer: Tracer)
    extends Harness.Workload {

  private val in = s"$work/input"
  private val threshold = 0.5
  private var root: String = _
  private var state: CorpusFilterState = _
  private var query: StreamingQuery = _
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var feed: () => Unit = () => ()

  private def files(dir: String): Seq[File] =
    new File(dir).listFiles.filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  private def report(spark: SparkSession, st: CorpusFilterState) =
    st.report(spark, minQuality = 0.5, langs = Seq("en"))

  /** Merge the warm-up batch into a throw-away state and report. */
  def warmup(spark: SparkSession, setup: Int): Unit = {
    val st = new CorpusFilterState(s"$work/warm-$setup/state", threshold)
    st.merge(spark.read.parquet(s"$in/warmup.parquet"), 0L)
    report(spark, st).write.format("noop").mode("overwrite").save()
  }

  /** Merge the pre-load documents as batch 0; the stream's batches
    * follow as 1, 2, ... */
  def preload(spark: SparkSession): Unit = {
    root = s"$work/ingest"
    state = new CorpusFilterState(s"$root/state", threshold)
    state.merge(spark.read.parquet(s"$in/preload.parquet"), 0L)
  }

  /** Start the ingest query and let it consume the first batch file
    * (the file source takes its schema from the watched directory). */
  private def startQuery(spark: SparkSession): Unit = {
    val incoming = new File(s"$root/incoming")
    incoming.mkdirs()
    val first = files(s"$in/batches").head
    Files.copy(first.toPath, new File(incoming, first.getName).toPath)
    val st = state
    query = StreamSources.parquetStream(spark, incoming.getPath)
      .writeStream
      .option("checkpointLocation", s"$root/checkpoint")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        // a traced run alternates traced and untraced batches
        tracer.setActive(id % 2 == 0)
        val t0 = Clock.nowMs()
        tracer.span("streaming.batch") {
          tracer.span("streaming.corpus_merge")(st.merge(b, id + 1))
        }
        batches.add(Map("batch" -> id, "start_ms" -> t0, "end_ms" -> Clock.nowMs(), "traced" -> tracer.active))
        feed()
      }
      .start()
    while (batches.isEmpty) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    startQuery(spark)
    val incoming = new File(s"$root/incoming")
    val pending = files(s"$in/batches").drop(1).iterator
    val placed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val done = new java.util.concurrent.CountDownLatch(1)
    // batches placed before the window opens bring the loop to its
    // steady state; the window measures the ones placed after
    val start = Clock.nowMs()
    val t0 = start + plan.windowStartMs
    val deadline = start + plan.windowEndMs
    def place(): Unit =
      if (Clock.nowMs() < deadline && pending.hasNext) {
        val f = pending.next()
        Files.move(f.toPath, new File(incoming, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        placed.add(Map("name" -> f.getName, "placed_ms" -> Clock.nowMs(),
          "bytes" -> new File(incoming, f.getName).length))
      } else done.countDown()
    feed = () => place()
    place()
    while (!done.await(50, java.util.concurrent.TimeUnit.MILLISECONDS))
      query.exception.foreach(e => throw e)
    query.processAllAvailable()
    query.stop()
    query.exception.foreach(e => throw e)
    tracer.setActive(true)
    val r0 = Clock.nowMs()
    tracer.span("streaming.corpus_report") {
      report(spark, state).write.mode("overwrite").parquet(s"$work/out/report")
    }
    val r1 = Clock.nowMs()
    val (stateBytes, stateFiles) = Harness.du(new File(s"$root/state"))
    Map(
      "t0_ms" -> t0, "report_ms" -> (r1 - r0),
      "placed" -> placed.asScala.toSeq,
      "batches" -> batches.asScala.toSeq,
      "checkpoint" -> s"$root/checkpoint", "query_id" -> query.id.toString,
      "state_bytes_end" -> stateBytes, "state_files_end" -> stateFiles)
  }
}
