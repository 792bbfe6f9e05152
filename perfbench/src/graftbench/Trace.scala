package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A recorded interval. Times are on the monotonic clock (ns); Spark
  * listener times (epoch ms) are mapped onto it with [[Spans.fromEpochMs]].
  * `parent` is the id of the span that caused this one (0 = none).
  */
final case class Span(
    id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span buffer, written out once when the benchmark ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // offset between the epoch clock Spark stamps events with and the
  // monotonic clock the benchmark times with
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Vector[Span] = buf.asScala.toVector
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offsetNs

  def toJson: String = all.sortBy(_.startNs).map { s =>
    Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ (if (s.attrs.isEmpty) Map.empty else Map("attrs" -> s.attrs)))
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-job aggregate built from the scheduler's events. */
final class JobRec(val jobId: Int, val startMs: Long, val batchId: Option[Long], val repSpan: Option[Long]) {
  @volatile var endMs: Long = -1L
  @volatile var stages: Int = 0
  @volatile var tasks: Int = 0
  @volatile var taskMs: Long = 0L
  @volatile var gcMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
}

/** SparkListener the benchmark registers: jobs are parented to the
  * micro-batch through the `streaming.sql.batchId` job property, or to
  * a query repetition through [[JobTrace.RepProperty]].
  */
final class JobTrace extends SparkListener {
  val jobs = TrieMap[Int, JobRec]()
  val stageSpans = new ConcurrentLinkedQueue[(Int, Int, Long, Long, Int)]() // job, stage, submit ms, end ms, tasks
  private val stageToJob = TrieMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time,
      prop("streaming.sql.batchId").map(_.toLong), prop(JobTrace.RepProperty).map(_.toLong))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
      j.synchronized { j.stages += 1 }
      for (s <- info.submissionTime; c <- info.completionTime)
        stageSpans.add((j.jobId, info.stageId, s, c, info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      j <- stageToJob.get(e.stageId).flatMap(jobs.get)
      m <- Option(e.taskMetrics)
    } j.synchronized {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }

  def finished: Vector[JobRec] = jobs.values.filter(_.endMs >= 0).toVector.sortBy(_.jobId)
}

object JobTrace {
  /** local property that tags every job of one query repetition */
  val RepProperty = "graftbench.span"
}

/** StreamingQueryListener the benchmark registers: one progress event
  * per micro-batch, carrying its `durationMs` phases.
  */
final class ProgressTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  def all: Vector[StreamingQueryProgress] = progress.asScala.toVector
}

/** Both listeners, attached to one session for the traced phase. */
final class Tracing(spark: SparkSession) {
  val jobs = new JobTrace
  val progress = new ProgressTrace

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(progress)
    this
  }

  /** wait for queued listener events, then detach */
  def detach(): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(progress)
  }
}

object ListenerDrain {
  def apply(sc: SparkContext): Unit = org.apache.spark.GraftBenchBridge.drainListeners(sc)
}
