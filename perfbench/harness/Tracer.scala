package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a root span; `req`
  * groups the spans of one request, trigger or query. */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, req: Long)

/** Span recorder plus Spark listener-bus taps. Spans are kept in memory
  * and written with the run's result document. Each Spark job is
  * recorded with the program module of the innermost program frame on
  * its call site; the report attaches it, as a child span, to the root
  * span whose window holds its start (traced runs send one request at a
  * time, so that root is unique). */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  private val stages = new ConcurrentLinkedQueue[Array[Double]]()
  private val plans = new ConcurrentLinkedQueue[Array[Double]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  @volatile private var on = false
  // (start, stop) of each traced stretch, so that records from other
  // taps (streaming progress) can be limited to traced time
  private val windows = new ConcurrentLinkedQueue[Array[Double]]()
  @volatile private var onSince = 0.0

  private val current = new ThreadLocal[(Long, Long)] // (span id, req)

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val (parent, r) = if (outer == null) (0L, id) else (outer._1, outer._2)
      current.set((id, r))
      val t0 = Clock.nowMs
      try f
      finally {
        spans.add(Span(id, parent, name, t0, Clock.nowMs, r))
        current.set(outer)
      }
    }

  /** Record an already-timed root span (a request measured by a client). */
  def record(name: String, start: Double, end: Double): Unit =
    if (on) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, 0L, name, start, end, id))
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobStart.put(e.jobId, (e.time.toDouble, Tracer.module(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, mod) =>
        jobs.add(Map("id" -> e.jobId, "start" -> t0, "end" -> e.time.toDouble,
          "module" -> mod))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Array(e.stageInfo.stageId.toDouble, e.stageInfo.numTasks.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(Array(
        i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
        m.jvmGCTime.toDouble, m.inputMetrics.bytesRead.toDouble,
        m.shuffleReadMetrics.totalBytesRead.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        e.stageId.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) {
        val phases = qe.tracker.phases.values
        plans.add(Array(Clock.nowMs, phases.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    onSince = Clock.nowMs
    on = true
  }

  def stop(): Unit = {
    drain()
    on = false
    windows.add(Array(onSince, Clock.nowMs))
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Block until every queued listener event has been delivered. */
  def drain(): Unit = Tracer.drain(spark)

  def dump: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.map(s => Seq(s.id, s.parent, s.name,
      s.start, s.end, s.req)),
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
    "stages" -> stages.asScala.toSeq.map(_.toSeq),
    "plans" -> plans.asScala.toSeq.map(_.toSeq),
    "windows" -> windows.asScala.toSeq.map(_.toSeq))
}

object Tracer {
  /** The program module a job was launched from: the package under
    * `graft` of the innermost program frame of its call site, or
    * "spark" for jobs Spark submits from its own threads (adaptive
    * query stages, broadcasts), whose call sites hold no program frame. */
  def module(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .map(_.split("\\.")(1)) match {
      case Some(m) if m.headOption.exists(_.isLower) => m
      case Some(_) => "graft"
      case None => "spark"
    }

  /** LiveListenerBus.waitUntilEmpty is private[spark]; reach it
    * reflectively, falling back to a bounded sleep. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(20000L))
      ()
    } catch { case _: Throwable => Thread.sleep(2000) }
}

/** Streaming progress tap: one record per completed trigger with its
  * commit time (trigger start + triggerExecution), its last source
  * offset and the StreamingQueryProgress duration breakdown. */
final class ProgressTap(spark: SparkSession) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val end = p.sources.headOption.map(_.endOffset).flatMap(o =>
      scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    if (p.numInputRows > 0)
      progress.add(Map("batch" -> p.batchId, "start" -> startMs,
        "commit" -> (startMs + d.getOrElse("triggerExecution", 0.0)),
        "end_offset" -> end, "rows" -> p.numInputRows, "durations" -> d))
  }
  def install(): Unit = spark.streams.addListener(this)
  def uninstall(): Unit = spark.streams.removeListener(this)
}
