package mrfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a call into a layer, or a Spark job/stage/streaming batch
  * attributed to the harness span that was open when it started.
  * Times are epoch microseconds.
  */
final case class Span(
    id: Long, name: String, parent: Long, run: String, start: Long, end: Long,
    attrs: Map[String, Any] = Map.empty)

/** Per-stage task totals, summed from `SparkListenerTaskEnd`. */
final class StageStats(val stageId: Int, val span: Long, val scan: Boolean, val start: Long) {
  var end = 0L
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Spans kept in memory and written once at the end. With tracing off
  * every `span` call is a plain call and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000
  private val open = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val done = mutable.ArrayBuffer.empty[Span]
  @volatile var run: String = "setup"
  @volatile var sc: Option[SparkContext] = None

  def nowMicros: Long = micros0 + (System.nanoTime() - nano0) / 1000

  def current: Long = open.get()

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      val start = nowMicros
      open.set(id)
      // jobs submitted from here (and from threads started here, such as
      // a streaming query's execution thread) carry the span id
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      try body
      finally {
        record(Span(id, name, parent, run, start, nowMicros, attrs))
        open.set(parent)
        sc.foreach(_.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString))
      }
    }

  def record(s: Span): Unit = synchronized { done += s }
  def newId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = synchronized(done.toList)
}

object Tracer {
  val SpanKey = "mrfbench.span"
}

/** Job, stage and task metrics from Spark's public listener events,
  * attributed to harness spans through the job's local properties.
  */
final class StageListener(tracer: Tracer) extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[Int, StageStats]
  private val jobSpans = mutable.Map.empty[Int, (Long, Long)] // job -> (span id, start)
  @volatile var lastJobEnded: Int = -1

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpans(e.jobId) = spanOf(e.properties) -> e.time * 1000
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (span, start) =>
      tracer.record(Span(tracer.newId(), "spark.job", span, tracer.run, start, e.time * 1000,
        Map("job" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded))))
    }
    lastJobEnded = math.max(lastJobEnded, e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    // the payer-mrf scan is a DataSource V2 read: its stages carry a
    // DataSourceRDD (split jobs and parquet reads do not)
    val scan = info.rddInfos.exists(_.name.contains("DataSourceRDD"))
    stages(info.stageId) = new StageStats(info.stageId, spanOf(e.properties), scan,
      info.submissionTime.getOrElse(System.currentTimeMillis()) * 1000)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000
      tracer.record(Span(tracer.newId(), "spark.stage", s.span, tracer.run, s.start, s.end,
        Map("stage" -> s.stageId, "tasks" -> s.tasks, "scan" -> s.scan,
          "task_ms" -> s.runMs, "gc_ms" -> s.gcMs, "shuffle_bytes" -> s.shuffleWrite,
          "spill_bytes" -> s.spill, "output_bytes" -> s.outBytes)))
    }
  }

  def snapshot(): Seq[StageStats] = synchronized(stages.values.toList)
  def clear(): Unit = synchronized(stages.clear())

  /** Wait until every event posted before this call has been handled:
    * the listener bus is FIFO, so once a marker job's end arrives, all
    * earlier task and stage events have too.
    */
  def drain(sc: SparkContext): Unit = {
    val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val group = "mrfbench-drain-" + java.util.UUID.randomUUID()
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty(Tracer.SpanKey, prevSpan)
    }
    val marker = sc.statusTracker.getJobIdsForGroup(group).max
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastJobEnded < marker && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

/** Streaming progress from the public `StreamingQueryListener`. */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var parent: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized(progress += p)
    tracer.record(Span(tracer.newId(), "MrfMicroBatchStream.batch", parent, tracer.run, start,
      start + dur.getOrElse("triggerExecution", 0L) * 1000,
      Map("batch" -> p.batchId, "rows" -> p.numInputRows) ++ dur.map { case (k, v) => s"${k}_ms" -> v }))
  }

  def awaitCount(n: Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(progress.size) < n && System.nanoTime() < deadline) Thread.sleep(5)
  }
  def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { val out = progress.toList; progress.clear(); out }
}

/** JVM-wide memory and GC readings from the platform MXBeans. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(_.getType == MemoryType.HEAP)
  private val heapNames = heapPools.map(_.getName).toSet
  private val samples = mutable.ArrayBuffer.empty[(String, Long)]

  def gcMillis: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  /** Heap occupancy right after a full collection: what the process
    * retains between iterations. The full collection also starts every
    * iteration from the same old generation.
    */
  def afterFullGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Record the heap occupancy after every collection, from the GC
    * notifications (the memory pools' usage after that collection).
    */
  def installGcSampler(): Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapNames(k) => v.getUsed }.sum
          samples.synchronized(samples += (info.getGcName -> used))
        }
      }, null, null)
    case _ => ()
  }

  /** Post-GC heap readings since the last call, young collections only:
    * the harness's own full collection between iterations is not a
    * reading of the workload.
    */
  def takeYoungSamples(): Seq[Long] = samples.synchronized {
    val out = samples.collect { case (n, u) if !n.contains("Old") => u }.toList
    samples.clear()
    out
  }
}
