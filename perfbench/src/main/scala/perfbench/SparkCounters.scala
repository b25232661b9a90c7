package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run, from three listeners the
  * benchmark registers on its own session: a `SparkListener` (jobs, tasks
  * and task metrics, plus one span per job), a `QueryExecutionListener`
  * (optimizer and planner time) and a `StreamingQueryListener` (the
  * duration breakdown of each micro-batch).
  *
  * Listener events arrive on Spark's asynchronous bus; [[snapshot]] drains
  * the bus first, so a snapshot taken after an operation returns includes
  * all of that operation's events.
  */
final class SparkCounters(spark: SparkSession, trace: Trace) {
  import SparkCounters._

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val executorCpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val planMs = new AtomicLong
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (start ms, span)
  private val stageSpans = new ConcurrentHashMap[Int, Long]()
  private val spanShuffleRecords = new ConcurrentHashMap[Long, AtomicLong]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  // Listener times are wall-clock milliseconds; spans use nanoTime.
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + nanoOffset

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobStarts.put(e.jobId, (e.time, span))
      e.stageIds.foreach(id => stageSpans.put(id, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, span) =>
        trace.record(Span(trace.newId(), span, "spark", s"job ${e.jobId}", toNano(start), toNano(e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        executorCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageSpans.get(e.stageId)).foreach(span =>
          spanShuffleRecords.computeIfAbsent(span, _ => new AtomicLong)
            .addAndGet(m.shuffleReadMetrics.recordsRead))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPlan(qe)
    private def addPlan(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planMs.addAndGet(Seq("optimization", "planning").flatMap(phases.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress.add(BatchProgress(p.batchId, ms("triggerExecution"),
          ms("walCommit") + ms("commitOffsets"), ms("queryPlanning")))
      }
    }
  }

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Totals = {
    drain()
    Totals(jobs.get, tasks.get, executorCpuNs.get / 1e9, gcMs.get / 1e3,
      shuffleWriteBytes.get / 1e6, spillBytes.get / 1e6, planMs.get / 1e3)
  }

  /** Shuffle records read by the jobs launched inside the given spans.
    * For the JDBC sink, whose only shuffle is the key repartition, this is
    * the number of rows it wrote.
    */
  def shuffleRecordsRead(spans: Seq[Long]): Long = {
    drain()
    spans.flatMap(id => Option(spanShuffleRecords.get(id))).map(_.get).sum
  }

  /** Micro-batches seen so far, in batch order. */
  def batches: Seq[BatchProgress] = {
    drain()
    import scala.jdk.CollectionConverters._
    progress.asScala.toSeq.sortBy(_.batchId)
  }
}

object SparkCounters {
  /** Running totals: seconds for times, megabytes (1e6 bytes) for sizes. */
  final case class Totals(
      jobs: Long, tasks: Long, executorCpuS: Double, gcS: Double,
      shuffleWriteMb: Double, spillMb: Double, planS: Double) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks, executorCpuS - o.executorCpuS,
      gcS - o.gcS, shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb, planS - o.planS)
    def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks, executorCpuS + o.executorCpuS,
      gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb, planS + o.planS)
  }
  val Zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0)

  /** One micro-batch's durations in milliseconds, from its progress event. */
  final case class BatchProgress(batchId: Long, triggerMs: Long, walMs: Long, planningMs: Long)
}
