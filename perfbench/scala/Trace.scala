package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the benchmark op the span belongs
  * to; `layer` is one of [[Trace.Layers]], outermost first.
  */
final case class Span(op: Int, layer: String, name: String, startMs: Long, endMs: Long)

/** Task-level counters, kept per task so skew and per-op sums can be
  * computed after the run.
  */
final case class TaskRec(stageId: Int, endMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, fetchWaitMs: Long, spill: Long,
    inBytes: Long, outBytes: Long, outRecords: Long)

final case class BatchRec(endMs: Long, durMs: Long, stateRows: Long, stateStores: Long)

/** In-memory trace of one run: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst phases from `QueryExecution.tracker`)
  * and a StreamingQueryListener (micro-batches). Listeners only append to
  * lock-free queues; spans are attributed to ops by time after the run,
  * because the one client runs ops strictly one after another.
  */
final class Trace(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile private var jobsOpen = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time)
      synchronized(jobsOpen += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      spans.add(Span(-1, "job", s"job ${e.jobId}", t0, e.time))
      synchronized(jobsOpen -= 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        spans.add(Span(-1, "stage", s"stage ${i.stageId}", s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        tasks.add(TaskRec(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        spans.add(Span(-1, "catalyst", phase, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchRec(System.currentTimeMillis(), p.batchDuration,
        ops.map(_.numRowsTotal).sum, ops.map(_.numStateStoreInstances.toLong).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners once every job they saw start has ended (the
    * listener bus is asynchronous), waiting at most `timeoutMs`.
    */
  def detach(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsOpen > 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50) // stage/task/QE events posted just after the last job end
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** Layers from outermost to innermost; a layer's self time is the part
    * of its spans' union that no deeper layer's span covers.
    */
  val Layers: Seq[String] = Seq("op", "build", "catalyst", "job", "stage")

  /** Total length of the union of `[s, e)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer for one op: `cover(k)` is the union of every span
    * of layer k or deeper, clipped to the op; self(k) = cover(k) - cover(k+1).
    */
  def selfTimes(op: Span, inner: Seq[Span]): Map[String, Long] = {
    val clipped = (op +: inner).map(s =>
      s.layer -> (math.max(s.startMs, op.startMs), math.min(s.endMs, op.endMs)))
    val cover = Layers.indices.map { k =>
      unionMs(clipped.filter(c => Layers.indexOf(c._1) >= k).map(_._2))
    } :+ 0L
    Layers.indices.map(k => Layers(k) -> (cover(k) - cover(k + 1))).toMap
  }

  def loadedClasses: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def metaspaceMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections, in MiB. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
