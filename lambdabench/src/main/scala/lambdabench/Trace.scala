package lambdabench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing through Spark's public listener interfaces. It is
  * attached only for traced passes; untraced passes run with no listener
  * of the benchmark's registered.
  *
  * Everything is recorded per pass: `reset()` before the pass, `snapshot`
  * after it (once the listener bus has drained).
  */
final class Trace(spark: SparkSession) {
  import Trace.TaskRec

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stagesDone = new java.util.concurrent.atomic.AtomicLong()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val planningMs = new java.util.concurrent.atomic.AtomicLong()
  private val spreadExchanges = new java.util.concurrent.atomic.AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(t0 => jobs.add((t0.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec((e.stageId, e.stageAttemptId), e.taskInfo.duration,
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      // the exchange Tables.spread adds: a hash repartition to an explicit count
      spreadExchanges.addAndGet(Plans.collectWithSubqueries(qe.executedPlan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
            e.outputPartitioning.isInstanceOf[HashPartitioning] => 1
      }.size.toLong)
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.lambdabench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def reset(): Unit = {
    org.apache.spark.lambdabench.Bus.drain(spark.sparkContext)
    tasks.clear(); jobs.clear(); jobStarts.clear(); progress.clear()
    stagesDone.set(0); planningMs.set(0); spreadExchanges.set(0)
  }

  /** Layer metrics of the pass that ran over the wall-clock window
    * [t0Ms, t1Ms]. Streaming phase times are sums over the pass's triggers.
    */
  def snapshot(t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    org.apache.spark.lambdabench.Bus.drain(spark.sparkContext)
    val ts = tasks.asScala.toSeq
    val js = jobs.asScala.toSeq
    val ps = progress.asScala.toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    def phase(k: String): Double = ps.map(dur(_, k)).sum
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.durMs).sorted
      val med = d(d.size / 2).max(1L)
      d.last.toDouble / med
    }.foldLeft(1.0)(_ max _)
    // state size at the end of each query: its last progress
    val lastPerQuery = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val wall = (t1Ms - t0Ms) / 1e3
    Map(
      "streams.triggers" -> ps.size.toDouble,
      "streams.empty_triggers" -> ps.count(_.numInputRows == 0).toDouble,
      "streams.trigger_s" -> phase("triggerExecution"),
      "streams.add_batch_s" -> phase("addBatch"),
      "streams.planning_s" -> phase("queryPlanning"),
      "streams.latest_offset_s" -> phase("latestOffset"),
      "streams.get_batch_s" -> phase("getBatch"),
      "streams.wal_commit_s" -> phase("walCommit"),
      "streams.commit_offsets_s" -> phase("commitOffsets"),
      "streams.overhead_s" -> (phase("triggerExecution") - phase("addBatch")),
      "state.rows_total" -> lastPerQuery.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "state.rows_updated" -> ps.flatMap(_.stateOperators).map(_.numRowsUpdated).sum.toDouble,
      "state.memory_bytes" -> lastPerQuery.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble,
      "state.commit_s" -> ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stagesDone.get.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.job_s" -> js.map { case (a, b) => b - a }.sum / 1e3,
      "spark.outside_jobs_s" -> (wall - Trace.unionMs(js, t0Ms, t1Ms) / 1e3),
      "spark.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.input).sum.toDouble,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.task_skew" -> skew,
      "sql.planning_s" -> planningMs.get / 1e3,
      "tables.spread_exchanges" -> spreadExchanges.get.toDouble)
  }
}

object Trace {
  private final case class TaskRec(stage: (Int, Int), durMs: Long, runMs: Long, gcMs: Long,
      shRead: Long, shWrite: Long, spill: Long, input: Long)

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curEnd = lo
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) { total += b - a.max(curEnd); curEnd = b }
      }
    total
  }

}
