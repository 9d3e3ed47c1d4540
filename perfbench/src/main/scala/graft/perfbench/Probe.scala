package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.mq.MqConsumerPool

/** Spark-side counters for the traced run, read from the public listener
  * interfaces: jobs, stages and tasks with their task metrics
  * ([[SparkListener]]), and per-execution planning time and graft plan
  * rewrites ([[QueryExecutionListener]]). Installed only while a traced
  * phase runs.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskMs, taskCpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  val executions, planMs, topkNodes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.incrementAndGet()
    val phases = qe.tracker.phases
    planMs.addAndGet(phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    topkNodes.addAndGet(Probe.countNodes(qe.executedPlan, "TopKPerKeyExec"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def remove(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "task_cpu_ms" -> taskCpuNs.get / 1000000L,
    "gc_ms" -> gcMs.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "executions" -> executions.get,
    "plan_ms" -> planMs.get, "topk_nodes" -> topkNodes.get)
}

object Probe {
  private val helper = new AdaptiveSparkPlanHelper {}
  def countNodes(plan: SparkPlan, simpleName: String): Long =
    helper.collectWithSubqueries(plan) {
      case p if p.getClass.getSimpleName == simpleName => 1L
    }.sum

  /** Sum of the connector's consumer-pool counters over a topic's
    * partitions (`MqConsumerPool.stats`, keyed as the socket backend keys
    * its pool: `host:port/topic`).
    */
  def poolStats(broker: String, topic: String, partitions: Int): Map[String, Long] = {
    val all = (0 until partitions).map(p => MqConsumerPool.stats(s"$broker/$topic", p))
    def sum(f: graft.mq.MqPoolStats => AtomicLong): Long = all.map(s => f(s).get).sum
    Map("created" -> sum(_.created), "buffer_hits" -> sum(_.bufferHits), "fetches" -> sum(_.brokerFetches),
      "invalidated" -> sum(_.invalidated), "evicted" -> sum(_.evicted),
      "stale_discards" -> sum(_.staleDiscards), "prefetches" -> sum(_.prefetches),
      "prefetch_hits" -> sum(_.prefetchHits))
  }
}
