package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Sessions, SparkEntry}
import graft.queries.GraftQueries
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, InputAdapter, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graft.Bridge

/** The per-query capture: what each registered query costs, end to end
  * and layer by layer, from one pass per query.
  *
  * The pass: clear the session's run artifacts, one traced COLD run
  * (artifact builds, codegen and IO init land here), [[WarmRuns]]
  * untraced warm runs (the wall-time samples), then a GC and one traced
  * STEADY run (the memoized serve path the warm runs time). A traced run
  * records, per inner execution of any session on the context (the
  * registry's child sessions included), its duration, root node,
  * planning ms (`QueryExecution.tracker.phases`) and hot nodes; and over
  * the run the job, stage and task counts, shuffle bytes and records both
  * ways, disk and memory spill, each shuffle exchange's write volume, and
  * `codegen_compiles`, the generated classes Janino compiled (a steady
  * run that compiles is missing Spark's codegen cache).
  * `trace_overhead` is the steady traced wall over the warm median: the
  * cost of tracing itself, so a traced figure can be read against an
  * untraced one.
  *
  * Writes `<outDir>/capture.json` (rewritten after every query, so a run
  * cut short keeps what it measured) and `<outDir>/plans/<query>.txt`,
  * the formatted plan of every inner execution of both traced runs — the
  * pair ops checkpoint intermediates, so the final frame's plan alone
  * shows a stub scan where the interesting joins ran. A query that
  * throws is recorded as an error and the pass continues.
  *
  * Usage: `runMain graft.tools.Capture <sfDir> <outDir> [query...]`
  * (default: every registered query). Env: SPARK_GRAFT_CPUS (default 4).
  * Exits non-zero when any query failed.
  */
object Capture {

  /** Untraced warm runs per query; their median is the query's wall time. */
  val WarmRuns = 3

  /** A node is hot — reported with its metrics — when it spilled, moved
    * more than 8 MB through a shuffle or broadcast, or emitted more than
    * 1M rows: the volumes that matter at scale. */
  private val HotBytes = 8L << 20
  private val HotRows = 1000000L
  private val HotMetricKeys = Seq("spillSize", "shuffleBytesWritten", "dataSize",
    "bytesWritten", "peakMemory", "numOutputRows", "shuffleRecordsWritten")

  final case class HotNode(node: String, metrics: Map[String, Long])
  final case class Execution(durationMs: Double, root: String, planningMs: Long,
      hotNodes: Seq[HotNode])
  final case class Trace(wallS: Double, rows: Long, jobs: Long, stages: Long, tasks: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      diskSpillBytes: Long, memSpillBytes: Long, codegenCompiles: Long,
      executions: Seq[Execution], exchanges: Seq[ShuffleAudit.ExchangeStat])

  sealed trait Record { def query: String }
  final case class Captured(query: String, coldS: Double, warmS: Seq[Double],
      warmMedianS: Double, traceOverhead: Double, cold: Trace, steady: Trace) extends Record
  final case class Failed(query: String, error: String) extends Record

  /** The one listener: jobs, stages and task metrics from the scheduler
    * events, inner executions from the SQL execution-end events of every
    * session on the context. */
  private final class Recorder extends SparkListener {
    val jobs, stages, tasks = new LongAdder
    val writeBytes, writeRecords, readBytes, readRecords, diskSpill, memSpill = new LongAdder
    val executions = new ConcurrentLinkedQueue[(QueryExecution, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
        writeRecords.add(m.shuffleWriteMetrics.recordsWritten)
        readBytes.add(m.shuffleReadMetrics.totalBytesRead)
        readRecords.add(m.shuffleReadMetrics.recordsRead)
        diskSpill.add(m.diskBytesSpilled)
        memSpill.add(m.memoryBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      Bridge.succeededExecution(e).foreach(executions.add)
  }

  /** Untimed warm-up (codegen and parquet-reader init would otherwise land
    * on whichever query runs first). Its result is never used, and a real
    * environment problem resurfaces as the first query's error; a fatal
    * error or an interrupt propagates. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case NonFatal(_) => () }

  private def timed(action: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val rows = action
    (rows, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `action` once under a fresh [[Recorder]]; returns the trace and
    * the formatted plan of each inner execution. The listener bus is
    * drained before the recorder is installed (no earlier run's events
    * land in this window) and before it is removed (every event of this
    * run has been delivered), so the counts are exactly this run's. The
    * compile count is the JVM-wide histogram's delta over the action:
    * exact while nothing else runs on the context.
    */
  private def trace(spark: SparkSession)(action: => Long): (Trace, Seq[String]) = {
    val r = new Recorder
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(r)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (rows, wallS) = try timed(action) finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(r)
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    val captured = r.executions.asScala.toSeq
    val plans = captured.map(_._1.explainString(FormattedMode))
    val perExec = captured.map { case (qe, durationNs) =>
      val nodes = distinctNodes(qe.executedPlan)
      val exchanges = nodes.flatMap { node =>
        val m = Bridge.nodeMetrics(node)
        val bytes = m.getOrElse("shuffleBytesWritten", 0L)
        val records = m.getOrElse("shuffleRecordsWritten", 0L)
        if (bytes > 0 || records > 0) Some(ShuffleAudit.ExchangeStat(node.nodeName, bytes, records))
        else None
      }
      // The first operator under the AQE, query-stage and codegen wrappers.
      val root = nodes.find {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec |
            _: InputAdapter => false
        case _ => true
      }.getOrElse(qe.executedPlan)
      val planningMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      (Execution(durationNs / 1e6, headLine(root), planningMs, nodes.flatMap(hotNode)), exchanges)
    }
    (Trace(wallS, rows, r.jobs.sum, r.stages.sum, r.tasks.sum,
      r.writeBytes.sum, r.writeRecords.sum, r.readBytes.sum, r.readRecords.sum,
      r.diskSpill.sum, r.memSpill.sum, compiles, perExec.map(_._1), perExec.flatMap(_._2)), plans)
  }

  /** [[trace]] of the steady-state serve path. The GC first reaps earlier
    * runs' shuffle files: ContextCleaner deletes them only once the dead
    * ShuffleDependencies are collected, and at a ×1000 dir one query's
    * leftovers (~40 GB) can exhaust the scratch disk under the NEXT run.
    */
  def steadyTrace(spark: SparkSession)(action: => Long): (Trace, Seq[String]) = {
    System.gc()
    Thread.sleep(500)
    trace(spark)(action)
  }

  /** Every node of an executed plan once: a reused exchange points at the
    * same node as the stage it reuses, and it writes no shuffle again. */
  private def distinctNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    Bridge.flattenExecuted(plan).filter(seen.add)
  }

  private def headLine(node: SparkPlan): String =
    node.simpleString(8).linesIterator.next().take(110)

  private def hotNode(node: SparkPlan): Option[HotNode] = {
    val m = Bridge.nodeMetrics(node)
    def v(k: String) = m.getOrElse(k, 0L)
    if (v("spillSize") > 0 || v("shuffleBytesWritten") > HotBytes ||
        v("dataSize") > HotBytes || v("numOutputRows") > HotRows)
      Some(HotNode(headLine(node),
        HotMetricKeys.flatMap(k => m.get(k).filter(_ > 0).map(k -> _)).toMap))
    else None
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()
    .writerWithDefaultPrettyPrinter()

  private def planText(query: String, runs: Seq[(String, Trace, Seq[String])]): String = {
    val sb = new StringBuilder
    for ((label, t, plans) <- runs) {
      sb ++= s"== $query $label run (${t.rows} rows) — ${plans.size} inner execution(s) ==\n"
      plans.zipWithIndex.foreach { case (p, i) =>
        sb ++= s"\n---------- $label execution $i ----------\n" ++= p
      }
      sb ++= "\n"
    }
    sb.toString
  }

  /** One pass over `queries` (name → query function) at `sfDir`, writing
    * the capture files under `outDir`; returns one record per query. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Record] = {
    val out = Paths.get(outDir)
    val plansDir = Files.createDirectories(out.resolve("plans"))
    warmUp(spark, sfDir)
    val records = scala.collection.mutable.ArrayBuffer.empty[Record]
    for ((name, q) <- queries) {
      def once(): Long = q(spark, sfDir).count()
      val record = try {
        GraftQueries.clearRunArtifacts()
        val (cold, coldPlans) = trace(spark)(once())
        val warm = Seq.fill(WarmRuns)(timed(once())._2)
        val (steady, steadyPlans) = steadyTrace(spark)(once())
        Files.writeString(plansDir.resolve(s"$name.txt"),
          planText(name, Seq(("cold", cold, coldPlans), ("steady", steady, steadyPlans))))
        val median = warm.sorted.apply(WarmRuns / 2)
        Captured(name, cold.wallS, warm, median, steady.wallS / median, cold, steady)
      } catch {
        case NonFatal(e) => Failed(name, s"${e.getClass.getName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
      record match {
        case c: Captured =>
          println(f"[capture] $name%-38s cold ${c.coldS}%7.2f s  warm ${c.warmMedianS}%7.2f s  " +
            f"overhead ${c.traceOverhead}%5.2f  ${c.steady.executions.size} exec ${c.steady.jobs} jobs " +
            s"${c.steady.codegenCompiles} compiles")
        case f: Failed => println(s"[capture] FAILED $name: ${f.error}")
      }
      records += record
      json.writeValue(out.resolve("capture.json").toFile,
        Map("sf_dir" -> sfDir, "warm_runs" -> WarmRuns, "queries" -> records))
    }
    records.toSeq
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Capture <sfDir> <outDir> [query...]")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val records = try run(spark, args(0), args(1), names.map(n => n -> SparkEntry.queries(n)))
      finally spark.stop()
    val failed = records.collect { case f: Failed => f.query }
    val overheads = records.collect { case c: Captured => c.traceOverhead }.sorted
    val medianOverhead = if (overheads.isEmpty) Double.NaN else overheads(overheads.size / 2)
    println(f"[capture] ${records.size - failed.size}/${records.size} captured, median trace_overhead " +
      f"$medianOverhead%.3f -> ${args(1)}/capture.json" +
      (if (failed.nonEmpty) s" — FAILED: ${failed.mkString(", ")}" else ""))
    if (failed.nonEmpty) sys.exit(1)
  }
}
