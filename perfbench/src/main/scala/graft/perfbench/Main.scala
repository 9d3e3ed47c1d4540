package graft.perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.mq.{MqMessage, MqSocketBroker}

/** The system under test, driven from outside through its public entry
  * points: `SparkEntry.queries`, `readStream`/`writeStream` with
  * `format("graft-mq")`, `MqSocketBroker`, and the `graft.functions`
  * columns. The broker (`graft.mq.MqBrokerServerMain`) and the load
  * generator ([[LoadGen]]) run as their own processes.
  *
  * Writes raw observations (timings, streaming progress reports, counts,
  * counters, spans) to `--out`; the runner turns them into metrics and
  * checks the outputs.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val e = new Engine(new Args(argv))
    val code =
      try { e.run(); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally e.close()
    sys.exit(code)
  }
}

/** The workloads' fixed settings. The open-loop rates were set from the
  * capacity measured on a 4-core, 16 GB machine.
  */
object Settings {
  // wc_open
  val vocab = 20000             // distinct words the generator draws from
  val warmMessages = 65536      // pushed through the pipeline by each set-up
  val capMessages = 200000L     // the closed-loop drains' backlog
  val drains = 6                // the first is not measured (JIT)
  val maxRowsPerBatch = 100000
  val refRate = 60000.0         // msg/s of the measured open loop
  val ladder = Seq(20000.0, 150000.0, 300000.0) // extra rates of the traced run
  val brokerHeap = "1g"         // the broker keeps every message

  // ops_batch
  val queries = Seq("dedup_exact_stats", "dedup_jaccard_prefix", "text_tfidf_top",
    "pipeline_pack_bpe", "text_dup_spans")
  val minWarmSweeps = 5
  val sweepSeconds = 2.0        // warm sweeps = max(minWarmSweeps, seconds / this)
}

final class Engine(a: Args) {
  import Settings._
  private val workload = a("workload")
  private val seed = a.long("seed")
  private val seconds = a.double("seconds")
  private val tracer = new Tracer(a.int("trace") == 1)
  private val work: Path = Paths.get(a("work"))
  private val cpus = Runtime.getRuntime.availableProcessors.toString
  private val parts = 4
  private val javaBin = System.getProperty("java.home") + "/bin/java"
  private val classPath = System.getProperty("java.class.path")
  private val out = mutable.LinkedHashMap.empty[String, Any]

  private var spark: SparkSession = _
  private var broker: Process = _
  private var addr: String = _
  private val children = mutable.ArrayBuffer.empty[Process]
  // Largest heap in use right after a full collection at the end of a
  // measured phase: the live data (state stores, run artifacts, cached
  // blocks) at its peak, whatever the collector's sizing policy.
  private var liveHeapPeak = 0L

  // Every streaming progress report, by query name, as Spark renders it.
  private val progress = new ConcurrentLinkedQueue[(String, String)]()
  // (query name, [start µs, end µs]) of every sink write.
  private val sinkWrites = new ConcurrentLinkedQueue[(String, Seq[Long])]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.name, e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def run(): Unit = {
    out("workload") = workload
    out("seed") = seed
    val setups = (0 until 3).map(i => setupCycle(i, last = i == 2))
    out("setup_s") = setups
    tracer.span("measure") {
      workload match {
        case "wc_open" => wcOpen()
        case "ops_batch" => opsBatch()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    out("peak_rss_kb") = peakRssKb()
    out("heap_committed_kb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1024
    out("live_heap_kb") = liveHeapPeak / 1024
    out("spans") = tracer.toJson
    Json.write(Paths.get(a("out")), out)
  }

  def close(): Unit = {
    if (spark != null) try spark.stop() catch { case _: Throwable => () }
    children.foreach(stopProcess)
  }

  // ------------------------------------------------------------ processes

  private def stopProcess(p: Process): Unit = {
    p.destroy()
    if (!p.waitFor(10, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
  }

  private def launch(heap: String, main: String, args: Seq[String], log: String): Process = {
    val pb = new ProcessBuilder(
      (Seq(javaBin, s"-Xms$heap", s"-Xmx$heap", "-cp", classPath, main) ++ args).asJava)
    pb.redirectError(ProcessBuilder.Redirect.appendTo(work.resolve(log).toFile))
    val p = pb.start()
    children += p
    p
  }

  private def startBroker(): Unit = {
    broker = launch(brokerHeap, "graft.mq.MqBrokerServerMain", Nil, "broker.log")
    val r = new BufferedReader(new InputStreamReader(broker.getInputStream))
    var line = r.readLine()
    while (line != null && !line.startsWith("GRAFT_MQ_PORT=")) line = r.readLine()
    require(line != null, "broker process exited before reporting its port")
    addr = s"127.0.0.1:${line.stripPrefix("GRAFT_MQ_PORT=").trim}"
  }

  private def stopBroker(): Unit = {
    stopProcess(broker)
    children -= broker
    broker = null
  }

  private def genArgs(topic: String, extra: (String, Any)*): Seq[String] =
    (Seq("broker" -> addr, "topic" -> topic, "partitions" -> parts, "seed" -> seed,
      "vocab" -> vocab, "words" -> 4,
      "out" -> work.resolve(s"gen-$topic.json")) ++ extra)
      .flatMap { case (k, v) => Seq(s"--$k", v.toString) }

  private def startGen(topic: String, extra: (String, Any)*): Process =
    launch("512m", "graft.perfbench.LoadGen", genArgs(topic, extra: _*), "gen.log")

  private def awaitGen(p: Process, timeoutS: Double): Unit = {
    require(p.waitFor((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS),
      "load generator did not finish in time")
    children -= p
    require(p.exitValue() == 0, s"load generator exited with ${p.exitValue()}")
  }

  private def fill(topic: String, messages: Long): Unit =
    tracer.span("fill", Map("topic" -> topic)) {
      awaitGen(startGen(topic, "mode" -> "fill", "messages" -> messages), 120)
    }

  // ---------------------------------------------------------------- setup

  /** One set-up: broker process up (streaming), Spark session up, one
    * untimed warm-up pass through the workload's pipeline. All but the
    * last set-up are torn down again; the runner reports their median.
    */
  private def setupCycle(i: Int, last: Boolean): Double = tracer.span("setup", Map("cycle" -> i)) {
    val t0 = System.nanoTime()
    val streaming = workload == "wc_open"
    if (streaming) startBroker()
    spark = graft.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(progressListener)
    if (streaming) {
      val s = MqSocketBroker.connectOrCreate(addr, "warm", parts)
      val msg = MqMessage(null, "warm up the pipeline".getBytes, 0L)
      try for (p <- 0 until parts; _ <- 0 until warmMessages / parts / 4096)
        s.appendAll(p, Seq.fill(4096)(msg))
      finally s.close()
      drainWordCount("warm", s"warm$i")
    } else {
      noop(SparkEntry.queries(queries.head)(spark, a("warm-data")))
      spark.catalog.clearCache()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (!last) {
      spark.stop()
      spark = null
      if (streaming) stopBroker()
    }
    dt
  }

  // ------------------------------------------------------------ streaming

  private def source(topic: String): DataFrame = spark.readStream.format("graft-mq")
    .option("backend", "socket").option("brokerSocket", addr)
    .option("topic", topic).option("numPartitions", parts.toString)
    .option("maxRowsPerBatch", maxRowsPerBatch.toString)
    .load()

  /** The reference demo's tokenizer: value as a string, split into words. */
  private def words(df: DataFrame): DataFrame =
    df.select(explode(split(col("value").cast("string"), " ")).as("value"))

  private def checkpoint(name: String): String =
    work.resolve("ckpt").resolve(name).toString

  /** The reference WordCount in complete mode. Each trigger's full count
    * table goes to the `graft-mq` socket sink (topic `<name>-counts`, key
    * = batch id), the complete-mode bridge onto an append-only sink; the
    * write is timed as the sink layer's span.
    */
  private def wordCount(topic: String, name: String, trigger: Trigger): StreamingQuery =
    words(source(topic)).groupBy("value").count()
      .writeStream.outputMode("complete").queryName(name)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = Clock.nowUs
        batch.select(lit(id.toString).as("key"),
            concat_ws(" ", col("value"), col("count").cast("string")).as("value"))
          .write.format("graft-mq")
          .option("backend", "socket").option("brokerSocket", addr)
          .option("topic", s"$name-counts").option("numPartitions", parts.toString)
          .mode("append").save()
        sinkWrites.add((name, Seq(t0, Clock.nowUs)))
        ()
      }
      .option("checkpointLocation", checkpoint(name))
      .trigger(trigger).start()

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def drainWordCount(topic: String, name: String): Double = timed {
    val q = wordCount(topic, name, Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** The final counts of query `name`, from the rows its last batch wrote
    * to the sink, and how many of those rows repeat a word (a replayed
    * write would).
    */
  private def counts(name: String): (Map[String, Long], Int) = {
    val rows = spark.read.format("graft-mq")
      .option("backend", "socket").option("brokerSocket", addr)
      .option("topic", s"$name-counts").option("numPartitions", parts.toString)
      .option("includeMetadata", "true").load()
      .select(col("key").cast("string").cast("long").as("batch"), col("value").cast("string"))
    val last = rows.agg(max("batch")).head().getLong(0)
    val words = rows.filter(col("batch") === last).collect().map { r =>
      val Array(w, c) = r.getString(1).split(" ")
      (w, c.toLong)
    }
    val merged = words.groupBy(_._1).map { case (w, cs) => w -> cs.map(_._2).sum }
    (merged, words.length - merged.size)
  }

  private def sinkWritesOf(name: String): Seq[Seq[Long]] =
    sinkWrites.asScala.collect { case (n, w) if n == name => w }.toSeq

  private def endTotal(topic: String): Long = {
    val s = MqSocketBroker.connect(addr, topic)
    try s.endOffsets.values.sum finally s.close()
  }

  private def progressOf(name: String): Seq[RawJson] = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    progress.asScala.collect { case (n, j) if n == name => RawJson(j) }.toSeq
  }

  /** Runs `body` with the Spark listeners installed; returns its duration
    * and the counters it moved.
    */
  private def probed(body: => Unit): (Double, Map[String, Long]) = {
    val p = new Probe
    p.install(spark)
    val t0 = System.nanoTime()
    try body finally p.remove(spark)
    ((System.nanoTime() - t0) / 1e9, p.snapshot)
  }

  private def wcOpen(): Unit = {
    fill("cap", capMessages)
    val drains = (0 until Settings.drains).map { i =>
      val s = tracer.span("drain", Map("topic" -> "cap")) { drainWordCount("cap", s"cap$i") }
      markLiveHeap()
      s
    }
    val (first, firstDup) = counts("cap0")
    val rest = (1 until Settings.drains).map(i => counts(s"cap$i"))
    val drift = rest.count(_._1 != first)
    Json.write(work.resolve("counts-cap.json"), first)
    out("capacity") = Map("messages" -> capMessages, "drain_s" -> drains,
      "count_mismatches" -> drift, "duplicate_rows" -> (firstDup + rest.map(_._2).sum),
      "progress" -> progressOf("cap0"))
    if (tracer.enabled) {
      val before = Probe.poolStats(addr, "cap", parts)
      val (s, counters) = probed {
        tracer.span("drain", Map("topic" -> "cap", "traced" -> true)) {
          drainWordCount("cap", "cap_traced")
        }
      }
      out("capacity_traced") = Map("drain_s" -> s, "spark" -> counters,
        "pool_before" -> before, "pool_after" -> Probe.poolStats(addr, "cap", parts),
        "progress" -> progressOf("cap_traced"))
    }
    // The reference rate for --seconds; the traced run adds the ladder's
    // rungs, --seconds/2 each, for the sustained-rate decision.
    val ref = openLoop("ref", refRate, seconds, probe = tracer.enabled)
    val extra = if (tracer.enabled) ladder.map(r => openLoop(s"r${r.toLong}", r, seconds / 2, probe = false))
      else Nil
    out("open_loop") = ref +: extra
  }

  /** One open loop at `rate` msg/s; with `probe`, under the Spark listeners. */
  private def openLoop(name: String, rate: Double, secs: Double, probe: Boolean): Map[String, Any] =
    tracer.span("open_loop", Map("rate" -> rate)) {
      val topic = s"live_$name"
      MqSocketBroker.connectOrCreate(addr, topic, parts).close()
      var sparkCounters = Map.empty[String, Long]
      val body = () => {
        // Started inside the probe, so the query's session carries its listeners.
        val q = wordCount(topic, topic, Trigger.ProcessingTime(0L))
        val gen = startGen(topic, "mode" -> "open", "rate" -> rate, "seconds" -> secs,
          "tick-ms" -> 10)
        awaitGen(gen, secs + 60)
        q.processAllAvailable()
        markLiveHeap()
        q.stop()
      }
      if (probe) sparkCounters = probed(body())._2 else body()
      val (finalCounts, dup) = counts(topic)
      Json.write(work.resolve(s"counts-$topic.json"), finalCounts)
      Map("name" -> name, "rate" -> rate, "seconds" -> secs, "topic" -> topic,
        "progress" -> progressOf(topic), "spark" -> sparkCounters, "duplicate_rows" -> dup,
        "sink_rows" -> endTotal(s"$topic-counts"), "sink_writes" -> sinkWritesOf(topic))
    }

  // ---------------------------------------------------------------- batch

  /** Runs a query to completion through Spark's `noop` sink, which
    * materialises every column and row (a `.count()` lets Spark prune
    * columns and skip sorts).
    */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs every query once, timing each. A `resultDir` sweep writes each
    * full result there as parquet for the correctness check; other sweeps
    * go through `noop`.
    */
  private def sweep(kind: String, names: Seq[String], data: String,
      resultDir: Option[Path] = None): Seq[Map[String, Any]] =
    tracer.span("sweep", Map("kind" -> kind)) {
      names.map { q =>
        tracer.span("query", Map("name" -> q)) {
          val t0 = System.nanoTime()
          val err =
            try {
              val df = SparkEntry.queries(q)(spark, data)
              resultDir match {
                case Some(d) => df.write.mode("overwrite").parquet(d.resolve(q).toString)
                case None => noop(df)
              }
              None
            } catch {
              case scala.util.control.NonFatal(e) => Some(String.valueOf(e.getMessage).take(300))
            }
            finally spark.catalog.clearCache()
          Map("name" -> q, "seconds" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
        }
      }
    }

  private def opsBatch(): Unit = {
    val names = queries
    val data = a("data")
    val cold = sweep("cold", names, data, Some(work.resolve("results")))
    markLiveHeap()
    // One untimed sweep: after the cold one the JIT still speeds the
    // queries up by about a fifth.
    sweep("settle", names, data)
    // A fixed number of sweeps, so a slower build gets as many samples.
    val n = math.max(minWarmSweeps, math.round(seconds / sweepSeconds).toInt)
    val warm = (0 until n).map { _ =>
      val s = sweep("warm", names, data)
      markLiveHeap()
      s
    }
    out("batch") = Map("cold" -> cold, "warm" -> warm)
    if (tracer.enabled) {
      out("batch_traced") = names.map { q =>
        var s: Seq[Map[String, Any]] = Nil
        val (_, c) = probed { s = sweep("traced", Seq(q), data) }
        s.head ++ Map("spark" -> c)
      }
      out("kernels") = kernels(data)
    }
    Json.write(work.resolve("oracle.json"),
      names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** Direct calls to the `graft.functions` kernels over a cached input;
    * each is timed through the `noop` sink and reported per input row.
    */
  private def kernels(data: String): Map[String, Any] = tracer.span("kernels") {
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(20).toDF("copy"))
      .select(col("text"), split(col("text"), " ").as("tokens"))
      .repartition(cpus.toInt).cache()
    val nDocs = docs.count()
    val dim = 32
    val rnd = new java.util.Random(seed)
    val vecs = spark.range(0, 20000, 1, cpus.toInt)
      .select(array((0 until dim).map(j => randn(seed * 100 + j)): _*).as("v")).cache()
    val nVecs = vecs.count()
    val cents = (0 until 64).map(i => i -> Array.fill(dim)(rnd.nextGaussian()))
    val books = Seq.fill(8)(Seq.fill(16)(Array.fill(dim / 8)(rnd.nextGaussian())))
    val pq = vecs.select(GraftFunctions.pq_encode(col("v"), books).as("codes"),
      GraftFunctions.pq_tables(col("v"), books).as("tables")).cache()
    pq.count()
    def time(name: String, df: DataFrame, rows: Long): (String, Any) =
      name -> tracer.span("kernel", Map("name" -> name)) {
        noop(df)
        val samples = (0 until 3).map(_ => timed(noop(df)))
        Map("rows" -> rows, "seconds" -> samples)
      }
    val res = Map(
      time("minhash", docs.select(GraftFunctions.minhash_signature(col("tokens"), 64)), nDocs),
      time("simhash", docs.select(GraftFunctions.simhash60(col("tokens"))), nDocs),
      time("winnow", docs.select(GraftFunctions.winnow_fps60(col("tokens"), 3, 4)), nDocs),
      time("bpe_count", docs.select(GraftFunctions.bpe_token_count(col("text"))), nDocs),
      time("nearest_centroids",
        vecs.select(GraftFunctions.nearest_centroids(col("v"), cents, 4)), nVecs),
      time("pq_adc", pq.select(GraftFunctions.pq_adc_score(col("codes"), col("tables"))), nVecs))
    Seq(docs, vecs, pq).foreach(_.unpersist())
    res
  }

  /** Between timed sections only: a full collection pauses the engine. */
  private def markLiveHeap(): Unit = {
    // The first collection hands Spark's ContextCleaner the broadcasts,
    // shuffles and blocks of frames no longer referenced; it releases them
    // on its own thread, and the second collection then frees them.
    System.gc()
    Thread.sleep(500)
    System.gc()
    liveHeapPeak = math.max(liveHeapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def peakRssKb(): Long =
    scala.io.Source.fromFile(new File("/proc/self/status")).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
}
