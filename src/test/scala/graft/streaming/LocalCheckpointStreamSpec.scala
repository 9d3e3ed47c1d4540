package graft.streaming

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.mq.InMemoryMqBroker
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streams under graft's checkpoint manager: a WordCount's checkpoints
  * start no child process, and a checkpoint moves between Spark's default
  * manager and graft's in both directions.
  */
class LocalCheckpointStreamSpec extends SparkSuite {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The reference WordCount over `topic`, complete mode, into `counts`
    * (word → count of the latest batch) through foreachBatch, the sink
    * that accepts checkpoint recovery.
    */
  private def wordCount(topic: String, ckpt: String,
                        counts: java.util.Map[String, Long]): StreamingQuery =
    spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2").load()
      .select(explode(split(col("value").cast("string"), " ")).as("word"))
      .groupBy("word").count()
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => counts.put(r.getString(0), r.getLong(1)))
      }
      .option("checkpointLocation", ckpt).start()

  /** One trigger per call: `lines` land on the topic, the query catches up. */
  private def trigger(q: StreamingQuery, topic: String, lines: String*): Unit = {
    InMemoryMqBroker.produceStrings(topic, 2, lines)
    q.processAllAvailable()
  }

  /** Spark's own background work that starts processes at any time:
    * a session's artifact cleanup (`rm -rf`, on stop or when any session
    * is garbage-collected) and the heartbeat's metrics poller (`getconf
    * PAGESIZE`, once per JVM).
    */
  private val Background = Seq(
    "org.apache.spark.sql.artifact.ArtifactManager",
    "org.apache.spark.executor.ProcfsMetricsGetter")

  /** The command and first stack frames of every process the JVM starts
    * while `body` runs, [[Background]] work left out. A process started
    * before and one after `body` bracket it: both must reach the
    * recorder, so it was live, and only starts stamped between them
    * count.
    */
  private def processStartsDuring(body: => Unit): Seq[String] = {
    val starts = new ConcurrentLinkedQueue[(Instant, String, Seq[String])]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => starts.add((e.getStartTime, e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).map(f =>
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))
      rs.startAsync()
      def mark(name: String): Instant = {
        new ProcessBuilder("true", name).start().waitFor()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def seen = starts.asScala.find(_._2 == s"true $name")
        while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        assert(seen.nonEmpty, s"the recorder never saw marker process '$name'")
        seen.get._1
      }
      val from = mark("graft-jfr-before")
      body
      val to = mark("graft-jfr-after")
      starts.asScala.toSeq
        .filter { case (at, _, frames) => at.isAfter(from) && at.isBefore(to) &&
          !frames.exists(f => Background.exists(f.startsWith)) }
        .map { case (_, command, frames) => s"$command  [${frames.take(8).mkString(" < ")}]" }
    } finally rs.close()
  }

  test("a 3-trigger MQ WordCount on a file: checkpoint starts no process") {
    val topic = "ckpt-forks"
    def run(): Map[String, Long] = {
      InMemoryMqBroker.drop(topic)
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val q = wordCount(topic, tmp("ckpt-forks"), counts)
      try {
        trigger(q, topic, "a b", "b c")
        trigger(q, topic, "c c")
        trigger(q, topic, "a d")
      } finally q.stop()
      counts.asScala.toMap
    }
    run() // untimed: loads the classes and initialises JVM-wide state
    var counts = Map.empty[String, Long]
    val starts = processStartsDuring { counts = run() }
    assert(counts == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 1L))
    assert(starts.isEmpty, s"${starts.size} process starts:\n${starts.take(10).mkString("\n")}")
  }

  test("a checkpoint restarts across Spark's default manager and graft's, in both directions") {
    val graft = spark.conf.get(ManagerKey)
    // With no class set, Spark's CheckpointFileManager.create picks this
    // one for a file: path; the session's Spark conf carries graft's class
    // into every Hadoop conf, so naming the default is how to get it here.
    val default = classOf[FileContextBasedCheckpointFileManager].getName
    try for ((first, second) <- Seq(default -> graft, graft -> default)) {
      val topic = s"ckpt-compat-${first.split('.').last}"
      InMemoryMqBroker.drop(topic)
      val ckpt = tmp("ckpt-compat")
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      def start(manager: String): StreamingQuery = {
        spark.conf.set(ManagerKey, manager)
        val fm = CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
        assert(fm.getClass.getName == manager)
        wordCount(topic, ckpt, counts)
      }
      val q1 = start(first)
      try {
        trigger(q1, topic, "x y", "y")
        trigger(q1, topic, "z")
      } finally q1.stop()
      val committed = q1.lastProgress.batchId
      InMemoryMqBroker.produceStrings(topic, 2, Seq("x z z")) // lands while the query is down
      val q2 = start(second)
      try {
        q2.processAllAvailable()
        trigger(q2, topic, "y")
        val resumed = q2.recentProgress.filter(_.numInputRows > 0)
        assert(resumed.head.batchId == committed + 1, s"$first → $second")
        assert(resumed.map(_.numInputRows).sum == 2, s"$first → $second: only the new messages are read")
      } finally q2.stop()
      assert(counts.asScala.toMap == Map("x" -> 2L, "y" -> 3L, "z" -> 3L), s"$first → $second")
    } finally spark.conf.set(ManagerKey, graft)
  }
}
