package graft.mq

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Edge contracts from the round-6 connector review: batch data-loss
  * semantics, sink schema acceptance, broker partition-count safety,
  * generated-backend partition growth, and option validation.
  */
class GraftMqHardeningSpec extends SparkSuite {

  private val base = 1700000000000000L

  test("batch read aborts on truncated start under failOnDataLoss=true, clamps under false") {
    val topic = "hard-trunc"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    (0 until 10).foreach(i =>
      state.append(0, MqMessage(null, s"m$i".getBytes("UTF-8"), base + i)))
    state.truncateTo(4) // offsets [4, 10) retained
    def read(failOnDataLoss: Boolean) = spark.read.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("startingOffsets", """{"0":1}""")
      .option("failOnDataLoss", failOnDataLoss.toString).load()
    // Default semantics: requesting truncated offsets IS data loss.
    val err = intercept[Exception] { read(failOnDataLoss = true).count() }
    assert(err.getMessage.contains("earliest retained"), err.getMessage)
    // Opt-out reads from the log head instead — 6 surviving rows.
    assert(read(failOnDataLoss = false).count() == 6)
  }

  test("batch write with optional key column reaches the sink (ACCEPT_ANY_SCHEMA)") {
    import spark.implicits._
    val topic = "hard-keyed-write"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.getOrCreate(topic, 1)
    Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
      .write.format("graft-mq").mode("append")
      .option("topic", topic).option("numPartitions", "1").save()
    val back = spark.read.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select($"key".cast("string"), $"value".cast("string"))
      .as[(String, String)].collect().toSet
    assert(back == Set(("k1", "v1"), ("k2", "v2")))
  }

  test("sink writes string key and value bytes exactly, invalid UTF-8 included") {
    val topic = "hard-raw-bytes"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.getOrCreate(topic, 1)
    spark.sql("SELECT cast(X'FE62' AS string) AS key, cast(X'FF61' AS string) AS value")
      .write.format("graft-mq").mode("append")
      .option("topic", topic).option("numPartitions", "1").save()
    val back = spark.read.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select("key", "value").collect()
    assert(back.length == 1)
    // A decode/encode round trip would give EF BF BD (U+FFFD) for 0xFF.
    assert(back(0).getAs[Array[Byte]]("value").toSeq == Seq(0xFF.toByte, 0x61.toByte))
    assert(back(0).getAs[Array[Byte]]("key").toSeq == Seq(0xFE.toByte, 0x62.toByte))
  }

  test("broker rejects a mismatched partition count instead of corrupting the topic") {
    InMemoryMqBroker.drop("hard-mismatch")
    InMemoryMqBroker.getOrCreate("hard-mismatch", 2)
    val err = intercept[IllegalArgumentException] {
      InMemoryMqBroker.getOrCreate("hard-mismatch", 8)
    }
    assert(err.getMessage.contains("2 partitions"), err.getMessage)
  }

  test("generated backend plans partitions added after a checkpoint") {
    // Simulate a restart where the offset log was written at
    // numPartitions=2 but the source is reconfigured to 4: the restored
    // start has no entries for partitions 2-3, which must still advance.
    val props = java.util.Map.of("topic", "hard-grow", "backend", "generated",
      "numPartitions", "4", "rowsPerBatch", "5")
    val stream = new GraftMqMicroBatchStream(GraftMqOptions.from(props), "unused")
    val restored = GraftMqOffset(Map(0 -> 10L, 1 -> 10L))
    val end = stream.latestOffset(restored,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[GraftMqOffset].ends
    assert(end == Map(0 -> 15L, 1 -> 15L, 2 -> 5L, 3 -> 5L), end.toString)
  }

  test("non-positive numeric options fail fast with a clear message") {
    def opts(k: String, v: String) =
      GraftMqOptions.from(java.util.Map.of("topic", "t", k, v))
    for ((k, v) <- Seq("numPartitions" -> "0", "rowsPerBatch" -> "-1",
        "maxRowsPerBatch" -> "0", "minPartitions" -> "-2",
        "pollTimeoutMs" -> "0", "numPartitions" -> "abc",
        "failOnDataLoss" -> "yes", "wordsPerMessage" -> "-1",
        "minRowsPerBatch" -> "0", "maxTriggerDelayMs" -> "-1")) {
      val err = intercept[IllegalArgumentException] { opts(k, v) }
      assert(err.getMessage.contains(k), s"$k: ${err.getMessage}")
    }
  }

  // Contended-broker failure mode (VERDICT r16 #4; /root/reference/
  // README.md:367-370, 535, 654): broker fetch LATENCY — distinct from
  // data LOSS — is bounded by `pollTimeoutMs` per chunk fetch.

  test("contended broker: a slow partition under pollTimeoutMs delays but never corrupts a batch") {
    import spark.implicits._
    val topic = "hard-slow-ok"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 2, (1 to 40).map(i => s"m$i"))
    // Partition 1 is contended: every fetch takes >= 150 ms.
    InMemoryMqBroker.get(topic).get.injectFetchDelay(1, 150L)

    def drain(): (Set[String], Long) = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val t0 = System.nanoTime()
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "2")
        .option("maxRowsPerBatch", "12") // force several real triggers
        .option("pollTimeoutMs", "30000").load()
        .select($"value".cast("string")).as[String]
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
          batch.collect().foreach(seen.add)
        }
        .option("checkpointLocation", tmp("slow-ok-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      import scala.jdk.CollectionConverters._
      (seen.asScala.toSet, (System.nanoTime() - t0) / 1000000L)
    }

    val (rows, elapsedMs) = drain()
    // Delayed, not corrupted: every message arrived, none malformed.
    assert(rows == (1 to 40).map(i => s"m$i").toSet, s"got ${rows.size} distinct rows")
    // Sanity floor only (streaming overhead swamps one 150 ms sleep);
    // the slow-fail test below is what PROVES the injected-delay path
    // actually runs — it throws through it.
    assert(elapsedMs >= 150L, s"run took $elapsedMs ms — injected delay not exercised")
  }

  test("contended broker: a fetch exceeding pollTimeoutMs fails the query loudly") {
    import spark.implicits._
    val topic = "hard-slow-fail"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 2, (1 to 10).map(i => s"m$i"))
    InMemoryMqBroker.get(topic).get.injectFetchDelay(1, 400L)

    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2")
      .option("pollTimeoutMs", "50").load()
      .select($"value".cast("string")).as[String]
      .writeStream.outputMode("append")
      .format("memory").queryName("slow_fail_out")
      .option("checkpointLocation", tmp("slow-fail-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.awaitTermination(120000) finally q.stop()
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(causes.contains("MqPollTimeoutException") && causes.contains("pollTimeoutMs=50"),
      s"expected MqPollTimeoutException in the cause chain, got:\n$causes")
  }

  test("hung broker: an indefinitely-stalled fetch fails at pollTimeoutMs, not never") {
    // The README.md:654 contract is an ASYNC bound — r17's post-hoc
    // elapsed-time accounting only failed fetches that RETURNED slow; a
    // truly hung broker call hung the task forever (VERDICT r17 #2).
    // Inject an hour-long stall (a hang at test timescale) and require
    // the query to surface MqPollTimeoutException in seconds: the fetch
    // runs on a bounded-wait daemon thread the timeout interrupts.
    import spark.implicits._
    val topic = "hard-hang"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 2, (1 to 10).map(i => s"m$i"))
    InMemoryMqBroker.get(topic).get.injectFetchDelay(1, 3600000L)

    val t0 = System.nanoTime()
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2")
      .option("pollTimeoutMs", "100").load()
      .select($"value".cast("string")).as[String]
      .writeStream.outputMode("append")
      .format("memory").queryName("hang_fail_out")
      .option("checkpointLocation", tmp("hang-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.awaitTermination(120000) finally q.stop()
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(causes.contains("MqPollTimeoutException") && causes.contains("pollTimeoutMs=100"),
      s"expected MqPollTimeoutException in the cause chain, got:\n$causes")
    // The whole query (start → failure surfaced) must complete in test
    // time, nowhere near the hour-long stall: the bound, not the fetch,
    // decided when the task died.
    assert(elapsedMs < 60000L,
      s"query took $elapsedMs ms to fail — the poll bound did not interrupt the hung fetch")
  }
}
