package graft

import scala.jdk.CollectionConverters._

import graft.mq.InMemoryMqBroker
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generated code compiles once per JVM, not once per session: with
  * artifact isolation off (`Sessions.configs`) every session on the
  * context, a streaming query's cloned session and a `newSession()` child
  * included, runs under one classloader, so Spark's codegen cache (keyed
  * by classloader and source) serves code another session compiled.
  * Compiles are counted as the delta of Spark's compile-time histogram;
  * suites run one after another, so nothing else compiles in between.
  */
class CodegenReuseSpec extends SparkSuite {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The reference WordCount over `topic` on a fresh checkpoint, driven
    * through two triggers and stopped; returns the last batch's counts. */
  private def wordCount(topic: String): Map[String, Long] = {
    InMemoryMqBroker.drop(topic)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2").load()
      .select(explode(split(col("value").cast("string"), " ")).as("word"))
      .groupBy("word").count()
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => counts.put(r.getString(0), r.getLong(1)))
      }
      .option("checkpointLocation", tmp("codegen-reuse")).start()
    try {
      InMemoryMqBroker.produceStrings(topic, 2, Seq("a b", "b c"))
      q.processAllAvailable()
      InMemoryMqBroker.produceStrings(topic, 2, Seq("c c"))
      q.processAllAvailable()
    } finally q.stop()
    counts.asScala.toMap
  }

  test("a second streaming query of the same shape compiles no generated code") {
    val expected = Map("a" -> 1L, "b" -> 2L, "c" -> 3L)
    assert(wordCount("codegen-reuse-1") == expected)
    var second = Map.empty[String, Long]
    val n = compiles { second = wordCount("codegen-reuse-2") }
    assert(second == expected)
    assert(n == 0, s"the second query compiled $n classes")
  }

  test("a child session reuses the code its parent compiled") {
    val sql = "SELECT id % 7 AS k, sum(id * 3) AS s FROM range(0, 5000, 1, 4) " +
      "WHERE id % 5 <> 2 GROUP BY id % 7 ORDER BY k"
    val first = spark.sql(sql).collect().toSeq
    val child = spark.newSession()
    var again = Seq.empty[org.apache.spark.sql.Row]
    val n = compiles { again = child.sql(sql).collect().toSeq }
    assert(again == first)
    assert(n == 0, s"the child session compiled $n classes")
  }

  test("a child session inherits artifact isolation off from the context") {
    assert(spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }
}
