package graft.mq

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The MQ read path: every scan reads rows through
  * [[GraftMqPartitionReader]] over one [[MqMessageCursor]]. These specs
  * pin the row reader's answers against the log it reads — the full
  * metadata schema with null keys, header values, the empty topic, and
  * ranges larger than the cursor's 4096-row fetch chunk — and the
  * streaming answer against the batch one.
  */
class GraftMqReaderSpec extends SparkSuite {

  private val base = 1700000000000000L

  private def freshTopic(name: String): Unit = {
    InMemoryMqBroker.drop(name)
    val state = InMemoryMqBroker.getOrCreate(name, 2)
    (0 until 10).foreach(i => state.append(0, MqMessage(
      if (i % 3 == 0) null else s"k$i".getBytes("UTF-8"),
      s"m$i".getBytes("UTF-8"), base + i * 1000000L)))
    (0 until 5).foreach(i => state.append(1, MqMessage(
      s"p1k$i".getBytes("UTF-8"), s"n$i".getBytes("UTF-8"), base + i * 1000000L)))
  }

  private def read(topic: String, extra: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2")
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  /** Every row of the input partition `[from, until)` of `partition`, read
    * through the factory's row reader, as cells that compare by value
    * (binary cells as byte sequences, strings as Java strings).
    */
  private def viaReader(topic: String, partition: Int, from: Long, until: Long,
      options: (String, String)*): Seq[Seq[Any]] = {
    val opts = GraftMqOptions.from((Map("topic" -> topic) ++ options).asJava)
    val schema = opts.schema
    val part = GraftMqInputPartition(topic, partition, from, until, opts)
    def cells(r: InternalRow): Seq[Any] = schema.fields.indices.map { i =>
      r.get(i, schema(i).dataType) match {
        case b: Array[Byte] => b.toSeq
        case u: UTF8String => u.toString
        case v => v
      }
    }
    val rows = Seq.newBuilder[Seq[Any]]
    val reader = GraftMqPartitionReaderFactory(schema).createReader(part)
    try while (reader.next()) rows += cells(reader.get())
    finally reader.close()
    rows.result()
  }

  private def bytes(s: String): Seq[Byte] = s.getBytes("UTF-8").toSeq

  test("the row reader returns the full metadata schema exactly, incl. null keys") {
    freshTopic("rd-full")
    val p0 = viaReader("rd-full", 0, 0L, 10L, "numPartitions" -> "2", "includeMetadata" -> "true")
    assert(p0 == (0 until 10).map(i => Seq(
      if (i % 3 == 0) null else bytes(s"k$i"), bytes(s"m$i"), "rd-full", 0, i.toLong,
      base + i * 1000000L, 0)))
    val p1 = viaReader("rd-full", 1, 0L, 5L, "numPartitions" -> "2", "includeMetadata" -> "true")
    assert(p1.map(r => (r(0), r(1), r(4))) ==
      (0 until 5).map(i => (bytes(s"p1k$i"), bytes(s"n$i"), i.toLong)))

    val df = read("rd-full", "includeMetadata" -> "true")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ColumnarToRow"), plan)
    val got = df
      .select(col("key").cast("string"), col("value").cast("string"),
        col("topic"), col("partition"), col("offset"),
        col("timestamp").cast("long"), col("timestampType"))
      .orderBy("partition", "offset").collect().toSeq
    assert(got.size == 15)
    // Null keys stay null; timestamps round-trip (cast timestamp→long
    // yields epoch SECONDS).
    assert(got.count(_.isNullAt(0)) == 4)
    assert(got.head.getLong(5) == base / 1000000L)
  }

  test("headers schema: header keys and values read exactly") {
    InMemoryMqBroker.drop("rd-hdr")
    val state = InMemoryMqBroker.getOrCreate("rd-hdr", 2)
    state.append(0, MqMessage(null, "x".getBytes("UTF-8"), base,
      Array("h" -> "v".getBytes("UTF-8"))))
    val r = read("rd-hdr", "includeHeaders" -> "true").select(col("value").cast("string"),
      expr("headers[0].key"), expr("cast(headers[0].value as string)")).collect()
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq ==
      Seq(("x", "h", "v")))
  }

  test("empty topic: the scan returns zero rows") {
    InMemoryMqBroker.drop("rd-empty")
    InMemoryMqBroker.getOrCreate("rd-empty", 2)
    assert(read("rd-empty", "includeMetadata" -> "true").count() == 0)
  }

  test("ranges beyond one 4096-row fetch chunk stay offset-exact") {
    // Broker-backed: one 5000-row range crosses the cursor's 4096-row
    // fetch chunk.
    InMemoryMqBroker.drop("rd-chunk")
    val state = InMemoryMqBroker.getOrCreate("rd-chunk", 1)
    (0 until 5000).foreach(i => state.append(0, MqMessage(
      if (i % 7 == 0) null else s"k$i".getBytes("UTF-8"),
      s"m$i".getBytes("UTF-8"), base + i)))
    val rows = viaReader("rd-chunk", 0, 0L, 5000L,
      "numPartitions" -> "1", "includeMetadata" -> "true")
    assert(rows.map(_(4)) == (0 until 5000).map(_.toLong))
    assert(rows.map(_(1)) == (0 until 5000).map(i => bytes(s"m$i")))

    val df = spark.read.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "2")
      .option("rowsPerBatch", "5000").option("seed", "7")
      .option("includeMetadata", "true").load()
    val agg = df.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("nd"))
      .orderBy("partition").collect()
    assert(agg.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq == Seq((0, 5000L, 0L, 4999L, 5000L), (1, 5000L, 0L, 4999L, 5000L)))
  }

  test("streaming micro-batches match the batch answer") {
    import org.apache.spark.sql.streaming.Trigger
    val words = spark.readStream.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "4")
      .option("rowsPerBatch", "2500").option("seed", "42").load()
      .select(explode(split(col("value").cast("string"), " ")).as("word"))
      .groupBy("word").count()
    val q = words.writeStream.format("memory").queryName("rd_stream_wc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.table("rd_stream_wc").orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = spark.read.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "4")
      .option("rowsPerBatch", "2500").option("seed", "42").load()
      .select(explode(split(col("value").cast("string"), " ")).as("word"))
      .groupBy("word").count().orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}
