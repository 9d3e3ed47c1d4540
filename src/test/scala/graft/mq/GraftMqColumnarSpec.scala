package graft.mq

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The vectorized MQ read path (`SupportsColumnarReads`): the columnar
  * and row readers share one [[MqMessageCursor]], so these specs pin the
  * contract that matters — identical ANSWERS either way (both readers of
  * [[GraftMqPartitionReaderFactory]] driven over the same input
  * partition), the columnar plan actually engaging (ColumnarToRow above
  * the scan), the automatic row fallback for the nested `headers` column,
  * and slab boundaries (ranges larger than one 4096-row batch).
  */
class GraftMqColumnarSpec extends SparkSuite {

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

  /** Every row of the input partition `[from, until)` of `partition`,
    * read once through the factory's row reader and once through its
    * columnar reader, as cell values that compare by value (binary cells
    * as byte sequences, strings copied out of the reused column vectors).
    */
  private def viaBothReaders(topic: String, partition: Int, from: Long, until: Long,
      options: (String, String)*): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val opts = GraftMqOptions.from((Map("topic" -> topic) ++ options).asJava)
    val schema = opts.schema
    val factory = GraftMqPartitionReaderFactory(schema)
    val part = GraftMqInputPartition(topic, partition, from, until, opts)
    assert(factory.supportColumnarReads(part))
    def cells(r: InternalRow): Seq[Any] = schema.fields.indices.map { i =>
      r.get(i, schema(i).dataType) match {
        case b: Array[Byte] => b.toSeq
        case u: UTF8String => u.toString
        case v => v
      }
    }
    val rows = Seq.newBuilder[Seq[Any]]
    val rowReader = factory.createReader(part)
    try while (rowReader.next()) rows += cells(rowReader.get())
    finally rowReader.close()
    val batches = Seq.newBuilder[Seq[Any]]
    val colReader = factory.createColumnarReader(part)
    try while (colReader.next()) colReader.get().rowIterator().asScala.foreach(batches += cells(_))
    finally colReader.close()
    (rows.result(), batches.result())
  }

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("columnar batch equals the row path on the full metadata schema, incl. null keys") {
    freshTopic("col-full")
    for ((partition, until) <- Seq(0 -> 10L, 1 -> 5L)) {
      val (rows, cols) = viaBothReaders("col-full", partition, 0L, until,
        "numPartitions" -> "2", "includeMetadata" -> "true")
      assert(rows.size == until, s"partition $partition")
      assert(cols == rows, s"partition $partition")
    }
    val colDf = read("col-full", "includeMetadata" -> "true")
    assert(isColumnar(colDf), colDf.queryExecution.executedPlan.toString)
    val got = colDf
      .select(col("key").cast("string"), col("value").cast("string"),
        col("topic"), col("partition"), col("offset"),
        col("timestamp").cast("long"), col("timestampType"))
      .orderBy("partition", "offset").collect().toSeq
    assert(got.size == 15)
    // Null keys survive the vector null path; timestamps round-trip
    // (cast timestamp→long yields epoch SECONDS).
    assert(got.count(_.isNullAt(0)) == 4)
    assert(got.head.getLong(5) == base / 1000000L)
  }

  test("default minimal (value-only) scan is columnar — the wordcount hot path") {
    freshTopic("col-min")
    val df = read("col-min")
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    import spark.implicits._
    assert(df.select(col("value").cast("string")).as[String].collect().toSet ==
      ((0 until 10).map(i => s"m$i") ++ (0 until 5).map(i => s"n$i")).toSet)
  }

  test("headers schema falls back to the row reader, values still exact") {
    InMemoryMqBroker.drop("col-hdr")
    val state = InMemoryMqBroker.getOrCreate("col-hdr", 2)
    state.append(0, MqMessage(null, "x".getBytes("UTF-8"), base,
      Array("h" -> "v".getBytes("UTF-8"))))
    val df = read("col-hdr", "includeHeaders" -> "true")
    assert(!isColumnar(df), df.queryExecution.executedPlan.toString)
    val r = df.select(col("value").cast("string"),
      expr("headers[0].key"), expr("cast(headers[0].value as string)")).collect()
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2))).toSeq ==
      Seq(("x", "h", "v")))
  }

  test("pushdown composes with the columnar path (pruned range, exact values)") {
    freshTopic("col-push")
    val df = read("col-push", "includeMetadata" -> "true")
      .filter(col("offset") >= 8)
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    import spark.implicits._
    assert(df.select(col("value").cast("string")).as[String].collect().toSet ==
      Set("m8", "m9"))
  }

  test("data-loss skip semantics are identical through the columnar path") {
    InMemoryMqBroker.drop("col-loss")
    val state = InMemoryMqBroker.getOrCreate("col-loss", 1)
    (0 until 10).foreach(i =>
      state.append(0, MqMessage(null, s"m$i".getBytes("UTF-8"), base + i)))
    state.truncateTo(4) // offsets [4, 10) retained
    // Explicitly request a truncated start ({"0":1} < earliest 4): that IS
    // data loss — the opt-out path must skip to earliest retained through
    // the columnar reader exactly as through the row reader.
    val (rows, cols) = viaBothReaders("col-loss", 0, 1L, 10L,
      "numPartitions" -> "1", "failOnDataLoss" -> "false", "includeMetadata" -> "true")
    assert(rows.map(_(4)) == (4 until 10).map(_.toLong)) // offset column
    assert(cols == rows)
    val vals = read("col-loss", "numPartitions" -> "1",
        "startingOffsets" -> """{"0":1}""", "failOnDataLoss" -> "false")
      .select(col("value").cast("string")).collect().map(_.getString(0)).sorted.toSeq
    assert(vals == (4 until 10).map(i => s"m$i"))
    // failOnDataLoss=true still aborts (the r6 honesty contract) with the
    // columnar reader selected.
    val err = intercept[Exception] {
      read("col-loss", "numPartitions" -> "1",
        "startingOffsets" -> """{"0":1}""").count()
    }
    assert(err.getMessage.contains("earliest retained"), err.getMessage)
  }

  test("empty topic: columnar scan returns zero rows, no empty batch emitted") {
    InMemoryMqBroker.drop("col-empty")
    InMemoryMqBroker.getOrCreate("col-empty", 2)
    val df = read("col-empty", "includeMetadata" -> "true")
    assert(df.count() == 0)
  }

  test("multi-slab ranges (beyond one 4096-row batch) stay offset-exact") {
    // Broker-backed: one 5000-row range crosses both the cursor's 4096-row
    // fetch chunk and the columnar reader's 4096-row slab.
    InMemoryMqBroker.drop("col-slab")
    val state = InMemoryMqBroker.getOrCreate("col-slab", 1)
    (0 until 5000).foreach(i => state.append(0, MqMessage(
      if (i % 7 == 0) null else s"k$i".getBytes("UTF-8"),
      s"m$i".getBytes("UTF-8"), base + i)))
    val (rows, cols) = viaBothReaders("col-slab", 0, 0L, 5000L,
      "numPartitions" -> "1", "includeMetadata" -> "true")
    assert(rows.map(_(4)) == (0 until 5000).map(_.toLong))
    assert(cols == rows)

    val df = spark.read.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "2")
      .option("rowsPerBatch", "5000").option("seed", "7")
      .option("includeMetadata", "true").load()
    assert(isColumnar(df), df.queryExecution.executedPlan.toString)
    val agg = df.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("nd"))
      .orderBy("partition").collect()
    assert(agg.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq == Seq((0, 5000L, 0L, 4999L, 5000L), (1, 5000L, 0L, 4999L, 5000L)))
  }

  test("streaming micro-batches read columnar and match the batch answer") {
    import org.apache.spark.sql.streaming.Trigger
    val words = spark.readStream.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "4")
      .option("rowsPerBatch", "2500").option("seed", "42").load()
      .select(explode(split(col("value").cast("string"), " ")).as("word"))
      .groupBy("word").count()
    val q = words.writeStream.format("memory").queryName("col_stream_wc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val streamed = spark.table("col_stream_wc").orderBy("word")
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
