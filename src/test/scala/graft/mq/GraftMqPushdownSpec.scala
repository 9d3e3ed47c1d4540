package graft.mq

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DSv2 filter/limit pushdown on the `graft-mq` batch scan
  * ([[GraftMqScanBounds]]): pushed predicates must narrow the PLANNED
  * offset ranges (a seek), while values keep matching because every
  * filter stays residual. The reference names DSv2 pushdown as a core
  * motivation (/root/reference/README.md:152, 751) without implementing
  * it.
  */
class GraftMqPushdownSpec extends SparkSuite {

  private val base = 1700000000000000L

  private def freshTopic(name: String): Unit = {
    InMemoryMqBroker.drop(name)
    val state = InMemoryMqBroker.getOrCreate(name, 2)
    // partition 0: m0..m9 at base+0..9s; partition 1: n0..n4 at base+0..4s
    (0 until 10).foreach(i =>
      state.append(0, MqMessage(null, s"m$i".getBytes("UTF-8"), base + i * 1000000L)))
    (0 until 5).foreach(i =>
      state.append(1, MqMessage(null, s"n$i".getBytes("UTF-8"), base + i * 1000000L)))
  }

  private def read(topic: String): DataFrame = spark.read.format("graft-mq")
    .option("topic", topic).option("numPartitions", "2")
    .option("includeMetadata", "true").load()

  private def ranges(df: DataFrame): Seq[(Int, Long, Long)] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.partitions.flatten).collect {
        case p: GraftMqInputPartition => (p.partition, p.from, p.until)
      }.sorted

  test("partition equality filter plans only that partition's range") {
    freshTopic("push-part")
    val df = read("push-part").filter(col("partition") === 0)
    assert(ranges(df) == Seq((0, 0L, 10L)), ranges(df).toString)
    assert(df.count() == 10)
  }

  test("offset bounds narrow every partition's planned range") {
    freshTopic("push-off")
    val df = read("push-off").filter(col("offset") >= 8)
    // partition 1 has only 5 messages: its range vanishes at planning time
    assert(ranges(df) == Seq((0, 8L, 10L)), ranges(df).toString)
    import spark.implicits._
    assert(df.select($"value".cast("string")).as[String].collect().toSet ==
      Set("m8", "m9"))

    val upper = read("push-off").filter(col("offset") < 2)
    assert(ranges(upper) == Seq((0, 0L, 2L), (1, 0L, 2L)), ranges(upper).toString)
    assert(upper.count() == 4)
  }

  test("timestamp lower bound seeks via first-offset-at-timestamp") {
    freshTopic("push-ts")
    val df = read("push-ts")
      .filter(col("timestamp") >= expr(s"timestamp_micros(${base + 8 * 1000000L}L)"))
    // partition 0 seeks to offset 8; partition 1 has no message >= the
    // bound, so its planned range is empty.
    assert(ranges(df) == Seq((0, 8L, 10L)), ranges(df).toString)
    import spark.implicits._
    assert(df.select($"value".cast("string")).as[String].collect().toSet ==
      Set("m8", "m9"))
    // Residual safety net: the same filtered read equals post-hoc filtering
    // of the unpruned scan.
    val unpruned = read("push-ts").collect()
      .filter(_.getAs[java.sql.Timestamp]("timestamp").getTime >= (base / 1000 + 8000))
    assert(unpruned.length == 2)
  }

  test("LIMIT pushdown caps the planned rows") {
    freshTopic("push-lim")
    val df = read("push-lim").limit(3)
    val r = ranges(df)
    assert(r.map { case (_, f, u) => u - f }.sum == 3, r.toString)
    assert(df.count() == 3)
  }

  test("pushed filters surface in the scan description; values stay residual-checked") {
    freshTopic("push-desc")
    val df = read("push-desc").filter(col("partition") === 1 && col("offset") >= 2)
    val desc = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString
    assert(desc.contains("seek="), desc)
    import spark.implicits._
    assert(df.select($"value".cast("string")).as[String].collect().toSet ==
      Set("n2", "n3", "n4"))
  }

  test("table-level properties merge with (and yield to) per-scan options") {
    val props = new java.util.HashMap[String, String]()
    props.put("topic", "merge-topic")
    props.put("numPartitions", "2")
    props.put("maxRowsPerBatch", "100")
    val table = new GraftMqTable(GraftMqOptions.from(props), props)
    val scanOpts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("maxRowsPerBatch", "7"))
    val builder = table.newScanBuilder(scanOpts).asInstanceOf[GraftMqScanBuilder]
    val scan = builder.build().asInstanceOf[GraftMqScan]
    // topic survives from table properties; the scan option overrides the
    // table-level admission cap.
    assert(scan.description().contains("topic=merge-topic"), scan.description())
    val stream = scan.toMicroBatchStream("unused")
    val limit = stream.asInstanceOf[GraftMqMicroBatchStream].getDefaultReadLimit
    assert(limit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.ReadMaxRows])
    assert(limit.asInstanceOf[
      org.apache.spark.sql.connector.read.streaming.ReadMaxRows].maxRows == 7)
  }

  test("tautological offset upper bound must not wrap to an empty scan") {
    freshTopic("push-wrap")
    // offset <= Long.MaxValue: o+1 would wrap to Long.MinValue as the
    // exclusive bound and prune every row — a seek fabricating emptiness.
    val df = read("push-wrap").filter(col("offset") <= Long.MaxValue)
    assert(df.count() == 15, "tautology must keep all rows")
    val eq = read("push-wrap").filter(col("offset") === Long.MaxValue)
    assert(eq.count() == 0) // genuinely unsatisfiable, via residual not wrap
  }

  test("table/scan option merge is case-insensitive (scan override wins)") {
    val props = new java.util.HashMap[String, String]()
    props.put("topic", "merge-case")
    props.put("maxRowsPerBatch", "100")
    val table = new GraftMqTable(GraftMqOptions.from(props), props)
    val scanOpts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("MAXROWSPERBATCH", "10"))
    val stream = table.newScanBuilder(scanOpts).build()
      .asInstanceOf[GraftMqScan].toMicroBatchStream("unused")
    val limit = stream.asInstanceOf[GraftMqMicroBatchStream].getDefaultReadLimit
    assert(limit.asInstanceOf[
      org.apache.spark.sql.connector.read.streaming.ReadMaxRows].maxRows == 10)
  }

  test("generated backend honors explicit endingOffsets beyond rowsPerBatch") {
    val df = spark.read.format("graft-mq")
      .option("topic", "gen-ends").option("backend", "generated")
      .option("numPartitions", "1").option("rowsPerBatch", "10")
      .option("endingOffsets", """{"0":100}""").load()
    assert(df.count() == 100, "explicit end on the total-function backend must be honored")
  }

  test("batch read rejects startingOffsets=latest (Kafka parity)") {
    freshTopic("latest-batch")
    val err = intercept[Exception] {
      spark.read.format("graft-mq")
        .option("topic", "latest-batch").option("numPartitions", "2")
        .option("startingOffsets", "latest").load().count()
    }
    assert(err.getMessage.contains("latest"), err.getMessage)
  }

  test("offsets JSON naming a nonexistent partition fails fast") {
    freshTopic("bad-part")
    val err = intercept[Exception] {
      spark.read.format("graft-mq")
        .option("topic", "bad-part").option("numPartitions", "2")
        .option("startingOffsets", """{"5":3}""").load().count()
    }
    assert(err.getMessage.contains("outside"), err.getMessage)
    val err2 = intercept[Exception] {
      spark.read.format("graft-mq")
        .option("topic", "bad-part").option("numPartitions", "2")
        .option("endingOffsets", """{"9":3}""").load().count()
    }
    assert(err2.getMessage.contains("outside"), err2.getMessage)
  }

  test("nested header pruning: selecting only headers.value stays schema-consistent") {
    val topic = "hdr-prune"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    state.append(0, MqMessage(null, "x".getBytes("UTF-8"), base,
      Array("h1" -> "v1".getBytes("UTF-8"), "h2" -> "v2".getBytes("UTF-8"))))
    import spark.implicits._
    val df = spark.read.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").option("includeHeaders", "true").load()
    // Only the value sub-field: under nested schema pruning the element
    // struct narrows to <value: binary>; rows must follow the pruned shape.
    val values = df.select(explode(col("headers.value")).as("hv"))
      .as[Array[Byte]].collect().map(new String(_, "UTF-8")).toSeq.sorted
    assert(values == Seq("v1", "v2"), values)
    val keys = df.select(explode(col("headers.key")).as("hk"))
      .as[String].collect().toSeq.sorted
    assert(keys == Seq("h1", "h2"), keys)
    // And the full struct still reads both fields in order.
    val full = df.select(explode(col("headers")).as("h"))
      .select($"h.key", $"h.value").as[(String, Array[Byte])].collect()
      .map { case (k, v) => (k, new String(v, "UTF-8")) }.toSeq.sorted
    assert(full == Seq(("h1", "v1"), ("h2", "v2")), full)
  }

  test("pushed timestamp lower bound tightens streaming first-start offsets") {
    freshTopic("push-ts-stream")
    // Drive the DSv2 contract surface directly: Spark's streaming planner
    // does not currently run filter pushdown (measured: a filtered stream
    // reads all 15 rows and discards post-scan), but when the engine does
    // push — this is the exact call sequence — batch 0 must seek.
    val props = java.util.Map.of("topic", "push-ts-stream",
      "numPartitions", "2", "includeMetadata", "true")
    def streamWithPushed(fs: org.apache.spark.sql.sources.Filter*): GraftMqOffset = {
      val builder = new GraftMqScanBuilder(GraftMqOptions.from(props))
      val residual = builder.pushFilters(fs.toArray)
      assert(residual.toSeq == fs.toSeq, "every filter must stay residual")
      builder.build().toMicroBatchStream("unused")
        .asInstanceOf[GraftMqMicroBatchStream]
        .initialOffset().asInstanceOf[GraftMqOffset]
    }
    val ts8 = java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plusNanos((base + 8 * 1000000L) * 1000L))
    // partition 0 seeks to first-offset-at-ts (8); partition 1 has no
    // message >= the bound, so it starts at its end (5) — nothing to read.
    assert(streamWithPushed(
        org.apache.spark.sql.sources.GreaterThanOrEqual("timestamp", ts8))
      .ends == Map(0 -> 8L, 1 -> 5L))
    // Offset/partition filters never move a stream's start: the offset
    // log, not the scan, governs streaming progress.
    assert(streamWithPushed(
        org.apache.spark.sql.sources.GreaterThanOrEqual("offset", 3L: java.lang.Long))
      .ends == Map(0 -> 0L, 1 -> 0L))
    // End-to-end residual safety net: with the engine applying the same
    // filter post-scan, exactly the qualifying rows come out.
    import org.apache.spark.sql.streaming.Trigger
    val df = spark.readStream.format("graft-mq")
      .option("topic", "push-ts-stream").option("numPartitions", "2")
      .option("includeMetadata", "true").load()
      .filter(col("timestamp") >= expr(s"timestamp_micros(${base + 8 * 1000000L}L)"))
    val q = df.writeStream.format("memory").queryName("push_ts_stream")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("push-ts-stream")).start()
    q.awaitTermination(60000)
    import spark.implicits._
    assert(spark.table("push_ts_stream").select($"value".cast("string"))
      .as[String].collect().toSet == Set("m8", "m9"))
  }

  test("endingOffsets is rejected for streaming reads") {
    val props = java.util.Map.of("topic", "reject-end", "endingOffsets", """{"0":5}""")
    val scan = new GraftMqScanBuilder(GraftMqOptions.from(props)).build()
    val err = intercept[IllegalArgumentException] { scan.toMicroBatchStream("unused") }
    assert(err.getMessage.contains("endingOffsets"), err.getMessage)
  }

  // ------------------------------------------------- count(*) pushdown

  private def countStarPushed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .exists(_.scan.description().contains("pushedAgg"))

  test("count(*) is answered from offsets with zero message fetches") {
    freshTopic("push-count")
    val state = InMemoryMqBroker.getOrCreate("push-count", 2)
    val before = state.dataReadCalls
    val df = read("push-count").groupBy().count()
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(15L))
    assert(countStarPushed(df), df.queryExecution.executedPlan.toString)
    assert(state.dataReadCalls == before,
      s"pushed count(*) fetched data: ${state.dataReadCalls - before} read call(s)")
  }

  test("count(*) pushdown respects starting/ending offset bounds") {
    freshTopic("push-count-bounds")
    val df = spark.read.format("graft-mq")
      .option("topic", "push-count-bounds").option("numPartitions", "2")
      .option("includeMetadata", "true")
      .option("startingOffsets", """{"0":2,"1":1}""")
      .option("endingOffsets", """{"0":7,"1":-1}""")
      .load()
    val rows = df.count() // (7-2) + (5-1)
    assert(rows == 9L)
    val counted = df.groupBy().count()
    assert(countStarPushed(counted))
    assert(counted.head().getLong(0) == 9L)
  }

  test("count(*) under any filter is NOT pushed (filters stay residual)") {
    freshTopic("push-count-filter")
    val state = InMemoryMqBroker.getOrCreate("push-count-filter", 2)
    val before = state.dataReadCalls
    val df = read("push-count-filter").filter(col("partition") === 0).groupBy().count()
    assert(!countStarPushed(df), df.queryExecution.executedPlan.toString)
    assert(df.head().getLong(0) == 10L)
    assert(state.dataReadCalls > before, "filtered count must read messages")
  }

  test("count(col) is NOT pushed (null semantics need values)") {
    freshTopic("push-count-col")
    val byCol = read("push-count-col").agg(count(col("value")))
    assert(!countStarPushed(byCol))
    assert(byCol.head().getLong(0) == 15L)
  }

  test("min/max(offset) and GROUP BY partition push down as offset arithmetic") {
    freshTopic("push-minmax")
    val state = InMemoryMqBroker.getOrCreate("push-minmax", 2)
    val before = state.dataReadCalls

    // Ungrouped combination in one aggregate.
    val global = read("push-minmax")
      .agg(count(lit(1)).as("n"), min(col("offset")).as("lo"),
        max(col("offset")).as("hi"))
    assert(countStarPushed(global), global.queryExecution.executedPlan.toString)
    assert(global.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((15L, 0L, 9L)))

    // Grouped: one row per nonempty partition, still zero fetches.
    val grouped = read("push-minmax").groupBy(col("partition"))
      .agg(count(lit(1)).as("n"), max(col("offset")).as("hi"))
    assert(countStarPushed(grouped), grouped.queryExecution.executedPlan.toString)
    assert(grouped.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq == Seq((0, 10L, 9L), (1, 5L, 4L)))

    assert(state.dataReadCalls == before,
      s"pushed offset aggregates fetched data: ${state.dataReadCalls - before}")

    // min/max over message VALUES (timestamp: non-monotonic by contract)
    // must keep the row path — and actually read.
    val ts = read("push-minmax").agg(max(col("timestamp")))
    assert(!countStarPushed(ts))
    ts.collect()
    assert(state.dataReadCalls > before)
    // grouping by anything but partition keeps the row path too
    val byValue = read("push-minmax").groupBy(col("offset")).count()
    assert(!countStarPushed(byValue))
  }

  test("grouped count on a partially-empty topic omits empty partitions (row-agg parity)") {
    InMemoryMqBroker.drop("push-empty-part")
    val state = InMemoryMqBroker.getOrCreate("push-empty-part", 3)
    (0 until 4).foreach(i =>
      state.append(1, MqMessage(null, s"x$i".getBytes("UTF-8"), base + i)))
    def df = spark.read.format("graft-mq")
      .option("topic", "push-empty-part").option("numPartitions", "3")
      .option("includeMetadata", "true").load()
    val grouped = df.groupBy("partition").count()
    assert(countStarPushed(grouped))
    assert(grouped.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 4L)))
    // ...and matches the answer grouped from the rows themselves.
    val fromRows = df.select("partition").collect().toSeq.map(_.getInt(0))
      .groupBy(identity).map { case (p, rs) => (p, rs.size.toLong) }.toSeq
    assert(fromRows == Seq((1, 4L)))
  }

  test("count(*) pushdown on the generated backend prices the synthetic batch") {
    val df = spark.read.format("graft-mq")
      .option("backend", "generated").option("numPartitions", "3")
      .option("rowsPerBatch", "7").load()
      .groupBy().count()
    assert(countStarPushed(df))
    assert(df.head().getLong(0) == 21L)
  }
}
