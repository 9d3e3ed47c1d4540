package graft.mq

import org.apache.spark.sql.types._

import java.util.Locale

/** Parsed reader/writer options for the `graft-mq` source.
  *
  * Option surface (all case-insensitive, per DSv2 convention):
  *
  *  - `topic`              — topic name (default "default")
  *  - `backend`            — "broker" (in-memory broker logs), "generated"
  *                           (pure-function deterministic payloads; nothing
  *                           materialized — models an unbounded firehose),
  *                           or "socket" (the same broker surface over a
  *                           localhost TCP transport — [[MqSocketBroker]];
  *                           requires `brokerSocket`)
  *  - `brokerSocket`       — socket backend: the broker address
  *                           `host:port` (an [[MqSocketBroker.MqBrokerServer]])
  *  - `numPartitions`      — MQ partition count (default 4)
  *  - `rowsPerBatch`       — generated backend: rows appended per partition
  *                           per trigger (default 10)
  *  - `maxRowsPerBatch`    — admission control: cap on TOTAL rows per
  *                           micro-batch (→ ReadLimit.maxRows; the
  *                           `maxOffsetsPerTrigger` analogue from
  *                           /root/reference/README.md:399-422)
  *  - `minRowsPerBatch`    — admission control, min side (Kafka's
  *                           `minOffsetsPerTrigger` → ReadLimit.minRows):
  *                           defer the batch until this many rows are
  *                           available…
  *  - `maxTriggerDelayMs`  — …or this long has passed since the last
  *                           admitted batch (default 15 min, Kafka's
  *                           maxTriggerDelay)
  *  - `minPartitions`      — split offset ranges into at least this many
  *                           Spark tasks (README.md:431-433)
  *  - `seed`               — generated backend determinism seed (default 42)
  *  - `wordsPerMessage`    — generated backend payload length (default 4)
  *  - `failOnDataLoss`     — abort vs warn when requested offsets were
  *                           truncated (README.md:618-631)
  *  - `includeMetadata`    — emit the Kafka-grade 7-field schema instead of
  *                           the minimal `value: binary` (README.md:225-234)
  *  - `includeHeaders`     — add the `headers: array<struct<key,value>>`
  *                           column (README.md:233; implies the metadata
  *                           schema, mirroring Kafka's includeHeaders)
  *  - `startingOffsets`    — "earliest" (default), "latest", or Kafka-style
  *                           specific-offsets JSON `{"0":5,"1":-1}`
  *                           (-1 = latest, -2 = earliest per partition;
  *                           unlisted partitions start earliest)
  *  - `startingTimestampMicros` — start each partition at its first
  *                           message with timestamp ≥ this (epoch micros);
  *                           mutually exclusive with non-default
  *                           startingOffsets (README.md:372-397)
  *  - `endingOffsets`      — batch reads only: "latest" (default) or
  *                           specific-offsets JSON `{"0":9}` (-1 = latest
  *                           per partition) bounding the scan's upper end
  *  - `defaultTimestampMicros` — sink: timestamp stamped on written
  *                           messages when the written schema has no
  *                           `timestamp` column (epoch micros)
  *  - `pollTimeoutMs`      — broker backend: per-fetch latency bound
  *                           (default 120000, the Kafka consumer default
  *                           the reference documents at README.md:367-370);
  *                           a chunk fetch exceeding it throws
  *                           [[MqPollTimeoutException]] (README.md:654) —
  *                           a contended broker fails the task loudly
  *                           instead of hanging the trigger loop
  *
  * There is one read path and no option chooses between paths: every scan
  * reads rows through [[GraftMqPartitionReader]], each buffer refill is
  * one live fetch under `pollTimeoutMs`, and only the batch
  * `count(*)`/`min/max(offset)` shapes that [[GraftMqScanBuilder]] can
  * translate are answered from offset ranges instead.
  *
  * Malformed values fail at parse time with an IllegalArgumentException
  * that names the option.
  */
final case class GraftMqOptions(
    topic: String,
    backend: String,
    numPartitions: Int,
    rowsPerBatch: Long,
    maxRowsPerBatch: Option[Long],
    minPartitions: Option[Int],
    seed: Long,
    wordsPerMessage: Int,
    failOnDataLoss: Boolean,
    includeMetadata: Boolean,
    startingOffsets: String,
    defaultTimestampMicros: Long = 1700000000000000L,
    includeHeaders: Boolean = false,
    startingTimestampMicros: Option[Long] = None,
    endingOffsets: String = "latest",
    minRowsPerBatch: Option[Long] = None,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    pollTimeoutMs: Long = 120000L,
    brokerSocket: Option[String] = None) extends Serializable {
  def isGenerated: Boolean = backend == "generated"
  def isSocket: Boolean = backend == "socket"
  /** Pool/stats namespace for this source's consumers: socket sessions
    * must never be mixed with in-process ones for the same topic name.
    */
  def poolTopicKey: String =
    if (isSocket) s"${brokerSocket.get}/$topic" else topic
  def schema: StructType = {
    val base =
      if (includeMetadata || includeHeaders) GraftMqOptions.kafkaGradeSchema
      else GraftMqOptions.minimalSchema
    if (includeHeaders) base.add(StructField("headers", GraftMqOptions.headersType))
    else base
  }
}

object GraftMqOptions {
  /** The reference's intended minimal schema — `value: binary`
    * (/root/reference/src/main/java/org/example/CustomTableProvider.java:14-18,
    * fixing the discarded-StructType.add defect, SURVEY.md §2.9-1).
    */
  val minimalSchema: StructType = StructType(Seq(StructField("value", BinaryType)))

  /** Optional headers column type per /root/reference/README.md:233. */
  val headersType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType),
    StructField("value", BinaryType))))

  /** Kafka-grade schema per /root/reference/README.md:225-234. */
  val kafkaGradeSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  def from(options: java.util.Map[String, String]): GraftMqOptions = {
    def get(k: String): Option[String] = {
      val lower = k.toLowerCase(Locale.ROOT)
      val it = options.entrySet().iterator()
      var res: Option[String] = None
      while (it.hasNext && res.isEmpty) {
        val e = it.next()
        if (e.getKey.toLowerCase(Locale.ROOT) == lower) res = Some(e.getValue)
      }
      res
    }
    // Every number and boolean goes through here, so a malformed value
    // names its option instead of surfacing as a bare
    // NumberFormatException.
    def parsed[A](k: String, expected: String)(parse: String => A): Option[A] =
      get(k).map { v =>
        try parse(v)
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"graft-mq: $k must be $expected, got '$v'")
        }
      }
    def int(k: String) = parsed(k, "an integer")(_.toInt)
    def long(k: String) = parsed(k, "an integer")(_.toLong)
    def bool(k: String) = parsed(k, "true or false")(_.toBoolean)
    def check(ok: Boolean, k: String, rule: String, v: Any): Unit =
      require(ok, s"graft-mq: $k must be $rule, got $v")

    val backend = get("backend").map(_.toLowerCase(Locale.ROOT)).getOrElse("broker")
    require(backend == "broker" || backend == "generated" || backend == "socket",
      s"graft-mq: unknown backend '$backend' (expected broker|generated|socket)")
    val brokerSocket = get("brokerSocket").map(_.trim)
    require(backend != "socket" || brokerSocket.exists(_.contains(":")),
      "graft-mq: backend=socket requires brokerSocket=<host:port>")
    // "earliest" | "latest" | Kafka-style specific-offsets JSON
    // {"0":5,"1":-1} with -1 = latest, -2 = earliest per partition
    // (README.md:372-397 resolution modes). JSON is kept verbatim.
    val startingRaw = get("startingOffsets").map(_.trim).getOrElse("earliest")
    val starting =
      if (startingRaw.startsWith("{")) startingRaw
      else startingRaw.toLowerCase(Locale.ROOT)
    require(starting.startsWith("{") || starting == "earliest" || starting == "latest",
      s"graft-mq: unknown startingOffsets '$starting' (expected earliest|latest|{json})")
    val startingTs = long("startingTimestampMicros")
    require(startingTs.isEmpty || starting == "earliest",
      "graft-mq: startingTimestampMicros cannot be combined with startingOffsets")
    // Batch-only upper bound: "latest" (default) or specific-offsets JSON
    // (-1 = latest per partition). Mirrors Kafka's endingOffsets.
    val endingRaw = get("endingOffsets").map(_.trim).getOrElse("latest")
    val ending =
      if (endingRaw.startsWith("{")) endingRaw
      else endingRaw.toLowerCase(Locale.ROOT)
    require(ending.startsWith("{") || ending == "latest",
      s"graft-mq: unknown endingOffsets '$ending' (expected latest|{json})")
    // Numeric sanity up front: numPartitions=0 divides by zero in the
    // writer's round-robin and reads nothing; a non-positive rowsPerBatch
    // would move the generated head BACKWARDS each trigger; a negative
    // wordsPerMessage would only fail on the executor, sizing its word
    // array.
    val numPartitions = int("numPartitions").getOrElse(4)
    check(numPartitions > 0, "numPartitions", "positive", numPartitions)
    val rowsPerBatch = long("rowsPerBatch").getOrElse(10L)
    check(rowsPerBatch > 0, "rowsPerBatch", "positive", rowsPerBatch)
    val maxRows = long("maxRowsPerBatch")
    maxRows.foreach(v => check(v > 0, "maxRowsPerBatch", "positive", v))
    val minRows = long("minRowsPerBatch")
    minRows.foreach(v => check(v > 0, "minRowsPerBatch", "positive", v))
    val maxDelay = long("maxTriggerDelayMs").getOrElse(15L * 60 * 1000)
    check(maxDelay >= 0, "maxTriggerDelayMs", "non-negative", maxDelay)
    val minParts = int("minPartitions")
    minParts.foreach(v => check(v > 0, "minPartitions", "positive", v))
    val pollTimeout = long("pollTimeoutMs").getOrElse(120000L)
    check(pollTimeout > 0, "pollTimeoutMs", "positive", pollTimeout)
    val words = int("wordsPerMessage").getOrElse(4)
    check(words >= 0, "wordsPerMessage", "non-negative", words)
    GraftMqOptions(
      topic = get("topic").getOrElse("default"),
      backend = backend,
      numPartitions = numPartitions,
      rowsPerBatch = rowsPerBatch,
      maxRowsPerBatch = maxRows,
      minPartitions = minParts,
      seed = long("seed").getOrElse(42L),
      wordsPerMessage = words,
      failOnDataLoss = bool("failOnDataLoss").getOrElse(true),
      includeMetadata = bool("includeMetadata").getOrElse(false),
      startingOffsets = starting,
      defaultTimestampMicros = long("defaultTimestampMicros").getOrElse(1700000000000000L),
      includeHeaders = bool("includeHeaders").getOrElse(false),
      startingTimestampMicros = startingTs,
      endingOffsets = ending,
      minRowsPerBatch = minRows,
      maxTriggerDelayMs = maxDelay,
      pollTimeoutMs = pollTimeout,
      brokerSocket = brokerSocket)
  }
}
