package graft.mq

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One Spark task = one MQ-partition offset range `[from, until)` —
  * the Kafka-grade planning unit (/root/reference/README.md:427-446),
  * replacing the mock's one-partition-per-executor fabrication
  * (CustomMicroBatchStream.java:44-54). Serializable: shipped
  * driver → executor (README.md:500-502).
  */
case class GraftMqInputPartition(
    topic: String,
    partition: Int,
    from: Long,
    until: Long,
    opts: GraftMqOptions) extends InputPartition

/** Reader factory: every scan reads rows through
  * [[GraftMqPartitionReader]] (Spark's defaults decline columnar reads).
  */
case class GraftMqPartitionReaderFactory(readSchema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftMqPartitionReader(partition.asInstanceOf[GraftMqInputPartition], readSchema)
}

/** Bounded cursor over one partition's `[from, until)` range — the
  * reader's fetch side: the chunked broker fetch through a pooled
  * consumer, `failOnDataLoss` semantics (abort vs skip-to-earliest-
  * retained), generated-backend synthesis and range exactness.
  * [[GraftMqPartitionReader]] only turns its messages into rows.
  */
private[mq] final class MqMessageCursor(p: GraftMqInputPartition) extends Logging {
  private var offset = p.from
  // Broker reads are chunked so a huge range doesn't materialize at once.
  private val ChunkSize = 4096
  // Pooled broker session + fetched-data cache, borrowed lazily on the
  // first broker access (the generated backend never borrows) and
  // returned — buffer intact — in [[close]]. See [[MqConsumerPool]] for
  // the reference contract (README.md:565-587).
  private var consumer: MqConsumer = null

  /** Offset of the message most recently returned by [[advance]]. */
  def lastOffset: Long = offset - 1

  /** The next message in `[from, until)`, or null when the range is
    * exhausted (including a data-loss skip that lands past `until`).
    */
  def advance(): MqMessage = {
    if (offset >= p.until) return null
    val m =
      if (p.opts.isGenerated) GeneratedPayloads.messageAt(p.opts, p.partition, offset)
      else brokerMessageAt(offset)
    if (m != null) offset += 1
    m
  }

  /** One consumer refill, invalidating the consumer on ANY fetch failure
    * (timeout, data-loss abort): a consumer that threw never re-enters
    * the pool — the reference's `releaseConsumer()` in the fetch error
    * handler (README.md:618-623).
    */
  private def refillAt(from: Long): Int =
    try consumer.refill(from, ChunkSize, p.opts.pollTimeoutMs)
    catch {
      case e: Throwable =>
        MqConsumerPool.invalidate(consumer)
        consumer = null
        throw e
    }

  private def brokerMessageAt(o: Long): MqMessage = {
    if (consumer == null) consumer = MqConsumerPool.borrow(p.opts, p.partition)
    val hit = consumer.cached(o)
    if (hit != null) {
      // Served from the buffer a previous task on this partition left
      // behind (or this task's own last refill) — zero broker calls.
      consumer.stats.bufferHits.incrementAndGet()
      return hit
    }
    var from = o
    val n =
      try refillAt(from)
      catch {
        case e: MqOffsetOutOfRangeException if !p.opts.failOnDataLoss =>
          // failOnDataLoss=false: skip the lost range, resume at earliest
          // retained (README.md:642-645 semantics). refillAt dropped the
          // poisoned consumer; borrow a fresh one for the resume fetch.
          logWarning(s"graft-mq: data loss on ${p.topic}-${p.partition}: ${e.getMessage}; skipping")
          consumer = MqConsumerPool.borrow(p.opts, p.partition)
          from = math.max(o, consumer.earliestOffset)
          if (from >= p.until) { offset = from; return null }
          refillAt(from)
      }
    offset = from
    if (n == 0) null else consumer.cached(from)
  }

  /** Return the borrowed consumer — buffer intact — to the executor-side
    * pool: the reference's `consumer.release()` in the reader's `close()`
    * (README.md:556-559). The retained buffer is what lets the NEXT
    * micro-batch's task on this partition start without a broker fetch.
    */
  def close(): Unit = {
    if (consumer != null) {
      MqConsumerPool.release(consumer)
      consumer = null
    }
  }
}

/** Bounded executor-side reader over `[from, until)`.
  *
  * Fixes the reference mock's unbounded `next() == true`
  * (MockInputPartitionReader.java:19-21, SURVEY.md §2.9-3): iteration stops
  * exactly at the end offset — left-closed right-open, the invariant the
  * reference README states at README.md:727.
  */
class GraftMqPartitionReader(p: GraftMqInputPartition, readSchema: StructType)
    extends PartitionReader[InternalRow] with Logging {

  // Pruned projection: field codes resolved once; `get()` materializes only
  // the columns the engine asked for (SupportsPushDownRequiredColumns) —
  // a metadata-only query never touches payload bytes.
  private val fieldCodes: Array[Int] = readSchema.fieldNames.map {
    case "key" => 0
    case "value" => 1
    case "topic" => 2
    case "partition" => 3
    case "offset" => 4
    case "timestamp" => 5
    case "timestampType" => 6
    case "headers" => 7
    case other => throw new IllegalArgumentException(s"graft-mq: unknown column '$other'")
  }
  private val topicUtf8 = UTF8String.fromString(p.topic)

  // Nested schema pruning (spark.sql.optimizer.nestedSchemaPruning) may
  // narrow the headers element struct to a subset of (key, value); rows
  // must match the schema readSchema() reports, so header structs are
  // built field-by-field from the REQUESTED element type — emitting a
  // fixed 2-field struct under a pruned schema would shift ordinals and
  // read keys as values.
  private val headerFieldCodes: Array[Int] =
    readSchema.fields.find(_.name == "headers").map { f =>
      f.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[StructType].fieldNames.map {
          case "key" => 0
          case "value" => 1
          case other =>
            throw new IllegalArgumentException(s"graft-mq: unknown header field '$other'")
        }
    }.getOrElse(Array.empty)

  private val cursor = new MqMessageCursor(p)
  private var current: MqMessage = _

  override def next(): Boolean = {
    current = cursor.advance()
    current != null
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](fieldCodes.length)
    var i = 0
    while (i < fieldCodes.length) {
      vals(i) = fieldCodes(i) match {
        case 0 => current.key
        case 1 => current.value
        case 2 => topicUtf8
        case 3 => p.partition
        case 4 => cursor.lastOffset
        case 5 => current.timestamp
        case 6 => 0 // timestampType: 0 = create-time, mirroring Kafka's enum
        case 7 =>
          if (current.headers == null) null
          else new org.apache.spark.sql.catalyst.util.GenericArrayData(
            current.headers.map { case (k, v) =>
              val cells: Array[Any] = headerFieldCodes.map {
                case 0 => UTF8String.fromString(k)
                case 1 => v
              }
              new GenericInternalRow(cells)
            })
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = cursor.close()
}

/** Pure-function payload generator: message at (seed, partition, offset) is
  * deterministic, so the "generated" backend is an unbounded firehose that
  * needs no storage and replays identically on checkpoint recovery — the
  * property the reference mock lacks (it stamps wall-clock payloads,
  * MockInputPartitionReader.java:25; SURVEY.md §7 risk 3).
  */
object GeneratedPayloads {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "stream", "batch", "query", "shuffle", "merge", "window", "offset")

  // Pre-encoded vocab + the constant header pair: messageAt runs once per
  // generated message on the drain hot path (r16), so payload bytes are
  // assembled directly instead of via word-Seq → mkString → getBytes, and
  // the per-message constants are hoisted. Output is BYTE-IDENTICAL to
  // the original formulation (the mix64 draw chain, space-joined payload,
  // "$partition-$offset" key, and header content are unchanged — spec-
  // and oracle-pinned).
  private val VocabBytes: Array[Array[Byte]] =
    Vocab.map(_.getBytes("UTF-8")).toArray
  private val GeneratedHeaderValue: Array[Byte] = "generated".getBytes("UTF-8")

  /** Event-time scheme of the generated backend: every message at
    * `offset` is stamped Base + offset·Step (micros). ONE definition —
    * [[GraftMqStart.offsetForTimestamp]] inverts this arithmetic for
    * timestamp seeks, so the two sides must share the constants.
    */
  val BaseTimestampMicros: Long = 1700000000000000L
  val StepMicros: Long = 1000000L

  /** splitmix64 — public-domain mixing function (Steele et al., JDK 8
    * SplittableRandom); full-avalanche, so consecutive offsets give
    * uncorrelated draws.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def messageAt(opts: GraftMqOptions, partition: Int, offset: Long): MqMessage = {
    val base = mix64(opts.seed ^ (partition.toLong << 40) ^ offset)
    val n = opts.wordsPerMessage
    // Two tight passes over the word draws (sizing, then fill) — the
    // same words space-joined, without the intermediate Seq/String.
    val idx = new Array[Int](n)
    var len = if (n > 1) n - 1 else 0
    var i = 0
    while (i < n) {
      val w = (math.abs(mix64(base + i)) % Vocab.size).toInt
      idx(i) = w; len += VocabBytes(w).length; i += 1
    }
    val payload = new Array[Byte](len)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { payload(pos) = ' '; pos += 1 }
      val wb = VocabBytes(idx(i))
      System.arraycopy(wb, 0, payload, pos, wb.length); pos += wb.length
      i += 1
    }
    val key = (partition.toString + "-" + offset.toString).getBytes("UTF-8")
    // Deterministic event time: fixed epoch + 1s per offset (micros).
    val ts = BaseTimestampMicros + offset * StepMicros
    // clone(): every message OWNS its header bytes, as before the r16
    // byte-assembly rewrite — sharing one mutable array across all
    // messages would let any consumer mutation corrupt every other
    // message's header. A 9-byte arraycopy is still far cheaper than
    // the per-message getBytes encode it replaced.
    val headers: Array[(String, Array[Byte])] =
      Array("source" -> GeneratedHeaderValue.clone())
    MqMessage(key, payload, ts, headers)
  }
}
