package graft.mq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, StringType, StructType, TimestampType}

/** Append sink for `graft-mq` — the surface the reference spec names
  * (/root/reference/README.md:250-259) but its mock refuses
  * (CustomTable.java:52-54 throws).
  *
  * Accepts rows with a `value` column (binary or string; string is UTF-8
  * encoded) and optional `key`. Rows append round-robin-by-task to the
  * topic's partitions. Like the Kafka sink, delivery is at-least-once:
  * writers publish as they go and `commit` is a metadata no-op — a replayed
  * task re-appends (README.md:462-471 semantics applied to the write side).
  */
class GraftMqWriteBuilder(opts: GraftMqOptions, schema: StructType) extends WriteBuilder {
  override def build(): Write = new GraftMqWrite(opts, schema)
}

class GraftMqWrite(opts: GraftMqOptions, schema: StructType) extends Write {
  override def toBatch: BatchWrite = new GraftMqBatchWrite(opts, schema)
  override def toStreaming: StreamingWrite = new GraftMqStreamingWrite(opts, schema)
}

class GraftMqBatchWrite(opts: GraftMqOptions, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftMqWriterFactory(opts, schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class GraftMqStreamingWrite(opts: GraftMqOptions, schema: StructType) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftMqWriterFactory(opts, schema)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class GraftMqWriterFactory(opts: GraftMqOptions, schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftMqDataWriter(opts, schema, partitionId)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftMqDataWriter(opts, schema, partitionId)
}

case class GraftMqCommitMessage(rows: Long) extends WriterCommitMessage

/** Message timestamps: taken from the row's `timestamp` column
  * (TimestampType, epoch micros) when the written schema has one —
  * Kafka-sink behavior — otherwise every message gets the fixed
  * ingest-time from the `defaultTimestampMicros` option (ADVICE r01 low:
  * the per-task row counter is NOT a timestamp).
  */
class GraftMqDataWriter(opts: GraftMqOptions, schema: StructType, partitionId: Int)
    extends DataWriter[InternalRow] {

  // Socket backend: a PRIVATE connection per writer task (concurrent
  // tasks must not serialize their batches — or queue behind the
  // planner's admission polls — on the shared control session's per-RPC
  // lock); closed with the writer. In-process backends share the topic
  // state directly.
  private val topic =
    if (opts.isSocket)
      MqSocketBroker.connectOrCreate(opts.brokerSocket.get, opts.topic,
        opts.numPartitions)
    else MqBackends.session(opts)
  // Per-task append buffer (socket backend only): rows batch into one
  // APPEND_N round trip per BufferRows instead of an RPC per row — the
  // Kafka producer's batching shape. At-least-once is unchanged: the
  // buffer flushes inside write() and at commit(); an aborted/replayed
  // task re-appends exactly as the unbuffered path would. In-process
  // backends keep the direct append (no copy, no latency to amortize).
  private val BufferRows = 512
  private val buffer =
    if (opts.isSocket) new scala.collection.mutable.ArrayBuffer[MqMessage](BufferRows)
    else null
  private val mqPartition =
    (partitionId % opts.numPartitions + opts.numPartitions) % opts.numPartitions

  private def flush(): Unit =
    if (buffer != null && buffer.nonEmpty) {
      topic.appendAll(mqPartition, buffer.toSeq)
      buffer.clear()
    }
  private val valueIdx = schema.fieldIndex("value")
  private val valueIsString = schema(valueIdx).dataType == StringType
  private val keyIdx = if (schema.fieldNames.contains("key")) schema.fieldIndex("key") else -1
  private val keyIsString = keyIdx >= 0 && schema(keyIdx).dataType == StringType
  private val tsIdx =
    schema.fields.indexWhere(f => f.name == "timestamp" && f.dataType == TimestampType)
  private var written = 0L

  require(valueIsString || schema(valueIdx).dataType == BinaryType,
    s"graft-mq sink: 'value' must be string or binary, got ${schema(valueIdx).dataType}")
  // Same contract for key as for value: getBinary on a string field only
  // "works" by accident of UnsafeRow's layout and breaks on generic rows.
  require(keyIdx < 0 || keyIsString || schema(keyIdx).dataType == BinaryType,
    s"graft-mq sink: 'key' must be string or binary, got ${schema(keyIdx).dataType}")

  // String columns go out as their raw bytes, as Kafka's sink writes
  // them: a decode/encode round trip through java.lang.String would turn
  // bytes that are not valid UTF-8 into U+FFFD.
  override def write(row: InternalRow): Unit = {
    val value =
      if (row.isNullAt(valueIdx)) null
      else if (valueIsString) row.getUTF8String(valueIdx).getBytes
      else row.getBinary(valueIdx)
    val key =
      if (keyIdx < 0 || row.isNullAt(keyIdx)) null
      else if (keyIsString) row.getUTF8String(keyIdx).getBytes
      else row.getBinary(keyIdx)
    val ts = if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx)
             else opts.defaultTimestampMicros
    val msg = MqMessage(key, value, ts)
    if (buffer == null) topic.append(mqPartition, msg)
    else {
      buffer += msg
      if (buffer.size >= BufferRows) flush()
    }
    written += 1
  }

  override def commit(): WriterCommitMessage = {
    flush()
    GraftMqCommitMessage(written)
  }
  override def abort(): Unit = if (buffer != null) buffer.clear()
  override def close(): Unit = if (opts.isSocket) topic.close()
}
