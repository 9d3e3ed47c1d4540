package graft.mq

/** The broker surface the connector consumes — the seam between the
  * connector's Kafka-grade semantics (pooling, poll-timeout bounds,
  * data-loss handling, offset resolution) and WHERE the log lives. Two
  * implementations:
  *
  *  - [[InMemoryMqBroker.TopicState]]: the in-process log (the test
  *    corpus and the reference's own mock regime — its "MQ" fabricates
  *    strings in-process, MockInputPartitionReader.java:24-28);
  *  - [[MqSocketSession]] (r19 — VERDICT r18 #5): the same surface over
  *    a localhost TCP transport, so the pool/timeout/data-loss paths are
  *    exercised across a REAL transport boundary — blocking reads that
  *    ignore interrupts, connection death, generation-change staleness.
  *
  * The planner resolves a session via [[MqBackends.session]] (shared,
  * metadata-oriented); each pooled consumer holds its OWN session (a
  * consumer's read cursor is single-reader state — for the socket
  * backend that means one connection per consumer, exactly Kafka's
  * consumer-per-connection shape).
  */
trait MqBrokerSession {
  def numPartitions: Int

  /** Read `[from, until)` of `partition`; throws
    * [[MqOffsetOutOfRangeException]] below retention. May BLOCK (a
    * contended or hung broker) — callers bound it with
    * [[MqConsumerPool.timedRead]].
    */
  def read(partition: Int, from: Long, until: Long): IndexedSeq[MqMessage]

  /** Exclusive end offset per partition. */
  def endOffsets: Map[Int, Long]

  /** Earliest retained offset per partition. */
  def earliestOffsets: Map[Int, Long]

  /** Smallest offset with message timestamp ≥ `ts` (end offset if none). */
  def offsetForTimestamp(partition: Int, ts: Long): Long

  /** Append one message; returns its offset. */
  def append(partition: Int, msg: MqMessage): Long

  /** Append a batch to one partition; returns the LAST offset. In-process
    * this is just the loop; a transport overrides it with one round trip —
    * the writer buffers per partition so the socket sink pays RPCs per
    * BATCH, not per row (the Kafka producer's batching shape).
    */
  def appendAll(partition: Int, msgs: Seq[MqMessage]): Long = {
    var last = -1L
    msgs.foreach(m => last = append(partition, m))
    last
  }

  /** Release any transport resources (no-op in-process). Closing a
    * session with a fetch in flight must UNBLOCK that fetch (socket
    * close → IOException in the reader thread) — it is how a poisoned
    * consumer's stranded, interrupt-ignoring fetch thread is freed.
    */
  def close(): Unit = ()

  /** testOnBorrow for transports: false once the connection is dead or
    * the topic was dropped/recreated under this session (the in-process
    * impl keeps `true` — its staleness is the pool's identity check
    * against the live topic lookup).
    */
  def transportAlive: Boolean = true
}

/** Backend resolution: options → the session the planner/writer share.
  * Consumers do NOT use this (each borrows its own via
  * [[MqConsumerPool]]); the shared session serves metadata lookups
  * (offset resolution, admission polls) and the writer's appends.
  */
object MqBackends {
  def session(opts: GraftMqOptions): MqBrokerSession =
    if (opts.isSocket)
      MqSocketBroker.control(opts.brokerSocket.get, opts.topic, opts.numPartitions)
    else InMemoryMqBroker.getOrCreate(opts.topic, opts.numPartitions)
}
