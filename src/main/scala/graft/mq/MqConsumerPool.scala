package graft.mq

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.internal.Logging

/** Executor-side pooled consumer for one (topic, partition): a broker
  * session handle plus its fetched-data cache — the roles
  * `InternalKafkaConsumer` and `FetchedData` play in the reference's
  * connector walkthrough (/root/reference/README.md:565-587: consumers
  * wrap `KafkaConsumer.assign(TopicPartition)` and are cached in an
  * `InternalKafkaConsumerPool` built on `GenericKeyedObjectPool`;
  * README.md:590-596: each poll may return more data than the current
  * fetch needs, so the surplus is buffered and served first on the next
  * fetch).
  *
  * Why this matters even with an in-memory broker: a micro-batch trigger
  * plans one task per partition range, and WITHOUT a pool every task
  * re-resolves its session and starts with a cold buffer — at Kafka
  * scale that is a connect+assign+seek round trip per partition per
  * trigger (the cost the reference's pool amortizes), and even here it
  * is one broker fetch per trigger that the retained buffer makes
  * unnecessary. A pooled consumer OVER-FETCHES past the task's `until`
  * bound (Kafka `poll` semantics — the broker clamps at its log end, the
  * range contract is enforced by the cursor, not the fetch), so when the
  * next trigger's task for the same partition resumes at exactly the
  * previous `until`, its first messages are already buffered and the
  * trigger pays ZERO broker round trips until the buffer drains
  * (spec-pinned: MqConsumerPoolSpec counts fetches across triggers).
  *
  * Consistency contract of the cache (same as the reference's
  * FetchedData): buffered messages were valid when fetched; a retention
  * truncation that overtakes an offset AFTER it was buffered does not
  * retro-invalidate the buffer. Data-loss detection applies at fetch
  * time — exactly when the reference's `fetchRecord` raises
  * `OffsetOutOfRangeException` (README.md:618-629).
  */
final class MqConsumer private[mq] (
    val topic: String,
    val partition: Int,
    private[mq] val state: MqBrokerSession) {

  private[mq] val stats: MqPoolStats = MqConsumerPool.stats(topic, partition)

  private var chunk: IndexedSeq[MqMessage] = IndexedSeq.empty
  private var chunkStart: Long = 0L

  /** The buffered message at `o`, or null if `o` is outside the cache. */
  def cached(o: Long): MqMessage =
    if (o >= chunkStart && o < chunkStart + chunk.size) chunk((o - chunkStart).toInt)
    else null

  /** Earliest retained offset — the `failOnDataLoss=false` resume point. */
  def earliestOffset: Long = state.earliestOffsets(partition)

  /** Refill the cache with `[from, from + chunkSize)` — one live
    * [[MqConsumerPool.timedRead]] under the `pollTimeoutMs` bound.
    * Deliberately NOT clamped to the task's `until`: the surplus past the
    * range bound is this pool's payoff — it serves the next micro-batch's
    * first fetch (the broker clamps at its own log end, so nothing is
    * fabricated). Returns the number of messages now buffered from `from`.
    */
  def refill(from: Long, chunkSize: Int, pollTimeoutMs: Long): Int = {
    val fetched = MqConsumerPool.timedRead(this, from, from + chunkSize, pollTimeoutMs)
    chunkStart = from
    chunk = fetched
    stats.brokerFetches.incrementAndGet()
    fetched.size
  }
}

/** Per-(topic, partition) pool observability — monotone totals, keyed so
  * concurrently-running suites (sbt runs suites in parallel in one JVM)
  * cannot contaminate each other's assertions.
  */
final class MqPoolStats {
  val created = new AtomicLong
  val borrowed = new AtomicLong
  val bufferHits = new AtomicLong
  val brokerFetches = new AtomicLong
  val invalidated = new AtomicLong
  val evicted = new AtomicLong
  val staleDiscards = new AtomicLong
  /** Always 0: the consumer no longer prefetches. Kept only because the
    * frozen perfbench `Probe` still reads them (as `mq.prefetches` and
    * `mq.prefetch_hit_ratio`); they go when ROADMAP direction 2
    * replaces `Probe`.
    */
  val prefetches = new AtomicLong
  val prefetchHits = new AtomicLong
}

/** JVM-wide (= executor-wide in local mode; per-executor on a cluster)
  * keyed pool of [[MqConsumer]]s — the reference's
  * `InternalKafkaConsumerPool` rebuilt without the commons-pool2
  * dependency (README.md:565-587). Semantics kept:
  *
  *  - `borrow` is computeIfAbsent-grade (README.md:584): an idle
  *    consumer for the key is reused, else a new one is created.
  *    Concurrent tasks on the same partition (two queries over one
  *    topic) each get their OWN consumer — a consumer's buffer position
  *    is single-reader state, never shared.
  *  - `release` returns the consumer — buffer intact — to the idle set;
  *    idle retention is bounded per key and globally (oldest evicted
  *    first), the role of commons-pool2's maxIdle/eviction policy.
  *  - `invalidate` discards a poisoned consumer (fetch timeout,
  *    data-loss abort) — the reference's `releaseConsumer()` inside the
  *    `OffsetOutOfRangeException` handler (README.md:618-623).
  *  - Staleness guard on borrow (commons-pool2 testOnBorrow): an idle
  *    consumer whose session is no longer the live topic (topic dropped
  *    and recreated — the in-memory analogue of a dead connection) is
  *    discarded, never served.
  */
object MqConsumerPool extends Logging {

  final case class Key(topic: String, partition: Int)

  /** Idle consumers per key, most-recently-released last; total idle is
    * also capped so one wide topic cannot pin unbounded buffers.
    */
  private val idle = mutable.LinkedHashMap.empty[Key, mutable.ArrayDeque[MqConsumer]]
  private val MaxIdlePerKey = 2
  private val MaxIdleTotal = 256

  private val statsMap = new ConcurrentHashMap[Key, MqPoolStats]()

  /** Monotone counters for (topic, partition) — created on first touch. */
  def stats(topic: String, partition: Int): MqPoolStats =
    statsMap.computeIfAbsent(Key(topic, partition), _ => new MqPoolStats)

  /** Borrow a consumer for (topic, partition) on the IN-PROCESS broker,
    * reusing an idle one whose session is still the live topic state.
    * Throws if the topic does not exist on this executor (same contract
    * as the unpooled lookup).
    */
  def borrow(topic: String, partition: Int): MqConsumer = {
    val live = InMemoryMqBroker.get(topic).getOrElse {
      throw new IllegalStateException(s"graft-mq: topic '$topic' not found on executor")
    }
    borrowWith(topic, partition, cand => cand.state eq live,
      () => new MqConsumer(topic, partition, live))
  }

  /** Backend-dispatching borrow: the socket backend pools one CONNECTION
    * per consumer under an address-qualified key (two brokers may carry
    * the same topic name), with staleness = connection death or a topic
    * generation change ([[MqSocketSession.transportAlive]]); other
    * backends take the in-process path.
    */
  def borrow(opts: GraftMqOptions, partition: Int): MqConsumer =
    if (!opts.isSocket) borrow(opts.topic, partition)
    else {
      val key = opts.poolTopicKey
      // Read-connection socket timeout sits ABOVE the pollTimeoutMs
      // future so the precise per-fetch bound always fires first; the
      // socket bound is the backstop for RPCs outside timedRead.
      val soTimeout = math.min(Int.MaxValue.toLong,
        math.max(MqSocketBroker.RpcTimeoutMs.toLong, 2L * opts.pollTimeoutMs)).toInt
      borrowWith(key, partition, cand => cand.state.transportAlive,
        () => new MqConsumer(key, partition,
          MqSocketBroker.connect(opts.brokerSocket.get, opts.topic, soTimeout)))
    }

  private def borrowWith(topicKey: String, partition: Int,
      live: MqConsumer => Boolean, create: () => MqConsumer): MqConsumer = {
    val st = stats(topicKey, partition)
    st.borrowed.incrementAndGet()
    val key = Key(topicKey, partition)
    // The liveness predicate may do transport I/O (the socket backend's
    // borrow-time META generation check), so it must NOT run under the
    // pool monitor — a hung broker would otherwise wedge every
    // borrow/release on the executor, including unrelated topics and the
    // in-memory backend. Pop one candidate at a time under the lock,
    // test it outside.
    def popCandidate(): MqConsumer = synchronized {
      idle.get(key) match {
        case Some(q) if q.nonEmpty =>
          val cand = q.removeLast() // most recently released first — warmest buffer
          if (q.isEmpty) idle.remove(key)
          cand
        case _ => null
      }
    }
    var cand = popCandidate()
    while (cand != null && !live(cand)) {
      // dead session: drop, releasing any transport resources
      st.staleDiscards.incrementAndGet()
      cand.state.close()
      cand = popCandidate()
    }
    if (cand != null) cand
    else {
      st.created.incrementAndGet()
      create()
    }
  }

  /** Return a healthy consumer (buffer retained) to the idle set. */
  def release(c: MqConsumer): Unit = synchronized {
    val key = Key(c.topic, c.partition)
    val q = idle.getOrElseUpdate(key, mutable.ArrayDeque.empty)
    q.append(c)
    if (q.size > MaxIdlePerKey) { evict(key, q) }
    // Global cap: evict from the least-recently-created key until bounded.
    var total = idle.valuesIterator.map(_.size).sum
    while (total > MaxIdleTotal && idle.nonEmpty) {
      val (k, hq) = idle.head
      evict(k, hq)
      if (hq.isEmpty) idle.remove(k)
      total -= 1
    }
  }

  private def evict(key: Key, q: mutable.ArrayDeque[MqConsumer]): Unit = {
    val dropped = q.removeHead() // oldest buffer goes first
    dropped.stats.evicted.incrementAndGet()
    dropped.state.close() // transport sessions die with their consumer
  }

  /** Discard a poisoned consumer (post-timeout / data-loss abort) — it
    * never re-enters the idle set. Closing the session here is what
    * UNBLOCKS a stranded interrupt-ignoring fetch on a transport backend
    * (socket close → IOException in the fetch thread), so the pool-cap
    * pressure a timed-out fetch created is released as soon as the
    * consumer is condemned.
    */
  def invalidate(c: MqConsumer): Unit = {
    c.stats.invalidated.incrementAndGet()
    c.state.close()
  }

  /** Idle consumers currently pooled for the key (spec observability). */
  def idleCount(topic: String, partition: Int): Int = synchronized {
    idle.get(Key(topic, partition)).map(_.size).getOrElse(0)
  }

  /** One broker fetch under the `pollTimeoutMs` latency bound — the Kafka
    * consumer contract the reference README documents (README.md:535 calls
    * `consumer.get(..., pollTimeoutMs, ...)` per record fetch; README.md:654
    * specifies a TimeoutException past the bound). The bound is a TRUE
    * asynchronous wait, not post-hoc accounting (r18 — the r17 form
    * measured elapsed time after the fetch RETURNED, so a fetch that
    * never returns hung the task forever, the exact failure the README
    * contract exists to prevent): the broker call runs on a daemon
    * fetch thread and the task awaits at most `pollTimeoutMs`, so a
    * slow-under-bound fetch (contention — injected via
    * `TopicState.injectFetchDelay` in tests, a genuinely slow remote
    * broker in a networked backend) delivers normally, while a
    * past-bound or outright HUNG fetch throws [[MqPollTimeoutException]]
    * at the bound and interrupts the stranded fetch thread. The task's
    * offset range is immutable, so a retry re-reads the same range —
    * latency can delay or fail a batch, never corrupt one (spec-pinned
    * on both sides of the bound, including an indefinite stall).
    */
  private[mq] def timedRead(c: MqConsumer, from: Long, until: Long,
      pollTimeoutMs: Long): IndexedSeq[MqMessage] = {
    val fut =
      try fetchPool.submit(
        new java.util.concurrent.Callable[IndexedSeq[MqMessage]] {
          override def call(): IndexedSeq[MqMessage] =
            c.state.read(c.partition, from, until)
        })
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          // Every fetch thread is occupied — with tasks ≤ cores and one
          // fetch per task, that means stuck fetches (interrupt-ignoring
          // reads past their bound) have eaten the cap. Fail THIS fetch
          // loudly and diagnosably instead of queueing behind threads
          // that may never free; the task's offset range is immutable,
          // so a Spark retry is safe.
          throw new MqPollTimeoutException(
            s"graft-mq: fetch pool exhausted (${fetchPool.getActiveCount} of " +
              s"$FetchPoolMaxThreads fetch threads busy — likely stuck " +
              s"non-interruptible fetches from earlier pollTimeoutMs aborts); " +
              s"rejecting fetch on ${c.topic}-${c.partition} [$from, $until)")
      }
    await(fut, pollTimeoutMs,
      s"fetch on ${c.topic}-${c.partition} [$from, $until) under pollTimeoutMs=$pollTimeoutMs")
  }

  /** Await a fetch-pool future under a hard bound: timeout cancels the
    * body (interrupting its thread — a transport read that ignores the
    * interrupt is freed by the session close that follows invalidation)
    * and throws [[MqPollTimeoutException]]; body exceptions (e.g.
    * offset-out-of-range) unwrap verbatim.
    */
  private def await[A](fut: java.util.concurrent.Future[A], timeoutMs: Long,
      what: String): A =
    try fut.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        fut.cancel(true) // a stranded body must not leak a pool thread silently
        throw new MqPollTimeoutException(
          s"graft-mq: $what did not complete within $timeoutMs ms")
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause
    }

  /** Run `body` on the capped fetch pool under a hard `timeoutMs` bound —
    * the generic form of [[timedRead]] for transport RPCs outside the
    * consumer fetch path (the borrow-time META generation refresh,
    * ADVICE r19 #3: the r19 check blocked on the shared meta channel up
    * to the 120 s socket timeout). `onTimeout` runs after cancelling a
    * timed-out body, e.g. closing the channel whose interrupt-deaf read
    * strands the thread.
    */
  private[mq] def bounded[A](timeoutMs: Long, what: String,
      onTimeout: () => Unit = () => ())(body: => A): A = {
    val fut =
      try fetchPool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = body
      })
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          throw new MqPollTimeoutException(
            s"graft-mq: fetch pool exhausted; rejecting $what")
      }
    try await(fut, timeoutMs, what)
    catch {
      case e: MqPollTimeoutException => onTimeout(); throw e
    }
  }

  /** Fetch threads currently executing broker reads (spec observability
    * for the [[FetchPoolMaxThreads]] cap).
    */
  private[mq] def activeFetchThreads: Int = fetchPool.getActiveCount

  /** Hard cap on live fetch threads (r19 — VERDICT r18 #4: the cached
    * pool was unbounded, so a backend whose read ignores interrupts
    * would leak one live thread per timed-out fetch, forever). 2× task
    * slots: normal operation needs at most one fetch thread per running
    * task, so the cap is invisible until at least a full task-count of
    * threads is stuck — at which point failing loudly beats hiding the
    * leak. Floor of 64 keeps small-core CI boxes from tripping it under
    * suite parallelism.
    */
  private[mq] val FetchPoolMaxThreads: Int =
    math.max(64, 2 * Runtime.getRuntime.availableProcessors())

  /** Shared fetch pool for the `pollTimeoutMs` bound: cached-pool
    * semantics (a healthy reader reuses one thread per task; a cancelled
    * hung fetch's thread is replaced) but CAPPED at
    * [[FetchPoolMaxThreads]] with a synchronous handoff — a submit with
    * no free thread under the cap is rejected, not queued (a queued
    * fetch behind stuck threads would wait past any pollTimeoutMs bound
    * invisibly). Daemon threads: fetches must never block JVM exit.
    */
  private val fetchPool: java.util.concurrent.ThreadPoolExecutor =
    new java.util.concurrent.ThreadPoolExecutor(
      0, FetchPoolMaxThreads, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      new java.util.concurrent.ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-mq-fetch"); t.setDaemon(true); t
        }
      },
      new java.util.concurrent.ThreadPoolExecutor.AbortPolicy())
}
