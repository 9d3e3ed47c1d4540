package graft.mq

import graft.SparkSuite
import org.apache.spark.sql.streaming.Trigger

/** The connector's Kafka-grade semantics ACROSS A REAL TRANSPORT
  * BOUNDARY (r19 — VERDICT r18 #5): every scenario here re-runs an
  * existing in-memory contract over [[MqSocketBroker]]'s localhost TCP
  * server — pooled-buffer reuse, poison invalidation, hung-fetch
  * timeout with pool-thread release, data-loss resume, generation
  * staleness, and the streaming read/write loop. The server fronts the
  * same [[InMemoryMqBroker]] logs, so producing/truncating/injecting
  * latency happens exactly as in the in-memory specs while every FETCH
  * crosses a socket (blocking, interrupt-deaf reads — the regime the
  * fetch-pool cap and close-on-invalidate exist for).
  */
class MqSocketBackendSpec extends SparkSuite {

  private val base = 1700000000000000L

  private lazy val server = {
    val s = new MqSocketBroker.MqBrokerServer()
    // Daemon threads; closed with the JVM. One server for the suite.
    s
  }

  private def fill(topic: String, partitions: Int, n: Int): InMemoryMqBroker.TopicState = {
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, partitions)
    (0 until n).foreach { i =>
      state.append(i % partitions, MqMessage(null, s"m$i".getBytes("UTF-8"), base + i))
    }
    state
  }

  private def reader(topic: String, partitions: Int = 1) = spark.read
    .format("graft-mq")
    .option("backend", "socket").option("brokerSocket", server.address)
    .option("topic", topic).option("numPartitions", partitions.toString)

  test("batch read over the socket matches the in-memory log") {
    import spark.implicits._
    fill("sock-batch", 2, 10)
    val got = reader("sock-batch", 2).load()
      .select($"value".cast("string")).as[String].collect().toSet
    assert(got == (0 until 10).map(i => s"m$i").toSet)
  }

  test("sequential micro-batches over the socket reuse one connection and its buffer") {
    import spark.implicits._
    val topic = "sock-seq"
    fill(topic, 1, 300)
    val key = s"${server.address}/$topic"
    val st = MqConsumerPool.stats(key, 0)
    val (c0, f0, h0) = (st.created.get, st.brokerFetches.get, st.bufferHits.get)

    val q = spark.readStream.format("graft-mq")
      .option("backend", "socket").option("brokerSocket", server.address)
      .option("topic", topic).option("numPartitions", "1")
      .option("maxRowsPerBatch", "100").load()
      .select($"value".cast("string")).as[String]
      .writeStream.outputMode("append")
      .format("memory").queryName("sock_seq_out")
      .option("checkpointLocation", tmp("sock-seq-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("sock_seq_out").count() == 300)
    } finally q.stop()

    // Same contract as the in-memory pool spec: ONE connection dialed,
    // ONE broker fetch (the 4096-chunk over-fetch), 299 buffer hits —
    // the transport did not change the pooling semantics.
    assert(st.created.get - c0 == 1, s"created=${st.created.get - c0}")
    assert(st.brokerFetches.get - f0 == 1, s"fetches=${st.brokerFetches.get - f0}")
    assert(st.bufferHits.get - h0 == 299, s"hits=${st.bufferHits.get - h0}")
    assert(MqConsumerPool.idleCount(key, 0) == 1)
  }

  test("hung socket fetch: timeout at the bound, invalidate frees the stranded pool thread") {
    val topic = "sock-hung"
    val state = fill(topic, 1, 10)
    val key = s"${server.address}/$topic"
    val st = MqConsumerPool.stats(key, 0)
    val i0 = st.invalidated.get

    // The server-side read sleeps 60 s; the client's socket read ignores
    // Thread.interrupt — the EXACT leak regime of the fetch-pool cap.
    state.injectFetchDelay(0, 60000)
    val df = reader(topic).option("pollTimeoutMs", "300").load()
    val err = intercept[Exception] { df.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(_.isInstanceOf[MqPollTimeoutException]), err.toString)
    assert(st.invalidated.get - i0 >= 1)
    assert(MqConsumerPool.idleCount(key, 0) == 0)

    // invalidate closed the socket, which unblocks the interrupt-deaf
    // fetch thread NOW — not when the server's 60 s sleep expires. If
    // close-on-invalidate regressed, this poll times out (the thread
    // would stay stranded ~55 more seconds).
    val deadline = System.nanoTime() + 10000000000L
    while (MqConsumerPool.activeFetchThreads > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(MqConsumerPool.activeFetchThreads == 0,
      "stranded socket fetch thread was not freed by invalidate's close")

    // Healthy again on a fresh connection.
    state.injectFetchDelay(0, 0)
    assert(df.collect().length == 10)
    assert(MqConsumerPool.idleCount(key, 0) == 1)
  }

  test("data-loss resume (failOnDataLoss=false) crosses the wire") {
    import spark.implicits._
    val topic = "sock-loss"
    val state = fill(topic, 1, 10)
    state.truncateTo(4)
    val got = reader(topic)
      .option("startingOffsets", """{"0":0}""")
      .option("failOnDataLoss", "false").load()
      .select($"value".cast("string")).as[String].collect().toSet
    assert(got == (4 until 10).map(i => s"m$i").toSet)
    // failOnDataLoss=true must abort with the out-of-range error, not a
    // generic transport failure: the exception type survives the socket.
    val err = intercept[Exception] {
      reader(topic).option("startingOffsets", """{"0":0}""")
        .option("failOnDataLoss", "true").load().collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(_.isInstanceOf[MqOffsetOutOfRangeException]), err.toString)
  }

  test("a recreated topic's pooled socket session is generation-stale on borrow") {
    import spark.implicits._
    val topic = "sock-stale"
    fill(topic, 1, 5)
    val key = s"${server.address}/$topic"
    def readAll(): Set[String] = reader(topic).load()
      .select($"value".cast("string")).as[String].collect().toSet
    val st = MqConsumerPool.stats(key, 0)
    val (c0, s0) = (st.created.get, st.staleDiscards.get)

    assert(readAll() == (0 until 5).map(i => s"m$i").toSet)
    assert(MqConsumerPool.idleCount(key, 0) == 1)

    // Drop + recreate on the broker: the pooled consumer's connection is
    // fine, but its buffers belong to a dead topic GENERATION — the
    // borrow-time META check must discard it, never serve it.
    InMemoryMqBroker.drop(topic)
    val st2 = InMemoryMqBroker.getOrCreate(topic, 1)
    (0 until 5).foreach(i =>
      st2.append(0, MqMessage(null, s"n$i".getBytes("UTF-8"), base + i)))
    assert(readAll() == (0 until 5).map(i => s"n$i").toSet)
    assert(st.staleDiscards.get - s0 >= 1)
    assert(st.created.get - c0 >= 2)
  }

  test("keys, headers, and timestamp seeks round-trip the wire codec") {
    import org.apache.spark.sql.functions._
    val topic = "sock-codec"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    (0 until 6).foreach { i =>
      val headers =
        if (i % 2 == 0) Array("h1" -> s"v$i".getBytes("UTF-8"),
          "h2" -> Array[Byte](0, 1, 2))
        else null
      state.append(0, MqMessage(
        if (i == 3) null else s"k$i".getBytes("UTF-8"),
        s"m$i".getBytes("UTF-8"), base + i * 1000000L, headers))
    }
    val rows = reader(topic)
      .option("includeHeaders", "true").load()
      .select(col("key").cast("string"), col("value").cast("string"),
        col("offset"), col("timestamp").cast("long"),
        expr("transform(headers, h -> struct(h.key, cast(h.value as string)))")
          .as("hs"))
      .collect().sortBy(_.getLong(2))
    assert(rows.length == 6)
    assert(rows(3).isNullAt(0), "null key must survive the wire")
    assert(rows(1).getString(0) == "k1")
    assert(rows.map(_.getString(1)).toSeq == (0 until 6).map(i => s"m$i"))
    assert(rows(1).isNullAt(4), "absent headers must stay null, not become empty")
    val h0 = rows(0).getSeq[org.apache.spark.sql.Row](4)
    assert(h0.map(r => r.getString(0) -> r.getString(1)) ==
      Seq("h1" -> "v0", "h2" -> new String(Array[Byte](0, 1, 2), "UTF-8")))
    // Timestamp seek (wire op TS_SEEK): start at the 4th message's event
    // time — the planner resolves first-start offsets over the socket.
    val seeked = reader(topic)
      .option("startingTimestampMicros", (base + 3000000L).toString).load()
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
    assert(seeked == Set("m3", "m4", "m5"))
  }

  test("socket writer batches appends: >BufferRows rows land exactly once via APPEND_N") {
    import spark.implicits._
    val topic = "sock-write-batch"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.getOrCreate(topic, 1)
    // 1300 rows through one task: two full 512-row batches + a 276-row
    // commit-time flush — the per-batch RPC path and the tail flush.
    (0 until 1300).map(i => s"r$i").toDF("value")
      .coalesce(1)
      .select($"value".cast("binary").as("value"))
      .write.format("graft-mq")
      .option("backend", "socket").option("brokerSocket", server.address)
      .option("topic", topic).option("numPartitions", "1")
      .mode("append").save()
    val got = reader(topic).load()
      .select($"value".cast("string")).as[String].collect()
    assert(got.length == 1300)
    assert(got.toSet == (0 until 1300).map(i => s"r$i").toSet)
  }

  // ------------------------------------------------------- r20 hardening

  /** TCP forwarder that can (a) inject one garbage byte into the
    * server→client stream (desync) or (b) truncate a connection
    * mid-response — the failure classes the wire codec's magic byte and
    * length caps exist for (VERDICT r19 #1).
    */
  private final class CorruptingProxy(target: String) {
    import java.io.IOException
    import java.net.{InetAddress, ServerSocket, Socket}
    private val Array(th, tp) = target.split(":", 2)
    private val ss = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    @volatile var injectGarbage = false
    @volatile var truncateNext = false
    val address = s"${InetAddress.getLoopbackAddress.getHostAddress}:${ss.getLocalPort}"
    private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
    private def pump(in: java.io.InputStream, out: java.io.OutputStream,
        serverToClient: Boolean, a: Socket, b: Socket): Thread = {
      val t = new Thread(() => {
        val buf = new Array[Byte](8192)
        try while (true) {
          val n = in.read(buf)
          if (n < 0) throw new java.io.EOFException
          if (serverToClient && truncateNext) {
            truncateNext = false
            out.write(buf, 0, 1); out.flush() // forward one byte, then cut
            a.close(); b.close()
            throw new java.io.EOFException
          }
          if (serverToClient && injectGarbage) {
            injectGarbage = false
            out.write(0) // one desyncing byte — every frame after shifts
          }
          out.write(buf, 0, n); out.flush()
        } catch {
          case _: IOException =>
            try a.close() catch { case _: IOException => () }
            try b.close() catch { case _: IOException => () }
        }
      })
      t.setDaemon(true); t.start(); t
    }
    private val acceptor = new Thread(() => {
      try while (true) {
        val c = ss.accept()
        val s = new Socket(th, tp.toInt)
        conns.add(c); conns.add(s)
        pump(c.getInputStream, s.getOutputStream, serverToClient = false, c, s)
        pump(s.getInputStream, c.getOutputStream, serverToClient = true, c, s)
      } catch { case _: IOException => () }
    })
    acceptor.setDaemon(true); acceptor.start()
    def close(): Unit = {
      try ss.close() catch { case _: IOException => () }
      conns.forEach(s => try s.close() catch { case _: IOException => () })
    }
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causeChain(t.getCause)

  test("a desynced response dies as a typed protocol error; the pool is unpoisoned after") {
    import spark.implicits._
    val topic = "sock-desync"
    fill(topic, 1, 100)
    val proxy = new CorruptingProxy(server.address)
    try {
      def readAll() = spark.read.format("graft-mq")
        .option("backend", "socket").option("brokerSocket", proxy.address)
        .option("topic", topic).option("numPartitions", "1").load()
        .select($"value".cast("string")).as[String].collect().toSet
      assert(readAll() == (0 until 100).map(i => s"m$i").toSet)
      proxy.injectGarbage = true
      val err = intercept[Exception] { readAll() }
      assert(causeChain(err).exists(_.isInstanceOf[MqProtocolException]),
        s"expected MqProtocolException in ${causeChain(err).map(_.getClass.getSimpleName)}")
      // The poisoned session was closed-and-discarded, never re-served:
      // the next read dials fresh through the (now clean) proxy.
      assert(readAll() == (0 until 100).map(i => s"m$i").toSet)
    } finally proxy.close()
  }

  test("a truncated response fails loudly as a lost connection; recovery is clean") {
    import spark.implicits._
    val topic = "sock-trunc"
    fill(topic, 1, 50)
    val proxy = new CorruptingProxy(server.address)
    try {
      def readAll() = spark.read.format("graft-mq")
        .option("backend", "socket").option("brokerSocket", proxy.address)
        .option("topic", topic).option("numPartitions", "1").load()
        .select($"value".cast("string")).as[String].collect().toSet
      assert(readAll() == (0 until 50).map(i => s"m$i").toSet)
      proxy.truncateNext = true
      val err = intercept[Exception] { readAll() }
      assert(causeChain(err).exists(t => t.isInstanceOf[IllegalStateException] &&
        t.getMessage != null && t.getMessage.contains("connection")),
        s"expected a loud lost-connection error in ${causeChain(err).map(_.toString)}")
      assert(readAll() == (0 until 50).map(i => s"m$i").toSet)
    } finally proxy.close()
  }

  /** Sends `frame` as a rogue client would and asserts the server's
    * answer: exactly one generic-error response whose message contains
    * `expect`, then EOF — the typed goodbye of a killed session. The
    * server must then still serve healthy clients.
    */
  private def assertRogueRefused(topic: String, expect: String)(
      frame: java.io.DataOutputStream => Unit): Unit = {
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.Socket
    fill(topic, 1, 1)
    val Array(h, p) = server.address.split(":", 2)
    val s = new Socket(h, p.toInt)
    try {
      val out = new DataOutputStream(s.getOutputStream)
      val in = new DataInputStream(s.getInputStream)
      frame(out)
      out.flush()
      assert(in.readByte() == MqSocketBroker.Magic)
      assert(in.readByte() == 2, "expected the generic-error status")
      val msg = in.readUTF()
      assert(msg.contains(expect), msg)
      assert(in.read() == -1, "server must close the desynced connection")
    } finally s.close()
    import spark.implicits._
    assert(reader(topic).load().select($"value".cast("string")).as[String]
      .collect().toSet == Set("m0"))
  }

  test("a rogue client's oversized length is refused typed — no garbage-length allocation") {
    val topic = "sock-rogue"
    assertRogueRefused(topic, "exceeds cap") { out =>
      // APPEND with a ~1.9 GB key length: the server must kill the
      // session with a typed protocol error, not attempt the allocation.
      out.writeByte(MqSocketBroker.Magic.toInt)
      out.writeByte(7); out.writeUTF(topic); out.writeInt(0)
      out.writeInt(Int.MaxValue - 100)
    }
  }

  test("an unknown op closes the session typed — its payload is never read as a frame") {
    val topic = "sock-rogue-op"
    assertRogueRefused(topic, "unknown op 104") { out =>
      // Op 104 whose payload happens to look like an ENDS frame: answering
      // the error and reading on would serve that payload as a second
      // request.
      out.writeByte(MqSocketBroker.Magic.toInt)
      out.writeByte(104); out.writeUTF(topic)
      out.writeByte(MqSocketBroker.Magic.toInt)
      out.writeByte(4); out.writeUTF(topic)
    }
  }

  test("an oversized count in a response is refused typed on the client") {
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.{InetAddress, ServerSocket}
    // Scripted fake broker: answers META correctly (so connect/bind
    // succeeds), then claims an absurd ENDS entry count.
    val ss = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try {
        val c = ss.accept()
        val in = new DataInputStream(c.getInputStream)
        val out = new DataOutputStream(c.getOutputStream)
        while (true) {
          in.readByte() // magic
          val op = in.readByte()
          in.readUTF() // topic
          out.writeByte(MqSocketBroker.Magic.toInt); out.writeByte(0)
          out.writeLong(1L) // generation
          if (op == 2) out.writeInt(1) // META: numPartitions
          else out.writeInt(Int.MaxValue - 5) // ENDS: garbage count
          out.flush()
        }
      } catch { case _: java.io.IOException => () }
    })
    t.setDaemon(true); t.start()
    val addr = s"${InetAddress.getLoopbackAddress.getHostAddress}:${ss.getLocalPort}"
    try {
      val sess = MqSocketBroker.connect(addr, "fake-topic")
      val err = intercept[MqProtocolException] { sess.endOffsets }
      assert(err.getMessage.contains("exceeds cap"), err.getMessage)
      assert(!sess.transportAlive, "a protocol error must break the session")
    } finally ss.close()
  }

  test("a negative READ batch count is refused typed, not decoded as an empty fetch") {
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.{InetAddress, ServerSocket}
    // Scripted fake broker (ADVICE r20 #2): answers META correctly, then
    // a READ with count −1 — legal on the wire only for null byte BLOBS.
    // Decoded as a count it would mean an empty fetch, which the cursor
    // treats as range exhaustion: silent row truncation instead of the
    // typed desync error the hardened framing promises.
    val ss = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try {
        val c = ss.accept()
        val in = new DataInputStream(c.getInputStream)
        val out = new DataOutputStream(c.getOutputStream)
        while (true) {
          in.readByte() // magic
          val op = in.readByte()
          in.readUTF() // topic
          if (op == 3) { in.readInt(); in.readLong(); in.readLong() }
          out.writeByte(MqSocketBroker.Magic.toInt); out.writeByte(0)
          out.writeLong(1L) // generation
          if (op == 2) out.writeInt(1) // META: numPartitions
          else out.writeInt(-1) // READ: the null sentinel where a count belongs
          out.flush()
        }
      } catch { case _: java.io.IOException => () }
    })
    t.setDaemon(true); t.start()
    val addr = s"${InetAddress.getLoopbackAddress.getHostAddress}:${ss.getLocalPort}"
    try {
      val sess = MqSocketBroker.connect(addr, "fake-topic")
      val err = intercept[MqProtocolException] { sess.read(0, 0, 5) }
      assert(err.getMessage.contains("< 0"), err.getMessage)
      assert(!sess.transportAlive, "a protocol error must break the session")
    } finally ss.close()
  }

  test("a recreate between borrow and fetch fails typed via the piggybacked generation") {
    val topic = "sock-genpin"
    fill(topic, 1, 5)
    val sess = MqSocketBroker.connect(server.address, topic)
    try {
      assert(sess.read(0, 0, 5).size == 5)
      // Drop + recreate UNDER the live consumer session: its next fetch
      // must fail typed — offsets 0..5 of the new topic are different
      // rows, and the r19 session would have served them silently.
      InMemoryMqBroker.drop(topic)
      val st2 = InMemoryMqBroker.getOrCreate(topic, 1)
      (0 until 5).foreach(i =>
        st2.append(0, MqMessage(null, s"x$i".getBytes("UTF-8"), base + i)))
      val err = intercept[MqStaleGenerationException] { sess.read(0, 0, 5) }
      assert(err.getMessage.contains("recreated"), err.getMessage)
      assert(!sess.transportAlive)
    } finally sess.close()
  }

  test("borrow-time generation checks ride the cache, not the meta channel (no funnel)") {
    val topic = "sock-defunnel"
    val parts = 8
    fill(topic, parts, 80)
    val opts = GraftMqOptions(topic = topic, backend = "socket",
      numPartitions = parts, rowsPerBatch = 10L, maxRowsPerBatch = None,
      minPartitions = None, seed = 42L, wordsPerMessage = 4,
      failOnDataLoss = true, includeMetadata = false,
      startingOffsets = "earliest", brokerSocket = Some(server.address))

    def borrowAllConcurrently(): Long = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(parts)
      val borrowed = new java.util.concurrent.ConcurrentLinkedQueue[MqConsumer]()
      (0 until parts).foreach { part =>
        val t = new Thread(() => {
          start.await()
          borrowed.add(MqConsumerPool.borrow(opts, part))
          done.countDown()
        })
        t.setDaemon(true); t.start()
      }
      val t0 = System.nanoTime()
      start.countDown()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "borrows hung")
      val wallMs = (System.nanoTime() - t0) / 1000000L
      borrowed.forEach(c => MqConsumerPool.release(c))
      wallMs
    }

    // Warm: one consumer per partition in the idle pool, gen cache fresh.
    borrowAllConcurrently()
    try {
      // Phase A — warm cache, hung meta path: borrows must not issue ANY
      // meta RPC (the r19 shape paid one synchronized META per borrow and
      // would serialize 8 × 5 s here).
      server.injectMetaDelay(5000)
      val r0 = MqSocketBroker.genRefreshRpcs.get
      val wallWarm = borrowAllConcurrently()
      assert(MqSocketBroker.genRefreshRpcs.get == r0,
        "warm-cache borrows must not touch the meta channel")
      assert(wallWarm < 2000, s"warm-cache concurrent borrows took ${wallWarm} ms")

      // Phase B — expired cache, slow meta path: exactly ONE single-flight
      // bounded refresh on the shared channel; concurrent borrows fail
      // SAFE (stale-discard + parallel reconnect) instead of queueing.
      server.injectMetaDelay(3000)
      Thread.sleep(MqSocketBroker.GenCacheTtlMs + 300)
      val r1 = MqSocketBroker.genRefreshRpcs.get
      val wallCold = borrowAllConcurrently()
      val refreshes = MqSocketBroker.genRefreshRpcs.get - r1
      assert(refreshes <= 2, s"single-flight violated: $refreshes meta refreshes")
      assert(wallCold < 9000,
        s"cold-cache concurrent borrows took ${wallCold} ms — serialized on the meta channel?")
    } finally server.injectMetaDelay(0)
    // Healthy afterwards.
    import spark.implicits._
    assert(reader(topic, parts).load().select($"value".cast("string"))
      .as[String].collect().length == 80)
  }

  test("the socket consumer refills with one live fetch per chunk; results stay value-exact") {
    import spark.implicits._
    val topic = "sock-chunks"
    fill(topic, 1, 10000) // chunk size 4096 → three refills
    val key = s"${server.address}/$topic"
    val st = MqConsumerPool.stats(key, 0)
    val f0 = st.brokerFetches.get
    val got = reader(topic).load()
      .select($"value".cast("string")).as[String].collect()
    assert(got.length == 10000)
    assert(got.toSet == (0 until 10000).map(i => s"m$i").toSet)
    assert(st.brokerFetches.get - f0 == 3, s"fetches=${st.brokerFetches.get - f0}")
    assert(MqConsumerPool.idleCount(key, 0) == 1)
  }

  test("appendAll above the wire batch cap splits transparently and lands exactly once") {
    val topic = "sock-bigbatch"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.getOrCreate(topic, 1)
    val n = MqSocketBroker.MaxBatchCount + 700 // forces a split: one full frame + a tail
    val s = MqSocketBroker.connectOrCreate(server.address, topic, 1)
    try {
      val last = s.appendAll(0, (0 until n).map(i =>
        MqMessage(null, Array(i.toByte), base + i)))
      assert(last == n - 1, s"last offset $last")
    } finally s.close()
    val st = InMemoryMqBroker.get(topic).get
    assert(st.endOffsets(0) == n.toLong)
    // Order preserved across the split boundary.
    val around = st.read(0, MqSocketBroker.MaxBatchCount - 2, MqSocketBroker.MaxBatchCount + 2)
    assert(around.map(_.timestamp) ==
      (MqSocketBroker.MaxBatchCount - 2 until MqSocketBroker.MaxBatchCount + 2)
        .map(i => base + i))
  }

  test("streaming write + read loop over the socket") {
    import spark.implicits._
    val topic = "sock-write"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.getOrCreate(topic, 2)
    // Batch write through the socket writer path.
    Seq("a", "b", "c", "d").toDF("value")
      .select($"value".cast("binary").as("value"))
      .write.format("graft-mq")
      .option("backend", "socket").option("brokerSocket", server.address)
      .option("topic", topic).option("numPartitions", "2")
      .mode("append").save()
    val got = reader(topic, 2).load()
      .select($"value".cast("string")).as[String].collect().toSet
    assert(got == Set("a", "b", "c", "d"))
  }
}
