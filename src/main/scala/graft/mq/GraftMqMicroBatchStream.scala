package graft.mq

import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._

/** Driver-side micro-batch planner for `graft-mq`.
  *
  * Re-expresses the reference's CustomMicroBatchStream
  * (/root/reference/src/main/java/org/example/CustomMicroBatchStream.java:21-84)
  * with the Kafka-grade semantics its README specifies:
  * per-partition offset maps (README.md:337-344), admission control via
  * `ReadLimit.maxRows` (README.md:399-422), range-exact partition planning
  * (README.md:427-446), and checkpoint-replayable offsets (README.md:699-712).
  * `commit` stays a no-op, as in Kafka (README.md:462-463) — durability
  * lives in the engine's checkpoint, not the connector.
  */
class GraftMqMicroBatchStream(opts: GraftMqOptions, checkpointLocation: String,
    readSchema: org.apache.spark.sql.types.StructType,
    bounds: GraftMqScanBounds = GraftMqScanBounds())
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with Logging {

  def this(opts: GraftMqOptions, checkpointLocation: String) =
    this(opts, checkpointLocation, opts.schema)

  // Generated backend: the virtual log head advances rowsPerBatch per
  // partition on each latestOffset poll. Tracked driver-side only; replay
  // of an already-planned range is pure-function deterministic. On query
  // restart the head must resume from the engine-restored start offset —
  // not zeros — or already-committed ranges would be re-planned and
  // re-emitted (duplicate output; ADVICE r01 high).
  private var generatedHead: Option[GraftMqOffset] = None

  // Trigger.AvailableNow (Kafka parity): `prepareForTriggerAvailableNow`
  // arms the stream; the first latestOffset call then freezes "all data as
  // of query start" as a fixed target, and every batch (still rate-limited
  // by maxRowsPerBatch) drains toward it until end==target, where the
  // engine stops the query.
  private var availableNowArmed = false
  private var availableNowTarget: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowArmed = true
    availableNowTarget = None
  }

  private def availableEnds(start: GraftMqOffset): Map[Int, Long] = {
    val avail =
      if (opts.isGenerated) {
        val head = generatedHead.getOrElse(start).ends
        // Iterate ALL configured partitions, not just the keys the engine
        // restored: a checkpoint taken at a smaller numPartitions carries
        // no entries for partitions added since, and mapping over
        // start.ends alone would silently never plan them (the broker
        // path covers them via endOffsets).
        val next = (0 until opts.numPartitions).map { p =>
          val o = start.ends.getOrElse(p, 0L)
          p -> (math.max(o, head.getOrElse(p, o)) + opts.rowsPerBatch)
        }.toMap
        generatedHead = Some(GraftMqOffset(next))
        next
      } else {
        MqBackends.session(opts).endOffsets
      }
    if (availableNowArmed) {
      val target = availableNowTarget.getOrElse {
        val t = avail; availableNowTarget = Some(t); t
      }
      // Clamp to the frozen snapshot, but never below the restored start.
      target.map { case (p, o) => p -> math.max(o, start.ends.getOrElse(p, 0L)) }
    } else avail
  }

  /** First-start position (README.md:372-397 resolution modes): earliest,
    * latest, Kafka-style per-partition specific offsets (-1 latest,
    * -2 earliest, unlisted = earliest), or first-offset-at-timestamp.
    * Only consulted when no checkpoint exists — restarts resume from the
    * offset log. A pushed `timestamp >= X` bound additionally seeks each
    * partition forward to first-offset-at-X (never backward: `max` with
    * the configured mode) — rows before that index cannot satisfy the
    * residual filter the engine still applies, so skipping them changes
    * only how much discarded data batch 0 reads.
    */
  private def startingPoint: GraftMqOffset = {
    val resolved = GraftMqStart.resolve(opts)
    val seeked = bounds.minTimestampMicros match {
      case None => resolved
      case Some(ts) => resolved.map { case (p, o) =>
        p -> math.max(o, GraftMqStart.offsetForTimestamp(opts, p, ts))
      }
    }
    GraftMqOffset(seeked)
  }

  override def initialOffset(): Offset = startingPoint

  override def deserializeOffset(json: String): Offset = GraftMqOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit = {
    val maxL = opts.maxRowsPerBatch.map(ReadLimit.maxRows)
    val minL = opts.minRowsPerBatch.map(m => ReadLimit.minRows(m, opts.maxTriggerDelayMs))
    (minL, maxL) match {
      case (Some(a), Some(b)) => ReadLimit.compositeLimit(Array(a, b))
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case _ => ReadLimit.allAvailable()
    }
  }

  // ReadMinRows bookkeeping (Kafka's minOffsetsPerTrigger/maxTriggerDelay):
  // timestamp of the last batch this stream actually admitted; the delay
  // escape hatch fires relative to it.
  private var lastTriggerMs: Long = System.currentTimeMillis()

  /** MicroBatchStream's 1-arg form — the engine calls the admission-control
    * overload when SupportsAdmissionControl is implemented; mirror Kafka and
    * delegate rather than throw (the mock throws, CustomMicroBatchStream.java:38-41).
    */
  override def latestOffset(): Offset =
    latestOffset(startingPoint, ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftMqOffset]
    GraftMqOffset(applyLimit(s.ends, availableEnds(s), limit))
  }

  /** Clamp available ends so total new rows ≤ maxRows, distributing the
    * budget across partitions proportionally to their backlog — the
    * `rateLimit` algorithm the reference README walks through for Kafka
    * (README.md:412-422).
    */
  private def applyLimit(start: Map[Int, Long], avail: Map[Int, Long],
      limit: ReadLimit): Map[Int, Long] = limit match {
    case _: ReadAllAvailable => avail
    case _: ReadMinRows if availableNowArmed =>
      // Trigger.AvailableNow drains a frozen snapshot and terminates; a
      // tail smaller than minRows must still be admitted or the run ends
      // with unprocessed data from its own target (Kafka skips the
      // minOffsetsPerTrigger check under allDataForTriggerAvailableNow).
      avail
    case mn: ReadMinRows =>
      // Kafka's minOffsetsPerTrigger: admit the batch only once the
      // backlog reaches minRows, unless maxTriggerDelay elapsed since the
      // last admitted batch (then whatever is available flows).
      val total = avail.map { case (p, end) =>
        math.max(0L, end - start.getOrElse(p, 0L))
      }.sum
      val delayExpired = System.currentTimeMillis() - lastTriggerMs >= mn.maxTriggerDelayMs
      if (total >= mn.minRows || (delayExpired && total > 0)) {
        lastTriggerMs = System.currentTimeMillis()
        avail
      } else start
    case mr: ReadMaxRows =>
      val backlog = avail.map { case (p, end) =>
        p -> math.max(0L, end - start.getOrElse(p, 0L))
      }
      val total = backlog.values.sum
      if (total <= mr.maxRows) avail
      else {
        val budget = mr.maxRows.toDouble / total
        avail.map { case (p, _) =>
          val from = start.getOrElse(p, 0L)
          val share = backlog(p) * budget
          // Sub-1 shares round UP (Kafka's rateLimit rule): otherwise, with
          // maxRows < #backlogged partitions, every share floors to 0 and
          // the stream never advances (ADVICE r01 medium).
          val take = if (share < 1) math.ceil(share) else math.floor(share)
          p -> (from + take.toLong)
        }
      }
    case composite: CompositeReadLimit =>
      composite.getReadLimits.foldLeft(avail) { (acc, l) => applyLimit(start, acc, l) }
    case _ => avail // maxBytes/maxFiles: not meaningful for this source
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftMqOffset].ends
    val e = end.asInstanceOf[GraftMqOffset].ends
    GraftMqPlanner.plan(opts, s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftMqPartitionReaderFactory(readSchema)

  /** Progress reporting (StreamingQueryProgress "latestOffset"): broker's
    * true end offsets; null (unknown) for the generated firehose, whose
    * head only advances when polled — reporting must not create data.
    */
  override def reportLatestOffset(): Offset =
    if (opts.isGenerated) null
    else GraftMqOffset(MqBackends.session(opts).endOffsets)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftMqStream[topic=${opts.topic},backend=${opts.backend}]"
}

/** Shared planning: offset ranges → Spark tasks. Used by both the
  * micro-batch and batch paths so the range-exactness invariant (every
  * offset in [start,end) covered exactly once; README.md:424-446) is
  * tested in one place.
  */
object GraftMqPlanner {
  def plan(opts: GraftMqOptions, start: Map[Int, Long],
      end: Map[Int, Long]): Array[InputPartition] = {
    val ranges = end.keys.toSeq.sorted.flatMap { p =>
      val from = start.getOrElse(p, 0L)
      val until = end(p)
      if (until > from) Some((p, from, until)) else None
    }
    // minPartitions: split large ranges into more tasks (README.md:431-433),
    // proportionally to range size so tasks stay balanced.
    val target = opts.minPartitions.getOrElse(0)
    val totalRows = ranges.map { case (_, f, u) => u - f }.sum
    val parts =
      if (target <= ranges.size || totalRows == 0) ranges
      else ranges.flatMap { case (p, from, until) =>
        val rows = until - from
        val pieces = math.max(1L, math.round(target.toDouble * rows / totalRows)).toInt
        val step = math.max(1L, math.ceil(rows.toDouble / pieces).toLong)
        (from until until by step).map(f => (p, f, math.min(until, f + step)))
      }
    parts.map { case (p, f, u) =>
      GraftMqInputPartition(opts.topic, p, f, u, opts): InputPartition
    }.toArray
  }
}

/** Batch (non-streaming) read over a snapshot of the topic — the `toBatch`
  * parity Kafka has (/root/reference/README.md:268-278). Snapshot end is
  * captured at Batch construction; generated backend reads one synthetic
  * batch of rowsPerBatch per partition.
  */
/** First-start offset resolution shared by the streaming source (no
  * checkpoint yet) and the batch scan (README.md:372-397 modes):
  * earliest, latest, Kafka-style per-partition specific offsets
  * (-1 latest, -2 earliest, unlisted = earliest), or
  * first-offset-at-timestamp.
  */
object GraftMqStart {
  /** Fail fast on offsets-JSON entries for partitions the topic does not
    * have (typo or stale partition count): silently ignoring them would
    * commit an unintended start position into the checkpoint. Kafka
    * rejects offsets for unassigned partitions the same way.
    */
  private[mq] def boundedSpec(spec: Map[Int, Long], n: Int, what: String): Map[Int, Long] = {
    val bad = spec.keys.filter(p => p < 0 || p >= n)
    require(bad.isEmpty,
      s"graft-mq: $what names partition(s) ${bad.toSeq.sorted.mkString(",")} " +
        s"outside [0, $n)")
    spec
  }

  def resolve(opts: GraftMqOptions): Map[Int, Long] = {
    val n = opts.numPartitions
    def ends: Map[Int, Long] =
      if (opts.isGenerated) Map.empty
      else MqBackends.session(opts).endOffsets
    // Kafka's "earliest"/-2 means the earliest RETAINED offset, not 0: on
    // a retention-truncated topic, resolving to 0 would make the first
    // stream start throw MqOffsetOutOfRange instead of starting at the
    // log head (ADVICE r03; the batch path already clamped). One map for
    // all partitions — per-partition rebuilds were O(n²).
    lazy val earliestMap: Map[Int, Long] =
      if (opts.isGenerated) Map.empty
      else MqBackends.session(opts).earliestOffsets
    def earliest(p: Int): Long = earliestMap.getOrElse(p, 0L)
    opts.startingTimestampMicros match {
      case Some(ts) =>
        (0 until n).map(p => p -> offsetForTimestamp(opts, p, ts)).toMap
      case None if opts.startingOffsets.startsWith("{") =>
        val spec = boundedSpec(GraftMqOffset.fromJson(opts.startingOffsets).ends,
          n, "startingOffsets")
        val e = ends
        (0 until n).map { p =>
          p -> (spec.getOrElse(p, -2L) match {
            case -2L => earliest(p)
            case -1L => e.getOrElse(p, 0L)
            case o =>
              require(o >= 0, s"graft-mq: negative start offset $o for partition $p")
              o
          })
        }.toMap
      case None if opts.startingOffsets == "latest" && !opts.isGenerated => ends
      case None => (0 until n).map(p => p -> earliest(p)).toMap
    }
  }

  /** Smallest offset in partition `p` whose message timestamp ≥ `ts`
    * (partition end when no such message). Generated timestamps are an
    * arithmetic sequence, so the lookup inverts it; broker timestamps are
    * scanned (in-memory broker — a real MQ would serve its timestamp
    * index here, like Kafka's offsetsForTimes, README.md:383-390).
    */
  def offsetForTimestamp(opts: GraftMqOptions, p: Int, ts: Long): Long =
    if (opts.isGenerated) {
      // Inverts GeneratedPayloads.messageAt's timestamp arithmetic — the
      // shared constants keep the two sides from drifting.
      val base = GeneratedPayloads.BaseTimestampMicros
      val step = GeneratedPayloads.StepMicros
      if (ts <= base) 0L else (ts - base + step - 1) / step
    } else MqBackends.session(opts).offsetForTimestamp(p, ts)
}

class GraftMqBatch(opts: GraftMqOptions,
    readSchema: org.apache.spark.sql.types.StructType,
    bounds: GraftMqScanBounds = GraftMqScanBounds(),
    limit: Option[Int] = None) extends Batch {

  def this(opts: GraftMqOptions) = this(opts, opts.schema)

  private val (startEnds, endEnds): (Map[Int, Long], Map[Int, Long]) = {
    // Kafka parity: a batch query starting at "latest" would always read
    // nothing — Kafka rejects it outright rather than returning a silently
    // empty result, and so do we.
    require(opts.startingOffsets != "latest",
      "graft-mq: startingOffsets 'latest' is not valid for batch queries")
    val latest: Map[Int, Long] =
      if (opts.isGenerated) (0 until opts.numPartitions).map(_ -> opts.rowsPerBatch).toMap
      else MqBackends.session(opts).endOffsets
    // Kafka-style endingOffsets (batch only): "latest" or JSON with -1 =
    // latest; unlisted partitions end latest. On the generated backend an
    // explicit end is honored as-is — every offset is defined there, and
    // clamping to the synthetic one-batch "latest" (rowsPerBatch) would
    // silently shrink the requested range.
    val upper: Map[Int, Long] =
      if (opts.endingOffsets.startsWith("{")) {
        val spec = GraftMqStart.boundedSpec(
          GraftMqOffset.fromJson(opts.endingOffsets).ends,
          opts.numPartitions, "endingOffsets")
        latest.map { case (p, l) =>
          p -> (spec.getOrElse(p, -1L) match {
            case -1L => l
            case o =>
              require(o >= 0, s"graft-mq: negative end offset $o for partition $p")
              if (opts.isGenerated) o else math.min(o, l)
          })
        }
      } else latest
    val earliest: Map[Int, Long] =
      if (opts.isGenerated) Map.empty
      else MqBackends.session(opts).earliestOffsets
    // Clamp start into [earliest, upper]: truncation moved earliest up,
    // and a start beyond the end reads nothing rather than failing. Under
    // failOnDataLoss=true (the default) a requested start BELOW the
    // earliest retained offset is data loss and must abort — silently
    // clamping would skip the truncated rows, the exact behavior the
    // option promises to surface (Kafka's batch relation also fails).
    val s = GraftMqStart.resolve(opts).map { case (p, o) =>
      val lo = earliest.getOrElse(p, 0L)
      if (o < lo && opts.failOnDataLoss)
        throw new MqOffsetOutOfRangeException(
          s"graft-mq: partition=$p requested start=$o but earliest retained=$lo " +
            "(set failOnDataLoss=false to read from the log head instead)")
      p -> math.min(math.max(o, lo), upper.getOrElse(p, 0L))
    }
    // Pushed-filter seeks ([[GraftMqScanBounds]]): partition pruning,
    // offset bounds, and timestamp lower bounds narrow [start, end) BEFORE
    // tasks are planned — a timestamp-filtered query reads only matching
    // ranges instead of the whole log. Values are still re-verified by the
    // residual filters, so over-approximation here is safe.
    val keep: Int => Boolean = p => bounds.partitions.forall(_.contains(p))
    val s2 = s.collect { case (p, o) if keep(p) =>
      val tsSeek = bounds.minTimestampMicros
        .map(ts => GraftMqStart.offsetForTimestamp(opts, p, ts))
      p -> (Seq(o) ++ bounds.minOffset ++ tsSeek).max
    }
    val e2 = upper.collect { case (p, u) if keep(p) =>
      p -> (Seq(u) ++ bounds.maxOffsetExclusive).min
    }
    (s2, e2)
  }

  /** Planned ranges, LIMIT-capped when a limit was pushed (no residual
    * filters exist then — any `limit` rows satisfy the query).
    */
  private def limitedEnds: Map[Int, Long] = limit match {
    case None => endEnds
    case Some(l) =>
      var budget = l.toLong
      endEnds.toSeq.sortBy(_._1).map { case (p, u) =>
        val from = startEnds.getOrElse(p, 0L)
        val take = math.max(0L, math.min(u - from, budget))
        budget -= take
        p -> (from + take)
      }.toMap
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftMqPlanner.plan(opts, startEnds, limitedEnds)

  /** The per-partition `[start, end)` this batch would read — exactly the
    * row-reader's ranges (start-mode resolution, endingOffsets bound,
    * data-loss clamp/abort, pushed seeks, LIMIT cap all applied). The
    * pushed-down-count path ([[GraftMqCountBatch]]) sums these instead of
    * reading messages, so the two paths cannot disagree on semantics.
    */
  private[mq] def plannedRanges: Map[Int, (Long, Long)] = {
    val ends = limitedEnds
    startEnds.map { case (p, s) => p -> (s, ends.getOrElse(p, s)) }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftMqPartitionReaderFactory(readSchema)
}
