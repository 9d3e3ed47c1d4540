package graft.tools

import java.util.concurrent.atomic.LongAdder

import graft.queries.GraftQueries
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query shuffle/spill audit: the byte-metric complement of
  * [[LinearProbe]]'s wall-time gate (r18 — VERDICT r17 #3 follow-through:
  * the r17 candidate-stream fixes were defended by plan-shape assertions
  * and wall-time probes; this tool pins the QUANTITY those defend — how
  * many bytes actually cross an exchange or hit the spill files).
  *
  * Why bytes and not seconds: task-metric byte counts are DETERMINISTIC
  * for a deterministic plan — immune to the 30-60% wall-clock drift this
  * repo has repeatedly had to adjudicate with interleaved A/Bs (SURVEY
  * §8). One run per side suffices; no best-of-N, no interleave.
  *
  * Two enforced invariants, both scale-design claims made in r17:
  *
  *  1. **Zero disk spill** for the semantic pair family
  *     ([[ZeroSpillQueries]]): the carry-through reshape's whole point is
  *     that nothing pair-sized is ever sorted or exchanged, so the
  *     ≈N²/nlist cosine stream evaluates in-stage — pure CPU, no disk
  *     (measured at ×100: was ~80 GB of sort spill and run death, now 0).
  *     A regression that re-materializes the pair stream spills again and
  *     fails HERE, even if wall time happens to hide it on a fast disk.
  *  2. **Shuffle-byte linearity** base → ×factor (when a scaled dir is
  *     given): in MakeSf's linear regime the true answer (and every
  *     candidate stream) grows ~linearly with rows, so shuffle WRITE
  *     bytes must too. Enforced as ratio ≤ factor × [[Slack]] wherever
  *     the base side shuffles ≥ [[MinSignalBytes]] (below that,
  *     job-overhead noise dominates, mirroring LinearProbe's signal
  *     floor). A quadratic candidate stream shows up here at ×10 as a
  *     ~10× breach — long before it becomes an ×100 spill death.
  *
  * Ratio-gating caveat (learned from the first r18 sweep): byte ratios
  * compare EXECUTED plans, and a join that broadcasts at the small scale
  * but shuffles at the large one (autoBroadcastJoinThreshold sits
  * between the two side sizes) reads as a spurious super-linear ratio —
  * the base side undercounts, not the scaled side overcounts. Five of
  * six sf0.1→×10 "failures" were this artifact; the same queries
  * measured ×10→×100 (both sides past the broadcast threshold) read
  * linear. For ENFORCEMENT, compare two scaled dirs — the recorded r18
  * gate is `<×10 dir> --scaled=<×100 dir> --factor=10` — and pass
  * `--pin` (r19): it sets autoBroadcastJoinThreshold=-1 on both sides so
  * no auto-broadcast flip can fabricate a ratio, turning the r18
  * artifact-class rows into real enforced gates (explicit broadcast()
  * hints in the queries are deliberately untouched).
  *
  * Record-ratio gate (r19 — VERDICT r18 #1): shuffle WRITE RECORDS are
  * tallied next to bytes and gated at the same ×factor slack. Records
  * are immune to the per-bucket compression shifts that bent the two
  * r18 marginal byte crossings (reducer-count changes re-bucket values
  * and change codec efficiency), so a record breach is always a shape
  * problem. When the record gate is enforced and linear, the byte gate
  * widens to [[WideByteSlack]] and the output line says why.
  *
  * Usage:
  *   runMain graft.tools.ShuffleAudit <baseDir> [--scaled=<dir> --factor=N] [--pin] [queries...]
  * Defaults to [[LinearProbe.defaultQueries]] plus the embedding pair
  * ops. Exits non-zero on any enforced breach.
  */
object ShuffleAudit {

  /** Queries whose executed plans must never spill a byte to disk: the
    * semantic-dedup carry-through family (r17 reshape) and the
    * shuffled-hash vector attaches (plan-pinned in PlanAssertionsSpec;
    * this enforces their runtime consequence).
    */
  val ZeroSpillQueries: Set[String] = Set(
    "curate_semdedup", "curate_semantic_dedup", "dedup_embedding_pairs",
    "curate_incremental_semantic", "curate_incremental_append_semantic")

  /** Below this many base-side shuffle-write bytes a ratio is noise. */
  val MinSignalBytes: Long = 1L << 20

  /** Below this many base-side shuffle-write RECORDS a row ratio is
    * noise (1 MB of ~100-byte rows ≈ 10k records — same floor, row units).
    */
  val MinSignalRecords: Long = 10000

  /** Headroom over the ideal ×factor byte ratio: compressed shuffle
    * blocks vary a few percent with content, and a factor-linear op may
    * legitimately shuffle factor× on answer-sized stages — but never
    * quadratically. Bytes are deterministic, so the slack is tighter
    * than LinearProbe's wall-time 1.5.
    */
  val Slack = 1.35

  /** Headroom for the RECORD ratio — rows are immune to per-bucket
    * compression shifts, so this is the shape-honest gate (r19 — VERDICT
    * r18 #1): a record crossing is a real super-linear candidate stream,
    * never a codec artifact.
    */
  val RowSlack = 1.35

  /** When the record ratio is enforced AND linear, bytes may drift past
    * [[Slack]] from per-bucket compression alone (reducer-count changes
    * re-bucket values and shift codec efficiency — the r18 marginal
    * crossings read 13.51× and 14.38× on bytes with linear rows). r20
    * (ADVICE r19 #4): this band is no longer a silent PASS for the whole
    * registry — a byte crossing first tries the PER-EXCHANGE composition
    * adjudication; only if that is unavailable does the linear-rows band
    * apply, and then as an explicit WARN on the line and the summary.
    */
  val WideByteSlack = 1.7

  /** Aggregate ratios within this fraction BELOW their gate also trigger
    * the per-exchange descent (r20 — VERDICT r19 #5: the two semantic
    * rows at 13.09×/13.38× vs the 13.5 gate were pre-adjudicated by
    * hand-run pinned PlanMetrics; the sweep now prints that attribution
    * itself, so a marginal PASS ships with its own evidence).
    */
  val NearGateBand = 0.15

  /** Per-exchange floors for the composition descent (the PlanMetrics
    * print thresholds): below these an exchange is job-overhead-sized
    * and exempt — floor-exempt growth is exactly the composition
    * artifact the descent exists to attribute.
    */
  val ExchangeByteFloor: Long = 8L << 20
  val ExchangeRecordFloor: Long = 10000L

  final case class Metrics(shuffleWrite: Long, shuffleRead: Long,
      diskSpill: Long, memSpill: Long, shuffleRecords: Long) {
    def -(o: Metrics): Metrics =
      Metrics(shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
        diskSpill - o.diskSpill, memSpill - o.memSpill,
        shuffleRecords - o.shuffleRecords)
  }

  /** One shuffle exchange's write volume in a measured run, in executed
    * traversal order (the matching key between scales is the NAME
    * SEQUENCE — a differing sequence means the plans composed
    * differently and no per-exchange claim is made).
    */
  final case class ExchangeStat(node: String, bytes: Long, records: Long)

  /** Accumulates task metrics across the whole session; queries run
    * sequentially, so per-query deltas are exact.
    */
  private final class Tally extends SparkListener {
    val shuffleWrite = new LongAdder
    val shuffleRead = new LongAdder
    val diskSpill = new LongAdder
    val memSpill = new LongAdder
    val shuffleRecords = new LongAdder
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        diskSpill.add(m.diskBytesSpilled)
        memSpill.add(m.memoryBytesSpilled)
        shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def snapshot: Metrics =
      Metrics(shuffleWrite.sum, shuffleRead.sum, diskSpill.sum, memSpill.sum,
        shuffleRecords.sum)
  }

  /** Snapshot once the listener bus has drained: totals are read twice
    * [[QuiesceMs]] apart until two consecutive reads agree (the public
    * API exposes no waitUntilEmpty; metric deltas must not bleed into
    * the next query's window).
    */
  private def settled(t: Tally, quiesceMs: Long = 150, maxWaitMs: Long = 10000): Metrics = {
    var prev = t.snapshot
    var waited = 0L
    while (waited < maxWaitMs) {
      Thread.sleep(quiesceMs)
      waited += quiesceMs
      val cur = t.snapshot
      if (cur == prev) return cur
      prev = cur
    }
    prev
  }

  final case class Audit(query: String, base: Metrics, scaled: Option[Metrics], factor: Int,
      baseEx: Seq[ExchangeStat] = Nil, scaledEx: Option[Seq[ExchangeStat]] = None) {
    def ratio: Option[Double] = scaled.map { s =>
      if (base.shuffleWrite > 0) s.shuffleWrite.toDouble / base.shuffleWrite
      else Double.PositiveInfinity
    }
    def rowRatio: Option[Double] = scaled.map { s =>
      if (base.shuffleRecords > 0) s.shuffleRecords.toDouble / base.shuffleRecords
      else Double.PositiveInfinity
    }
    def zeroSpillEnforced: Boolean = ZeroSpillQueries.contains(query)
    def spillOk: Boolean = !zeroSpillEnforced ||
      (base.diskSpill == 0 && scaled.forall(_.diskSpill == 0))
    def ratioEnforced: Boolean = scaled.nonEmpty && base.shuffleWrite >= MinSignalBytes
    def rowEnforced: Boolean = scaled.nonEmpty && base.shuffleRecords >= MinSignalRecords

    /** Exchanges matched between scales by name sequence; None when the
      * two executed shapes differ OR the captured exchanges do not
      * account for at least half of the aggregate's task-metric records
      * (a vacuous or partial capture must never launder an aggregate
      * breach — the descent may only adjudicate volume it can SEE).
      */
    def matchedExchanges: Option[Seq[(ExchangeStat, ExchangeStat)]] =
      scaledEx.flatMap { s =>
        val covered = baseEx.map(_.records).sum * 2 >= base.shuffleRecords
        if (baseEx.nonEmpty && covered &&
            baseEx.size == s.size && baseEx.map(_.node) == s.map(_.node))
          Some(baseEx.zip(s))
        else None
      }

    /** The per-exchange composition descent (VERDICT r19 #5): an
      * AGGREGATE ratio is a weighted average over matched exchanges plus
      * whatever the floor-exempt tail does, so an aggregate crossing (or
      * near-crossing) with every above-floor exchange growing ≤
      * factor×slack is a composition artifact of the small tail, not a
      * super-linear stream. Some(true) = every above-floor exchange
      * linear; Some(false) = a real exchange breached; None = shapes
      * differ, no claim.
      */
    /** Floor exemption bounded on BOTH sides (ADVICE r20 #1): a base
      * exchange under the floor is only exempt while its SCALED side
      * stays under floor × factor × slack — the most a
      * just-under-floor exchange could legitimately reach growing
      * linearly. Without the scaled-side cap, a genuinely super-linear
      * exchange starting at floor−1 records (e.g. a quadratic pair
      * fan-out) could grow factor²× and still launder an aggregate
      * breach as PASS — exactly the class the audit exists to catch.
      */
    def compositionRowsOk: Option[Boolean] = matchedExchanges.map(_.forall {
      case (b, s) => (b.records < ExchangeRecordFloor &&
          s.records < ExchangeRecordFloor * factor * RowSlack) ||
        s.records <= b.records * factor * RowSlack
    })
    def compositionBytesOk: Option[Boolean] = matchedExchanges.map(_.forall {
      case (b, s) => (b.bytes < ExchangeByteFloor &&
          s.bytes < ExchangeByteFloor * factor * Slack) ||
        s.bytes <= b.bytes * factor * Slack
    })

    /** Within [[NearGateBand]] below (or anywhere above) the gate. */
    def rowNearGate: Boolean = rowEnforced &&
      rowRatio.exists(_ > factor * RowSlack * (1 - NearGateBand))
    def byteNearGate: Boolean = ratioEnforced &&
      ratio.exists(_ > factor * Slack * (1 - NearGateBand))

    def rowAggregateOk: Boolean = rowRatio.exists(_ <= factor * RowSlack)
    def rowOk: Boolean = !rowEnforced || rowAggregateOk ||
      compositionRowsOk.contains(true)

    def byteAggregateOk: Boolean = ratio.exists(_ <= factor * Slack)
    /** Bytes over [[Slack]] with linear rows and NO per-exchange verdict
      * available: the per-bucket-compression band — passes the sweep but
      * as an explicit WARN (ADVICE r19 #4: the r19 rule silently widened
      * the whole registry).
      */
    def byteWarn: Boolean = ratioEnforced && !byteAggregateOk &&
      !compositionBytesOk.contains(true) &&
      rowEnforced && rowOk &&
      ratio.exists(_ <= factor * WideByteSlack)
    def ratioOk: Boolean = !ratioEnforced || byteAggregateOk ||
      compositionBytesOk.contains(true) || byteWarn
    def ok: Boolean = spillOk && ratioOk && rowOk
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%9.1f MB"

  /** Strategy pinning (r19 — VERDICT r18 #2): a ratio compares EXECUTED
    * plans, so any cost-based flip between the two scales fabricates a
    * super-linear reading. Auto-broadcast is the flip this registry has,
    * so it is disabled (-1) on both sides: a join never broadcasts at the
    * base scale and shuffles at the scaled one (3 of r18's 7 FAILs).
    * Explicit broadcast()/hint() calls in queries are untouched — those
    * are scale-independent design decisions the audit SHOULD measure.
    * These are the confs [[pinStrategies]] sets, with their pinned values.
    */
  private val PinnedConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** Pre-pin values captured by [[pinStrategies]] so [[unpinStrategies]]
    * RESTORES them instead of resetting to Spark defaults (ADVICE r20
    * #5: in a shared-session embedding, unconditionally unsetting
    * clobbers a user's own threshold setting). Keyed per session so
    * concurrent audit embeddings against different sessions don't
    * cross-restore. */
  private val prePinValues =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      Seq[(String, Option[String])]]()

  def pinStrategies(spark: SparkSession): Unit = {
    prePinValues.put(spark,
      PinnedConfs.map { case (k, _) => k -> spark.conf.getOption(k) })
    PinnedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    println("[shuffle] strategy pin: autoBroadcastJoinThreshold=-1 (both sides)")
  }

  /** Undo [[pinStrategies]] (r20 — ADVICE r19 #5: a pin is a silent
    * behavior override, so a session that ran an audit must not leak it
    * into later production queries). RESTORES the pre-pin
    * values captured by pinStrategies (set-back or unset-if-absent) so
    * a shared session's own settings survive an audit run; called
    * without a prior pin it falls back to unsetting. Tool mains call
    * this even though they own their sessions — the pair is the
    * contract for any shared-session embedding (tests, notebooks).
    */
  def unpinStrategies(spark: SparkSession): Unit = {
    val prior = Option(prePinValues.remove(spark))
      .getOrElse(PinnedConfs.map { case (k, _) => k -> None })
    prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def run(spark: SparkSession, baseDir: String, scaledDir: Option[String],
      factor: Int, queries: Seq[String]): Seq[Audit] = {
    val unknown = queries.filterNot(GraftQueries.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    try {
      // Untimed warmup (codegen/reader init), same as Bench/LinearProbe.
      try spark.read.parquet(s"$baseDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      catch { case _: Throwable => () }
      def measure(name: String, dir: String): (Metrics, Seq[ExchangeStat]) = {
        // First run unmeasured: one-time artifacts (ANN index builds,
        // trained models — SURVEY §8: they bill to the first consumer)
        // would otherwise land on whichever SIDE builds them and bend the
        // ratio. The second run is the steady-state serve path — the one
        // a 100 TB deployment pays per query. It is also captured
        // per-execution so the near-gate composition descent can read
        // each exchange's write volume (r20 — VERDICT r19 #5).
        GraftQueries.queries(name)(spark, dir).count()
        // Reap the warmup run's (and the previous query's) shuffle files
        // before measuring: ContextCleaner only deletes them when the
        // dead ShuffleDependencies are GC'd, and at a ×1000 dir one
        // query's leftovers (~40 GB) can exhaust the scratch disk under
        // the NEXT run — the r22 prefix audit died of exactly this
        // accumulation, not its own footprint. Dev-tool-only; no query
        // path runs this.
        System.gc()
        Thread.sleep(500)
        val before = settled(tally)
        val captured = new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.execution.QueryExecution]()
        val l = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
            captured.add(qe)
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(l)
        try GraftQueries.queries(name)(spark, dir).count()
        finally {
          org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
          spark.listenerManager.unregister(l)
        }
        val m = settled(tally) - before
        import scala.jdk.CollectionConverters._
        val exchanges = captured.asScala.toSeq.flatMap { qe =>
          org.apache.spark.sql.graft.Bridge.flattenExecuted(qe.executedPlan).flatMap { node =>
            val nm = org.apache.spark.sql.graft.Bridge.nodeMetrics(node)
            val b = nm.getOrElse("shuffleBytesWritten", 0L)
            val r = nm.getOrElse("shuffleRecordsWritten", 0L)
            if (b > 0 || r > 0) Some(ExchangeStat(node.nodeName, b, r)) else None
          }
        }
        (m, exchanges)
      }
      queries.map { n =>
        val (base, baseEx) = measure(n, baseDir)
        val scaledBoth = scaledDir.map(measure(n, _))
        val a = Audit(n, base, scaledBoth.map(_._1), factor,
          baseEx, scaledBoth.map(_._2))
        val scaled = a.scaled
        val tag = if (!a.ok) "FAIL" else if (a.byteWarn) "WARN" else "PASS"
        val ratioPart = a.ratio.map { r =>
          val rows = a.rowRatio.map { rr =>
            val renf =
              if (!a.rowEnforced) " (rows below signal floor)"
              else if (!a.rowAggregateOk && a.compositionRowsOk.contains(true))
                " (aggregate over gate; composition-adjudicated PASS)"
              else ""
            f"  rows $rr%6.2f$renf"
          }.getOrElse("")
          val enf =
            if (!a.ratioEnforced) " (not enforced: base below signal floor)"
            else if (!a.byteAggregateOk && a.compositionBytesOk.contains(true))
              " (bytes over gate; composition-adjudicated PASS)"
            else if (a.byteWarn) " (bytes over x" + Slack +
              ", rows linear, no per-exchange verdict -> WARN at x" + WideByteSlack + ")"
            else ""
          f"  x$factor write ${mb(scaled.get.shuffleWrite)}  ratio $r%6.2f$rows$enf"
        }.getOrElse("")
        val spillPart =
          if (base.diskSpill > 0 || scaled.exists(_.diskSpill > 0))
            s"  diskSpill base=${mb(base.diskSpill)} scaled=${scaled.map(s => mb(s.diskSpill)).getOrElse("-")}"
          else if (a.zeroSpillEnforced) "  diskSpill 0 (enforced)"
          else ""
        println(f"[shuffle] $tag $n%-32s write ${mb(base.shuffleWrite)}$ratioPart$spillPart")
        // Near-gate (or over-gate) rows print their own per-exchange
        // attribution — a marginal verdict ships with its evidence.
        if ((a.rowNearGate || a.byteNearGate) && a.scaledEx.nonEmpty) {
          a.matchedExchanges match {
            case None =>
              println(s"[shuffle]        near-gate descent: executed shapes differ " +
                s"(${baseEx.size} vs ${a.scaledEx.map(_.size).getOrElse(0)} exchanges) — no per-exchange claim")
            case Some(pairs) =>
              pairs.foreach { case (b, s) =>
                val br = if (b.bytes > 0) s.bytes.toDouble / b.bytes else 0.0
                val rr = if (b.records > 0) s.records.toDouble / b.records else 0.0
                // Label matches the ENFORCEMENT semantics (ADVICE r20
                // #1): exempt only when the scaled side also sits under
                // floor × factor × slack; a small base growing past that
                // cap is marked as outgrown so the line never claims an
                // exemption compositionRows/BytesOk would not grant.
                val exempt =
                  if (b.bytes < ExchangeByteFloor && b.records < ExchangeRecordFloor) {
                    if (s.bytes < ExchangeByteFloor * factor * Slack &&
                        s.records < ExchangeRecordFloor * factor * RowSlack)
                      " (below floor, exempt)"
                    else " (below floor, but OUTGREW the exemption cap)"
                  } else ""
                println(f"[shuffle]        ${b.node}%-24s bytes ${mb(b.bytes)} -> ${mb(s.bytes)} (x$br%5.2f)  rows ${b.records}%10d -> ${s.records}%12d (x$rr%5.2f)$exempt")
              }
          }
        }
        a
      }
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ShuffleAudit <baseDir> [--scaled=<dir> --factor=N] [--pin] [queries...]")
    val baseDir = args(0)
    val scaledDir = args.collectFirst { case a if a.startsWith("--scaled=") => a.stripPrefix("--scaled=") }
    val factor = args.collectFirst { case a if a.startsWith("--factor=") => a.stripPrefix("--factor=").toInt }
      .getOrElse(10)
    val pin = args.contains("--pin")
    require(scaledDir.isEmpty || factor >= 2, "factor must be >= 2 when --scaled is given")
    // A typo'd flag must fail LOUDLY: silently dropping '--scale=' or
    // '--pinned' would run an enforcement sweep that enforces nothing
    // and record a meaningless PASS.
    val unknownFlags = args.filter(_.startsWith("--")).filterNot(a =>
      a == "--pin" || a.startsWith("--scaled=") || a.startsWith("--factor="))
    require(unknownFlags.isEmpty,
      s"unknown flag(s): ${unknownFlags.mkString(", ")} " +
        "(expected --pin, --scaled=<dir>, --factor=N)")
    val queries = {
      val q = args.drop(1).filterNot(a => a.startsWith("--")).toSeq
      if (q.nonEmpty) q
      else (LinearProbe.defaultQueries ++ Seq("dedup_embedding_pairs",
        "curate_incremental_append_semantic")).distinct
    }
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    if (pin) pinStrategies(spark)
    try {
      val results = run(spark, baseDir, scaledDir, factor, queries)
      val failed = results.filter(!_.ok)
      val warned = results.filter(a => a.ok && a.byteWarn)
      println(s"[shuffle] ${results.count(_.ok)}/${results.size} PASS" +
        (if (warned.nonEmpty)
          s" (${warned.size} WARN byte-widened: ${warned.map(_.query).mkString(", ")})"
        else "") +
        (if (failed.nonEmpty) s" — FAILED: ${failed.map(_.query).mkString(", ")}" else ""))
      if (failed.nonEmpty) sys.exit(1)
    } finally {
      if (pin) unpinStrategies(spark)
      spark.stop()
    }
  }
}
