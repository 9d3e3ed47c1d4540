package graft.tools

import graft.queries.GraftQueries
import org.apache.spark.sql.SparkSession

/** Linear-regime scale probe: the repeatable form of the r17 sf1 bench
  * evidence (VERDICT r16 #5). Builds a [[MakeSf]]-scaled directory —
  * true workload grows LINEARLY with rows (perturbed replicas: no
  * cross-replica dup/ANN candidates), the complement of ScaleProbe's
  * dup-heavy quadratic regime — then times each probed query on the base
  * and scaled dirs and asserts the wall-time ratio stays ≤ factor ×
  * slack. A constant that is fine at the base SF and super-linear at
  * factor× (a collapsing broadcast, a driver-side bottleneck, a
  * partition-count cliff) fails HERE with a per-query attribution,
  * instead of surfacing as an unexplained bench drift rounds later.
  *
  * Methodology: per query the four samples run INTERLEAVED
  * (base, scaled, base, scaled) and each side takes its best-of-2 — the
  * same drift-cancellation rationale as the bench drain's interleave
  * (SURVEY §8): a monotone load ramp inflates both sides instead of one.
  * Ratios are only ENFORCED when the base side carries signal
  * (baseWarm ≥ `MinSignalSec`); sub-second bases are job-overhead noise
  * where a ratio is meaningless (ScaleProbe's ceiling rule).
  *
  * Usage: `runMain graft.tools.LinearProbe <baseDir> <factor> [queries…]`
  * (defaults below — the expensive representative of each §8 family).
  * Exits non-zero on any enforced ratio breach. ~2× the cost of one
  * bench sweep over the probed set; run at sf0.1/factor 10 for the
  * recorded regime.
  */
object LinearProbe {

  /** Below this base warm time a ratio is noise, and it is reported but
    * not enforced. */
  val MinSignalSec = 1.0

  /** Headroom over the ideal ×factor bound: local[N] timings carry
    * 20-30% cross-run drift (SURVEY §8 adjudication history), and a
    * factor-linear query legitimately pays up to factor× on its
    * output-sized stages. */
  val Slack = 1.5

  /** One expensive representative per operator family (§8): banded
    * dedup (3 formulations + exact + graph), semantic dedup (both the
    * SemDeDup cluster rule and the pair-graph path — the r17 ×100 runs
    * found candidate-stream spill cliffs in BOTH, so they stay probed),
    * incremental dedup on both axes, ANN (recall + the PQ serve),
    * substring/span text ops, model training, packing/pipeline
    * composition, and two plain-SQL join/agg shapes.
    */
  val defaultQueries: Seq[String] = Seq(
    "dedup_jaccard_prefix", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "dedup_jaccard_exact", "dedup_overlap_pairs", "dedup_components",
    "curate_semdedup",
    "curate_semantic_dedup", "curate_incremental_dedup",
    "curate_incremental_semantic", "sim_recall_ann", "sim_topk_ivfpq",
    "text_substring_dedup", "text_dup_spans", "text_tfidf_top",
    "curate_quality_classifier", "pipeline_pack_shards", "pipeline_curate_v3",
    "q01_pricing_summary", "q05_region_nation_revenue")

  final case class Result(query: String, baseSec: Double, scaledSec: Double,
      factor: Int) {
    def ratio: Double = if (baseSec > 0) scaledSec / baseSec else Double.PositiveInfinity
    def enforced: Boolean = baseSec >= MinSignalSec
    def ok: Boolean = !enforced || ratio <= factor * Slack
  }

  /** Time `name` on both dirs, interleaved best-of-2 per side. */
  private def probeOne(spark: SparkSession, name: String, baseDir: String,
      scaledDir: String, factor: Int): Result = {
    def once(dir: String): Double = {
      val t0 = System.nanoTime()
      GraftQueries.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val samples = (0 until 2).map(_ => (once(baseDir), once(scaledDir)))
    Result(name, samples.map(_._1).min, samples.map(_._2).min, factor)
  }

  def run(spark: SparkSession, baseDir: String, scaledDir: String,
      factor: Int, queries: Seq[String]): Seq[Result] = {
    val unknown = queries.filterNot(GraftQueries.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Capture.warmUp(spark, baseDir)
    queries.map { n =>
      val r = probeOne(spark, n, baseDir, scaledDir, factor)
      val tag = if (r.ok) "PASS" else "FAIL"
      val enf = if (r.enforced) "" else " (ratio not enforced: base below signal floor)"
      println(f"[linear] $tag ${r.query}%-28s base ${r.baseSec}%6.2f s  x$factor ${r.scaledSec}%6.2f s  ratio ${r.ratio}%5.2f$enf")
      r
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LinearProbe <baseDir> <factor> [--reuse] [queries...]")
    val baseDir = args(0)
    val factor = args(1).toInt
    val reuse = args.contains("--reuse")
    val queries = {
      val q = args.drop(2).filterNot(a => a == "--reuse" || a.startsWith("--scaled=")).toSeq
      if (q.nonEmpty) q else defaultQueries
    }
    // --scaled=<dir>: probe against an already-built MakeSf dir at another
    // path (e.g. the sf10 bench directory) instead of this tool's default
    // build site — the marker check below still guards base/factor match.
    val scaledDir = args.collectFirst {
      case a if a.startsWith("--scaled=") => a.stripPrefix("--scaled=")
    }.getOrElse("/tmp/graft_linear_probe/scaled")
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // --reuse: skip the (minutes-long at large factors) rebuild when the
      // on-disk dir was built by MakeSf from the SAME base at the SAME
      // factor — the marker records both; any mismatch rebuilds.
      val marker = java.nio.file.Paths.get(scaledDir).resolve(MakeSf.Marker)
      val canReuse = reuse && java.nio.file.Files.exists(marker) && {
        val m = java.nio.file.Files.readString(marker)
        m.contains(s"factor=$factor\n") && m.contains(
          s"base=${java.nio.file.Paths.get(baseDir).toAbsolutePath.normalize()}\n")
      }
      if (canReuse) println(s"[linear] reusing $scaledDir (marker matches $baseDir x$factor)")
      else {
        println(s"[linear] building $scaledDir = $baseDir x$factor")
        MakeSf.build(spark, baseDir, scaledDir, factor)
      }
      val results = run(spark, baseDir, scaledDir, factor, queries)
      val failed = results.filter(!_.ok)
      println(s"[linear] ${results.count(_.ok)}/${results.size} PASS" +
        (if (failed.nonEmpty) s" — FAILED: ${failed.map(_.query).mkString(", ")}" else ""))
      if (failed.nonEmpty) sys.exit(1)
    } finally spark.stop()
  }
}
