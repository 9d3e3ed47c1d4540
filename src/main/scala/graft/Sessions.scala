package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session recipe shared by every main-source entry point
  * that runs queries (Verify, Capture, MakeSf, ScaleProbe, ShuffleAudit,
  * LinearProbe) and by the benchmark harness in `perfbench/`. Round 11's UTC retrofit showed the drift cost of
  * copy-pasted builder blocks: a config fix that lands in one entry point
  * and not the others makes tools disagree with the correctness gate
  * (the session-timezone-dependent events normalization timed tz-shifted
  * plans in the old bench while Verify was correct). Config semantics:
  *  - `shuffle.partitions` / `files.minPartitionNum` = cpus: shuffles
  *    and single-file scans split across exactly the local cores;
  *  - `session.timeZone` UTC: matches DuckDB's naive-as-UTC reading of
  *    the events table (normalizeTsNanos contract);
  *  - `nanosAsLong`: events.parquet stores TIMESTAMP(NANOS), which
  *    Spark 4 only reads as long nanos;
  *  - `checkpointFileManagerClass` = `graft.streaming.LocalCheckpointFileManager`:
  *    streaming checkpoints on `file:` paths are written without forking
  *    `chmod`/`readlink` for every file; layout, modes, `.crc` sidecars
  *    and restart semantics are Spark's, and other schemes get Spark's
  *    own manager;
  *  - `artifact.isolation.enabled` false: every session on the context,
  *    including each streaming query's cloned session and graft's
  *    `newSession()` children, runs its tasks under the executor's one
  *    default classloader, and Spark's codegen cache is keyed by
  *    (classloader, source), so identical generated code compiles once
  *    per JVM instead of once per session. graft adds no session
  *    artifacts (`addArtifact`, `ADD JAR`/`FILE`/`ARCHIVE`; pinned by
  *    `CollectLintSpec`), so nothing isolation protects is in use; a tool
  *    that does add them must not build on this recipe.
  * The tests' `SparkSuite` builds its session from the same [[configs]],
  * adding only its warehouse dir and `spark.sql.extensions`.
  */
object Sessions {
  /** Every config of a graft session on `cpus` local cores. */
  def configs(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    // NO global initialPartitionNum bump (r18, second thoughts): an
    // 8×-cores AQE initial reducer count shipped briefly to
    // memory-bound the sf10 jaccard aggs, but the proper fix — the
    // VOLUME-SIZED explicit repartitions inside the heavy pair ops,
    // committed the same evening — superseded it where it mattered,
    // while the blunt global knob taxed every small stage: an
    // isolated A-B-A at sf0.1 measured UNTOUCHED queries ~2× slower
    // under it (sample_temperature 0.73 → 1.68 s warm; the whole
    // 125-query common set 87 → 115 s) because each tiny exchange
    // pays 256-bucket shuffle writes plus AQE re-planning before
    // coalescing back down. Corpus-sized stages that need more
    // reducers than `cpus` must size themselves to their data (the
    // explodedJoinPartitions pattern) — the same discipline a real
    // cluster job needs, so nothing is lost at 100 TB by keeping the
    // session default lean.
    "spark.sql.files.minPartitionNum" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** A builder for a local[`cpus`] session with [[configs]]. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").config(configs(cpus))

  def local(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
