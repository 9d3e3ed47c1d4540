package graft.queries

import graft.SparkSuite

/** Pins the run-artifact sharing semantics (SURVEY §8 round 13): a
  * session materializes each expensive artifact once per input dir, a
  * second consumer reads the same artifact, and clearRunArtifacts
  * forces a rebuild — the contract the plan-shape specs and the warm
  * bench figures rest on.
  */
class RunArtifactsSpec extends SparkSuite {

  /** Both plans scan the SAME checkpointed RDD iff the leaves agree. */
  private def rddScan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.collectLeaves().mkString

  test("second invocation serves from the run artifact; clear forces a rebuild") {
    GraftQueries.clearRunArtifacts()
    def run() = GraftQueries.queries("dedup_components")(spark, sf())
    val first = run()
    val second = run()
    // Same memoized labeling: both plans scan the SAME checkpointed RDD.
    assert(rddScan(first) == rddScan(second),
      "second invocation rebuilt the component labeling instead of " +
        "reading the run artifact")
    // Rebuild after clear: a different checkpoint incarnation...
    GraftQueries.clearRunArtifacts()
    val third = run()
    assert(rddScan(first) != rddScan(third),
      "clearRunArtifacts did not force a rebuild")
    // ...with identical values (determinism — the property that makes
    // sharing value-invisible).
    val a = first.collect().map(_.toSeq)
    val c = third.collect().map(_.toSeq)
    assert(a.sameElements(c), "rebuilt labeling diverged from the original")
    // The clear empties EVERY cache: with a second one populated too
    // (the embedding pair graph), no entry survives it.
    GraftQueries.queries("dedup_embedding_pairs")(spark, sf())
    GraftQueries.clearRunArtifacts()
    assert(GraftQueries.runArtifactEntryCount == 0,
      s"${GraftQueries.runArtifactEntryCount} run-artifact entries survived the clear")
  }

  test("mutating the input dir forces a rebuild (listing-metadata guard, best-effort)") {
    // The r13/r14 advisory: cache keys were (session, dir) only, so a
    // rewritten input directory would keep serving artifacts built from
    // the OLD bytes. The key now carries an input signature (file
    // listing + length + mtime hash).
    val dir = tmp("mutable-input")
    def copyDocs(): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sf() + "/documents.parquet"),
        java.nio.file.Paths.get(dir + "/documents.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    copyDocs()
    def run() = GraftQueries.queries("dedup_components")(spark, dir)
    val first = run()
    assert(rddScan(first) == rddScan(run()),
      "unchanged dir must serve the memoized artifact")
    // Rewrite the input in place (same bytes, fresh mtime — the
    // smallest observable mutation): the signature changes, so the
    // artifact rebuilds WITHOUT clearRunArtifacts, with identical
    // values because the bytes are identical.
    Thread.sleep(50) // ms-granularity mtimes must actually differ
    copyDocs()
    val before = GraftQueries.runArtifactEntryCount
    val third = run()
    assert(rddScan(first) != rddScan(third),
      "mutated input dir served a stale run artifact")
    assert(first.collect().map(_.toSeq)
      .sameElements(third.collect().map(_.toSeq)))
    // The rebuild REPLACED the superseded generation rather than adding
    // one — a re-ingesting service must not accumulate a generation of
    // checkpoint-backed frames per mutation.
    assert(GraftQueries.runArtifactEntryCount == before,
      s"superseded cache generation leaked: $before -> " +
        s"${GraftQueries.runArtifactEntryCount}")
  }
}
