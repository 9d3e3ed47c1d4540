package graft.ops

import graft.SparkSuite
import org.apache.spark.CheckpointDirAccess
import org.apache.spark.sql.functions._

/** The reliable-checkpoint seam ([[Caching.materialize]]): when the
  * SparkContext has a checkpoint dir, every op's eager materialization
  * writes a RELIABLE checkpoint under it (cluster-survivable) instead of
  * executor-local blocks — with identical results. A chained pipeline
  * op runs under both modes and must agree row-for-row.
  */
class CachingSpec extends SparkSuite {
  import spark.implicits._

  test("Spark's checkpoint dir switches ops to reliable checkpoints, same results") {
    // dedupParagraphsAgainstRef routes through Caching.withCached → the
    // materialize seam (dedupParagraphsACROSSDocs does not — it has no
    // intermediate to pin).
    val refFps = TextOps.paragraphFingerprints(
      Seq((100L, Seq("COOKIE BANNER"))).toDF("doc_id", "paras"))
    val docs = Seq(
      (1L, Seq("COOKIE BANNER", "unique one")),
      (2L, Seq("COOKIE BANNER", "unique two")),
      (3L, Seq("unique two", "unique three"))
    ).toDF("doc_id", "paras")
    def run(): Array[(Long, Long, String)] =
      TextOps.dedupParagraphsAgainstRef(docs, refFps)
        .select(col("doc_id"), col("n_kept"), col("text_deduped"))
        .orderBy("doc_id")
        .as[(Long, Long, String)].collect()
    val sc = spark.sparkContext
    val previous = sc.getCheckpointDir
    val local = run()
    val dir = tmp("graft-reliable-ckpt")
    sc.setCheckpointDir(dir)
    try {
      val reliable = run()
      assert(reliable.sameElements(local),
        s"reliable-checkpoint run diverged: ${reliable.toSeq} vs ${local.toSeq}")
      // The materialization really went through the reliable path:
      // checkpoint data exists under the context's dir.
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files written under $dir")
    } finally CheckpointDirAccess.restore(sc, previous)
    assert(sc.getCheckpointDir == previous, "checkpoint dir not restored")
  }
}
