package graft.ops

import org.apache.spark.sql.DataFrame

/** Caching contract for operators that must persist an intermediate frame
  * (per-doc signatures/shingles — see the optimizer-inlining note in
  * [[DedupOps]]): the op persists its intermediates, materializes its
  * result eagerly (`localCheckpoint` by default; a RELIABLE checkpoint
  * when the SparkContext has a checkpoint dir — see [[materialize]]), and
  * unpersists before returning.
  *
  * Result sizes come in two classes, both bounded relative to the
  * intermediates they replace: OUTPUT-sized (pairs/top-k — the dedup and
  * ANN ops) and PER-DOCUMENT frames (one narrow row per doc — the
  * rewrite/scoring ops like dedupSubstringsAcrossDocs or
  * dsirLogWeights). The per-doc class scales with corpus row count; the
  * eager checkpoint is still the contract because the `finally`
  * unpersists the inputs — a lazy result would silently recompute the
  * whole op per downstream action. A pipeline chaining several rewrite
  * ops (pipeline_curate_v3) therefore materializes one narrow per-doc
  * frame per stage; callers that need only an aggregate of ONE stage at
  * extreme scale should compose the op's internals instead of paying the
  * checkpoint.
  *
  * Library callers therefore get a self-contained DataFrame and never
  * accumulate cached blocks across calls in a long-lived session; the
  * checkpointed result's own blocks are released by Spark's
  * `ContextCleaner` once the returned frame becomes unreachable.
  */
private[graft] object Caching {

  /** Persist `frames`, evaluate `body` eagerly (checkpoint), release —
    * including any frames a nested helper registered via
    * [[scopedPersist]] while the body was being built.
    */
  def withCached(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    val scoped = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // Only persist (and later release) frames the CALLER has not cached:
    // unpersisting a caller-owned cache entry would silently evict state
    // the caller set up to serve many calls (the loaded DedupRefIndex
    // pattern — Dataset.unpersist drops the whole entry, not a refcount).
    val mine = frames.filter(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    mine.foreach(_.persist())
    scopes.set(scoped :: scopes.get)
    try materialize(body)
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_.unpersist(blocking = false))
      scoped.foreach(_.unpersist(blocking = false))
    }
  }

  /** Persist `df` for the lifetime of the INNERMOST enclosing
    * [[withCached]] scope (released in its finally, after the scope's
    * result has materialized). For helpers like the hot-bucket guard
    * that run a pre-pass action over a frame their caller is about to
    * consume again: without this, the pre-pass and the main join each
    * recompute the frame's lineage from scratch (jobs never share
    * exchanges), re-running e.g. the whole minhash signature build.
    * Outside any scope this is a NO-OP returning `df` unchanged — the
    * helper then behaves exactly as before (recompute, never leak).
    * Persisting an already-persisted frame is also a no-op (Spark keeps
    * the original storage level), so passing a caller-cached frame
    * through is safe.
    */
  def scopedPersist(df: DataFrame): DataFrame = scopes.get() match {
    case _ if df.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
      df // caller already persisted it (e.g. passes its own cached frame)
    case buf :: _ => df.persist(); buf += df; df
    case Nil => df
  }

  /** Construction happens on the driver thread that entered withCached,
    * so a plain ThreadLocal scopes the registry correctly; a helper
    * invoked from another thread (streaming micro-batch) simply sees no
    * scope and falls back to the no-op path.
    */
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ListBuffer[DataFrame]]] {
      override def initialValue:
          List[scala.collection.mutable.ListBuffer[DataFrame]] = Nil
    }

  /** The ONE eager-materialization seam every op shares. Default:
    * `localCheckpoint` — executor-local blocks, fastest, correct in
    * local mode and on a healthy cluster, but NOT fault-tolerant: losing
    * an executor loses blocks whose lineage the checkpoint truncated, so
    * a long chained pipeline (pipeline_curate_v3) would fail rather than
    * recompute. When the SparkContext has a checkpoint dir (Spark's own
    * `spark.checkpoint.dir` or `setCheckpointDir`), every op's
    * materialization is a RELIABLE checkpoint under it (HDFS/object
    * store on a real cluster) — same results, same laziness contract,
    * executor loss survivable. LIFECYCLE: Spark only deletes reliable
    * checkpoint data when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
    * context-creation-time conf, default false) — deployments running
    * this mode long-lived must either enable that cleaner or lifecycle
    * the directory externally (e.g. an object-store TTL rule), exactly
    * as with any Spark reliable-checkpoint workload; otherwise each
    * op materialization accumulates its result files under the dir.
    */
  private[ops] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
