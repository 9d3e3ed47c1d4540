package graft.mq

import graft.SparkSuite
import graft.ops.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The CONTINUOUS-INGEST incremental-dedup loop, wired end to end
  * (SURVEY §8 round 15; the r13/r14 verdicts' top task): an MQ stream of
  * arriving documents is served against a [[DedupOps.DedupRefIndex]],
  * each micro-batch's SURVIVORS are folded into the index via
  * [[DedupOps.appendToRefIndex]], and the NEXT micro-batch dedups
  * against them — the production shape the reference's checkpointed
  * trigger loop (README.md:372-397) implies for a stateful dedup
  * artifact. The earlier serve specs verified micro-batches against a
  * STATIC reference; these tests pin the mutation path: the sequential
  * fold with `append` must equal the same fold with a from-scratch
  * `build(ref ∪ survivors-so-far)` at every step (the spec-proven
  * append algebra, now exercised across real trigger boundaries), on
  * BOTH axes, under admission control forcing ≥ 3 micro-batches, and
  * with at least one verdict that can ONLY come from appended state
  * (a later batch's doc killed by an earlier batch's survivor).
  */
class GraftMqIncrementalAppendSpec extends SparkSuite {

  // Three-token-shingle texts: tX2 is a 0.6-Jaccard near-dup of tX.
  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tA2 = "alpha beta gamma delta epsilon eta"
  private val tB = "one two three four five six"
  private val tB2 = "one two three four five ten"
  private val tC = "seven eight nine ten eleven twelve"
  private val tE = "unique fresh tokens nowhere else seen"

  /** Run the fold policy over recorded batches in BATCH mode, rebuilding
    * the index from scratch before every step — the one-shot formulation
    * the streamed append-fold must reproduce verdict-for-verdict.
    */
  private def replayLexical(ref: DataFrame, batches: Seq[DataFrame])
      : (Set[(Long, Long, Double)], Set[Long]) = {
    var accepted = ref
    val pairs = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val survivors = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val idx = DedupOps.buildJaccardRefIndex(accepted)
      val p = DedupOps.jaccardPairsAgainstIndex(b, idx, threshold = 0.5)
        .collect().map(r => (r.getAs[Long]("new_id"),
          r.getAs[Long]("ref_id"), r.getAs[Double]("jaccard")))
      pairs ++= p
      val killed = p.map(_._1).toSet
      val keep = b.filter(!col("doc_id").isin(killed.toSeq: _*))
      survivors ++= keep.select("doc_id").collect().map(_.getLong(0))
      accepted = accepted.unionByName(keep).localCheckpoint(true)
    }
    (pairs.toSet, survivors.toSet)
  }

  test("lexical: MQ stream → verdicts → survivors appended → next batch sees them") {
    val src = "inc-append-lex"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    // Arrival order is offset order; maxRowsPerBatch=2 slices the six
    // docs into three triggers: {tA, tC}, {tA2, tB2}, {tC-dup, tE}.
    // tA2 can only be killed by batch-1 survivor tA (cross-batch), tB2
    // only by the initial reference, the tC re-send only by batch-1
    // survivor tC — one verdict of each provenance.
    val newTexts = Seq(tA, tC, tA2, tB2, tC, tE)
    newTexts.zipWithIndex.foreach { case (t, i) =>
      state.append(0, MqMessage(null, s"$i:$t".getBytes("UTF-8"),
        base + i * 1000000L))
    }
    import spark.implicits._
    val ref = Seq(200L -> tB).toDF("doc_id", "text")

    var index = DedupOps.buildJaccardRefIndex(ref)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val streamedSurvivors = scala.collection.mutable.Set.empty[Long]
    val batchDocs = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val docs = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
          split(col("payload"), ":", 2).getItem(1).as("text"))
        val pairs = DedupOps.jaccardPairsAgainstIndex(docs, index,
            threshold = 0.5)
          .collect().map(r => (r.getAs[Long]("new_id"),
            r.getAs[Long]("ref_id"), r.getAs[Double]("jaccard")))
        got.synchronized { got ++= pairs; () }
        val killed = pairs.map(_._1).toSet
        val keep = docs.filter(!col("doc_id").isin(killed.toSeq: _*))
        streamedSurvivors.synchronized {
          streamedSurvivors ++= keep.select("doc_id").collect().map(_.getLong(0))
        }
        // The production mutation: survivors fold into the index the
        // NEXT trigger serves from (materialized pins the batch keying
        // so the accumulated state is block-backed, not a per-trigger
        // growing lineage).
        index = DedupOps.appendToRefIndex(index, keep, materialized = true)
        batchDocs.synchronized {
          batchDocs += docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        }
        ()
      }
      .option("checkpointLocation", tmp("inc-append-lex-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    assert(batchDocs.size >= 3,
      s"admission control should split into >= 3 micro-batches, got ${batchDocs.size}")
    // The cross-batch verdicts exist: they are only reachable through
    // appended state (tA and the tC original live in NO static side).
    assert(got.exists { case (n, r, _) => n == 2L && r == 0L },
      s"tA2 must be killed by batch-1 survivor tA via the appended index; got $got")
    assert(got.exists { case (n, r, _) => n == 4L && r == 1L && true },
      s"the tC re-send must be killed by batch-1 survivor tC; got $got")
    assert(got.exists { case (n, r, _) => n == 3L && r == 200L },
      s"tB2 must be killed by the initial reference; got $got")

    // Sequential fold with append ≡ the same fold with from-scratch
    // rebuilds (the one-shot formulation), on the batches as actually
    // partitioned by admission control.
    val (replayPairs, replaySurvivors) = replayLexical(ref,
      batchDocs.toSeq.map(_.toDF("doc_id", "text")))
    assert(got.toSet == replayPairs,
      s"streamed fold ${got.toSet} != one-shot replay $replayPairs")
    assert(streamedSurvivors.toSet == replaySurvivors)
    assert(streamedSurvivors.toSet == Set(0L, 1L, 5L), streamedSurvivors.toString)

    // And the FINAL appended index serves a later probe identically to
    // build(ref ∪ all survivors) — the index artifact the deployment
    // would persist for the next epoch.
    val probe = Seq(300L -> tA2).toDF("doc_id", "text")
    val finalRebuilt = DedupOps.buildJaccardRefIndex(
      ref.unionByName(newTexts.zipWithIndex.collect {
        case (t, i) if streamedSurvivors.contains(i.toLong) => (i.toLong, t)
      }.toDF("doc_id", "text")))
    def serve(i: DedupOps.DedupRefIndex) =
      DedupOps.jaccardPairsAgainstIndex(probe, i, threshold = 0.5)
        .collect().map(_.toSeq).toSet
    assert(serve(index) == serve(finalRebuilt) && serve(index).nonEmpty)
  }

  test("semantic: MQ stream of vectors → verdicts → survivors appended → next batch sees them") {
    val vX = Seq.tabulate(8)(i => (i + 1).toFloat)
    val vX2 = vX.updated(7, 8.05f)
    val vY = Seq.tabulate(8)(i => (8 - i).toFloat)
    val vY2 = vY.updated(0, 8.05f)
    val vZ = Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    val vW = Seq.tabulate(8)(i => -(i + 1).toFloat)
    val src = "inc-append-sem"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    // Same provenance design as the lexical test: vX2 killable only by
    // batch-1 survivor vX, vY2 only by the initial reference, the vZ
    // re-send only by batch-1 survivor vZ; vW matches nothing.
    val newVecs = Seq(vX, vZ, vX2, vY2, vZ, vW)
    newVecs.zipWithIndex.foreach { case (v, i) =>
      state.append(0, MqMessage(null,
        s"$i:${v.mkString(",")}".getBytes("UTF-8"), base + i * 1000000L))
    }
    import spark.implicits._
    val ref = Seq(200L -> vY).toDF("vec_id", "embedding")

    var index = DedupOps.buildEmbeddingRefIndex(ref)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val streamedSurvivors = scala.collection.mutable.Set.empty[Long]
    val batchVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Seq[Float])]]
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val vecs = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("vec_id"),
          split(split(col("payload"), ":", 2).getItem(1), ",")
            .cast("array<float>").as("embedding"))
        val pairs = DedupOps.embeddingPairsAgainstIndex(vecs, index,
            threshold = 0.9, dims = 8, bands = 2, bitsPerBand = 4)
          .collect().map(r => (r.getAs[Long]("new_id"),
            r.getAs[Long]("ref_id"), r.getAs[Double]("cosine")))
        got.synchronized { got ++= pairs; () }
        val killed = pairs.map(_._1).toSet
        val keep = vecs.filter(!col("vec_id").isin(killed.toSeq: _*))
        streamedSurvivors.synchronized {
          streamedSurvivors ++= keep.select("vec_id").collect().map(_.getLong(0))
        }
        index = DedupOps.appendToRefIndex(index, keep, materialized = true)
        batchVecs.synchronized {
          batchVecs += vecs.collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        }
        ()
      }
      .option("checkpointLocation", tmp("inc-append-sem-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    assert(batchVecs.size >= 3,
      s"admission control should split into >= 3 micro-batches, got ${batchVecs.size}")
    assert(got.exists { case (n, r, _) => n == 2L && r == 0L },
      s"vX2 must be killed by batch-1 survivor vX via the appended index; got $got")
    assert(got.exists { case (n, r, _) => n == 4L && r == 1L },
      s"the vZ re-send must be killed by batch-1 survivor vZ; got $got")
    assert(got.exists { case (n, r, _) => n == 3L && r == 200L },
      s"vY2 must be killed by the initial reference; got $got")

    // One-shot replay with from-scratch rebuilds over the recorded
    // batch partition.
    var accepted = ref
    val replayPairs = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val replaySurvivors = scala.collection.mutable.Set.empty[Long]
    batchVecs.foreach { b =>
      val bDf = b.toDF("vec_id", "embedding")
      val idx = DedupOps.buildEmbeddingRefIndex(accepted)
      val p = DedupOps.embeddingPairsAgainstIndex(bDf, idx,
          threshold = 0.9, dims = 8, bands = 2, bitsPerBand = 4)
        .collect().map(r => (r.getAs[Long]("new_id"),
          r.getAs[Long]("ref_id"), r.getAs[Double]("cosine")))
      replayPairs ++= p
      val killed = p.map(_._1).toSet
      val keep = bDf.filter(!col("vec_id").isin(killed.toSeq: _*))
      replaySurvivors ++= keep.select("vec_id").collect().map(_.getLong(0))
      accepted = accepted.unionByName(keep).localCheckpoint(true)
    }
    assert(got.toSet == replayPairs.toSet,
      s"streamed fold ${got.toSet} != one-shot replay $replayPairs")
    assert(streamedSurvivors.toSet == replaySurvivors.toSet)
    assert(streamedSurvivors.toSet == Set(0L, 1L, 5L), streamedSurvivors.toString)
  }

  test("restart: stream checkpoint + persisted index resume the loop exactly") {
    // The full DRIVER-RESTART story: the loop's durable state is the
    // stream checkpoint (committed offsets) plus the parquet-persisted
    // index, written as a NEW GENERATION directory per trigger — never
    // overwriting the generation the merge lineage still reads, the
    // same no-overwrite-input discipline object stores want. A restart
    // = a fresh query on the same checkpoint + the latest generation:
    // it must see only unprocessed offsets, and verdicts that can only
    // come from a PRE-restart survivor prove the index carried the
    // state across.
    val src = "inc-append-restart"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    def publish(texts: Seq[(Int, String)]): Unit = texts.foreach {
      case (i, t) => state.append(0,
        MqMessage(null, s"$i:$t".getBytes("UTF-8"), base + i * 1000000L))
    }
    import spark.implicits._
    val ref = Seq(200L -> tB).toDF("doc_id", "text")
    val idxRoot = tmp("restart-idx")
    RefIndexFiles.save(s"$idxRoot/gen0", DedupOps.buildJaccardRefIndex(ref))
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val ckpt = tmp("restart-ckpt")
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val batchDocs = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]

    // One "driver incarnation": drain everything currently in the
    // topic from the committed offsets, folding state through disk.
    def incarnation(): Int = {
      val before = batchDocs.size
      val q = spark.readStream.format("graft-mq")
        .option("topic", src).option("numPartitions", "1")
        .option("maxRowsPerBatch", "2")
        .load()
        .select(col("value").cast("string").as("payload"))
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val docs = batch.select(
            split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
            split(col("payload"), ":", 2).getItem(1).as("text"))
          val index = RefIndexFiles.load(spark, s"$idxRoot/gen${gen.get}")
          val pairs = DedupOps.jaccardPairsAgainstIndex(docs, index,
              threshold = 0.5)
            .collect().map(r => (r.getAs[Long]("new_id"),
              r.getAs[Long]("ref_id"), r.getAs[Double]("jaccard")))
          got.synchronized { got ++= pairs; () }
          val killed = pairs.map(_._1).toSet
          val keep = docs.filter(!col("doc_id").isin(killed.toSeq: _*))
          RefIndexFiles.save(s"$idxRoot/gen${gen.get + 1}",
            DedupOps.appendToRefIndex(index, keep, materialized = true))
          gen.incrementAndGet()
          batchDocs.synchronized {
            batchDocs += docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
      batchDocs.size - before
    }

    publish(Seq(0 -> tA, 1 -> tC, 2 -> tA2, 3 -> tB2))
    assert(incarnation() >= 2, "phase 1 should run >= 2 micro-batches")
    val phase1 = got.toSet
    // tA2 killed by batch-1 survivor tA through a DISK round-trip of
    // the index between triggers.
    assert(phase1.exists { case (n, r, _) => n == 2L && r == 0L }, phase1.toString)

    // The driver "dies"; new data arrives; a NEW query resumes from the
    // same checkpoint with the latest persisted generation.
    publish(Seq(4 -> tC, 5 -> tE))
    assert(incarnation() >= 1, "phase 2 should run >= 1 micro-batch")
    val phase2 = got.toSet -- phase1
    // Offsets resumed: the restart saw ONLY the post-restart documents.
    assert(batchDocs.drop(2).flatten.forall(_._1 >= 4L),
      s"restart re-read committed offsets: ${batchDocs.toSeq}")
    // The tC re-send is killed by the PRE-restart survivor tC — state
    // that only exists if the persisted index crossed the restart.
    assert(phase2.exists { case (n, r, _) => n == 4L && r == 1L }, phase2.toString)

    // The whole two-incarnation fold ≡ the one-shot replay over the
    // batches as actually partitioned.
    val (replayPairs, replaySurvivors) = replayLexical(ref,
      batchDocs.toSeq.map(_.toDF("doc_id", "text")))
    assert(got.toSet == replayPairs,
      s"restarted fold ${got.toSet} != one-shot replay $replayPairs")
    // And the final persisted generation IS build(ref ∪ survivors).
    val finalIdx = RefIndexFiles.load(spark, s"$idxRoot/gen${gen.get}")
    val allDocs = Seq(0 -> tA, 1 -> tC, 2 -> tA2, 3 -> tB2, 4 -> tC, 5 -> tE)
    val rebuilt = DedupOps.buildJaccardRefIndex(
      ref.unionByName(allDocs.collect {
        case (i, t) if replaySurvivors.contains(i.toLong) => (i.toLong, t)
      }.toDF("doc_id", "text")))
    val probe = Seq(300L -> tA2).toDF("doc_id", "text")
    def serve(i: DedupOps.DedupRefIndex) =
      DedupOps.jaccardPairsAgainstIndex(probe, i, threshold = 0.5)
        .collect().map(_.toSeq).toSet
    assert(serve(finalIdx) == serve(rebuilt) && serve(finalIdx).nonEmpty)
  }
}
