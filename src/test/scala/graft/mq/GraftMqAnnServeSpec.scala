package graft.mq

import graft.SparkSuite
import graft.ops.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING ANN SERVE (SURVEY §8 round 15): the similarity-search
  * sibling of the streaming incremental-dedup loop — an MQ stream of
  * query vectors is served top-k against a static corpus through a
  * TRAINED-ONCE coarse quantizer (or a PQ index built once), the
  * train-once/serve-many production shape the batch ANN rows
  * (sim_topk_ivf & co.) already use session-side. Per-query top-k is
  * independent of how admission control slices the query stream, so
  * the union of per-trigger results must equal the one-shot batch call
  * on the same model — the exact-equality property these tests pin,
  * under forced ≥ 3 micro-batches, for both the fp32 IVF probe and the
  * int8-quantized probe (the corpus-scale memory-bound serve path).
  */
class GraftMqAnnServeSpec extends SparkSuite {

  // 32 deterministic 8-dim corpus vectors with enough angular spread
  // that nlist=4 trains distinct lists and top-3 neighbors are unique
  // (sin is pure, so the fixture is identical across JVMs).
  private def corpusVecs: Seq[(Long, Seq[Float])] =
    Seq.tabulate(32)(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)))

  private def queryVecs: Seq[(Long, Seq[Float])] =
    Seq.tabulate(6)(i =>
      (100L + i, Seq.tabulate(8)(d => math.cos(i * 13 + d * 5).toFloat)))

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSet

  test("MQ query-vector stream served from a trained-once IVF model ≡ the one-shot batch call") {
    val src = "ann-serve"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    queryVecs.zipWithIndex.foreach { case ((id, v), i) =>
      state.append(0, MqMessage(null,
        s"$id:${v.mkString(",")}".getBytes("UTF-8"), base + i * 1000000L))
    }
    import spark.implicits._
    val corpus = corpusVecs.toDF("vec_id", "cv")

    // Train ONCE, serve every trigger from the same model — the
    // artifact lifecycle a fleet of serving executors runs (the model is
    // centroid-sized; the corpus frame itself never re-shuffles per
    // trigger).
    val model = SimilarityOps.trainIvfCentroids(corpus, nlist = 4,
      trainIters = 5, trainFraction = 1.0)

    val got = scala.collection.mutable.Set.empty[(Long, Int, Long, Double)]
    val gotQ8 = scala.collection.mutable.Set.empty[(Long, Int, Long, Double)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val queries = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("query_id"),
          split(split(col("payload"), ":", 2).getItem(1), ",")
            .cast("array<float>").as("qv"))
        got.synchronized {
          got ++= rows(SimilarityOps.ivfTopK(queries, corpus, k = 3,
            nlist = 4, nprobe = 2, excludeSelf = false,
            centroids = Some(model)))
        }
        gotQ8.synchronized {
          gotQ8 ++= rows(SimilarityOps.ivfTopKQ8(queries, corpus, k = 3,
            nlist = 4, nprobe = 2, excludeSelf = false,
            centroids = Some(model)))
        }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("ann-serve-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    assert(nBatches.get >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get}")
    val allQ = queryVecs.toDF("query_id", "qv")
    val oneShot = rows(SimilarityOps.ivfTopK(allQ, corpus, k = 3,
      nlist = 4, nprobe = 2, excludeSelf = false, centroids = Some(model)))
    assert(got.toSet == oneShot,
      s"streamed IVF serve ${got.toSet} != one-shot $oneShot")
    val oneShotQ8 = rows(SimilarityOps.ivfTopKQ8(allQ, corpus, k = 3,
      nlist = 4, nprobe = 2, excludeSelf = false, centroids = Some(model)))
    assert(gotQ8.toSet == oneShotQ8,
      s"streamed int8 IVF serve ${gotQ8.toSet} != one-shot $oneShotQ8")
    // Every query produced a full top-3: the serve actually answered.
    assert(got.toSet.map((t: (Long, Int, Long, Double)) => t._1) ==
      queryVecs.map(_._1).toSet)
  }

  test("MQ stream served from a built PqIndex ≡ the one-shot indexed call") {
    val src = "ann-serve-pq"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    queryVecs.zipWithIndex.foreach { case ((id, v), i) =>
      state.append(0, MqMessage(null,
        s"$id:${v.mkString(",")}".getBytes("UTF-8"), base + i * 1000000L))
    }
    import spark.implicits._
    val corpus = corpusVecs.toDF("vec_id", "cv")

    // The encode-once lifecycle: build (train + encode) once, serve
    // every micro-batch from the stored codes — the corpus-linear
    // encode never runs inside a trigger.
    val index = SimilarityOps.buildPqIndex(corpus, dims = 8, nlist = 4,
      m = 4, ksub = 8, trainIters = 5, trainFraction = 1.0,
      materialized = true)

    val got = scala.collection.mutable.Set.empty[(Long, Int, Long, Double)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val queries = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("query_id"),
          split(split(col("payload"), ":", 2).getItem(1), ",")
            .cast("array<float>").as("qv"))
        got.synchronized {
          got ++= rows(SimilarityOps.ivfTopKPqIndexed(queries, index,
            corpus, k = 3, nprobe = 2, excludeSelf = false))
        }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("ann-serve-pq-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    assert(nBatches.get >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get}")
    val oneShot = rows(SimilarityOps.ivfTopKPqIndexed(
      queryVecs.toDF("query_id", "qv"), index, corpus, k = 3, nprobe = 2,
      excludeSelf = false))
    assert(got.toSet == oneShot,
      s"streamed PQ serve ${got.toSet} != one-shot $oneShot")
  }
}
