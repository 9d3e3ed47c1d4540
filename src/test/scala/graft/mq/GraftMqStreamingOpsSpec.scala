package graft.mq

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.sql.Timestamp

/** Streaming query capabilities over the graft-mq source beyond the
  * WordCount demo: event-time windowed aggregation with a watermark and
  * streaming deduplication — the §2.7 rows the reference leaves to
  * built-ins (SURVEY.md: "exposed by the engine, no custom code") plus the
  * north-star streaming dedup. Events carry event time in the `timestamp`
  * metadata column (micros), set by the test producer.
  */
class GraftMqStreamingOpsSpec extends SparkSuite {

  test("event-time tumbling window aggregation with watermark") {
    val topic = "win-demo"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    // Two 10s windows: 4 events at t=0..9s, 2 events at t=10..19s.
    val base = 1700000000000000L // micros
    Seq(0L, 2L, 5L, 9L, 11L, 15L).zipWithIndex.foreach { case (sec, i) =>
      state.append(0, MqMessage(null, s"e$i".getBytes("UTF-8"), base + sec * 1000000L))
    }

    import spark.implicits._
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select($"timestamp", $"value".cast("string").as("v"))
      .withWatermark("timestamp", "30 seconds")
      .groupBy(window($"timestamp", "10 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("start"), $"n")
    val query = q.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", tmp("win-ckpt")).start()
    try {
      query.processAllAvailable()
      val got = spark.table("win_out").as[(Timestamp, Long)].collect()
        .map { case (ts, n) => ts.getTime -> n }.toMap
      val w0 = base / 1000L            // millis
      assert(got == Map(w0 -> 4L, (w0 + 10000L) -> 2L), s"got $got")
    } finally query.stop()
  }

  test("event-time session windows with watermark (streaming session_window)") {
    val topic = "sess-demo"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    val base = 1700000000000000L // micros
    // u1: events at 0s, 10s (one session, 30s gap), then 120s (new session);
    // u2: one event at 5s.
    Seq(("u1", 0L), ("u1", 10L), ("u1", 120L), ("u2", 5L)).foreach {
      case (u, sec) =>
        state.append(0, MqMessage(null, u.getBytes("UTF-8"), base + sec * 1000000L))
    }

    import spark.implicits._
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select($"timestamp", $"value".cast("string").as("u"))
      .withWatermark("timestamp", "10 minutes")
      .groupBy($"u", session_window($"timestamp", "30 seconds").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select($"u", $"sw.start".as("start"), $"n")
    val query = q.writeStream.outputMode("complete")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    try {
      query.awaitTermination(60000)
      val got = spark.table("sess_out")
        .orderBy("u", "start")
        .as[(String, Timestamp, Long)].collect().toSeq
      assert(got.map { case (u, st, n) => (u, (st.getTime - base / 1000) / 1000, n) } ==
        Seq(("u1", 0L, 2L), ("u1", 120L, 1L), ("u2", 5L, 1L)),
        s"got $got")
    } finally query.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark on payload key") {
    val topic = "dedup-stream"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    val base = 1700000000000000L
    // Duplicate payloads within the watermark horizon must be emitted once.
    Seq("a", "b", "a", "c", "b", "a").zipWithIndex.foreach { case (v, i) =>
      state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + i * 1000000L))
    }

    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select($"timestamp", $"value".cast("string").as("v"))
      .withWatermark("timestamp", "1 minute")
      .dropDuplicatesWithinWatermark("v")
      .select($"v").as[String]
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .option("checkpointLocation", tmp("dedup-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted == Seq("a", "b", "c"),
        s"each payload exactly once, got ${seen.asScala.toSeq.sorted}")
    } finally q.stop()
  }

  test("streaming curation: source → quality floor → dedup → MQ sink, " +
      "read back equals the batch formulation") {
    // The streaming twin of the batch pipeline_pack_shards front half:
    // the same per-row curation operators (TextOps.withQualityScore is a
    // pure map) compose unchanged over a streaming DataFrame, duplicates
    // drop in-stream within the watermark, and survivors land back on a
    // graft-mq topic through the streaming sink — then a BATCH read of
    // the sink topic must agree with the batch formulation over the
    // source topic (same operators, batch dropDuplicates).
    val src = "curate-stream-src"
    val out = "curate-stream-out"
    InMemoryMqBroker.drop(src)
    InMemoryMqBroker.drop(out)
    InMemoryMqBroker.getOrCreate(out, 1)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val junk = "the the the the the the the the the the"
    Seq(good, junk, good, good + " extra", junk, good)
      .zipWithIndex.foreach { case (v, i) =>
        state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + i * 1000000L))
      }

    import spark.implicits._
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.withQualityScore(
          df.select(col("timestamp"), col("value").cast("string").as("text")))
        .filter(col("quality_score") >= 0.5)

    val q = curate(spark.readStream.format("graft-mq")
        .option("topic", src).option("numPartitions", "1")
        .option("includeMetadata", "true").load())
      .withWatermark("timestamp", "1 minute")
      .dropDuplicatesWithinWatermark("text")
      .select(col("text").cast("binary").as("value"))
      .writeStream.format("graft-mq")
      .option("topic", out).option("numPartitions", "1")
      .option("checkpointLocation", tmp("curate-stream-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()

    val streamed = spark.read.format("graft-mq").option("topic", out)
      .option("numPartitions", "1").load()
      .select(col("value").cast("string")).as[String].collect().toSeq.sorted
    val batch = curate(spark.read.format("graft-mq").option("topic", src)
        .option("numPartitions", "1").option("includeMetadata", "true").load())
      .dropDuplicates("text")
      .select(col("text")).as[String].collect().toSeq.sorted
    assert(streamed == Seq(good, good + " extra"), streamed.toString)
    assert(streamed == batch)
  }

  test("streaming incremental dedup: micro-batch verdicts vs a static reference equal the batch run") {
    // The streaming twin of curate_incremental_dedup: each micro-batch of
    // arriving documents runs the asymmetric cross-corpus Jaccard op
    // against the static reference via foreachBatch — the production
    // shape for continuous-crawl dedup. The composition is EXACT, not
    // approximate: verdicts depend only on (new doc, reference), never on
    // other new docs, so any micro-batch partitioning of the stream
    // unions to the whole-batch result. Admission control forces >= 3
    // micro-batches to make the partition real.
    val src = "incdedup-stream-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "alpha beta gamma delta epsilon eta"
    val newTexts = Seq(tA, "hello world void null", tB, tA + " coda",
      "x y z w", tB)
    newTexts.zipWithIndex.foreach { case (t, i) =>
      state.append(0, MqMessage(null, s"$i:$t".getBytes("UTF-8"),
        base + i * 1000000L))
    }
    import spark.implicits._
    val ref = Seq(100L -> tA, 101L -> tB,
      102L -> "completely different words here").toDF("doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val docs = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
          split(col("payload"), ":", 2).getItem(1).as("text"))
        val pairs = graft.ops.DedupOps.jaccardPairsAgainstRef(docs, ref,
            threshold = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        got.synchronized { got ++= pairs; () }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("incdedup-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(nBatches.get() >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get()}")
    val all = newTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val batchRun = graft.ops.DedupOps.jaccardPairsAgainstRef(all, ref,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchRun.nonEmpty && got.toSet == batchRun,
      s"streamed ${got.toSet} != batch $batchRun")
  }

  test("streaming ANN serve: pre-trained IVF model answers micro-batches of query vectors") {
    // The serve half of the IVF train-once contract over the streaming
    // surface: the coarse quantizer trains ONCE on the static corpus,
    // then every MQ micro-batch of arriving query vectors probes the
    // same model via foreachBatch. Like the incremental-dedup
    // composition, results are per-query state-free, so micro-batch
    // unions must EQUAL the whole-batch run with the same model.
    val src = "ann-serve-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").as("cv"))
    val cents = graft.ops.SimilarityOps.trainIvfCentroids(corpus,
      nlist = 4, trainIters = 3, trainFraction = 1.0)
    // Queries arrive as "id:v1,v2,..." payloads.
    val queryRows = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    queryRows.zipWithIndex.foreach { case ((id, v), i) =>
      state.append(0, MqMessage(null,
        s"$id:${v.mkString(",")}".getBytes("UTF-8"), base + i * 1000000L))
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "2")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val queries = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("query_id"),
          split(split(col("payload"), ":", 2).getItem(1), ",")
            .cast("array<float>").as("qv"))
        val topk = graft.ops.SimilarityOps.ivfTopK(queries, corpus, k = 3,
            nlist = 4, nprobe = 2, trainIters = 3, centroids = Some(cents))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        got.synchronized { got ++= topk; () }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("ann-serve-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(nBatches.get() >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get()}")
    val allQueries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batchRun = graft.ops.SimilarityOps.ivfTopK(allQueries, corpus, k = 3,
        nlist = 4, nprobe = 2, trainIters = 3, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batchRun.nonEmpty && got.toSet == batchRun,
      s"streamed ${got.size} results != batch ${batchRun.size}")
  }

  test("streaming incremental paragraph dedup: ref-state update across micro-batches equals the batch run") {
    // The continuous-crawl loop for paragraph dedup: a static reference
    // fingerprint state, arriving documents in micro-batches, and the
    // state UPDATED with each batch's paragraph fingerprints before the
    // next batch. Because MQ delivers in id order and keep-first orders
    // by (doc_id, position), the sequential fold reproduces the global
    // keep-first exactly for (n_paras, n_kept, rewrite). n_ref_hits is
    // NOT compared: the streamed state legitimately attributes a
    // cross-batch duplicate to the reference where the one-shot run
    // attributes it to within-batch keep-first — same surviving text.
    val src = "para-inc-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val isRef = graft.ops.SamplingOps.hashSampleFlag(col("doc_id"), 10, 5,
      salt = "refpara")
    def paras(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        expr("transform(sequence(0, ((size(tk) + 7) div 8) - 1), " +
          "i -> array_join(slice(tk, i * 8 + 1, 8), ' '))").as("paras"))
    val refFps0 = graft.ops.TextOps.paragraphFingerprints(paras(docs.filter(isRef)))
      .localCheckpoint(true)
    val batchDocs = docs.filter(!isRef).filter(col("doc_id") < 30)
      .select("doc_id", "text")
    batchDocs.orderBy("doc_id").collect().zipWithIndex.foreach { case (r, i) =>
      state.append(0, MqMessage(null,
        s"${r.getLong(0)}:${r.getString(1)}".getBytes("UTF-8"),
        base + i * 1000000L))
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    var refState = refFps0
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "5")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
          split(col("payload"), ":", 2).getItem(1).as("text"))
        val p = paras(parsed)
        val out = graft.ops.TextOps.dedupParagraphsAgainstRef(p, refState)
          .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_paras"),
            r.getAs[Long]("n_kept"), r.getAs[String]("text_deduped")))
        got.synchronized { got ++= out; () }
        // The first-class epoch append (set-identical to union+distinct
        // at batch-plus-gated cost) — the op this loop exists for.
        refState = graft.ops.TextOps
          .appendParagraphFingerprints(refState, p).localCheckpoint(true)
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("para-inc-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(nBatches.get() >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get()}")
    val batchRun = graft.ops.TextOps.dedupParagraphsAgainstRef(
        paras(batchDocs), refFps0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_kept"), r.getAs[String]("text_deduped"))).toSet
    assert(batchRun.nonEmpty && got.toSet == batchRun,
      s"streamed ${got.size} rewrites != batch ${batchRun.size}")
  }

  test("streaming DSIR scoring: persisted model weighs micro-batches identically to the batch run") {
    // The serve half of the DSIR train-once contract over the streaming
    // surface: the bucket model trains ONCE on the static corpus, is
    // written to parquet, and every MQ micro-batch of arriving documents
    // is weighed by the read-back model via foreachBatch. Scoring is
    // per-doc state-free under a fixed model, so micro-batch unions must
    // EQUAL the whole-batch run.
    val src = "dsir-serve-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val model0 = graft.ops.CurationOps.trainDsirModel(docs,
      docs.filter(col("lang") === "en"), buckets = 32)
    val modelPath = tmp("dsir-serve-model") + "/m"
    model0.write.parquet(modelPath)
    val model = spark.read.parquet(modelPath)
    val rows = docs.filter(col("doc_id") < 12)
      .select(col("doc_id"), col("text")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      state.append(0, MqMessage(null,
        s"${r.getLong(0)}:${r.getString(1)}".getBytes("UTF-8"),
        base + i * 1000000L))
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "4")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
          split(col("payload"), ":", 2).getItem(1).as("text"))
        val scored = graft.ops.CurationOps.dsirScore(parsed, model, buckets = 32)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        got.synchronized { got ++= scored; () }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("dsir-serve-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(nBatches.get() >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get()}")
    val batchRun = graft.ops.CurationOps.dsirScore(
        docs.filter(col("doc_id") < 12), model, buckets = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchRun.nonEmpty && got.toSet == batchRun,
      s"streamed ${got.size} scores != batch ${batchRun.size}")
  }

  test("streaming incremental dedup serves from a persisted reference index") {
    // The serve half of the DedupRefIndex contract over the streaming
    // surface: the accumulated corpus's shingle index builds ONCE, is
    // written to parquet, and every MQ micro-batch of arriving documents
    // pairs against the read-back index via jaccardPairsAgainstIndex.
    // Verdicts are per-doc state-free under a fixed index (no
    // cross-batch coupling), so micro-batch unions must EQUAL the
    // whole-batch run.
    val src = "jidx-serve-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val isRef = col("doc_id") % 2 === 0
    val idxPath = tmp("jidx-serve") + "/idx"
    RefIndexFiles.save(idxPath,
      graft.ops.DedupOps.buildJaccardRefIndex(docs.filter(isRef)))
    val index = RefIndexFiles.load(spark, idxPath)
    val batchDocs = docs.filter(!isRef).filter(col("doc_id") < 40)
      .select("doc_id", "text")
    batchDocs.orderBy("doc_id").collect().zipWithIndex.foreach { case (r, i) =>
      state.append(0, MqMessage(null,
        s"${r.getLong(0)}:${r.getString(1)}".getBytes("UTF-8"),
        base + i * 1000000L))
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft-mq")
      .option("topic", src).option("numPartitions", "1")
      .option("maxRowsPerBatch", "7")
      .load()
      .select(col("value").cast("string").as("payload"))
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = batch.select(
          split(col("payload"), ":", 2).getItem(0).cast("long").as("doc_id"),
          split(col("payload"), ":", 2).getItem(1).as("text"))
        val pairs = graft.ops.DedupOps.jaccardPairsAgainstIndex(
            parsed, index, threshold = 0.5)
          .collect().map(r => (r.getAs[Long]("new_id"),
            r.getAs[Long]("ref_id"), r.getAs[Double]("jaccard")))
        got.synchronized { got ++= pairs; () }
        nBatches.incrementAndGet(); ()
      }
      .option("checkpointLocation", tmp("jidx-serve-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(nBatches.get() >= 3,
      s"admission control should split into >= 3 micro-batches, got ${nBatches.get()}")
    val batchRun = graft.ops.DedupOps.jaccardPairsAgainstIndex(
        batchDocs, index, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("new_id"),
        r.getAs[Long]("ref_id"), r.getAs[Double]("jaccard"))).toSet
    assert(batchRun.nonEmpty && got.toSet == batchRun,
      s"streamed ${got.size} verdicts != batch ${batchRun.size}")
  }

  test("streaming BPE budget filter: stateless subword counting over the stream") {
    // bpe_token_count is a pure per-row expression, so the subword budget
    // currency composes over a streaming DataFrame unchanged — the
    // streaming filter must keep exactly the messages the batch
    // formulation keeps, with identical counts.
    val src = "bpe-stream-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    val msgs = Seq("the theatre is in the thing", "hi", "",
      "a longer message with many words that should cost more tokens")
    msgs.zipWithIndex.foreach { case (v, i) =>
      state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + i * 1000000L))
    }
    def counted(df: org.apache.spark.sql.DataFrame) =
      df.select(col("value").cast("string").as("text"))
        .withColumn("n_bpe", graft.functions.GraftFunctions.bpe_token_count(col("text")))
        .filter(col("n_bpe") >= 5)
    val q = counted(spark.readStream.format("graft-mq")
        .option("topic", src).option("numPartitions", "1").load())
      .writeStream.format("memory").queryName("bpe_stream")
      .option("checkpointLocation", tmp("bpe-stream-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val streamed = spark.table("bpe_stream")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val batch = counted(spark.read.format("graft-mq")
        .option("topic", src).option("numPartitions", "1").load())
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(streamed == batch && streamed.nonEmpty, s"streamed=$streamed batch=$batch")
    // And the counts are the kernel's own (not some per-engine variant).
    streamed.foreach { case (t, n) =>
      assert(n == graft.functions.Bpe.tokenCount(t.getBytes("UTF-8")))
    }
  }

  test("streaming CMS sketch: complete-mode stream aggregate equals the batch sketch") {
    // cmsSketch is explode → bounded groupBy-count, so it runs UNCHANGED
    // as a streaming complete-mode aggregate — the state store holds at
    // most depth×width counters no matter how long the stream runs (the
    // sketch's memory guarantee, now as STREAMING state): the
    // constant-space way to track token frequencies on an unbounded
    // topic. Multiple micro-batches must converge to the batch answer.
    val src = "cms-stream-src"
    InMemoryMqBroker.drop(src)
    val state = InMemoryMqBroker.getOrCreate(src, 1)
    val base = 1700000000000000L
    Seq("the quick brown fox", "the lazy dog", "the quick dog",
        "fox and dog and fox").zipWithIndex.foreach { case (v, i) =>
      state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + i * 1000000L))
    }
    def sketch(df: org.apache.spark.sql.DataFrame) =
      graft.ops.StatsOps.cmsSketch(
        df.select(col("value").cast("string").as("text")), depth = 3, width = 32)
    val q = sketch(spark.readStream.format("graft-mq")
        .option("topic", src).option("numPartitions", "1")
        // force several micro-batches so the state actually accumulates
        .option("maxRowsPerBatch", "2").load())
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete")
      .option("checkpointLocation", tmp("cms-stream-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val streamed = rows(spark.table("cms_stream"))
    val batch = rows(sketch(spark.read.format("graft-mq")
      .option("topic", src).option("numPartitions", "1").load()))
    assert(streamed == batch && streamed.nonEmpty, s"streamed=$streamed batch=$batch")
    assert(streamed.size <= 3 * 32)
  }

  test("streaming near-dup: dedupe by content fingerprint within watermark") {
    val topic = "neardup-stream"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    val base = 1700000000000000L
    // Two distinct texts, each arriving twice (exact re-sends) — the
    // simhash60 fingerprint keys the streaming dedup.
    Seq("spark stream batch", "merge window offset",
        "spark stream batch", "merge window offset").zipWithIndex.foreach {
      case (v, i) => state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + i * 1000000L))
    }

    import spark.implicits._
    import graft.functions.GraftFunctions
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "1")
      .option("includeMetadata", "true").load()
      .select($"timestamp", $"value".cast("string").as("text"))
      .withColumn("fp", GraftFunctions.simhash60(split($"text", " ")))
      .withWatermark("timestamp", "1 minute")
      .dropDuplicatesWithinWatermark("fp")
      .select($"text").as[String]
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .option("checkpointLocation", tmp("neardup-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted ==
        Seq("merge window offset", "spark stream batch"))
    } finally q.stop()
  }

  test("streaming near-dup: winnow-fingerprint key survives checkpoint restart") {
    // Closes the loop between the batch dedup family and the streaming
    // surface: TextOps.winnowFingerprints is a pure per-row expression, so
    // it composes with dropDuplicatesWithinWatermark unchanged. The blocking
    // key is the doc's MIN winnow fingerprint — near-identical docs share
    // their fingerprint minimum whenever the change sits outside the
    // minimal run (verified below batch-side, so the test derives rather
    // than hopes).
    import spark.implicits._
    val docA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docA2 = docA.replace("upsilon", "CHANGED") // near-dup: last token differs
    val docA3 = docA.replace("tau upsilon", "SWAPPED TAIL") // second near-dup
    val docB = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val docC = "completely different closing corpus with brand new tokens " +
      "never seen before in any earlier document of this stream"
    def minFp(texts: String*): Seq[Long] =
      graft.ops.TextOps.winnowFingerprints(texts.toDF("text"))
        .select(array_min($"winnow_fps")).as[Long].collect().toSeq
    val Seq(fpA, fpA2, fpA3, fpB, fpC) = minFp(docA, docA2, docA3, docB, docC)
    assert(fpA == fpA2 && fpA == fpA3, "near-dups must share the min fingerprint")
    assert(Set(fpA, fpB, fpC).size == 3, "distinct docs must not collide")

    val topic = "winnow-stream"
    InMemoryMqBroker.drop(topic)
    val state = InMemoryMqBroker.getOrCreate(topic, 1)
    val base = 1700000000000000L
    def append(texts: Seq[String], at: Int): Unit = texts.zipWithIndex.foreach {
      case (v, i) =>
        state.append(0, MqMessage(null, v.getBytes("UTF-8"), base + (at + i) * 1000000L))
    }
    val ckpt = tmp("winnow-ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "1")
        .option("includeMetadata", "true").load()
        .select($"timestamp", $"value".cast("string").as("text"))
        .transform(graft.ops.TextOps.winnowFingerprints(_))
        .withColumn("fp", array_min($"winnow_fps"))
        .withWatermark("timestamp", "10 minutes")
        .dropDuplicatesWithinWatermark("fp")
        .select($"text").as[String]
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
          batch.collect().foreach(seen.add)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    append(Seq(docA, docB, docA2), at = 0)
    run() // A and B emitted; A2 blocked by A's fingerprint state
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == Seq(docA, docB).sorted, seen.asScala.toSeq)
    // Restart from the checkpoint: the dedup state must persist, so a
    // third near-dup of A (within the watermark) is still dropped while a
    // genuinely new doc passes.
    append(Seq(docA3, docC), at = 3)
    run()
    assert(seen.asScala.toSeq.sorted == Seq(docA, docB, docC).sorted, seen.asScala.toSeq)
  }

  test("custom state: mapGroupsWithState running count per word across batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val topic = "state-demo"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 1, Seq("x", "y", "x"))

    import spark.implicits._
    val updates = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "1").load()
        .select($"value".cast("string").as("w")).as[String]
        .groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (word: String, rows: Iterator[String], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (word, n)
        }
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          batch.collect().foreach(updates.add)
        }
        .option("checkpointLocation", stateCkpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    import scala.jdk.CollectionConverters._
    assert(updates.asScala.toSet == Set(("x", 2L), ("y", 1L)))

    // State survives the restart: new data increments the recovered counts.
    updates.clear()
    InMemoryMqBroker.produceStrings(topic, 1, Seq("x", "z"))
    run()
    assert(updates.asScala.toSet == Set(("x", 3L), ("z", 1L)),
      s"state must resume from checkpoint, got ${updates.asScala.toSet}")
  }
  private val stateCkpt = tmp("state-ckpt")

  test("custom state: flatMapGroupsWithState emits 0..N outputs per group conditionally") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val topic = "fmgws-demo"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 1, Seq("u1", "u2", "u1"))

    import spark.implicits._
    val updates = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def run(extra: Seq[String]): Unit = {
      if (extra.nonEmpty) InMemoryMqBroker.produceStrings(topic, 1, extra)
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "1").load()
        .select($"value".cast("string").as("u")).as[String]
        .groupByKey(identity)
        // 0..N outputs per group per trigger — the flatMap variant the
        // map-based test can't express (here: emit only when count crosses
        // a threshold, else keep accumulating silently).
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (user: String, rows: Iterator[String], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            if (n >= 2) Iterator.single((user, n)) else Iterator.empty
        }
        .writeStream.outputMode(OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          batch.collect().foreach(updates.add)
        }
        .option("checkpointLocation", fmgwsCkpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run(Nil)
    import scala.jdk.CollectionConverters._
    // u1 crossed the threshold (2); u2 stays silent below it.
    assert(updates.asScala.toSet == Set(("u1", 2L)), s"got ${updates.asScala.toSet}")

    updates.clear()
    run(Seq("u2", "u1"))
    // Recovered state: u2 reaches 2 and fires; u1 keeps growing to 3.
    assert(updates.asScala.toSet == Set(("u2", 2L), ("u1", 3L)),
      s"state must resume from checkpoint, got ${updates.asScala.toSet}")
  }
  private val fmgwsCkpt = tmp("fmgws-ckpt")

  test("custom state: transformWithState running count (Spark 4 state-v2 API)") {
    import org.apache.spark.sql.streaming.OutputMode
    val topic = "tws-demo"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 1, Seq("a", "b", "a"))

    import spark.implicits._
    val updates = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    // transformWithState requires the RocksDB state store provider.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def run(): Unit = {
      val q = spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "1").load()
        .select($"value".cast("string").as("w")).as[String]
        .groupByKey(identity)
        .transformWithState(new RunningCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          batch.collect().foreach(updates.add)
        }
        .option("checkpointLocation", twsCkpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      run()
      import scala.jdk.CollectionConverters._
      assert(updates.asScala.toSet == Set(("a", 2L), ("b", 1L)))

      // ValueState survives restart from the checkpoint.
      updates.clear()
      InMemoryMqBroker.produceStrings(topic, 1, Seq("a", "c"))
      run()
      assert(updates.asScala.toSet == Set(("a", 3L), ("c", 1L)),
        s"state must resume from checkpoint, got ${updates.asScala.toSet}")
    } finally oldProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }
  private val twsCkpt = tmp("tws-ckpt")

  test("stream-stream join: watermarked event-time interval join of two topics") {
    val lhs = "ss-clicks"; val rhs = "ss-buys"
    InMemoryMqBroker.drop(lhs); InMemoryMqBroker.drop(rhs)
    val base = 1700000000000000L
    val clicks = InMemoryMqBroker.getOrCreate(lhs, 1)
    val buys = InMemoryMqBroker.getOrCreate(rhs, 1)
    // click u1@0s, u2@5s; buys u1@10s (joins, within 30s), u2@100s (outside)
    clicks.append(0, MqMessage(null, "u1".getBytes, base))
    clicks.append(0, MqMessage(null, "u2".getBytes, base + 5000000L))
    buys.append(0, MqMessage(null, "u1".getBytes, base + 10000000L))
    buys.append(0, MqMessage(null, "u2".getBytes, base + 100000000L))

    import spark.implicits._
    def side(topic: String, user: String, ts: String) =
      spark.readStream.format("graft-mq")
        .option("topic", topic).option("numPartitions", "1")
        .option("includeMetadata", "true").load()
        .select($"value".cast("string").as(user), $"timestamp".as(ts))
        .withWatermark(ts, "1 minute")
    val joined = side(lhs, "c_user", "c_ts")
      .join(side(rhs, "b_user", "b_ts"),
        expr("c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + interval 30 seconds"))
      .select($"c_user")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out")
      .option("checkpointLocation", tmp("ss-join-ckpt")).start()
    try {
      q.processAllAvailable()
      val got = spark.table("ss_join_out").as[String].collect().toSeq
      assert(got == Seq("u1"), s"only u1's buy is within the join window, got $got")
    } finally q.stop()
  }

  test("stream-static join: enrich stream with a dimension table") {
    val topic = "enrich"
    InMemoryMqBroker.drop(topic)
    InMemoryMqBroker.produceStrings(topic, 2, Seq("AFRICA", "ASIA", "EUROPE", "ASIA"))

    import spark.implicits._
    val dim = spark.read.parquet(s"${sf()}/region.parquet")
    val q = spark.readStream.format("graft-mq")
      .option("topic", topic).option("numPartitions", "2").load()
      .select($"value".cast("string").as("r_name"))
      .join(dim, Seq("r_name"))
      .select($"r_name", $"r_regionkey")
    val query = q.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", tmp("enrich-ckpt")).start()
    try {
      query.processAllAvailable()
      val got = spark.table("enrich_out").as[(String, Int)].collect().sorted.toSeq
      assert(got.map(_._1).sorted == Seq("AFRICA", "ASIA", "ASIA", "EUROPE"))
      assert(got.forall { case (n, k) => k >= 0 && n.nonEmpty })
    } finally query.stop()
  }
}

/** Running word count as a Spark 4 state-v2 StatefulProcessor: one
  * ValueState[Long] per key. Top-level class — it is serialized into the
  * streaming query.
  */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, String, (String, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var count: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: String, rows: Iterator[String],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single((key, n))
  }
}
