package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

import java.nio.file.Files

class LayoutOpsSpec extends SparkSuite {

  test("writeZOrdered: every file spans a compact rectangle in BOTH dims; lossless") {
    import spark.implicits._
    // Uniform 64x64 grid (4096 rows) — the shape where z-order's locality
    // guarantee is provable: 16 shards over a 2-D Morton order give each
    // file a ~quarter-by-quarter tile, while range-sharding on x alone
    // leaves every file covering the FULL y domain.
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, x * 64L + y)).toDF("x", "y", "payload")
    val out = Files.createTempDirectory("layout-z").toString
    LayoutOps.writeZOrdered(grid, out, Seq("x", "y"), shards = 16, bitsPerDim = 6)

    val back = spark.read.parquet(out)
    // Lossless: exact same rows (layout must never drop/alter data).
    assert(back.count() == 4096)
    assert(back.select("x", "y", "payload").except(grid).count() == 0)
    assert(grid.except(back.select("x", "y", "payload")).count() == 0)
    // Locality: per-file normalized span in EACH dim well under the full
    // domain (range-sharding on x would put span_y == 1.0 in every
    // file). 16 tiles of a 64x64 Morton grid are 16x16 squares; allow
    // generous slack for shard-boundary straddling.
    val spans = back.select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f").agg(
        ((max("x") - min("x")) / 63.0).as("sx"),
        ((max("y") - min("y")) / 63.0).as("sy"))
      .as[(String, Double, Double)].collect()
    assert(spans.length > 1, "expected multiple z-order files")
    val avgArea = spans.map { case (_, sx, sy) => sx * sy }.sum / spans.length
    assert(avgArea < 0.15, s"z-order files not local: avgArea=$avgArea " +
      spans.map { case (_, sx, sy) => f"($sx%.2f,$sy%.2f)" }.mkString(" "))
    assert(spans.forall { case (_, _, sy) => sy < 0.9 },
      "some file spans the full y domain — that's range-sharding, not z-order")
    // Both-dim prunability: a tight predicate on y alone touches a
    // minority of files (the span stats readers use for skipping).
    val touched = spans.length // all files
    val yHit = back.filter(col("y") < 8)
      .select(input_file_name()).distinct().count()
    assert(yHit.toDouble / touched <= 0.5,
      s"y-predicate touched $yHit of $touched files — no second-dim locality")
  }

  test("packByTokenBudget equals the global-window formulation, at any partition count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
    // The single-reducer semantic twin (fine at test scale only).
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val want = docs
      .select(col("doc_id"), col("n_tokens").cast("long"),
        coalesce(sum("n_tokens").over(w), lit(0L)).as("token_offset"))
      .withColumn("shard_id", expr("token_offset div 500"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // Offsets depend only on the global key order — NOT on how the prefix
    // sum was partitioned. 1 partition, a prime count, and more
    // partitions than rows must all produce identical bytes.
    for (parts <- Seq(1, 7, 64)) {
      val got = LayoutOps.packByTokenBudget(docs, "doc_id", "n_tokens",
          budget = 500L, numPartitions = parts)
        .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == want, s"parts=$parts: ${got.take(3)} vs ${want.take(3)}")
    }
    // Shard boundaries: every shard id in [0, total/budget]; offsets
    // strictly increase by each doc's weight.
    val packed = LayoutOps.packByTokenBudget(docs, "doc_id", "n_tokens", 500L)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    packed.sliding(2).foreach {
      case Array((_, w1, o1, _), (_, _, o2, _)) => assert(o2 == o1 + w1)
      case _ =>
    }
    assert(packed.forall { case (_, _, o, s) => s == o / 500L })
  }

  test("packByTokenBudget: null weights count zero; empty input stays empty") {
    import spark.implicits._
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L)))
      .toDF("doc_id", "n_tokens")
    val got = LayoutOps.packByTokenBudget(df, "doc_id", "n_tokens", budget = 12L)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 0L, 0L), (2L, 0L, 10L, 0L), (3L, 5L, 10L, 0L)))
    val empty = LayoutOps.packByTokenBudget(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 10L)
    assert(empty.count() == 0)
    // A negative weight would silently corrupt every later offset (and
    // truncating / floor division diverge below zero) — loud failure.
    val err = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudget(
        Seq((1L, 5L), (2L, -1L)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 10L).count()
    }
    assert(err.getMessage.contains("negative weight"), err.getMessage)
    // A duplicate key makes tie order — and every later offset —
    // nondeterministic; the documented uniqueness contract is ENFORCED,
    // not assumed.
    val dup = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudget(
        Seq((1L, 5L), (2L, 3L), (2L, 4L)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 10L).count()
    }
    assert(dup.getMessage.contains("must be unique"), dup.getMessage)
    // A null key has no position in the global key order — rejected with
    // a NULL-specific message, NOT misreported as a duplicate
    // (countDistinct ignores nulls, so the duplicate check alone would
    // miscount a single perfectly-unique null).
    val nul = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudget(
        Seq((Some(1L), 5L), (None, 3L)).toDF("doc_id", "n_tokens"),
        "doc_id", "n_tokens", 10L).count()
    }
    assert(nul.getMessage.contains("null key"), nul.getMessage)
    assert(!nul.getMessage.contains("must be unique"), nul.getMessage)
  }

  test("packByTokenBudgetKeys: compound (doc_id, chunk_idx) equals the " +
      "global-window formulation, at any partition count") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Multi-chunk docs with deliberately non-aligned chunk counts, and a
    // chunk_idx range that would overflow any `doc_id * K + chunk_idx`
    // encoding with K <= 128.
    val rows = for {
      d <- 1L to 12L
      c <- 0 until (if (d % 3 == 0) 130 else 4)
    } yield (d, c, (d * 7 + c * 3) % 50)
    val df = rows.toDF("doc_id", "chunk_idx", "w")
    val win = Window.orderBy("doc_id", "chunk_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .select(col("doc_id"), col("chunk_idx"), col("w").cast("long"),
        coalesce(sum("w").over(win), lit(0L)).as("token_offset"))
      .withColumn("shard_id", expr("token_offset div 300"))
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Int, Long, Long, Long)].collect().toSeq
    for (parts <- Seq(1, 7, 64)) {
      val got = LayoutOps.packByTokenBudgetKeys(df, Seq("doc_id", "chunk_idx"),
          "w", budget = 300L, numPartitions = parts)
        .orderBy("doc_id", "chunk_idx")
        .as[(Long, Int, Long, Long, Long)].collect().toSeq
      assert(got == want, s"parts=$parts: ${got.take(3)} vs ${want.take(3)}")
    }
    // Key columns keep their input types (doc_id long, chunk_idx int).
    val schema = LayoutOps.packByTokenBudgetKeys(df, Seq("doc_id", "chunk_idx"),
      "w", 300L).schema
    assert(schema("doc_id").dataType.typeName == "long", schema.treeString)
    assert(schema("chunk_idx").dataType.typeName == "integer", schema.treeString)
  }

  test("packByTokenBudgetKeys: duplicate compound key, null key component, " +
      "and weightCol-in-keyCols all fail loudly") {
    import spark.implicits._
    // (1,0) appears twice — unique per-column, duplicate as a compound.
    val dup = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudgetKeys(
        Seq((1L, 0, 5L), (1L, 0, 3L), (2L, 0, 4L)).toDF("doc_id", "chunk_idx", "w"),
        Seq("doc_id", "chunk_idx"), "w", 10L).count()
    }
    assert(dup.getMessage.contains("must be unique"), dup.getMessage)
    // One NULL component: the compound is otherwise unique, so only the
    // null check can catch it — and it must, with the null-specific text.
    val nul = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudgetKeys(
        Seq((Some(1L), 0, 5L), (None, 1, 3L)).toDF("doc_id", "chunk_idx", "w"),
        Seq("doc_id", "chunk_idx"), "w", 10L).count()
    }
    assert(nul.getMessage.contains("null key"), nul.getMessage)
    assert(!nul.getMessage.contains("must be unique"), nul.getMessage)
    // The weight column doubling as a key would be silently re-typed by
    // the internal coalesce/cast — rejected before any job runs.
    val wk = intercept[IllegalArgumentException] {
      LayoutOps.packByTokenBudgetKeys(
        Seq((1L, 5L)).toDF("doc_id", "w"), Seq("doc_id", "w"), "w", 10L)
    }
    assert(wk.getMessage.contains("cannot also be a key column"), wk.getMessage)
  }

  test("property: packByTokenBudget equals a sequential scan for random weights") {
    import graft.PropCheck
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 60)
      ws <- Gen.listOfN(n, Gen.choose(0L, 50L))
      budget <- Gen.choose(1L, 100L)
      parts <- Gen.choose(1, 9)
    } yield (ws, budget, parts)
    PropCheck.check(Prop.forAll(gen) { case (ws, budget, parts) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("doc_id", "n_tokens")
      val got = LayoutOps.packByTokenBudget(df, "doc_id", "n_tokens", budget, parts)
        .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
      val offs = ws.scanLeft(0L)(_ + _)
      val want = ws.zipWithIndex.map { case (w, i) =>
        (i.toLong, w, offs(i), offs(i) / budget)
      }
      got == want
    }, minSuccessful = 15) // each evaluation launches Spark jobs
  }

  test("writePackedShards: manifest attests written files; rows and weights survive") {
    import spark.implicits._
    val rows = (0L until 60L).map(i => (i, (i % 7) + 1))
    val df = rows.toDF("doc_id", "n_tok")
    val path = Files.createTempDirectory("packed-shards").resolve("out").toString
    val manifest = LayoutOps.writePackedShards(df, path, Seq("doc_id"), "n_tok",
        budget = 20L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Written data round-trips exactly and agrees with the manifest.
    val back = spark.read.parquet(path)
    assert(back.count() == 60)
    val byShard = back.groupBy("shard_id").agg(count(lit(1)).as("n"),
        sum("n_tok").as("w"))
      .collect().map(r => r.getAs[Number](0).longValue() ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(byShard == manifest, s"manifest $manifest != read-back $byShard")
    // Total weight conserved; shards partition the rows.
    assert(manifest.values.map(_._2).sum == rows.map(_._2).sum)
    assert(manifest.values.map(_._1).sum == 60)
    // Later-session read side reproduces the same manifest.
    val again = LayoutOps.readShardManifest(spark, path, "n_tok", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == manifest)
  }

  test("compactParquet: fewer files, lossless, range-prunable under sortCol") {
    import spark.implicits._
    val docs = (1L to 1000L).map(i => (i, i * 3)).toDF("id", "payload")
    val base = Files.createTempDirectory("layout-compact").toString
    val frag = s"$base/frag"
    val out = s"$base/out"
    docs.repartition(32).write.parquet(frag) // the small-files storm
    val (nIn, nOut) = LayoutOps.compactParquet(spark, frag, out,
      targetBytes = 8L * 1024, sortCol = Some("id"))
    assert(nIn == 32 && nOut < nIn, s"in=$nIn out=$nOut")
    val back = spark.read.parquet(out)
    // lossless both directions
    assert(back.count() == 1000 &&
      back.except(docs).count() == 0 && docs.except(back).count() == 0)
    // range prunability preserved: per-file [min,max] id ranges disjoint
    val ranges = back.select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1, "expected multiple compacted files")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $hi1 >= $lo2")
      case _ =>
    }
    // size-only mode (no sortCol) is also lossless
    val out2 = s"$base/out2"
    LayoutOps.compactParquet(spark, frag, out2, targetBytes = 1L << 30)
    val back2 = spark.read.parquet(out2)
    assert(back2.count() == 1000 && back2.except(docs).count() == 0)
    intercept[IllegalArgumentException] {
      LayoutOps.compactParquet(spark, frag, out2, targetBytes = 0)
    }
    // Overlap guard, BOTH directions: Overwrite deletes the target before
    // the lazy input scan runs, so either nesting destroys the source.
    intercept[IllegalArgumentException] { // output == input
      LayoutOps.compactParquet(spark, frag, frag, targetBytes = 1L << 30)
    }
    intercept[IllegalArgumentException] { // output nested under input
      LayoutOps.compactParquet(spark, frag, s"$frag/sub", targetBytes = 1L << 30)
    }
    intercept[IllegalArgumentException] { // input nested under output
      LayoutOps.compactParquet(spark, frag, base, targetBytes = 1L << 30)
    }
  }

  test("packSequences: ordered in-range boundaries, doc integrity, partition-invariant") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, 10L + (i % 7))).toDF("doc_id", "n_tok")
    val a = LayoutOps.packSequences(docs, "doc_id", "n_tok", seqLen = 64L)
      .orderBy("seq_id").collect()
    assert(a.length >= 2, s"expected multiple sequences, got ${a.length}")
    assert(a.head.getAs[Long]("seq_id") == 0L &&
      a.head.getSeq[Long](a.head.fieldIndex("boundaries")).head == 0L)
    a.foreach { r =>
      val b = r.getSeq[Long](r.fieldIndex("boundaries")).toSeq
      // boundaries are the in-sequence offsets in doc order: sorted, the
      // first one inside [0, seqLen) (a doc belongs to the sequence its
      // offset STARTS in), and one per doc.
      assert(b == b.sorted && b.head >= 0 && b.head < 64L, b.toString)
      assert(r.getAs[Long]("n_docs") == b.size)
      assert(r.getSeq[Long](r.fieldIndex("doc_ids")).size == b.size)
    }
    // every doc appears exactly once across all sequences
    val ids = a.toSeq.flatMap(r => r.getSeq[Long](r.fieldIndex("doc_ids")))
    assert(ids.sorted == (1L to 50L).toSeq)
    val b2 = LayoutOps.packSequences(docs.repartition(7), "doc_id", "n_tok", 64L)
      .orderBy("seq_id").collect()
    assert(a.map(_.toSeq).toSeq == b2.map(_.toSeq).toSeq)
  }
}
