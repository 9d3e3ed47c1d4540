package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output layout for pipeline results — at 100 TB the WRITE side decides
  * the read performance of every downstream consumer (a training job
  * reading one date range or one source shouldn't scan the rest).
  *
  * [[writeZOrdered]] range-shards on an interleaved multi-column key, so
  * every file covers a tight range of each column and parquet footer
  * min/max stats skip whole files on range predicates. Its
  * `maxRecordsPerFile` bounds file sizes — hot ranges split instead of
  * producing one giant file (choose the bound ≈ target_file_bytes /
  * row_width); [[compactParquet]] remedies the other failure mode,
  * small-file storms.
  */
object LayoutOps {

  /** Z-order (Morton) layout: each of `zCols` is min/max-scaled to a
    * `bitsPerDim`-bit integer, the bits are interleaved into one z-value,
    * and the data is range-sharded + sorted on it — so every output file
    * covers a compact HYPER-RECTANGLE of the key space and parquet
    * footer min/max stats prune files for range predicates on ANY of the
    * z columns, not just a single sort key (the multi-dimensional
    * generalization of range sharding on one column; same mechanics
    * Delta/Iceberg OPTIMIZE ZORDER uses). The locality guarantee is
    * what makes multi-tenant scans cheap at 100 TB: a reader filtering on the
    * SECOND dimension of a range-sharded layout scans everything, while
    * z-order bounds every file's span in every indexed dimension.
    *
    * Scaling is linear min/max (one tiny agg row, broadcast back — no
    * driver action): simple and exactly reproducible, with the usual
    * caveat that heavy skew in a dimension compresses its useful bits
    * (rank/quantile scaling is the skew-robust upgrade; same interleave
    * afterwards). Null z-column values yield a null z-value and cluster
    * together at one end — they prune like any other file range.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      shards: Int, bitsPerDim: Int = 16, maxRecordsPerFile: Long = 0L): Unit = {
    require(zCols.size >= 2,
      s"writeZOrdered: need >= 2 z columns (got $zCols) — range-shard on one column instead")
    require(bitsPerDim >= 1 && bitsPerDim * zCols.size <= 62,
      s"writeZOrdered: bitsPerDim=$bitsPerDim x ${zCols.size} dims must fit a long")
    require(shards > 0, s"writeZOrdered: shards must be positive, got $shards")
    val dims = zCols.size
    val maxV = (1L << bitsPerDim) - 1
    val aggs = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"_zmn_$c"), max(col(c)).cast("double").as(s"_zmx_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val withB = df.crossJoin(broadcast(bounds))
    val scaled = zCols.map { c =>
      val mn = col(s"_zmn_$c"); val mx = col(s"_zmx_$c")
      val range = when(mx > mn, mx - mn).otherwise(lit(1.0))
      least(lit(maxV),
        floor((col(c).cast("double") - mn) / range * maxV + 0.5).cast("long"))
    }
    val z = (0 until bitsPerDim).flatMap { b =>
      scaled.zipWithIndex.map { case (s, d) =>
        // bit b of dim d lands at interleaved position b*dims + d.
        shiftleft(shiftright(s, b).bitwiseAND(lit(1L)), b * dims + d)
      }
    }.reduce(_.bitwiseOR(_))
    withB.withColumn("_z", z)
      .repartitionByRange(shards, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z" +: zCols.flatMap(c => Seq(s"_zmn_$c", s"_zmx_$c")): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
  }

  /** Token-budget shard assignment: documents ordered by `keyCol` are laid
    * out as one contiguous token stream, and each doc's shard is its
    * global token OFFSET divided by `budget` — exactly how a training
    * pipeline maps a deterministic document order onto fixed-token-budget
    * shards. Returns (key, weight, token_offset, shard_id), where
    * `token_offset` = sum of weights of all earlier keys.
    *
    * Single-column convenience form of [[packByTokenBudgetKeys]].
    *
    * @param keyCol    unique orderBy key; uniqueness is ENFORCED
    *                  (duplicates throw) because a duplicate would make
    *                  tie order — and every later offset — nondeterministic
    * @param weightCol non-negative token count (null → 0)
    */
  def packByTokenBudget(df: DataFrame, keyCol: String, weightCol: String,
      budget: Long, numPartitions: Int = 0): DataFrame =
    packByTokenBudgetKeys(df, Seq(keyCol), weightCol, budget, numPartitions)

  /** Multi-column token-budget shard assignment: rows ordered
    * lexicographically by `keyCols` (e.g. `(doc_id, chunk_idx)` for
    * chunked documents) get the global prefix-sum offset and shard id of
    * [[packByTokenBudget]] without squeezing a compound key into one
    * integer — the capacity constant that arithmetic encodings
    * (`doc_id * K + chunk_idx`) smuggle in is gone.
    *
    * Semantically this is `sum(weight) OVER (ORDER BY key… ROWS UNBOUNDED
    * PRECEDING)` — but a GLOBAL ordered window is a single-reducer plan,
    * the one shape that cannot scale. Shipped instead as the classic
    * distributed prefix sum: range-partition by the key columns and sort
    * within partitions (each partition = a contiguous key span), aggregate
    * one tiny per-partition total (P rows to the driver — the scan stays
    * distributed), scan-left those totals into per-partition start
    * offsets, then a single stateless pass adds each partition's offset
    * to its running sum. Output values are independent of P (offsets
    * depend only on the global key order), which the spec asserts.
    *
    * Output columns: `keyCols… , weightCol, token_offset, shard_id`,
    * with the key columns keeping their input types. Ordering is each key
    * column's NATIVE Spark ordering (numeric by value, strings binary
    * lexicographic, dates chronological) — a string-typed numeric id
    * orders "10" before "2"; cast keys to the type whose order you mean
    * BEFORE calling, because this function never casts or re-types them.
    *
    * `weightCol` must not also be a key column: the weight is coalesced
    * and cast to long internally, which would silently change the key's
    * type and null semantics — rejected loudly instead.
    */
  /** Pack ([[packByTokenBudgetKeys]]) AND ship: rows land hive-partitioned
    * by `shard_id=` under `path` — every training shard its own prunable
    * directory — and the returned MANIFEST comes from a READ-BACK of the
    * written files (shard_id, n_rows, weight_sum, id_hash over the md5
    * prefix of the first key column), so it attests what is actually on
    * disk, not what was about to be written. The manifest is
    * shard-count-sized; an external engine recomputes it from the same
    * parquet for a value-exact storage check.
    */
  def writePackedShards(df: DataFrame, path: String, keyCols: Seq[String],
      weightCol: String, budget: Long): DataFrame = {
    val packed = packByTokenBudgetKeys(df, keyCols, weightCol, budget)
    packed.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    readShardManifest(df.sparkSession, path, weightCol, keyCols.head)
  }

  /** Manifest of an on-disk packed-shard directory — recomputed from the
    * FILES, so it attests disk state; [[writePackedShards]]'s return
    * value, and the read side for later sessions.
    */
  def readShardManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      weightCol: String, idCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(ColNames.quotedCol(weightCol)).as("weight_sum"),
        expr(s"bit_xor(cast(conv(substring(md5(cast(${ColNames.quoted(idCol)} " +
          s"as string)), 1, 15), 16, 10) as bigint))").as("id_hash"))

  def packByTokenBudgetKeys(df: DataFrame, keyCols: Seq[String],
      weightCol: String, budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"packByTokenBudget: budget must be positive, got $budget")
    require(keyCols.nonEmpty, "packByTokenBudget: no key columns")
    require(!keyCols.contains(weightCol),
      s"packByTokenBudget: weight column '$weightCol' cannot also be a key column — " +
        "the weight is coalesced/cast to long internally, which would silently " +
        "re-type the key; pass a distinct weight column")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // localCheckpoint pins the partition layout: both the totals pass and
    // the offset pass must see identical partition ids.
    val ranged = df
      .select(keyCols.map(col) :+
        coalesce(col(weightCol).cast("long"), lit(0L)).as(weightCol): _*)
      .repartitionByRange(parts, keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.head, keyCols.tail: _*)
      .localCheckpoint(true)
    // min(w) and the key-uniqueness check ride along the totals pass for
    // free: a negative weight (bad tokenizer sentinel) would silently
    // corrupt every later offset, and a DUPLICATE key makes the
    // within-partition sort order among its rows arbitrary — offsets for
    // the tied rows would be run-to-run nondeterministic and silently
    // diverge from the single-reducer oracle. Both are contract
    // violations; both fail loudly. (Range partitioning co-locates equal
    // keys, so per-partition distinctness is global distinctness.)
    // countDistinct over the key STRUCT does not ignore a struct whose
    // fields are null (the struct value itself is non-null), so null key
    // components are counted separately: a null component has no position
    // in the global key order and violates the contract outright; say so.
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val w = col(weightCol)
    val stats = ranged.groupBy(spark_partition_id().as("pid"))
      .agg(sum(w).as("t"), min(w).as("mn"),
        count(lit(1)).as("n"), countDistinct(struct(keyCols.map(col): _*)).as("nd"),
        sum(when(anyKeyNull, 1L).otherwise(0L)).as("nn"))
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    val keyDesc = keyCols.mkString("(", ", ", ")")
    stats.find(_._3 < 0).foreach { case (_, _, mn, _, _, _) =>
      throw new IllegalArgumentException(
        s"packByTokenBudget: negative weight $mn in '$weightCol' — token counts must be >= 0")
    }
    stats.find(_._6 > 0).foreach { case (_, _, _, _, _, nn) =>
      throw new IllegalArgumentException(
        s"packByTokenBudget: $keyDesc has $nn null key row(s) — the orderBy key must be " +
          "non-null (a null key has no position in the global key order)")
    }
    stats.find(s => s._4 != s._5).foreach { case (_, _, _, n, nd, _) =>
      throw new IllegalArgumentException(
        s"packByTokenBudget: $keyDesc must be unique — found ${n - nd} duplicate key row(s); " +
          "duplicate keys make tie order, and therefore offsets, nondeterministic")
    }
    val totals = stats.map { case (pid, t, _, _, _, _) => pid -> t }.toMap
    val starts = (0 until parts).scanLeft(0L)((acc, pid) =>
      acc + totals.getOrElse(pid, 0L))
    val startsB = spark.sparkContext.broadcast(starts.toArray)
    val b = budget
    val widx = ranged.schema.fieldIndex(weightCol)
    val outSchema = ranged.schema
      .add("token_offset", org.apache.spark.sql.types.LongType, nullable = false)
      .add("shard_id", org.apache.spark.sql.types.LongType, nullable = false)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    ranged.mapPartitions { it =>
      var acc = startsB.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { r =>
        val wv = r.getLong(widx)
        val off = acc
        acc += wv
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ off :+ (off / b))
      }
    }
  }

  /** Compact a small-files parquet directory into ~`targetBytes` files —
    * the remedy for the OTHER layout failure mode (small-file storms: a
    * 100 TB corpus written by many tasks ends up as millions of KB-scale
    * files whose open/footer overhead dominates every scan). The driver
    * touches only the FILE LISTING (file-count-sized, never row data) to
    * size the output; rows move once.
    *
    * With `sortCol` the rewrite is `repartitionByRange` +
    * `sortWithinPartitions`, so compaction PRESERVES (or installs) the
    * range-sharded prunability — each output file covers a tight
    * disjoint key range, so footer min/max stats skip whole files.
    * Without it the rewrite is an even round-robin repartition (pure size goal).
    *
    * Returns (input file count, output partition count).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long,
      sortCol: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0, s"compactParquet: targetBytes must be positive, got $targetBytes")
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // SaveMode.Overwrite deletes the target BEFORE the lazily-read input
    // scan runs: writing into (or under) the input directory would
    // destroy the source data mid-read. Compare fully-qualified paths so
    // relative/absolute spellings of the same location can't slip past.
    val inQ = fs.makeQualified(inPath)
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir))
    def contains(parent: org.apache.hadoop.fs.Path,
        child: org.apache.hadoop.fs.Path): Boolean = {
      var p: org.apache.hadoop.fs.Path = child
      while (p != null) {
        if (p == parent) return true
        p = p.getParent
      }
      false
    }
    // BOTH directions: output under input deletes the source directly;
    // input under output means Overwrite of the output tree deletes the
    // nested source before the lazy scan reads it.
    require(!contains(inQ, outQ) && !contains(outQ, inQ),
      s"compactParquet: output $outQ and input $inQ overlap (one contains " +
        s"the other) — Overwrite would delete the source before it is read")
    val files = fs.listStatus(inPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"compactParquet: no parquet files under $inDir")
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    val out = sortCol match {
      case Some(c) => df.repartitionByRange(nOut, col(c)).sortWithinPartitions(c)
      case None => df.repartition(nOut)
    }
    out.write.mode(SaveMode.Overwrite).parquet(outDir)
    (files.length, nOut)
  }

  /** Training-SEQUENCE manifest: the per-sequence view of
    * [[packByTokenBudgetKeys]] a dataloader consumes — one row per
    * packed sequence of `seqLen` token capacity, carrying the ordered
    * document ids and their sequence-local start offsets (the attention
    * boundary mask every pretraining run needs to keep cross-document
    * attention from leaking). A document is assigned to the sequence its
    * global offset starts in (documents keep their integrity; a doc
    * straddling the capacity line stays whole, so `n_tokens` may exceed
    * `seqLen` on its sequence — the dataloader's truncate/continue
    * policy is downstream of this manifest, which just reports exact
    * layout). Corollary: a sequence whose tokens lie ENTIRELY inside the
    * middle of one long document has no starting doc and emits NO row —
    * its content is the tail of the previous row's straddler. Feed
    * pre-chunked units (weights ≤ `seqLen`, e.g. from
    * [[graft.ops.TextOps.chunkByTokenBudget]]) when every `seq_id` must
    * have a manifest row; the registered query's corpus satisfies this
    * (max doc ≪ seqLen).
    *
    * Returns (`seq_id`, `n_docs`, `n_tokens`, `doc_ids`, `boundaries`)
    * with both arrays ordered by document id and `boundaries(0)` the
    * first doc's offset within the sequence (0 unless a straddler from
    * the previous sequence pushed it).
    *
    * Shape at 100 TB: the pack's two-phase prefix sum plus one
    * groupBy(seq_id) whose collected arrays are bounded by how many
    * documents fit a sequence (`seqLen / min-doc-tokens`).
    */
  def packSequences(df: DataFrame, idCol: String, weightCol: String,
      seqLen: Long): DataFrame = {
    val packed = packByTokenBudgetKeys(df, Seq(idCol), weightCol, seqLen)
    val id = ColNames.quotedCol(idCol)
    packed.groupBy(col("shard_id").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ColNames.quotedCol(weightCol)).cast("bigint").as("n_tokens"),
        sort_array(collect_list(struct(id, col("token_offset")))).as("_b"))
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        transform(col("_b"), x => x(idCol)).as("doc_ids"),
        transform(col("_b"), x => x("token_offset") - col("seq_id") * seqLen)
          .as("boundaries"))
  }
}
