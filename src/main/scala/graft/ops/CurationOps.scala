package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-corpus curation operators — the steps that relate the TRAINING
  * corpus to a second, external corpus (benchmark/eval sets), as opposed
  * to the within-corpus dedup of [[DedupOps]].
  *
  * North-star capability (SURVEY.md §2.8 additive surface): every serious
  * LLM training pipeline decontaminates against its evaluation benchmarks
  * — a train document sharing a word n-gram with any eval document is
  * flagged (and usually dropped) so benchmark scores measure
  * generalization, not memorization. The reference has no such surface;
  * the operator composes the same tokenizer its WordCount demo uses
  * (/root/reference/README.md:84-86).
  */
object CurationOps {

  /** N-gram–overlap decontamination of `train` against `evalSet`.
    *
    * Returns every `train` row with three added columns:
    *  - `n_contaminated` — count of DISTINCT word `n`-grams the document
    *    shares with ANY eval document (0 for clean docs; docs shorter
    *    than `n` tokens have no grams and are clean by definition),
    *  - `kept` — 1 when `n_contaminated == 0`, else 0 (the keep-set
    *    predicate a pipeline filters on).
    *
    * Shape at 100 TB: benchmark sets are tiny relative to the corpus
    * (thousands of docs vs billions), so the distinct eval-gram set is
    * BROADCAST — the train side is then one scan-local explode, a
    * broadcast hash join (no shuffle of corpus data against eval data),
    * and a partial-aggregated count keyed by `idCol`. The single
    * corpus-scale shuffle is that per-doc count; the final left join back
    * to `train` is on the same key, so AQE coalesces it into the same
    * exchange. Nothing driver-side touches corpus rows.
    *
    * Real pipelines use n of 8–13 on subword tokens; `n` is a parameter
    * and the default 3 matches this repo's short synthetic documents.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"decontaminate: n=$n must be >= 1")
    val id = ColNames.quotedCol(idCol)
    val text = ColNames.quotedCol(textCol)
    // Working id name chosen to MISS every caller column (a caller
    // column literally named "_id" used to collide with the fixed name
    // and break the rename-back join).
    val tmpId = ColNames.free(train.columns.toSeq :+ "gram", "_graft_decon_id")
    // shinglesFromTokens is DISTINCT per document, so the post-join count
    // is "distinct shared grams" with a plain count(*) — no count(distinct).
    val evalGrams = evalSet
      .select(explode(TextOps.shingles(text, n)).as("gram"))
      .distinct()
    val trainGrams = train.select(id.as(tmpId),
      explode(TextOps.shingles(text, n)).as("gram"))
    val hits = trainGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(tmpId))
      .agg(count(lit(1)).as("n_contaminated"))
    train
      .join(hits.withColumnRenamed(tmpId, idCol), Seq(idCol), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("kept", when(col("n_contaminated") === 0, 1).otherwise(0))
  }

  /** SPAN-level decontamination — the surgical alternative to
    * [[decontaminate]]'s whole-document verdict: instead of dropping a
    * document that shares an n-gram with the eval set, remove exactly the
    * tokens covered by a shared n-gram and keep the rest (the form
    * pipelines use when documents are long and contamination is a quoted
    * benchmark snippet, not the document's substance).
    *
    * Returns one row per `train` document: (`idCol`, `n_tokens`,
    * `n_masked`, `text_clean`) where `text_clean` re-joins surviving
    * tokens with spaces (docs with no hits pass through verbatim,
    * `n_masked` 0).
    *
    * Shape at 100 TB: identical to [[decontaminate]] — eval grams are
    * tiny and BROADCAST, the train side is one scan-local explode plus a
    * broadcast hash join; the only corpus-scale shuffle is the per-doc
    * hit-position collect (bounded by document length), and the rewrite
    * is a per-row higher-order filter.
    */
  def decontaminateSpans(train: DataFrame, evalSet: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"decontaminateSpans: n=$n must be >= 1")
    val id = ColNames.quotedCol(idCol)
    val text = ColNames.quotedCol(textCol)
    val evalGrams = evalSet
      .select(explode(TextOps.shingles(text, n)).as("gram"))
      .distinct()
    val tk = train.select(id, TextOps.tokens(text).as("tk"))
    Caching.withCached(tk) {
      val hits = tk
        .select(id, posexplode(TextOps.ngramsFromTokens(col("tk"), n))
          .as(Seq("pos0", "gram")))
        .select(id, (col("pos0") + 1).as("pos"), col("gram"))
        .join(broadcast(evalGrams), "gram")
      val perDoc = hits.groupBy(id)
        .agg(sort_array(collect_list(col("pos"))).as("estarts"))
      val withSpans = tk.join(perDoc, Seq(idCol), "left")
        .withColumn("estarts",
          coalesce(col("estarts"), array().cast("array<int>")))
      val keptTk = filter(col("tk"), (_, i) =>
        !TextOps.spanCovers(col("estarts"), i + 1, n))
      withSpans
        .withColumn("n_tokens", size(col("tk")).cast("long"))
        .withColumn("_kept_tk", keptTk)
        .select(id, col("n_tokens"),
          (col("n_tokens") - size(col("_kept_tk"))).cast("long").as("n_masked"),
          array_join(col("_kept_tk"), " ").as("text_clean"))
    }
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * document by how much its HASHED-n-gram feature profile looks like a
    * `target` distribution rather than the raw corpus — the standard
    * cheap proxy for "select web data that resembles a high-quality
    * seed set". Features are salted-md5 word-unigram buckets (the
    * project's one cross-engine hash, [[SamplingOps.hashOf]]); per-bucket
    * probabilities are add-1-smoothed over `buckets` cells; a document's
    * log-weight is Σ_b count_b(doc) · (ln p̂_target(b) − ln p̂_raw(b)).
    *
    * Determinism contract: each per-bucket log-ratio double is pinned to
    * decimal(18,12) once (the [[graft.queries.GraftQueries]] x14 log
    * idiom), per-doc sums are exact decimal arithmetic (order- and
    * partitioning-independent), and the result rounds to 6 dp — so an
    * external engine reproduces every weight bit-for-bit.
    *
    * Returns one row per `docs` document: (`idCol`, `n_tokens`,
    * `dsir_logweight`). Resampling itself composes downstream: the
    * weights order is deterministic, so a pipeline takes its top-N with
    * [[graft.plans.GraftPlans.topKPerKey]] or thresholds on the weight.
    *
    * Shape at 100 TB: the model is `buckets` rows (a constant, default
    * 64 — production uses 10⁴, still tiny) built from two map-side
    * partial-aggregated counts; it is BROADCAST to the per-doc join, so
    * the only corpus-scale shuffle is the groupBy(`idCol`, bucket)
    * partial count. The target set is corpus-shaped but usually small;
    * its count aggregates map-side the same way. Nothing corpus-sized
    * reaches the driver.
    */
  def dsirLogWeights(docs: DataFrame, target: DataFrame, buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): DataFrame = {
    require(buckets >= 2, s"dsirLogWeights: buckets=$buckets must be >= 2")
    val id = ColNames.quotedCol(idCol)
    // One corpus tokenize feeds BOTH the raw model counts and the per-doc
    // scoring — and what gets CACHED is the per-(doc, bucket) COUNT
    // frame, bounded by docs x buckets, not the per-token explode (mean
    // doc length times smaller; the raw model counts are just sum(c)).
    // The split train/score entry points below pay a scan each instead,
    // the price of serving later batches.
    val perDocCounts = docs
      .select(id, explode(TextOps.tokens(ColNames.quotedCol(textCol))).as("w"))
      .select(id, pmod(SamplingOps.hashOf(col("w"), salt),
        lit(buckets.toLong)).as("bk"))
      .groupBy(id, col("bk")).agg(count(lit(1)).as("c"))
    Caching.withCached(perDocCounts) {
      val rawCounts = perDocCounts.groupBy("bk").agg(sum("c").as("cr"))
      val tgtCounts = bucketedTokens(target, textCol, salt, buckets)
        .groupBy("bk").agg(count(lit(1)).as("ct"))
      val model = modelFromCounts(rawCounts, tgtCounts, buckets)
      scoreFromDocCounts(perDocCounts, model, id)
    }
  }

  /** [[dsirLogWeights]] for the common call where the target IS a filter
    * of `docs` ("select web data that resembles my high-quality subset"):
    * the target's bucket counts derive from the SAME cached per-(doc,
    * bucket) count frame the raw model and the per-doc scoring already
    * share, so the corpus is tokenized ONCE instead of the general form's
    * twice (docs + target re-explode). Counter-identical by the
    * cms_freq-fusion algebra: summing a target doc's per-bucket counts IS
    * counting its token occurrences, and `filter(pred)` keeps exactly the
    * TRUE rows on both formulations — so the model, and therefore every
    * weight, is bit-for-bit the general form's. `targetPred` is evaluated
    * against the full `docs` row (any of its columns), BEFORE the token
    * explode.
    *
    * Shape at 100 TB: one corpus explode feeds raw counts, target counts
    * and scoring; both model counts are map-side partial aggregates of
    * the cached bounded (docs × buckets) frame. Everything else —
    * broadcast model, decimal-pinned log-ratios, exact per-doc sums — is
    * [[dsirLogWeights]] verbatim.
    */
  def dsirLogWeightsForSubset(docs: DataFrame, targetPred: Column,
      buckets: Int = 64, idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): DataFrame = {
    require(buckets >= 2, s"dsirLogWeightsForSubset: buckets=$buckets must be >= 2")
    val id = ColNames.quotedCol(idCol)
    // The id rides under a working name chosen to MISS every caller
    // column, as in [[decontaminate]], and is renamed back at the end: a
    // caller id named like one of the fixed working columns (`bk`, `c`,
    // `w`, `_tgt`, `lam`) used to make the per-doc frame ambiguous.
    val tmpId = ColNames.free(docs.columns.toSeq, "_graft_dsir_id")
    val perDocCounts = docs
      .select(id.as(tmpId), targetPred.as("_tgt"),
        explode(TextOps.tokens(ColNames.quotedCol(textCol))).as("w"))
      .select(col(tmpId), col("_tgt"), pmod(SamplingOps.hashOf(col("w"), salt),
        lit(buckets.toLong)).as("bk"))
      .groupBy(col(tmpId), col("_tgt"), col("bk")).agg(count(lit(1)).as("c"))
    Caching.withCached(perDocCounts) {
      val rawCounts = perDocCounts.groupBy("bk").agg(sum("c").as("cr"))
      val tgtCounts = perDocCounts.filter(col("_tgt"))
        .groupBy("bk").agg(sum("c").as("ct"))
      val model = modelFromCounts(rawCounts, tgtCounts, buckets)
      scoreFromDocCounts(perDocCounts.drop("_tgt"), model, col(tmpId))
        .withColumnRenamed(tmpId, idCol)
    }
  }

  /** Train side of [[dsirLogWeights]]: the per-bucket log-ratio model as
    * a `buckets`-row DataFrame (`bk` long, `lam` decimal(18,12)) — the
    * persistable unit ([[ModelIO.saveDsirModel]]) of the train-once /
    * persist / serve-later lifecycle. The caller serves later batches
    * with [[dsirScore]] under the SAME `buckets` and `salt` (they define
    * the feature space; the model rows don't re-encode them).
    */
  def trainDsirModel(raw: DataFrame, target: DataFrame, buckets: Int = 64,
      textCol: String = "text", salt: String = "dsir"): DataFrame = {
    require(buckets >= 2, s"trainDsirModel: buckets=$buckets must be >= 2")
    modelFromCounts(
      bucketedTokens(raw, textCol, salt, buckets)
        .groupBy("bk").agg(count(lit(1)).as("cr")),
      bucketedTokens(target, textCol, salt, buckets)
        .groupBy("bk").agg(count(lit(1)).as("ct")),
      buckets)
  }

  /** Serve side of [[dsirLogWeights]]: weigh `docs` under a trained (or
    * [[ModelIO.loadDsirModel]]-loaded) model. `buckets` and `salt` must
    * match training — they define the hash feature space.
    */
  def dsirScore(docs: DataFrame, model: DataFrame, buckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): DataFrame = {
    require(buckets >= 2, s"dsirScore: buckets=$buckets must be >= 2")
    val id = ColNames.quotedCol(idCol)
    val perDoc = docs
      .select(id, explode(TextOps.tokens(ColNames.quotedCol(textCol))).as("w"))
      .select(id, pmod(SamplingOps.hashOf(col("w"), salt),
        lit(buckets.toLong)).as("bk"))
      .groupBy(id, col("bk")).agg(count(lit(1)).as("c"))
    scoreFromDocCounts(perDoc, model, id)
  }

  private def bucketedTokens(df: DataFrame, textCol: String, salt: String,
      buckets: Int): DataFrame = df
    .select(explode(TextOps.tokens(ColNames.quotedCol(textCol))).as("w"))
    .select(pmod(SamplingOps.hashOf(col("w"), salt), lit(buckets.toLong)).as("bk"))

  /** Smoothed log-ratio model from per-bucket count frames (`bk`,`cr`)
    * / (`bk`,`ct`): a `buckets`-row frame (`bk`, `lam` decimal(18,12)).
    */
  private def modelFromCounts(rawCounts: DataFrame, tgtCounts: DataFrame,
      buckets: Int): DataFrame = {
    val spine = rawCounts.sparkSession.range(buckets).select(col("id").as("bk"))
    // Materialize the `buckets`-row count frame once: the totals below
    // would otherwise re-run the corpus aggregation per scalar, and the
    // checkpoint also severs the returned model's corpus lineage (it IS
    // the trained artifact).
    val joined = spine
      .join(rawCounts, Seq("bk"), "left")
      .join(tgtCounts, Seq("bk"), "left")
      .na.fill(0L, Seq("cr", "ct"))
      .localCheckpoint(true)
    // Totals enter as SCALAR SUBQUERIES over the checkpointed frame —
    // the 1-row crossJoin(broadcast(...)) alternative constant-folds
    // into the BroadcastNestedLoopJoin shape the plan audit bans (the
    // bloomGateAgainst rationale, DedupOps).
    def tot(c: String) = org.apache.spark.sql.graft.Bridge.scalarSubquery(
      joined.agg(sum(c).as(c)))
    // ln of a smoothed ratio, pinned to decimal(18,12) per bucket — the
    // model is tiny, so the decimal pin costs nothing and buys an
    // engine-reproducible weight.
    def lnp(c: String, tc: org.apache.spark.sql.Column) = log(
      (col(c) + 1L).cast("double") /
        (tc + lit(buckets.toLong)).cast("double"))
    joined.select(col("bk"),
      (lnp("ct", tot("ct")) - lnp("cr", tot("cr")))
        .cast("decimal(18,12)").as("lam"))
  }

  /** Per-doc exact-decimal weight sum from a per-(id, bk) COUNT frame
    * (`c` = tokens of that doc in that bucket) under a broadcast model.
    */
  private def scoreFromDocCounts(counts: DataFrame, model: DataFrame,
      id: org.apache.spark.sql.Column): DataFrame = counts
    .join(broadcast(model), "bk")
    .groupBy(id)
    .agg(sum("c").cast("long").as("n_tokens"),
      round(sum(col("c") * col("lam")).cast("double"), 6)
        .as("dsir_logweight"))
}
