package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-multiplicity scale probe (SURVEY.md §8): replicate the
  * `documents` table `factor`× — every doc becomes a `factor`-copy exact
  * dup class, the dup-heavy regime real web crawls live in — and run the
  * named dedup/clustering/packing queries on the base and replicated
  * corpora, asserting the EXACT expansion algebra of each result shape
  * plus a wall-time-ratio ceiling. This automates the round-7 hand
  * recipe that caught candidate generation going quadratic in duplicate
  * multiplicity (the pre-collapse inverted index measured 109× slower on
  * a 10× corpus; the collapsed one ~constant-time plus the output-sized
  * expansion).
  *
  * Replica ids are `origId * factor + k` (k in [0, factor)), so
  * `origOf(id) = id / factor` recovers the base doc and every assertion
  * can be written as a distributed set comparison against the base
  * result — nothing corpus-sized is ever collected.
  *
  * Checked shapes:
  *  - pairs `(doc_a, doc_b, payload)`: cross-class orig-pairs must equal
  *    the base pair set exactly (same payloads) with every base pair
  *    expanded to exactly factor² member pairs; within-class pairs must
  *    form full C(factor, 2) cliques at the op's identical-copy payload,
  *    covering at least every doc that pairs in the base result.
  *  - components `(doc_id, component_id)`: factor× rows, and the
  *    orig-mapped (doc, component) set identical to base (min-member
  *    labels survive the id mapping because min commutes with it).
  *  - keep-set (`curate_near_dup`): orig-mapped kept set == base kept
  *    set; row count within [base, factor×base] (sub-shingle singletons
  *    legitimately keep every copy).
  *  - pack (`pipeline_pack_shards`): offsets are a correct prefix sum in
  *    key order starting at 0 and shard_id == offset / budget (the
  *    replicated corpus exercises the multi-partition path ~factor×
  *    harder). Row-count algebra is NOT asserted: the pipeline's eval
  *    split hashes doc_id, so replicas land in different splits by
  *    design.
  *
  * Usage: `runMain graft.tools.ScaleProbe <sfDir> <factor> [queries...]`
  * (defaults below). Exits non-zero on any failed assertion. The
  * wall-time ceiling (repSec ≤ factor × baseSec) is enforced only when
  * the base run itself is slow enough to be signal (> 3 s) — sub-second
  * bases drown in job-overhead noise; ScaleProbeSpec runs the algebra
  * checks at a small factor on sf0.001 in every `sbt test`.
  */
object ScaleProbe {

  /** Ownership marker [[replicateDir]] drops in its output directory; the
    * recursive wipe refuses any non-empty directory that lacks it. */
  val ProbeMarker = "_GRAFT_PROBE"

  /** Per-query check shape; `withinPayload` is the payload an
    * identical-copy pair carries (jaccard/cosine 1.0, hamming/dist 0) and
    * `idA`/`idB` the pair-id column names (`doc_a`/`doc_b` for text ops,
    * `vec_a`/`vec_b` for the embedding op).
    */
  sealed trait Kind
  final case class PairsKind(withinPayload: Double,
      idA: String = "doc_a", idB: String = "doc_b") extends Kind
  case object ComponentsKind extends Kind
  final case class KeepSetKind(idCol: String = "doc_id") extends Kind
  final case class PackKind(budget: Long) extends Kind

  /** Per-doc verdict rows `(id, match-count, payload, keep)` — the
    * incremental-dedup shape: under ×factor replication of BOTH sides of
    * the split every replica must report factor× its orig's match count
    * with payload and keep verdict unchanged (matching is text-exact, so
    * replication scales counts and nothing else).
    */
  final case class VerdictKind(idCol: String = "doc_id",
      countCol: String = "n_ref_dups", payloadCol: String = "best_jaccard",
      keepCol: String = "keep") extends Kind

  /** Per-vector `(id, cluster, keep)` rows — the SemDeDup shape. The
    * quantizer retrains on the replicated corpus (different id seeding →
    * possibly a different fixpoint), so base-vs-rep keep flags are NOT
    * comparable per orig; what replication guarantees structurally,
    * clustering-independent, is: rows scale ×factor, all copies of one
    * orig share a cluster (identical vectors assign identically), every
    * non-first replica drops (an identical smaller-id copy exists), and
    * at most one replica per orig is kept.
    */
  final case class SemDedupKind(idCol: String = "vec_id",
      listCol: String = "list_id", keepCol: String = "keep") extends Kind

  /** Per-doc paragraph-dedup rows `(doc_id, n_paras, n_kept, dedup_md5)`
    * — keep-first-global under replication: `origId*factor + k` preserves
    * base document order and puts the k=0 copy first, so that copy keeps
    * exactly what its orig kept in base (same rewrite md5) while every
    * k>0 copy keeps nothing (an identical paragraph always exists
    * earlier); `n_paras` is structural and replicates unchanged.
    */
  case object ParagraphDedupKind extends Kind

  /** Per-doc dup-span rows `(doc_id, n_tokens, dup_tokens)` under
    * replication: every n-gram gains `factor` text-identical homes, so
    * coverage SATURATES — `dup_tokens == n_tokens` for every doc with
    * ≥ `n` tokens, 0 for shorter docs; rows scale ×factor.
    */
  final case class DupSpansSaturationKind(n: Int) extends Kind

  /** Per-doc substring-REMOVAL rows `(doc_id, n_tokens, n_removed,
    * dedup_md5)` under replication. Replication makes EVERY gram
    * cross-doc duplicated, with each gram's kept occurrence in the k=0
    * replica of its base-first home (id mapping preserves document
    * order), so:
    *
    *  - every k>0 replica with ≥ `n` tokens is FULLY erased (its grams'
    *    kept occurrences all precede it — in its k=0 twin at latest),
    *    and shorter k>0 replicas pass through verbatim;
    *  - the k=0 replica's rewrite equals the SATURATED-corpus rewrite of
    *    its orig, which the probe replays EXACTLY on the base corpus as
    *    `dedupSubstringsAcrossDocs(base, minDocs = 1)` ("every occurring
    *    gram is duplicated"): gram kept-occurrences map 1:1 between base
    *    order and k=0-replica order, so counts and md5s must be
    *    bit-equal. (The former `n_removed(k=0) ≤ n_removed(base)` subset
    *    claim was NOT an invariant: a within-doc repeated gram that no
    *    other doc shares removes nothing in base — countDistinct(doc) <
    *    minDocs — but its replicated copies legitimately erase the later
    *    within-doc occurrence, and a newly-kept span can likewise rescue
    *    a position base removed; the saturated replay has neither
    *    blind spot.)
    */
  final case class SubstringDedupKind(n: Int) extends Kind

  /** Probe-sized result keyed by `keyCols` whose `countCols` must scale
    * EXACTLY ×factor under replication, with the key set unchanged — the
    * Count-Min shape (r19 — VERDICT r18 #6): every CMS counter cell is a
    * pure sum of token occurrences and the hash depends only on the token
    * string, so ×factor replication multiplies every cell (and therefore
    * every min-over-rows estimate, and every true count) by exactly
    * factor, while the top-k probe-token set and its (count desc, token)
    * order are invariant under the uniform scaling. Counter-sum
    * conservation is the sketch's constant-state claim made testable:
    * a sketch whose agg state grew with the corpus would have to break
    * this algebra or the wall ceiling.
    */
  final case class ScaledCountsKind(keyCols: Seq[String],
      countCols: Seq[String]) extends Kind

  /** Per-doc rows whose every non-id column is a pure function of the
    * row's own text — the C4-rules shape (r19): under replication each
    * replica must carry EXACTLY its orig's values (rows ×factor, each
    * orig's factor replicas unanimous and equal to the base row). Any
    * cross-row dependency sneaking into a "per-row codegen'd" op breaks
    * unanimity here.
    */
  final case class RowInvariantKind(idCol: String = "doc_id") extends Kind

  /** Temperature-sample rows `(idCol, groupCol)` — the α = 0.5 sampler's
    * membership re-derived from CLOSED FORM on each corpus: the probe
    * recomputes the op's integer thresholds driver-side from one
    * group-cardinality count of the corpus (n_g; w = max(1, floor(√n));
    * Σw; den = n·Σw; T = min(den div w); num = w·T — all exact long
    * arithmetic, √ is IEEE-correctly-rounded) and re-evaluates the hash
    * predicate; the query's output must equal the derivation EXACTLY on
    * base AND on the replicated corpus, where the input group counts must
    * equal factor × base (so the thresholds re-derive under n' = f·n and
    * w' = max(1, floor(√(f·n))) ≈ √f·w — the rebalance algebra at scale).
    */
  final case class TemperatureKind(groupCol: String = "lang",
      idCol: String = "doc_id", salt: String = "temp") extends Kind

  val defaultQueries: Seq[(String, Kind)] = Seq(
    "dedup_simhash_pairs" -> PairsKind(0.0),
    "dedup_minhash_lsh" -> PairsKind(1.0),
    "dedup_jaccard_exact" -> PairsKind(1.0),
    "dedup_jaccard_prefix" -> PairsKind(1.0),
    "dedup_winnow_pairs" -> PairsKind(1.0),
    "dedup_edit_distance" -> PairsKind(0.0),
    "dedup_embedding_pairs" -> PairsKind(1.0, idA = "vec_a", idB = "vec_b"),
    "dedup_components" -> ComponentsKind,
    "curate_near_dup" -> KeepSetKind(),
    // The longest-member policy under replication: identical-text
    // replicas merge each orig component into one, every replica keeps
    // its orig's n_chars, and the (n_chars DESC, id ASC) argmax lands on
    // the orig winner's k=0 replica — so the kept set maps 1:1 back to
    // the base winners, exactly KeepSetKind's algebra. Shares the rep
    // dir's memoized component labeling with the rows above.
    "curate_cluster_survivors" -> KeepSetKind(),
    "curate_semantic_dedup" -> KeepSetKind(idCol = "vec_id"),
    // curate_incremental_semantic is NOT probed: its new/ref split keys on
    // vec_id % 5, which the probe's id remapping (origId*factor + k) does
    // not preserve — replicas of one orig land on both sides and the
    // ×factor verdict algebra no longer holds. Its correctness is pinned
    // by the oracle row and the DedupSkewSpec/OpsSpec equality tests; the
    // VerdictKind machinery itself is exercised by the lexical row below.
    "curate_incremental_dedup" -> VerdictKind(),
    // The appended-index variant probes the EPOCH-APPEND path at factor:
    // its doc_id%2 epoch split is internal — append(build(A),B) serves
    // identically for ANY partition of the reference — so the ×factor
    // verdict algebra holds exactly as for the one-shot row above, and a
    // scale regression in the append merge (e.g. a corpus-sized probe)
    // shows up in the wall-time ceiling.
    "curate_incremental_append" -> VerdictKind(),
    "curate_semdedup" -> SemDedupKind(),
    "sample_temperature" -> TemperatureKind(),
    "text_paragraph_dedup" -> ParagraphDedupKind,
    "text_dup_spans" -> DupSpansSaturationKind(8),
    "text_substring_dedup" -> SubstringDedupKind(8),
    // r19 (VERDICT r18 #6): the four r18 queries get probe kinds.
    // Identical copies have overlap coefficient exactly 1.0, and the
    // containment score of a cross pair is set-determined — PairsKind's
    // factor² fan-out / within-clique algebra applies verbatim.
    "dedup_overlap_pairs" -> PairsKind(1.0),
    "stats_cms_freq" -> ScaledCountsKind(Seq("token"), Seq("n_true", "n_est")),
    "curate_c4_rules" -> RowInvariantKind(),
    "pipeline_pack_shards" -> PackKind(2000L))

  final case class Result(query: String, baseRows: Long, repRows: Long,
      baseSec: Double, repSec: Double, failures: Seq[String]) {
    def ok: Boolean = failures.isEmpty
  }

  /** Write replicated documents and embeddings tables into `outDir` and
    * symlink every other table from `baseDir` (the dir must look like a
    * full sf dir to any table loader).
    */
  /** @param perturbEmbeddings skewed profile: replica `k`'s embedding is
    *        scaled by (1 + k·1e-6) — sign-preserving, so every replica
    *        stays in its original sign buckets while being a DISTINCT
    *        vector. That is the regime the plain replication probe cannot
    *        see: duplicate collapse cannot shrink the buckets, and only
    *        the hot-bucket grid split (DedupOps.selfJoinWithinBuckets)
    *        keeps within-bucket work spread. Cosines are unchanged up to
    *        last-ulp rounding (cosine is scale-invariant), so pair
    *        ID-algebra still holds while payloads are compared only to
    *        round-6 tolerance by [[runSkew]]'s checks.
    */
  /** @param perturbDocuments disjoint-vocabulary profile (the MakeSf text
    *        scheme at probe scale): replica k > 0 suffixes every
    *        whitespace token with `~k`, so replicas share NO tokens with
    *        the base corpus or each other while each replica's internal
    *        token structure (counts, lengths) is preserved exactly. The
    *        regime for retrieval ops: a query over base vocabulary must
    *        do query-sized work and return base results no matter how
    *        much disjoint corpus surrounds them.
    */
  def replicateDir(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, perturbEmbeddings: Boolean = false,
      perturbDocuments: Boolean = false): Unit = {
    require(factor >= 2, s"replication factor must be >= 2, got $factor")
    val replicated = Map("documents.parquet" -> "doc_id",
      "embeddings.parquet" -> "vec_id")
    // The CLI reuses a fixed /tmp path: claimOutDir wipes it only when a
    // previous probe run marked it (ADVICE r11) and checks free space.
    MakeSf.claimOutDir(outDir, ProbeMarker, "ScaleProbe",
      factor * MakeSf.tableBytes(baseDir, replicated.keys))
    val out = Paths.get(outDir)
    // Absolute targets (a relative baseDir would make targets resolve
    // against outDir); the listing stream must be closed (it holds a
    // directory handle).
    val listing = Files.list(Paths.get(baseDir).toAbsolutePath.normalize())
    try listing.forEach { p =>
      if (!replicated.contains(p.getFileName.toString))
        Files.createSymbolicLink(out.resolve(p.getFileName), p)
    } finally listing.close()
    replicated.foreach { case (table, idCol) =>
      val base = spark.read.parquet(s"$baseDir/$table")
      val exploded = base.select(
          explode(array((0 until factor).map(lit): _*)).as("_k"),
          col("*"))
      val perturbed =
        if (perturbEmbeddings && table == "embeddings.parquet")
          exploded.withColumn("embedding", transform(col("embedding"), x =>
            (x.cast("double") * (lit(1.0) + col("_k").cast("double") * 1e-6))
              .cast("float")))
        else if (perturbDocuments && table == "documents.parquet")
          exploded.withColumn("text",
            when(col("_k") === 0, col("text")).otherwise(array_join(
              transform(split(col("text"), " "),
                w => concat(w, lit("~"), col("_k").cast("string"))), " ")))
        else exploded
      perturbed
        .select((col(idCol) * factor + col("_k")).as(idCol) +:
          base.columns.filter(_ != idCol).toIndexedSeq.map(col): _*)
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table")
    }
  }

  /** Skewed-profile probe for the embedding pair op: replicate with
    * sign-preserving DISTINCT perturbations ([[replicateDir]]'s
    * `perturbEmbeddings`), run [[graft.ops.DedupOps.embeddingNearDupPairs]]
    * with the hot-bucket guard forced active at probe scale, and assert
    * the ID-algebra: cross orig-pairs exactly the base pair set, and a
    * full C(factor, 2) within clique for every positive-norm orig (a
    * zero/null vector has NULL cosine and never pairs). Payloads are NOT
    * compared — scaling preserves cosine only to the last ulp. No
    * wall-time ceiling either: every within-clique pair is a TRUE pair,
    * so the output itself is quadratic in `factor` (that inherent growth
    * is the output's size, not a plan regression).
    */
  def runSkew(spark: SparkSession, baseDir: String, repDir: String, factor: Int,
      hotBucketThreshold: Long, splitTarget: Long): Result = {
    import graft.ops.DedupOps
    def pairs(dir: String, hot: Long, split: Long): DataFrame =
      DedupOps.embeddingNearDupPairs(spark.read.parquet(s"$dir/embeddings.parquet"),
        threshold = 0.4, dims = 64, hotBucketThreshold = hot, splitTarget = split)
    val t0 = System.nanoTime()
    val baseDf = pairs(baseDir, Long.MaxValue, Long.MaxValue)
    val baseRows = baseDf.count()
    val tBase = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val repDf = pairs(repDir, hotBucketThreshold, splitTarget)
    val repRows = repDf.count()
    val tRep = (System.nanoTime() - t1) / 1e9
    val errs = Seq.newBuilder[String]
    val mapped = repDf.select(origOf(col("vec_a"), factor).as("oa"),
      origOf(col("vec_b"), factor).as("ob"))
    val cross = mapped.filter(col("oa") =!= col("ob")).distinct()
    val baseSel = baseDf.select(col("vec_a").as("oa"), col("vec_b").as("ob"))
    val onlyRep = cross.except(baseSel).count()
    val onlyBase = baseSel.except(cross).count()
    if (onlyRep > 0) errs += s"$onlyRep skewed cross pairs absent from base result"
    if (onlyBase > 0) errs += s"$onlyBase base pairs lost under skewed replication"
    val clique = factor.toLong * (factor - 1) / 2
    val within = mapped.filter(col("oa") === col("ob"))
      .groupBy("oa").agg(count(lit(1)).as("cnt"))
    val badClique = within.filter(col("cnt") =!= clique).count()
    if (badClique > 0) errs += s"$badClique skewed dup classes without a full within clique"
    val pairable = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .filter(graft.functions.GraftFunctions.l2_norm(col("embedding")) > 0.0)
      .select(col("vec_id").as("oa"))
    val missing = pairable.except(within.select("oa")).count()
    if (missing > 0) errs += s"$missing positive-norm origs missing their within clique"
    Result("dedup_embedding_pairs[skew]", baseRows, repRows, tBase, tRep, errs.result())
  }

  /** BM25 retrieval under DISJOINT-vocabulary replication (r19 — VERDICT
    * r18 #6, the op's query-sized-work claim made testable): replicas
    * share no tokens with base ([[replicateDir]] `perturbDocuments`), so
    * for SINGLE-term queries over base vocabulary the result must be
    * INVARIANT — df and every matching doc's (tf, dl) are untouched, and
    * a one-term score is a positive per-query constant (the idf, which
    * legitimately shifts with N) times the doc's tf-saturation term, so
    * the (score desc, doc_id) ranking cannot move. Asserted: zero
    * contamination (every result doc is a k=0 replica) and the
    * orig-mapped (query, rank, doc) triples exactly equal to base.
    * Single-term queries are load-bearing: across terms idf shifts are
    * NON-uniform in df, so multi-term rankings may legitimately reorder
    * — that would test float luck, not the operator.
    */
  def runBm25(spark: SparkSession, baseDir: String, repDir: String,
      factor: Int, k: Int = 10): Result = {
    import graft.ops.TextOps
    val probes = Seq(1 -> "spark", 2 -> "join", 3 -> "customer")
    def ranked(dir: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("doc_id").asc)
      TextOps.bm25TopK(spark.read.parquet(s"$dir/documents.parquet"), probes, k = k)
        .withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("rank"), col("doc_id"))
    }
    val t0 = System.nanoTime()
    val baseDf = ranked(baseDir)
    val baseRows = baseDf.count()
    val tBase = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val repDf = ranked(repDir)
    val repRows = repDf.count()
    val tRep = (System.nanoTime() - t1) / 1e9
    val errs = Seq.newBuilder[String]
    val contaminated = repDf.filter(pmod(col("doc_id"), lit(factor)) =!= 0).count()
    if (contaminated > 0)
      errs += s"$contaminated result docs are disjoint-vocabulary replicas (k>0) — corpus size leaked into matching"
    val mapped = repDf.select(col("query_id"), col("rank"),
      origOf(col("doc_id"), factor).as("doc_id"))
    val onlyRep = mapped.except(baseDf).count()
    val onlyBase = baseDf.except(mapped).count()
    if (onlyRep > 0) errs += s"$onlyRep replicated rank rows absent from base top-$k"
    if (onlyBase > 0) errs += s"$onlyBase base rank rows lost under disjoint replication"
    Result(s"text_bm25_topk[disjoint x$factor]", baseRows, repRows, tBase, tRep,
      errs.result())
  }

  /** Cost-law evidence for [[graft.ops.SimilarityOps.semdedupKeepSet]]'s
    * nlist sizing rule: run the op on the replicated corpus at two nlist
    * values and report Σ C(|c|, 2) — the exact within-cluster comparison
    * budget the quadratic rule pays (the structural form of "cost scales
    * as Σ cluster²", free of timing noise). The larger nlist must
    * strictly shrink the budget, which is precisely why a fixed nlist
    * cannot scale and the op's default derives nlist ≈ √N.
    */
  def runSemDedupSizing(spark: SparkSession, dir: String,
      nlistLo: Int = 16, nlistHi: Int = 64): Result = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def probe(nlist: Int): (Long, Double) = {
      val t0 = System.nanoTime()
      val out = graft.ops.SimilarityOps.semdedupKeepSet(emb,
        threshold = 0.4, nlist = nlist, trainIters = 5, trainFraction = 0.25)
      val sumPairs2 = longScalar(out.groupBy("list_id")
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - lit(1)))))
      (sumPairs2 / 2, (System.nanoTime() - t0) / 1e9)
    }
    val (budgetLo, secLo) = probe(nlistLo)
    val (budgetHi, secHi) = probe(nlistHi)
    val errs = Seq.newBuilder[String]
    // GREW is the failure; a tie is allowed. On a degenerate corpus (every
    // vector replicated, collapse leaves few distinct reps) a higher nlist
    // can land identical assignments — equal budgets there are evidence of
    // the collapse working, not of the sizing rule failing.
    if (budgetLo > 0 && budgetHi > budgetLo)
      errs += s"nlist=$nlistHi budget $budgetHi grew vs nlist=$nlistLo ($budgetLo)"
    Result(s"curate_semdedup[nlist $nlistLo->$nlistHi]",
      budgetLo, budgetHi, secLo, secHi, errs.result())
  }

  /** 1-row aggregate read for the sizing probe's pair-budget scalar —
    * probe oracle, not an operator. */
  private def longScalar(df: DataFrame): Long = {
    val row = df.head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  private def origOf(c: Column, factor: Int): Column =
    floor(c / factor).cast("long")

  /** Cross-class pairs must be the base pair set × factor² with identical
    * payloads; within-class pairs full identical-payload cliques covering
    * at least every base-paired doc.
    */
  private def checkPairs(base: DataFrame, rep: DataFrame, factor: Int,
      kind: PairsKind): Seq[String] = {
    val PairsKind(withinPayload, idA, idB) = kind
    val payload = base.columns(2)
    val errs = Seq.newBuilder[String]
    val r = rep.select(origOf(col(idA), factor).as("oa"),
      origOf(col(idB), factor).as("ob"), col(payload))
    val cross = r.filter(col("oa") =!= col("ob"))
    val within = r.filter(col("oa") === col("ob"))

    val g = cross.groupBy("oa", "ob", payload).agg(count(lit(1)).as("cnt"))
    g.persist()
    try {
      val badFanout = g.filter(col("cnt") =!= factor.toLong * factor).count()
      if (badFanout > 0)
        errs += s"$badFanout cross orig-pairs not expanded exactly factor^2"
      val mapped = g.select(col("oa").as(idA), col("ob").as(idB), col(payload))
      val baseSel = base.select(col(idA), col(idB), col(payload))
      val onlyRep = mapped.except(baseSel).count()
      val onlyBase = baseSel.except(mapped).count()
      if (onlyRep > 0) errs += s"$onlyRep replicated cross pairs absent from base result"
      if (onlyBase > 0) errs += s"$onlyBase base pairs lost under replication"
    } finally g.unpersist(blocking = false)

    val clique = factor.toLong * (factor - 1) / 2
    val wg = within.groupBy("oa").agg(count(lit(1)).as("cnt"),
      sum(when(col(payload) =!= withinPayload, 1L).otherwise(0L)).as("badp"))
    wg.persist()
    try {
      val badClique = wg.filter(col("cnt") =!= clique).count()
      if (badClique > 0)
        errs += s"$badClique dup classes without a full C(factor,2) within clique"
      val badPayload = wg.filter(col("badp") > 0).count()
      if (badPayload > 0)
        errs += s"$badPayload dup classes with non-identity within payload"
      val basePaired = base.select(col(idA).as("d"))
        .union(base.select(col(idB).as("d"))).distinct()
      val missing = basePaired.except(wg.select(col("oa").as("d"))).count()
      if (missing > 0)
        errs += s"$missing base-paired docs missing their within-class clique"
    } finally wg.unpersist(blocking = false)
    errs.result()
  }

  private def checkComponents(base: DataFrame, rep: DataFrame,
      factor: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"components rows $repRows != factor * base ($baseRows)"
    val mapped = rep.select(origOf(col("doc_id"), factor).as("doc_id"),
      origOf(col("component_id"), factor).as("component_id")).distinct()
    val onlyRep = mapped.except(base).count()
    val onlyBase = base.except(mapped).count()
    if (onlyRep > 0) errs += s"$onlyRep replicated memberships absent from base"
    if (onlyBase > 0) errs += s"$onlyBase base memberships lost under replication"
    errs.result()
  }

  private def checkKeepSet(base: DataFrame, rep: DataFrame,
      factor: Int, idCol: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val baseKept = base.select(col(idCol))
    val baseRows = baseKept.count()
    val repRows = rep.count()
    if (repRows < baseRows || repRows > baseRows * factor)
      errs += s"keep-set rows $repRows outside [base, factor*base] = [$baseRows, ${baseRows * factor}]"
    val mapped = rep.select(origOf(col(idCol), factor).as(idCol)).distinct()
    val onlyRep = mapped.except(baseKept).count()
    val onlyBase = baseKept.except(mapped).count()
    if (onlyRep > 0) errs += s"$onlyRep replicated kept rows absent from base keep-set"
    if (onlyBase > 0) errs += s"$onlyBase base kept rows lost under replication"
    errs.result()
  }

  /** Offsets must be a prefix sum in (doc_id, chunk_idx) order from 0 and
    * shard_id == offset / budget. Probe-side single-partition window: the
    * pack RESULT is chunk-sized, and this is a test tool, not a shipped
    * operator.
    */
  private def checkPack(rep: DataFrame, budget: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (rep.filter(col("shard_id") =!= floor(col("token_offset") / budget)).count() > 0)
      errs += "shard_id != token_offset / budget"
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id", "chunk_idx")
    val seq = rep.select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        col("token_offset"))
      .withColumn("expected", coalesce(
        lag(col("token_offset") + col("chunk_tokens"), 1).over(w), lit(0L)))
    if (seq.filter(col("token_offset") =!= col("expected")).count() > 0)
      errs += "token_offset is not the prefix sum of chunk_tokens in key order"
    errs.result()
  }

  /** Every replica row must agree with its orig's verdict, with the match
    * count scaled by factor (each matching ref orig now has factor
    * text-identical ref copies) and payload/keep untouched. Set
    * comparisons are null-safe, so a no-match orig's null payload is
    * compared exactly.
    */
  private def checkVerdict(base: DataFrame, rep: DataFrame, factor: Int,
      kind: VerdictKind): Seq[String] = {
    val VerdictKind(idCol, countCol, payloadCol, keepCol) = kind
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"verdict rows $repRows != factor * base ($baseRows)"
    val mapped = rep.select(origOf(col(idCol), factor).as(idCol),
      col(countCol), col(payloadCol), col(keepCol))
    val g = mapped.groupBy(idCol, countCol, payloadCol, keepCol)
      .agg(count(lit(1)).as("cnt"))
    g.persist()
    try {
      val split = g.filter(col("cnt") =!= factor.toLong).count()
      if (split > 0)
        errs += s"$split orig docs whose replicas disagree on the verdict"
      val expected = base.select(col(idCol),
        (col(countCol) * factor).as(countCol), col(payloadCol), col(keepCol))
      val got = g.select(col(idCol), col(countCol), col(payloadCol), col(keepCol))
      val onlyRep = got.except(expected).count()
      val onlyBase = expected.except(got).count()
      if (onlyRep > 0) errs += s"$onlyRep replicated verdicts absent from scaled base"
      if (onlyBase > 0) errs += s"$onlyBase scaled base verdicts lost under replication"
    } finally g.unpersist(blocking = false)
    errs.result()
  }

  private def checkSemDedup(base: DataFrame, rep: DataFrame, factor: Int,
      kind: SemDedupKind): Seq[String] = {
    val SemDedupKind(idCol, listCol, keepCol) = kind
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"semdedup rows $repRows != factor * base ($baseRows)"
    val laterKept = rep.filter(pmod(col(idCol), lit(factor)) =!= 0 &&
      col(keepCol)).count()
    if (laterKept > 0)
      errs += s"$laterKept non-first replicas kept despite an identical smaller-id copy"
    val perOrig = rep.groupBy(origOf(col(idCol), factor).as("o"))
      .agg(countDistinct(col(listCol)).as("nl"),
        sum(when(col(keepCol), 1L).otherwise(0L)).as("nk"))
    perOrig.persist()
    try {
      val scattered = perOrig.filter(col("nl") =!= 1).count()
      if (scattered > 0)
        errs += s"$scattered origs whose identical copies landed in different clusters"
      val multiKeep = perOrig.filter(col("nk") > 1).count()
      if (multiKeep > 0)
        errs += s"$multiKeep origs with more than one kept replica"
    } finally perOrig.unpersist(blocking = false)
    errs.result()
  }

  private def checkParagraphDedup(base: DataFrame, rep: DataFrame,
      factor: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"paragraph-dedup rows $repRows != factor * base ($baseRows)"
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    val j = rep.select(origOf(col("doc_id"), factor).as("o"),
        pmod(col("doc_id"), lit(factor)).as("k"),
        col("n_paras"), col("n_kept"), col("dedup_md5"))
      .join(base.select(col("doc_id").as("o"), col("n_paras").as("bp"),
        col("n_kept").as("bkept"), col("dedup_md5").as("bmd5")), Seq("o"))
    j.persist()
    try {
      val badParas = j.filter(col("n_paras") =!= col("bp")).count()
      if (badParas > 0)
        errs += s"$badParas replicas with a different paragraph count than their orig"
      val badFirst = j.filter(col("k") === 0 &&
        (col("n_kept") =!= col("bkept") || col("dedup_md5") =!= col("bmd5"))).count()
      if (badFirst > 0)
        errs += s"$badFirst first replicas whose keep-set differs from the base rewrite"
      val badLater = j.filter(col("k") > 0 &&
        (col("n_kept") =!= 0L || col("dedup_md5") =!= emptyMd5)).count()
      if (badLater > 0)
        errs += s"$badLater non-first replicas kept a paragraph despite an earlier identical copy"
    } finally j.unpersist(blocking = false)
    errs.result()
  }

  private def checkSubstringDedup(spark: SparkSession, baseDir: String,
      base: DataFrame, rep: DataFrame, factor: Int, n: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"substring-dedup rows $repRows != factor * base ($baseRows)"
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e" // md5("")
    // The EXACT k=0 expectation, replayed on the base corpus: under full
    // replication every occurring gram is cross-doc duplicated and each
    // gram's kept occurrence sits in the k=0 replica of its base-first
    // home, so the k=0 rewrite is precisely the minDocs=1 ("saturated")
    // rewrite of base — see [[SubstringDedupKind]] for why the former
    // subset inequality was unsound for within-doc-only repeats.
    val saturated = graft.ops.TextOps.dedupSubstringsAcrossDocs(
        spark.read.parquet(s"$baseDir/documents.parquet"), n = n, minDocs = 1)
      .select(col("doc_id").as("o"), col("n_removed").as("xrm"),
        md5(col("text_dedup")).as("xmd5"))
    val j = rep.select(origOf(col("doc_id"), factor).as("o"),
        pmod(col("doc_id"), lit(factor)).as("k"),
        col("n_tokens"), col("n_removed"), col("dedup_md5"))
      .join(base.select(col("doc_id").as("o"), col("n_tokens").as("bn"),
        col("n_removed").as("brm"), col("dedup_md5").as("bmd5")), Seq("o"))
      .join(saturated, Seq("o"))
    j.persist()
    try {
      val badTok = j.filter(col("n_tokens") =!= col("bn")).count()
      if (badTok > 0)
        errs += s"$badTok replicas with a different token count than their orig"
      val badFirst = j.filter(col("k") === 0 &&
        (col("n_removed") =!= col("xrm") || col("dedup_md5") =!= col("xmd5"))).count()
      if (badFirst > 0)
        errs += s"$badFirst first replicas diverging from the saturated base replay"
      val badLaterLong = j.filter(col("k") > 0 && col("n_tokens") >= n &&
        (col("n_removed") =!= col("n_tokens") || col("dedup_md5") =!= emptyMd5)).count()
      if (badLaterLong > 0)
        errs += s"$badLaterLong non-first replicas not fully erased despite an earlier identical copy"
      val badLaterShort = j.filter(col("k") > 0 && col("n_tokens") < n &&
        (col("n_removed") =!= 0L || col("dedup_md5") =!= col("bmd5"))).count()
      if (badLaterShort > 0)
        errs += s"$badLaterShort sub-n replicas modified despite having no grams"
    } finally j.unpersist(blocking = false)
    errs.result()
  }

  private def checkTemperature(spark: SparkSession, baseDir: String,
      repDir: String, base: DataFrame, rep: DataFrame, factor: Int,
      kind: TemperatureKind): Seq[String] = {
    val TemperatureKind(groupCol, idCol, salt) = kind
    val errs = Seq.newBuilder[String]
    // Group-cardinality counts (≤ #languages rows) — probe oracle read,
    // like longScalar; nothing corpus-sized reaches the driver.
    def groupCounts(dir: String): Map[String, Long] =
      spark.read.parquet(s"$dir/documents.parquet")
        .groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseCounts = groupCounts(baseDir)
    val repCounts = groupCounts(repDir)
    if (repCounts != baseCounts.map { case (g, n) => g -> n * factor })
      errs += s"replicated group counts $repCounts != factor x base $baseCounts"
    // The op's exact integer thresholds, re-derived independently.
    def thresholds(counts: Map[String, Long]): Seq[(String, Long, Long)] = {
      val w = counts.map { case (g, n) =>
        g -> math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong) }
      val sw = w.values.sum
      val den = counts.map { case (g, n) => g -> n * sw }
      val t = counts.keys.map(g => den(g) / w(g)).min
      counts.keys.toSeq.map(g => (g, den(g), w(g) * t))
    }
    def checkSide(dir: String, counts: Map[String, Long], out: DataFrame,
        tag: String): Unit = {
      val sp = spark
      import sp.implicits._
      val thrDf = thresholds(counts).toDF(groupCol, "_den", "_num")
      val expected = spark.read.parquet(s"$dir/documents.parquet")
        .select(col(idCol), col(groupCol))
        .join(broadcast(thrDf), Seq(groupCol))
        .filter(pmod(graft.ops.SamplingOps.hashOf(col(idCol), salt),
          col("_den")) < col("_num"))
        .select(col(idCol), col(groupCol))
      val got = out.select(col(idCol), col(groupCol))
      val onlyOut = got.except(expected).count()
      val onlyExp = expected.except(got).count()
      if (onlyOut > 0)
        errs += s"$tag: $onlyOut sampled rows outside the closed-form membership"
      if (onlyExp > 0)
        errs += s"$tag: $onlyExp closed-form members missing from the sample"
    }
    checkSide(baseDir, baseCounts, base, "base")
    checkSide(repDir, repCounts, rep, s"x$factor")
    errs.result()
  }

  private def checkScaledCounts(base: DataFrame, rep: DataFrame, factor: Int,
      kind: ScaledCountsKind): Seq[String] = {
    val ScaledCountsKind(keyCols, countCols) = kind
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows)
      errs += s"scaled-counts rows $repRows != base ($baseRows) — probe-sized result must not grow"
    val expected = base.select(keyCols.map(col) ++
      countCols.map(c => (col(c) * factor).as(c)): _*)
    val got = rep.select((keyCols ++ countCols).map(col): _*)
    val onlyRep = got.except(expected).count()
    val onlyBase = expected.except(got).count()
    if (onlyRep > 0)
      errs += s"$onlyRep replicated count rows break exact x$factor conservation"
    if (onlyBase > 0)
      errs += s"$onlyBase scaled base count rows missing under replication"
    errs.result()
  }

  private def checkRowInvariant(base: DataFrame, rep: DataFrame, factor: Int,
      kind: RowInvariantKind): Seq[String] = {
    val idCol = kind.idCol
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"row-invariant rows $repRows != factor * base ($baseRows)"
    val others = base.columns.filterNot(_ == idCol).toIndexedSeq
    val mapped = rep.select(origOf(col(idCol), factor).as(idCol) +:
      others.map(col): _*)
    val g = mapped.groupBy((idCol +: others).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    g.persist()
    try {
      val split = g.filter(col("cnt") =!= factor.toLong).count()
      if (split > 0)
        errs += s"$split orig docs whose replicas disagree on the per-row result"
      val got = g.select((idCol +: others).map(col): _*)
      val onlyRep = got.except(base.select((idCol +: others).map(col): _*)).count()
      val onlyBase = base.select((idCol +: others).map(col): _*).except(got).count()
      if (onlyRep > 0) errs += s"$onlyRep replicated rows absent from the base result"
      if (onlyBase > 0) errs += s"$onlyBase base rows lost under replication"
    } finally g.unpersist(blocking = false)
    errs.result()
  }

  private def checkDupSpansSaturation(base: DataFrame, rep: DataFrame,
      factor: Int, n: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val baseRows = base.count()
    val repRows = rep.count()
    if (repRows != baseRows * factor)
      errs += s"dup-span rows $repRows != factor * base ($baseRows)"
    val bad = rep.filter(
      (col("n_tokens") >= n && col("dup_tokens") =!= col("n_tokens")) ||
        (col("n_tokens") < n && col("dup_tokens") =!= 0L)).count()
    if (bad > 0)
      errs += s"$bad replicated docs whose dup coverage is not saturated (every gram has $factor homes)"
    errs.result()
  }

  def run(spark: SparkSession, baseDir: String, repDir: String, factor: Int,
      queries: Seq[(String, Kind)], timeCeiling: Option[Double]): Seq[Result] = {
    queries.map { case (name, kind) =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query '$name'"))
      def timed(dir: String): (DataFrame, Long, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val n = df.count()
        (df, n, (System.nanoTime() - t0) / 1e9)
      }
      val (baseDf, baseRows, baseSec) = timed(baseDir)
      val (repDf, repRows, repSec) = timed(repDir)
      val failures = Seq.newBuilder[String]
      failures ++= (kind match {
        case p: PairsKind => checkPairs(baseDf, repDf, factor, p)
        case ComponentsKind => checkComponents(baseDf, repDf, factor)
        case KeepSetKind(idCol) => checkKeepSet(baseDf, repDf, factor, idCol)
        case v: VerdictKind => checkVerdict(baseDf, repDf, factor, v)
        case s: SemDedupKind => checkSemDedup(baseDf, repDf, factor, s)
        case ParagraphDedupKind => checkParagraphDedup(baseDf, repDf, factor)
        case t: TemperatureKind =>
          checkTemperature(spark, baseDir, repDir, baseDf, repDf, factor, t)
        case DupSpansSaturationKind(n) => checkDupSpansSaturation(baseDf, repDf, factor, n)
        case k: ScaledCountsKind => checkScaledCounts(baseDf, repDf, factor, k)
        case k: RowInvariantKind => checkRowInvariant(baseDf, repDf, factor, k)
        case SubstringDedupKind(n) =>
          checkSubstringDedup(spark, baseDir, baseDf, repDf, factor, n)
        case PackKind(budget) => checkPack(repDf, budget)
      })
      timeCeiling.foreach { c =>
        if (baseSec > 3.0 && repSec > c * baseSec)
          failures += f"wall-time ratio ${repSec / baseSec}%.1f exceeds ceiling $c%.1f"
      }
      Result(name, baseRows, repRows, baseSec, repSec, failures.result())
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val names = if (args.length > 2) args.drop(2).toSeq else defaultQueries.map(_._1)
    // Special one-probe modes share the replicate→run→report→exit shell
    // with the default suite; each differs only in its replication
    // profile, probe call, and row label.
    def oneProbe(repDir: String, perturb: Boolean, leftTag: String,
        rightTag: String, rowsLabel: String,
        probe: (SparkSession, String) => Result,
        perturbDocs: Boolean = false): Unit = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = graft.Sessions.local(cpus)
      replicateDir(spark, baseDir, repDir, factor, perturbEmbeddings = perturb,
        perturbDocuments = perturbDocs)
      val r = probe(spark, repDir)
      report(leftTag, rightTag, rowsLabel, Seq(r))
      spark.stop()
      if (!r.ok) sys.exit(1)
    }
    names match {
      // `... <sfDir> <factor> skew`: the skewed embedding profile
      // (distinct same-bucket vectors — the hot-bucket guard's regime).
      case Seq("skew") =>
        oneProbe(s"/tmp/graft_scale_probe_skew_f$factor", perturb = true,
          "base", s"x$factor", "rows", (sp, rd) => runSkew(sp, baseDir, rd,
            factor, hotBucketThreshold = 64L, splitTarget = 32L))
      // `... <sfDir> <factor> bm25`: disjoint-vocabulary replication —
      // the retrieval invariance probe (see [[runBm25]]).
      case Seq("bm25") =>
        oneProbe(s"/tmp/graft_scale_probe_bm25_f$factor", perturb = false,
          "base", s"x$factor", "rows",
          (sp, rd) => runBm25(sp, baseDir, rd, factor), perturbDocs = true)
      // `... <sfDir> <factor> semdedup-sizing [lo hi]`: the Σ C(|c|, 2)
      // budget at two nlist values — the nlist cost-law probe (defaults
      // 16→64; pass lo/hi to probe the √N regime — the native
      // NearestCentroids kernel keeps large-nlist assignment plannable,
      // r16). BOTH figures come from the replicated dir (the columns are
      // nlist settings, not a base-vs-replicated comparison — label them
      // as such).
      case "semdedup-sizing" +: rest =>
        val (lo, hi) = rest match {
          case Seq(l, h) => (l.toInt, h.toInt)
          case Seq() => (16, 64)
          case other => throw new IllegalArgumentException(
            s"semdedup-sizing takes [lo hi], got $other")
        }
        oneProbe(s"/tmp/graft_scale_probe_f$factor", perturb = false,
          s"nlist=$lo", s"nlist=$hi", "pairs",
          (sp, rd) => runSemDedupSizing(sp, rd, lo, hi))
      case _ =>
        val byName = defaultQueries.toMap
        val queries = names.map(n => n -> byName.getOrElse(n,
          throw new IllegalArgumentException(s"no check kind registered for '$n'")))
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
        val spark = graft.Sessions.local(cpus)
        val repDir = s"/tmp/graft_scale_probe_f$factor"
        replicateDir(spark, baseDir, repDir, factor)
        val results = run(spark, baseDir, repDir, factor, queries,
          timeCeiling = Some(factor.toDouble))
        report("base", s"x$factor", "rows", results)
        spark.stop()
        if (results.exists(!_.ok)) sys.exit(1)
    }
  }

  private def report(leftTag: String, rightTag: String, rowsLabel: String,
      rs: Seq[Result]): Unit =
    rs.foreach { r =>
      val status = if (r.ok) "PASS" else "FAIL"
      println(f"[probe] $status ${r.query}%-26s $leftTag ${r.baseRows}%9d $rowsLabel ${r.baseSec}%7.2f s" +
        f"  $rightTag ${r.repRows}%9d $rowsLabel ${r.repSec}%7.2f s" +
        (if (r.ok) "" else "  " + r.failures.mkString("; ")))
    }
}
