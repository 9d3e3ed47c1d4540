package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path (north star, SURVEY.md §2.8).
  *
  * Scale design: brute force broadcasts the (small) QUERY side and streams
  * the corpus — one pass, no shuffle until the per-query top-k; cosine is a
  * codegen'd native expression ([[graft.functions.CosineSimilarity]]), so
  * the hot loop is a primitive double loop inside WholeStageCodegen. The
  * LSH variant buckets both sides by signature so each corpus row is
  * scored only against queries sharing a bucket — the candidate volume
  * drops from |Q|·|C| to the bucket-collision volume, which is what makes
  * 100 TB×top-k tractable; recall is tunable via tables×bits.
  */
object SimilarityOps {

  /** Exact top-k neighbors (cosine) of each query vector.
    *
    * Column contract (shared by [[lshTopK]] and [[ivfTopK]]): the query
    * side carries `(query_id, qv)` and the corpus side `(vec_id, cv)`,
    * with qv/cv the vector columns — callers rename via select, as the
    * registered queries do.
    *
    * @param queries (query_id, qv) — small side, broadcast
    * @param corpus  (vec_id, cv) — large side, streamed
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"))
    val c = corpus.select(col("vec_id"), col("cv"))
    val scored = c.join(broadcast(q),
        if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cos", GraftFunctions.cosine_sim(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Random-hyperplane (SimHash-for-vectors) signature: `bits`-bit long
    * column. Two vectors' signatures agree on a bit with probability
    * 1 - angle/π — near-identical vectors land in the same bucket.
    * Native expression ([[graft.functions.HyperplaneLshSignature]]): the
    * sign matrix is derived deterministically from splitmix64, so no model
    * is stored and results replay across JVMs.
    */
  def withLshSignature(df: DataFrame, vecCol: String,
      bits: Int = 16, table: Int = 0): DataFrame =
    df.withColumn(s"lsh_sig_$table",
      GraftFunctions.lsh_signature(col(vecCol), bits, table))

  /** LSH-bucketed approximate top-k: queries and corpus are both signed
    * with `tables` independent signatures; candidates = rows sharing any
    * bucket; exact cosine re-ranks candidates. Returns the same shape as
    * [[bruteForceTopK]] (possibly with < k rows per query when recall
    * misses). Column contract as [[bruteForceTopK]]: (query_id, qv) /
    * (vec_id, cv).
    *
    * Shuffle discipline: the bucket frames carry ONLY (id, table, sig) —
    * candidate pairs dedup on the 16-byte id pair, and the vectors join
    * back once for the exact re-rank. Carrying vectors through the
    * tables-way explode would multiply the shuffled payload by
    * tables×|vector| and make distinct() hash-compare full float arrays.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 12, tables: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    // persist (Caching.withCached): signatures are expensive per-row
    // projections consumed by the join; left lazy they'd be inlined and
    // recomputed per candidate.
    val qb = lshBuckets(queries, "query_id", "qv", bits, tables)
    val cb = lshBuckets(corpus, "vec_id", "cv", bits, tables)
    Caching.withCached(qb, cb) {
    val pairs = cb.join(broadcast(qb), Seq("t", "sig"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .select("query_id", "vec_id")
      .distinct()
    val candidates = pairs
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .join(corpus.select(col("vec_id"), col("cv")), "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    candidates
      .withColumn("cos", GraftFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
    }
  }

  /** The (id, t, sig) bucket frame of [[lshTopK]]'s candidate join — one
    * row per (row, table) with the table's `bits`-bit signature. Public
    * as the op's inspectable model surface: the value-exact oracle of the
    * registered `sim_topk_lsh` row dumps EXACTLY these frames during
    * Verify and replays the bucket join + exact cosine re-rank from them,
    * so the scoring/ranking arithmetic is hash-checked while the
    * signature artifact (splitmix64-derived, not SQL-expressible) is
    * pinned by sharing this code path with the op itself.
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, tables: Int): DataFrame = {
    val signed = (0 until tables).foldLeft(df)((d, t) =>
      withLshSignature(d, vecCol, bits, t))
    signed.select(col(idCol),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), col(s"lsh_sig_$t").as("sig"))): _*)).as("bk"))
      .select(col(idCol), col("bk.t").as("t"), col("bk.sig").as("sig"))
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    * every corpus vector to its nearest of `nlist` centroids (the inverted
    * lists); each query probes only its `nprobe` nearest lists and exact
    * cosine re-ranks the candidates.
    *
    * The quantizer is k-means trained to (near-)convergence: seed
    * centroids from a deterministic partition (vec_id % nlist), then Lloyd
    * iterations (assign to nearest centroid, re-average) until the max
    * centroid movement drops below 1e-6 or `trainIters` passes — fully
    * deterministic, so results replay across JVMs. A list that loses all
    * members during iteration keeps its previous centroid, so nlist stays
    * constant across Lloyd passes (a corpus with fewer rows than nlist
    * seeds fewer lists, and nprobe is clamped to the lists that exist). The
    * centroid "model" is tiny (nlist×dims, collected once per iteration
    * and broadcast as literals into a join-free codegen'd assignment), and
    * `nprobe == nlist` degenerates to exact brute force (asserted in
    * OpsSpec; recall@k at nprobe=2/nlist=8 is also spec-asserted).
    *
    * 100 TB posture: each Lloyd pass scans the TRAINING set, so
    * `trainFraction` takes a deterministic hash-sample of the corpus for
    * training (sampling is the standard IVF practice — centroids need
    * only the density shape); the full corpus is assigned exactly once.
    */
  /** @param centroids pre-trained quantizer model to reuse instead of
    *                   training here — the production pattern (train the
    *                   coarse quantizer once, serve many query batches /
    *                   days of corpus growth against it) and the reason
    *                   [[trainIvfCentroids]] is public. `None` trains
    *                   from `corpus` with the given parameters; passing
    *                   the model trained by the same parameters is
    *                   result-identical (training is deterministic).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, excludeSelf: Boolean = true,
      trainIters: Int = 10, trainFraction: Double = 1.0,
      centroids: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    require(trainIters >= 0 && trainFraction > 0 && trainFraction <= 1.0)
    val centroids0 = centroids.getOrElse(
      trainIvfCentroids(corpus, nlist, trainIters, trainFraction))
    // An empty corpus trains no quantizer: return the standard (empty)
    // result shape, matching bruteForceTopK/lshTopK on the same input —
    // the three top-k entry points are interchangeable.
    if (centroids0.isEmpty) return emptyTopK(queries, corpus)
    val assignedCorpus = assignListIds(corpus, centroids0, vecCol = "cv")
    val probedQueries = probeListIds(queries, centroids0, nprobe, vecCol = "qv")
      .select(col("query_id"), col("qv"), col("list_id"))
    // Probe: equi-join on list_id, exact re-rank.
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    assignedCorpus.join(broadcast(probedQueries), Seq("list_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cos", GraftFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Nearest-list assignment under a trained coarse quantizer: the input
    * frame plus a `list_id` column (argmax of centroid cosine, ties to the
    * larger id — the [[argmaxWith]] struct ordering). The SHARED
    * assignment expression of [[ivfTopK]]/[[ivfTopKQ8]]/[[encodePqCorpus]],
    * public so the Verify-time model dumps of the registered ANN rows
    * write exactly what the ops compute (shared code — the dump cannot
    * drift from the serve path).
    */
  def assignListIds(df: DataFrame, cents: Seq[(Int, Array[Double])],
      vecCol: String = "cv"): DataFrame =
    df.withColumn("list_id",
      argmaxWith(cents)(col(vecCol), 1).getItem(0).getField("id"))

  /** Probe selection under a trained coarse quantizer: one row per
    * (input row, probed list) — the `nprobe` most-similar centroids by
    * cosine, ties to the larger id (the [[argmaxWith]] sort order, which
    * the DuckDB oracles replay as `ORDER BY sim DESC, list_id DESC`).
    * Shared by the three IVF-family probe paths; nprobe is clamped to the
    * lists that exist.
    */
  def probeListIds(df: DataFrame, cents: Seq[(Int, Array[Double])],
      nprobe: Int, vecCol: String = "qv"): DataFrame =
    df.withColumn("probe",
        explode(argmaxWith(cents)(col(vecCol), math.min(nprobe, cents.size))))
      .withColumn("list_id", col("probe.id"))
      .drop("probe")

  private def emptyTopK(queries: DataFrame, corpus: DataFrame): DataFrame =
    queries.limit(0).crossJoin(corpus.limit(0))
      .select(col("query_id"), lit(0).cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cosine"))

  /** top-`take` (sim, id) centroid structs by cosine, sorted desc — the
    * native [[graft.functions.NearestCentroids]] kernel (r16): the model
    * ships as a broadcast handle (r17 — was a plan-embedded reference
    * object), so PLAN size is nlist-independent and
    * the corpus-sized assignment pass stays one whole-stage-codegen'd
    * call however large the quantizer grows. The composed literal-tree
    * form this replaces (one cosine_sim struct node per centroid) parsed
    * fine at nlist=8 but is a scale cliff: SemDeDup's √N sizing rule
    * puts nlist in the tens of thousands at corpus scale, where an
    * nlist-wide Catalyst tree blows janino's method limits — the exact
    * failure mode the PQ kernels solved the same way. Result-identical
    * to the composed form (spec-pinned, NearestCentroidsSpec): same
    * cosine doubles, same null-sim ordering, same larger-id tie-break.
    */
  private def argmaxWith(cents: Seq[(Int, Array[Double])])(v: Column, take: Int): Column =
    GraftFunctions.nearest_centroids(v, cents, take)

  /** Shared coarse-quantizer trainer of [[ivfTopK]] and [[ivfTopKQ8]];
    * corpus carries `(vec_id, cv)`. Returns the (possibly < nlist on tiny
    * corpora, empty on an empty corpus) centroid model. Public so callers
    * can train ONCE and serve many probe calls against the same model
    * (the production IVF pattern — and what sim_recall_ann does to score
    * both IVF paths without paying two identical k-means fits).
    */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int,
      trainIters: Int, trainFraction: Double): Seq[(Int, Array[Double])] = {
    // 1. Train the coarse quantizer: bucket means from a deterministic
    //    seed partition, then Lloyd iterations (assign → re-average) to
    //    movement < ε. Every step is deterministic: hash-sampled training
    //    set, modulo seed, and a driver-side movement test on the
    //    collected (tiny) centroid model. One shuffle per pass: the
    //    (list_id, pos) component means — nlist×dims rows — collect and
    //    assemble into vectors driver-side (that's the model fit, not a
    //    data collect).
    def meansOf(assigned: DataFrame): Seq[(Int, Array[Double])] = assigned
      .select(col("list_id"), posexplode(col("cv")).as(Seq("pos", "v")))
      // Decimal sum, not avg(double): double partial-aggregate merge order
      // varies with shuffle fetch order, so avg() is only deterministic up
      // to the last ulp — enough to flip an argmax near-tie and change
      // which list a vector lands in between runs. The decimal(38,12) sum
      // is order-independent (the project-wide idiom), making the trained
      // centroids — and therefore the probe results — replayable.
      .groupBy("list_id", "pos").agg(
        (sum(col("v").cast("decimal(38,12)")).cast("double")
          / count(lit(1))).as("m"))
      .collect()
      .groupBy(_.getAs[Number]("list_id").intValue())
      .map { case (id, rs) =>
        (id, rs.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toArray)
      }
      .toSeq.sortBy(_._1)
    val train0 = corpus.select(col("vec_id"), col("cv"))
    // Deterministic hash sample via the project's one blessed sampling
    // mechanism (SamplingOps); keep is floored at 1 so a tiny fraction
    // can never round to a keep-nothing filter.
    val train1 = if (trainFraction >= 1.0) train0
      else train0.filter(SamplingOps.hashSampleFlag(col("vec_id"),
        modulus = 1000000, keep = math.max(1, (trainFraction * 1e6).toInt),
        salt = "ivf"))
    withIsolatedTraining(train1) { train =>
      var cents = meansOf(
        train.select(pmod(col("vec_id"), lit(nlist)).as("list_id"), col("cv")))
      // A degenerate sample (few rows, or ids covering few residues mod
      // nlist) can seed fewer than nlist lists; re-seed from the full
      // corpus before accepting a smaller quantizer.
      if (cents.size < nlist && trainFraction < 1.0)
        cents = meansOf(
          train0.select(pmod(col("vec_id"), lit(nlist)).as("list_id"), col("cv")))
      var it = 0
      var moved = Double.MaxValue
      while (cents.nonEmpty && it < trainIters && moved > 1e-6) {
        val next = meansOf(train.select(
          argmaxWith(cents)(col("cv"), 1).getItem(0).getField("id").as("list_id"),
          col("cv"))).toMap
        val updated = cents.map { case (id, c) => (id, next.getOrElse(id, c)) }
        moved = cents.zip(updated).map { case ((_, a), (_, b)) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.maxOption.getOrElse(0.0)
        cents = updated
        it += 1
      }
      cents
    }
  }

  /** Shared Lloyd-loop scaffolding of [[trainIvfCentroids]] and
    * [[trainPqCodebooks]]: every training pass re-scans the training set,
    * so materialize it once and run the passes on a private session (same
    * SparkContext, own SQLConf) with the shuffle width sized to the
    * SAMPLE volume and AQE off — each pass's aggregate is sample-sized,
    * and paying the caller's corpus-wide partition count plus adaptive
    * re-planning per pass would dominate training time. The caller's
    * session conf is never touched; corpus-wide assign/probe joins still
    * plan at the caller's width.
    *
    * persist (not localCheckpoint): the training set is corpus-sized at
    * trainFraction=1.0, so its blocks must be RELEASED when training
    * ends (the Caching contract) — the finally guarantees it. The
    * session handoff moves the InternalRow RDD (Bridge), skipping the
    * per-vector InternalRow→Row→InternalRow serde of `.rdd`.
    */
  private def withIsolatedTraining[T](df: DataFrame)(f: DataFrame => T): T = {
    val callerSession = df.sparkSession
    val trainSession = callerSession.newSession()
    trainSession.conf.set("spark.sql.adaptive.enabled", "false")
    val trainMat = org.apache.spark.sql.graft.Bridge.ofInternalRows(
      trainSession, df.schema,
      org.apache.spark.sql.graft.Bridge.internalRows(df)).persist()
    try {
      val tparts = math.max(1L, math.min(
        callerSession.sparkContext.defaultParallelism.toLong,
        trainMat.count() / 100000L + 1L)).toInt
      trainSession.conf.set("spark.sql.shuffle.partitions", tparts.toString)
      f(trainMat.coalesce(tparts))
    } finally trainMat.unpersist(blocking = false)
  }

  /** [[ivfTopK]] with int8-quantized probe scoring: the corpus-sized
    * candidate join carries only the 1-byte-per-element qvec (4× narrower
    * shuffle/broadcast payload than fp32) and scores with the integer
    * [[graft.functions.Int8Cosine]] kernel — cosine is scale-invariant,
    * so the per-vector dequant scales cancel and no dequantization
    * happens in the hot loop. The top `rerank · k` int8 candidates per
    * query are then re-ranked with exact fp32 cosine (corpus vectors join
    * back by id — only the shortlist, queries·rerank·k rows, ever touches
    * fp32 again), which absorbs quantization noise: int8 ordering only
    * has to get the true top-k INTO the shortlist, not rank it.
    *
    * Same trainer, assignment, and output shape as [[ivfTopK]].
    * Approximate by design, but VALUE-EXACT under the driver oracle
    * since r16: the registered row's DuckDB oracle replays the
    * quantization chain, the integer kernel, the shortlist, and the
    * re-rank from the dumped quantizer model — a change to any of this
    * arithmetic must stay engine-replayable (exact-integer dots below
    * 2^53, IEEE sqrt/divide). Recall floors stay spec-asserted.
    */
  def ivfTopKQ8(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, excludeSelf: Boolean = true,
      trainIters: Int = 10, trainFraction: Double = 1.0,
      rerank: Int = 4,
      centroids: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    require(trainIters >= 0 && trainFraction > 0 && trainFraction <= 1.0)
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    val centroids0 = centroids.getOrElse(
      trainIvfCentroids(corpus, nlist, trainIters, trainFraction))
    if (centroids0.isEmpty) return emptyTopK(queries, corpus)
    // Assignment stays fp32 (one map pass, full precision decides the
    // lists); the probe payload is (list_id, vec_id, qvec) only.
    val qCorpus = quantizeInt8(
        assignListIds(corpus.select(col("vec_id"), col("cv")), centroids0, vecCol = "cv"),
        vecCol = "cv")
      .select(col("list_id"), col("vec_id"), col("qvec").as("cq"))
    val qQueries = probeListIds(
        quantizeInt8(queries.select(col("query_id"), col("qv")), vecCol = "qv"),
        centroids0, nprobe, vecCol = "qv")
      .select(col("query_id"), col("list_id"), col("qvec").as("qq"))
    val w8 = Window.partitionBy("query_id").orderBy(col("cos8").desc, col("vec_id").asc)
    val shortlist = qCorpus.join(broadcast(qQueries), Seq("list_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cos8", GraftFunctions.int8_cosine(col("qq"), col("cq")))
      .withColumn("r8", row_number().over(w8))
      .filter(col("r8") <= k.toLong * rerank)
      .select("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    // broadcast the SHORTLIST side of the re-rank join: it is bounded by
    // queries·rerank·k rows by construction, while the corpus side is the
    // full vector table — without the hint an SMJ here would shuffle the
    // whole corpus by vec_id, undoing the narrow-payload win the int8
    // probe just bought (ADVICE r11; plan-asserted in PlanAssertionsSpec).
    broadcast(shortlist)
      .join(corpus.select(col("vec_id"), col("cv")), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("cos", GraftFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Product-quantizer model: per subspace `s ∈ [0, m)`, the (code →
    * sub-centroid) codebook with codes contiguous `0..n-1`, so a code is
    * also the positional index into the per-query ADC table.
    */
  type PqCodebooks = Seq[(Int, Seq[(Int, Array[Double])])]

  /** Product-quantization codebooks for [[ivfTopKPq]]: `m` sub-codebooks
    * of up to `ksub` sub-centroids each, trained by the same deterministic
    * Lloyd recipe as [[trainIvfCentroids]] (hash-sampled training set,
    * modulo seed, decimal means, movement-ε stop) but in L2 over UNIT
    * vectors — cosine(q, x) = ⟨q̂, x̂⟩, and minimizing per-subspace L2
    * reconstruction error on x̂ is exactly minimizing the error of the
    * dot products the ADC score sums (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011).
    *
    * All m subspaces train in ONE aggregate per pass: each training row
    * explodes to its m (subspace, sub-vector, code) slices and a single
    * (s, code, pos) grouped mean rebuilds every sub-centroid — pass count
    * is `trainIters`, not `m × trainIters`. The per-pass collect is the
    * model fit (m·ksub·dsub = dims·ksub values — config-sized, like the
    * IVF centroid collect). A mis-declared `dims` fails loudly: every
    * trained sub-centroid must come back exactly `dims / m` wide.
    */
  def trainPqCodebooks(corpus: DataFrame, dims: Int, m: Int, ksub: Int,
      trainIters: Int, trainFraction: Double): PqCodebooks = {
    require(m >= 1 && dims >= m && dims % m == 0,
      s"dims=$dims must be a positive multiple of m=$m")
    require(ksub >= 1 && ksub <= 128, s"ksub=$ksub outside 1..128 (codes are tinyint)")
    require(trainIters >= 0 && trainFraction > 0 && trainFraction <= 1.0)
    val dsub = dims / m
    // Training rows carry the raw vector plus its materialized norm, so
    // the assignment expression never re-folds l2_norm per codeword.
    val base = corpus.select(col("vec_id"), col("cv"),
      graft.functions.GraftFunctions.l2_norm(col("cv")).as("nrm"))
    val train1 = if (trainFraction >= 1.0) base
      else base.filter(SamplingOps.hashSampleFlag(col("vec_id"),
        modulus = 1000000, keep = math.max(1, (trainFraction * 1e6).toInt),
        salt = "pq"))
    // (vec_id, cv, nrm) → m rows (s, code, sub) with sub the UNIT
    // sub-vector (zero vectors contribute zero sub-vectors, the "zero
    // unit" convention shared with labelPairMeans).
    def exploded(train: DataFrame, codes: Column): DataFrame = train
      .withColumn("codes", codes)
      .select(explode(transform(sequence(lit(0), lit(m - 1)), s =>
        struct(s.as("s"),
          transform(slice(col("cv"), s * lit(dsub) + lit(1), lit(dsub)),
            x => when(col("nrm") > 0.0, x.cast("double") / col("nrm"))
              .otherwise(lit(0.0))).as("sub"),
          element_at(col("codes"), s + lit(1)).as("code")))).as("e"),
        size(col("cv")).as("vlen"))
      .select(col("e.s").as("s"), col("e.code").as("code"), col("e.sub").as("sub"),
        col("vlen"))
    // Decimal component means per (subspace, code, position) — the
    // order-independent mean idiom of meansOf; the collect is the model.
    // The piggybacked vlen bounds validate `dims` against the ACTUAL
    // corpus width: declaring dims short would silently ignore the
    // vector tail, declaring it long would train truncated sub-centroids
    // — both fail loudly here instead.
    def pqMeans(assigned: DataFrame): Map[Int, Seq[(Int, Array[Double])]] = {
      val rows = assigned
        .select(col("s"), col("code"), col("vlen"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("s", "code", "pos").agg(
          (sum(col("v").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("mv"),
          min(col("vlen")).as("lmin"), max(col("vlen")).as("lmax"))
        .collect()
      rows.foreach { r =>
        val (lmin, lmax) = (r.getAs[Number]("lmin").intValue(), r.getAs[Number]("lmax").intValue())
        require(lmin == dims && lmax == dims,
          s"trainPqCodebooks: dims=$dims declared but corpus vectors have " +
            s"width $lmin..$lmax — dims mis-declared for this corpus")
      }
      rows
        .groupBy(r => (r.getAs[Number]("s").intValue(), r.getAs[Number]("code").intValue()))
        .map { case ((s, code), rs) =>
          require(rs.length == dsub,
            s"trainPqCodebooks: subspace $s code $code trained ${rs.length} " +
              s"components, expected dsub=$dsub")
          ((s, code), rs.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("mv")).toArray)
        }
        .groupBy(_._1._1)
        .map { case (s, entries) =>
          (s, entries.toSeq.map { case ((_, code), arr) => (code, arr) }.sortBy(_._1))
        }
    }
    // Contiguous 0..n-1 codes from the seed on (a sparse seed can skip
    // residues): a code is then exactly the positional index — both the
    // ADC-table lookup contract AND what pq_encode emits, so the Lloyd
    // loop's code-keyed matching stays aligned across passes.
    def toBooks(mp: Map[Int, Seq[(Int, Array[Double])]]): PqCodebooks =
      mp.toSeq.sortBy(_._1).map { case (s, words) =>
        (s, words.sortBy(_._1).zipWithIndex.map { case ((_, c), i) => (i, c) })
      }
    val seedCodes = array_repeat(pmod(col("vec_id"), lit(ksub)).cast("int"), m)
    withIsolatedTraining(train1) { train =>
      var cbs: PqCodebooks = toBooks(pqMeans(exploded(train, seedCodes)))
      // A degenerate sample (ids covering few residues mod ksub) seeds
      // fewer than ksub codewords; re-seed from the full corpus before
      // accepting a smaller codebook (the trainIvfCentroids convention).
      if (cbs.exists(_._2.size < ksub) && trainFraction < 1.0)
        cbs = toBooks(pqMeans(exploded(base, seedCodes)))
      var it = 0
      var moved = Double.MaxValue
      while (cbs.nonEmpty && it < trainIters && moved > 1e-6) {
        val next = pqMeans(exploded(train,
          GraftFunctions.pq_encode(col("cv"), bookArrays(cbs)).cast("array<int>")))
        // A codeword that loses all members keeps its previous centroid,
        // so codebook sizes stay constant across passes.
        val updated = cbs.map { case (s, words) =>
          val nm = next.getOrElse(s, Seq.empty).toMap
          (s, words.map { case (j, c) => (j, nm.getOrElse(j, c)) })
        }
        moved = cbs.zip(updated).flatMap { case ((_, ws), (_, us)) =>
          ws.zip(us).map { case ((_, a), (_, b)) =>
            math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
          }
        }.maxOption.getOrElse(0.0)
        cbs = updated
        it += 1
      }
      cbs
    }
  }

  /** Positional codebook arrays for the native PQ kernels — valid because
    * [[trainPqCodebooks]] keeps codes contiguous 0..n-1 per subspace.
    */
  private def bookArrays(cbs: PqCodebooks): Seq[Seq[Array[Double]]] =
    cbs.sortBy(_._1).map(_._2.sortBy(_._1).map(_._2))

  /** [[ivfTopK]] with product-quantized probe scoring (IVF-PQ, the
    * memory-bound ANN design of Jégou et al. TPAMI 2011): the coarse
    * quantizer routes as in [[ivfTopK]], but the corpus-sized candidate
    * join carries only an m-BYTE PQ code per vector — at the defaults,
    * 16 bytes against the q8 path's dims bytes and fp32's 4·dims — and
    * scores with the [[graft.functions.PqAdcScore]] lookup kernel: the
    * query side precomputes its m·ksub table of sub-codeword dots
    * (broadcast with the probes), so scoring a candidate is m table
    * lookups, zero vector arithmetic. The top `rerank · k` ADC candidates
    * per query re-rank in exact fp32 exactly as [[ivfTopKQ8]] — ADC only
    * has to get the true top-k INTO the shortlist.
    *
    * 100 TB posture: PQ is what makes a corpus-scale ANN index fit in
    * cluster memory — 16 bytes/vector is 16× less candidate shuffle than
    * fp32 — while training and tables stay config-sized. Same trainer
    * isolation, output shape, and determinism contract as its siblings;
    * recall vs brute force is pinned by sim_recall_ann and spec floors.
    *
    * @param dims vector dimensionality (must divide into m equal
    *             subspaces; validated against the corpus during training)
    */
  def ivfTopKPq(queries: DataFrame, corpus: DataFrame, k: Int, dims: Int,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 16, ksub: Int = 16,
      excludeSelf: Boolean = true,
      trainIters: Int = 10, trainFraction: Double = 1.0, rerank: Int = 4,
      centroids: Option[Seq[(Int, Array[Double])]] = None,
      codebooks: Option[PqCodebooks] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    require(trainIters >= 0 && trainFraction > 0 && trainFraction <= 1.0)
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, nlist, trainIters, trainFraction))
    if (cents.isEmpty) return emptyTopK(queries, corpus)
    val cbs = codebooks.getOrElse(
      trainPqCodebooks(corpus, dims, m, ksub, trainIters, trainFraction))
    if (cbs.isEmpty || cbs.forall(_._2.isEmpty)) return emptyTopK(queries, corpus)
    // Corpus probe payload: (list_id, vec_id, m-byte codes) — nothing else.
    pqProbeServe(queries, encodePqCorpus(corpus, cents, cbs), corpus,
      cents, cbs, k, nprobe, excludeSelf, rerank)
  }

  /** The (list_id, vec_id, codes) table [[ivfTopKPq]]'s candidate join
    * streams — corpus-linear to produce, which is why a deployment
    * builds it ONCE ([[buildPqIndex]]) instead of paying the assignment
    * + encode inside every probe call. Codes come from the
    * [[graft.functions.PqEncode]] kernel; assignment stays fp32.
    */
  def encodePqCorpus(corpus: DataFrame, cents: Seq[(Int, Array[Double])],
      cbs: PqCodebooks): DataFrame =
    assignListIds(corpus.select(col("vec_id"), col("cv")), cents, vecCol = "cv")
      .withColumn("codes", GraftFunctions.pq_encode(col("cv"), bookArrays(cbs)))
      .select(col("list_id"), col("vec_id"), col("codes"))

  /** IVF-PQ INDEX — the encode-once / serve-many artifact the 100 TB
    * deployment actually holds: the coarse quantizer + PQ codebooks
    * (config-sized) and the encoded corpus (m bytes/vector — the only
    * corpus-sized table a probe shuffles). [[ivfTopKPq]] re-encodes the
    * corpus inside every call; building the index once and serving via
    * [[ivfTopKPqIndexed]] amortizes that corpus-linear pass across every
    * query batch, exactly as [[DedupOps.DedupRefIndex]] does for the
    * dedup serve.
    */
  final case class PqIndex(encoded: DataFrame,
      centroids: Seq[(Int, Array[Double])], codebooks: PqCodebooks,
      dims: Int, m: Int)

  /** Train (or accept) the models and encode the corpus once.
    * `materialized = true` pins the encoded table (use before a
    * multi-batch serve loop so the encode lineage prices once). Serving
    * [[ivfTopKPqIndexed]] against the result is result-identical to
    * [[ivfTopKPq]] with the same models
    * (spec-pinned): encoding is a deterministic per-row map, so WHEN it
    * runs cannot change any score.
    */
  def buildPqIndex(corpus: DataFrame, dims: Int, nlist: Int = 8,
      m: Int = 16, ksub: Int = 16,
      trainIters: Int = 10, trainFraction: Double = 1.0,
      centroids: Option[Seq[(Int, Array[Double])]] = None,
      codebooks: Option[PqCodebooks] = None,
      materialized: Boolean = false): PqIndex = {
    require(trainIters >= 0 && trainFraction > 0 && trainFraction <= 1.0)
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, nlist, trainIters, trainFraction))
    val cbs = codebooks.getOrElse(
      trainPqCodebooks(corpus, dims, m, ksub, trainIters, trainFraction))
    val enc = encodedOrEmpty(corpus, cents, cbs)
    PqIndex(if (materialized) Caching.materialize(enc) else enc,
      cents, cbs, dims, m)
  }

  /** [[encodePqCorpus]], except an UNTRAINED model (empty corpus → no
    * centroids/codebooks) yields the empty codes table in the right
    * shape instead of failing analysis — the index then serves the
    * standard empty result, matching every top-k entry point's
    * empty-corpus contract. */
  private def encodedOrEmpty(corpus: DataFrame,
      cents: Seq[(Int, Array[Double])], cbs: PqCodebooks): DataFrame =
    if (cents.isEmpty || cbs.isEmpty || cbs.forall(_._2.isEmpty))
      corpus.limit(0).select(lit(0).cast("int").as("list_id"),
        col("vec_id"), typedLit(Seq.empty[Byte]).as("codes"))
    else encodePqCorpus(corpus, cents, cbs)

  /** [[ivfTopKPq]] served from a prebuilt [[PqIndex]] — the per-batch
    * serve call of the encode-once lifecycle. `corpus` supplies the
    * fp32 vectors for the exact re-rank of the ADC shortlist (the
    * classic IVF-PQ split: codes in memory, full vectors fetched by id —
    * the shortlist is k·rerank per query, so the fetch is a broadcast
    * join into the vector table, never a scan) and MUST be the table the
    * index encoded. An index built once and served many times makes
    * generation skew the realistic operator error, so it fails LOUDLY: a
    * shortlisted vec_id absent from `corpus` raises at CALL time naming
    * the miss count and a sample id, instead of silently dropping from
    * the re-rank. The check compares two materialized BOUNDED frames (the
    * shortlist and its corpus fetch, ≤ k·rerank·queries rows each — the
    * probe and the fetch join run exactly once), so this serve entry
    * point is EAGER; the fetch itself stays an inner broadcast-shortlist
    * join (an outer-join guard cannot broadcast the preserved small side
    * and would flip the build onto the corpus at scale).
    */
  def ivfTopKPqIndexed(queries: DataFrame, index: PqIndex,
      corpus: DataFrame, k: Int, nprobe: Int = 2,
      excludeSelf: Boolean = true, rerank: Int = 4): DataFrame = {
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    if (index.centroids.isEmpty ||
      index.codebooks.isEmpty || index.codebooks.forall(_._2.isEmpty))
      return emptyTopK(queries, corpus)
    pqProbeServe(queries, index.encoded, corpus, index.centroids,
      index.codebooks, k, nprobe, excludeSelf, rerank, strictCorpus = true)
  }

  /** Probe + ADC score + exact re-rank against an already-encoded
    * corpus — the shared serve core of [[ivfTopKPq]] (encode inline)
    * and [[ivfTopKPqIndexed]] (encode amortized in the index). */
  private def pqProbeServe(queries: DataFrame, assignedCorpus: DataFrame,
      corpus: DataFrame, cents: Seq[(Int, Array[Double])],
      cbs: PqCodebooks, k: Int, nprobe: Int, excludeSelf: Boolean,
      rerank: Int, strictCorpus: Boolean = false): DataFrame = {
    require(nprobe >= 1)
    val books = bookArrays(cbs)
    val probedQueries = probeListIds(
        queries.select(col("query_id"), col("qv"))
          .withColumn("tables", GraftFunctions.pq_tables(col("qv"), books)),
        cents, nprobe, vecCol = "qv")
      .select(col("query_id"), col("list_id"), col("tables"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = assignedCorpus.join(broadcast(probedQueries), Seq("list_id"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("adc", GraftFunctions.pq_adc_score(col("codes"), col("tables")))
      .withColumn("ra", row_number().over(wAdc))
      .filter(col("ra") <= k.toLong * rerank)
      .select("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    // broadcast the bounded shortlist for the fp32 re-rank, exactly as
    // ivfTopKQ8 (plan-asserted): an SMJ here would shuffle the full
    // vector table and undo the 16-byte-payload win. The fetch stays an
    // INNER join in BOTH modes — preserving the small side of an outer
    // join cannot broadcast it (a hash join can only stream the
    // preserved side), so a LEFT-join guard would silently flip the
    // build side onto the corpus at scale.
    val corpusVecs = corpus.select(col("vec_id"), col("cv"))
    val fetched =
      if (!strictCorpus) broadcast(shortlist).join(corpusVecs, "vec_id")
      else {
        // EAGER generation-mismatch guard at serve-call time: the
        // shortlist and its corpus fetch are both BOUNDED
        // (≤ k·rerank·queries rows), so materialize each once (the
        // probe and the corpus join run exactly once) and compare —
        // a shortlisted vec_id the corpus lacks throws here, naming
        // the count, instead of silently dropping from the re-rank.
        // The serve call therefore EXECUTES the probe on the strict
        // (indexed) path; the inline-encode path stays fully lazy.
        val sl = Caching.materialize(shortlist)
        val got = Caching.materialize(broadcast(sl).join(corpusVecs, "vec_id"))
        // broadcast: both sides are bounded, but checkpointed frames
        // carry no size stats, so the planner would SMJ without the hint
        // (LeftOuter may broadcast its right/build side).
        val missing = sl.join(broadcast(got.select(col("vec_id")).distinct()
            .withColumn("_f", lit(true))), Seq("vec_id"), "left")
          .filter(col("_f").isNull)
        // DISTINCT vec_ids, not shortlist rows: one corpus-absent vector
        // shortlisted by several queries is ONE mismatched id, and the
        // error should say so.
        val nMissing = missing.select(col("vec_id")).distinct().count()
        if (nMissing > 0) {
          val sample = missing.agg(min(col("vec_id"))).head().get(0)
          throw new IllegalStateException(
            s"ivfTopKPqIndexed: $nMissing distinct shortlisted vec_id(s) " +
              s"(e.g. $sample) are in the encoded index but missing from the " +
              "re-rank corpus — index/corpus generation mismatch (serve " +
              "against the corpus the index encoded, or rebuild/append " +
              "the index to match the corpus)")
        }
        got
      }
    fetched
      .join(broadcast(queries.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("cos", GraftFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic ±1 random projection (Achlioptas 2003, "Database-
    * friendly random projections"): project `dims`-dim vectors to
    * `outDims` via a Rademacher (±1) matrix — a valid Johnson-
    * Lindenstrauss transform, so pairwise geometry (and cosine, after
    * the implicit rescale) is preserved within the JL distortion. The
    * matrix entry (j, i) is derived from `md5("rp:salt:j:i")` — the
    * project's engine-portable hash idiom — so an external SQL oracle
    * regenerates the SAME matrix from scratch and the projection is
    * value-exact, not just statistically equivalent.
    *
    * Execution shape: the matrix is a driver-side literal (outDims×dims
    * doubles — config-sized), each output component one codegen'd
    * [[graft.functions.DotProduct]] against its literal row — a pure
    * map, no shuffle, no model state. The use case is the standard one:
    * cut embedding storage/shuffle width 4× (64→16) ahead of clustering
    * or dedup passes whose quality survives the distortion.
    */
  def randomProjection(emb: DataFrame, dims: Int, outDims: Int,
      salt: String = "rp", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDims >= 1 && dims >= outDims,
      s"randomProjection: outDims=$outDims outside 1..dims=$dims")
    val v = ColNames.quotedCol(vecCol)
    val rows = (0 until outDims).map { j =>
      (0 until dims).map(i => rademacher(salt, j, i).toDouble).toArray
    }
    emb.withColumn("projected",
      array(rows.map(r => GraftFunctions.dot_product(v, typedLit(r))): _*))
  }

  /** ±1 from the low bit of the md5-prefix hash of `salt:j:i` — matches
    * the SQL regeneration `('0x' || substr(md5(...), 1, 15))::BIGINT % 2`.
    */
  private def rademacher(salt: String, j: Int, i: Int): Int = {
    val h = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$salt:$j:$i")
        .substring(0, 15), 16)
    if (h % 2 == 0) 1 else -1
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space with the shared IVF quantizer, then prune
    * semantically-duplicate vectors WITHIN each cluster — vector v drops
    * iff some cluster-mate with a smaller id has cosine ≥ `threshold`.
    * (The deterministic keep-lowest-id variant of the paper's
    * within-cluster pruning; comparing against ALL smaller-id mates, not
    * just kept ones, makes the rule independent of evaluation order and
    * partitioning.)
    *
    * The SemDeDup trade vs the pair-graph path
    * ([[graft.ops.DedupOps.embeddingNearDupPairs]] → connected
    * components): comparisons are bounded per cluster — no global
    * candidate graph, no CC iteration — at the cost of missing
    * cross-cluster near-dups; grow `nlist` to shrink cluster volume.
    * Cluster skew rides the shared hot-bucket grid guard
    * ([[graft.ops.DedupOps.selfJoinWithinBuckets]]), so one popular
    * cluster cannot serialize the stage onto a single reducer.
    *
    * SIZING `nlist` (the 100 TB knob): the within-cluster rule is
    * quadratic per cluster — Σ|c|² ≈ N²/nlist comparisons for balanced
    * clusters — so a FIXED nlist does not scale: nlist must grow with
    * the corpus, and `nlist ≈ √N` (the paper's many-small-clusters
    * regime) keeps total comparisons ≈ N^1.5 while the centroid model
    * stays a broadcastable nlist×dims table. `nlist = 0` (the default)
    * derives exactly that: `max(16, ceil(√N))` from one corpus count —
    * pass an explicit nlist to pin a model size instead (the registered
    * query does, for oracle stability). ScaleProbe's semdedup-sizing
    * probe records Σ C(|c|,2) at two nlist values as the cost-law
    * evidence.
    *
    * Returns one row per vector: (vec_id, list_id, keep).
    */
  def semdedupKeepSet(emb: DataFrame, threshold: Double, nlist: Int = 0,
      trainIters: Int = 5, trainFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Seq[(Int, Array[Double])]] = None,
      hotBucketThreshold: Long = DedupOps.HotBucketThreshold,
      splitTarget: Long = DedupOps.HotBucketSplitTarget): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold outside (0, 1]")
    require(nlist >= 0, s"nlist=$nlist must be >= 0 (0 = derive ≈ √N)")
    val corpus = emb.select(ColNames.quotedCol(idCol).as("vec_id"),
      ColNames.quotedCol(vecCol).as("cv"))
    val cents = centroids.getOrElse {
      // nlist = 0 → the √N sizing rule from the scaladoc: one count()
      // (corpus-linear scan, model-sized result) so the default cannot
      // silently go quadratic on a corpus 1000× the one it was tuned on.
      val nlistEff =
        if (nlist > 0) nlist
        else math.max(16L, math.ceil(
          math.sqrt(corpus.count().toDouble)).toLong).toInt
      trainIvfCentroids(corpus, nlistEff, trainIters, trainFraction)
    }
    if (cents.isEmpty)
      return corpus.limit(0).select(col("vec_id"),
        lit(0).as("list_id"), lit(true).as("keep"))
    // Vector-value collapse BEFORE the within-cluster rule (the project's
    // dup-heavy-corpus posture, bit-layout fingerprint as in the pair
    // op): without it, a class of N identical vectors pays N²/2
    // within-cluster comparisons that all answer the same thing. The
    // canonical (min-id) representatives carry the quadratic rule; the
    // expansion is exact because identical vectors cluster identically
    // and (for non-zero vectors) any above-canonical copy has cosine 1.0
    // to its own canonical. Zero-norm classes are the one exception:
    // cosine against a zero vector is NULL, never ≥ τ, so zero copies
    // keep — preserved by the norm guard below.
    val keyed = corpus.withColumn("fp",
      md5(GraftFunctions.vector_bytes(col("cv"))))
    val reps = DedupOps.repsByMinId(keyed, "vec_id", "cv", lit(1L))
    val members = keyed.select(col("fp"), col("vec_id"))
    Caching.withCached(members, reps) {
      val assigned = reps.select(col("vec_id"), col("cv"))
        .withColumn("list_id",
          argmaxWith(cents)(col("cv"), 1).getItem(0).getField("id"))
      // persist: the assignment projection feeds the within-cluster
      // self-join (both sides, via its scoped persist) plus the final
      // left join — left lazy, every consumer re-runs the nlist-way
      // argmax per row.
      val canon = Caching.withCached(assigned) {
        // The within-cluster pair stream is Σ|c|² ≈ N²/nlist rows — N^1.5
        // under the √N sizing rule, the op's DOMINANT volume by far. It
        // must never hit an exchange or sorter: vectors ride THROUGH the
        // self-join as carry columns (each rep has exactly ONE cluster
        // row, so the carry widens the corpus-linear banded frame by one
        // vector — unlike the multi-band LSH ops, where carry would
        // multiply the banded frame by bands and the cross-band distinct
        // is load-bearing), and the cosine filter runs ON the join
        // output INSIDE the same stage, so only the filtered dropped ids
        // (≤ N) ever shuffle. The pre-r17 formulation materialized the
        // bare pair set through a distinct PLUS two vector-attach joins —
        // three full shuffles (and SMJ sorts) of the N^1.5 stream; at 5M
        // vectors (LinearProbe ×100) those sorts spilled ~80 GB and
        // killed the single-node run, while this shape completes with
        // zero pair-sized shuffle bytes. No distinct on the pairs: in
        // the healthy path each pair occurs once by construction (one
        // cluster per rep); grid-split hot buckets emit same-group pairs
        // at most twice, costing duplicate cosine evaluations map-side —
        // the final distinct on dropped ids folds any effect.
        val pairs = DedupOps.selfJoinWithinBuckets(
            assigned.select(col("vec_id").as("id"), col("list_id"), col("cv")),
            Seq("list_id"), carry = Seq("cv"),
            hotBucketThreshold = hotBucketThreshold, splitTarget = splitTarget)
        val dropped = pairs
          .filter(GraftFunctions.cosine_sim(col("cv_a"), col("cv_b")) >= threshold)
          .select(col("id_b").as("vec_id")).distinct()
        assigned
          .join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("list_id"), col("_drop").isNull.as("keep"))
      }
      // Singleton classes everywhere (the dup-light fast path, shared
      // 1-row switch): the canonical verdicts ARE the answer.
      if (DedupOps.maxLongOf(reps, "cnt") <= 1L) canon
      else {
        val classInfo = reps.select(col("fp"), col("vec_id").as("_canon"),
          (GraftFunctions.l2_norm(col("cv")) === 0.0).as("_zero"))
        members
          .join(classInfo, "fp")
          .join(canon.select(col("vec_id").as("_canon"),
            col("list_id"), col("keep").as("_ckeep")), "_canon")
          .select(col("vec_id"), col("list_id"),
            when(col("vec_id") === col("_canon"), col("_ckeep"))
              .otherwise(col("_zero")).as("keep"))
      }
    }
  }

  /** Within-label vs cross-label cosine statistics over all pairs (a<b) —
    * an embedding-space sanity metric. Cosines are summed as
    * decimal(18,12) so the aggregate is exact and order-independent
    * (double summation would be nondeterministic under Spark's partial
    * aggregation order).
    */
  /** EXACT within/cross-label pair-cosine means WITHOUT enumerating pairs:
    * for unit vectors u, Σ_{i<j} u_i·u_j = (‖Σu‖² − Σ‖u‖²)/2, so per-label
    * sums of unit-vector components determine every pairwise mean. One
    * tokenizing-free linear pass + a (label × dim)-sized aggregate — the
    * shipped 100 TB formulation of what the all-pairs
    * [[labelPairStatsBrute]] computes quadratically (that one remains the
    * spec cross-check at test scale; it also reports max_cosine, which has
    * no algebraic form).
    *
    * Determinism contract (oracle bit-exactness): component sums and all
    * cross-row additions are decimal(38,12) — order-independent — while
    * per-row/per-group products and divisions stay double (both engines
    * IEEE-identical). Pair counts use integer DIV, exact to ~3e9 rows per
    * label.
    *
    * Shape contract: always exactly two rows (cross, within) — on a
    * degenerate corpus (empty, or no two rows sharing a side) a group's
    * n_pairs is 0 and its avg_cosine NULL, where the brute twin simply
    * omits the group's row.
    */
  def labelPairMeans(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val dec = "decimal(38,12)"
    // Unit vector once per row; the array(norm) let-binding stops the norm
    // fold from being inlined (and re-evaluated) per element. Zero-norm
    // vectors map to all-zero units (not a divide — ANSI mode would throw
    // DIVIDE_BY_ZERO): contributing 0 to every component sum is exactly
    // "excluded from the dot products", matching the brute path where
    // cosine_sim against a zero vector is NULL and drops out of sum/max.
    val unit = element_at(
      transform(array(GraftFunctions.l2_norm(col(vecCol))),
        nrm => transform(col(vecCol),
          x => when(nrm > 0.0, x.cast("double") / nrm).otherwise(lit(0.0)))), 1)
    val e = emb.select(col(labelCol).as("label"), posexplode(unit).as(Seq("k", "uk")))
    val g = e.groupBy("label", "k").agg(
      sum(col("uk").cast(dec)).as("sk"),
      sum((col("uk") * col("uk")).cast(dec)).as("qk"))
    // NULL labels stay out of the WITHIN side (SQL: NULL = NULL is not
    // true, so two null-labeled rows form a CROSS pair — the brute twin's
    // when(la === lb) semantics); they still count in the total, so their
    // pairs land in cross via npt − npw.
    val perLabel = g.filter(col("label").isNotNull).groupBy("label").agg(
      sum((col("sk").cast("double") * col("sk").cast("double")).cast(dec)).as("s2"),
      sum(col("qk")).as("sq"))
    val counts = emb.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nl"))
    // counts LEFT-joins perLabel (not inner): a label whose rows all have
    // null/empty embeddings never posexplodes, so it is absent from the
    // component sums — but its PAIRS still exist and count as within
    // (contributing 0 cosine mass), exactly as the brute twin counts
    // them. An inner join would misclassify those pairs as cross.
    val wl = counts.join(perLabel, Seq("label"), "left").select(
      coalesce(((col("s2").cast("double") - col("sq").cast("double")) / 2).cast(dec),
        lit(0).cast(dec)).as("sc"),
      expr("nl * (nl - 1) DIV 2").as("np"))
    // coalesce: with NO non-null-labeled rows at all, sums over the empty
    // frame are NULL and would poison cross's npt − npw into NULL.
    val win = wl.agg(coalesce(sum(col("sc")), lit(0).cast(dec)).as("swc"),
      coalesce(sum(col("np")), lit(0L)).as("npw"))
    val ga = g.groupBy("k").agg(sum(col("sk")).as("sk"), sum(col("qk")).as("qk"))
    val tot = ga.agg(
        sum((col("sk").cast("double") * col("sk").cast("double")).cast(dec)).as("s2"),
        sum(col("qk")).as("sq"))
      .crossJoin(emb.agg(count(lit(1)).as("n")))
      .select(((col("s2").cast("double") - col("sq").cast("double")) / 2).cast(dec).as("st"),
        expr("n * (n - 1) DIV 2").as("npt"))
    val within = win.select(lit("within").as("grp"),
      col("npw").cast("bigint").as("n_pairs"),
      round(col("swc").cast("double") / col("npw").cast("double"), 6).as("avg_cosine"))
    val cross = tot.crossJoin(win).select(lit("cross").as("grp"),
      (col("npt") - col("npw")).cast("bigint").as("n_pairs"),
      round((col("st").cast("double") - col("swc").cast("double")) /
        (col("npt") - col("npw")).cast("double"), 6).as("avg_cosine"))
    cross.union(within)
  }

  /** Sampled label-pair statistics: [[labelPairStatsBrute]] (including
    * max_cosine, which has no algebraic form) over a deterministic
    * FIXED-SIZE sample — the `sampleSize` smallest rows by
    * [[SamplingOps.hashOf]] order (hash then id tie-break, so the DuckDB
    * oracle reproduces the selection and membership is stable as the
    * corpus grows only at the hash boundary). Fixed SIZE, not a fixed
    * fraction, is what actually bounds the quadratic: pair volume is
    * ≤ sampleSize²/2 and the broadcast side ≤ sampleSize rows no matter
    * how large the corpus is, and the selection itself is a per-partition
    * top-N + driver merge (TakeOrdered), never a full sort. Exact
    * corpus-wide means come from the algebraic [[labelPairMeans]].
    */
  def labelPairStatsSampled(emb: DataFrame, sampleSize: Int = 1000,
      salt: String = "lp"): DataFrame = {
    require(sampleSize > 1, s"labelPairStatsSampled: sampleSize=$sampleSize")
    labelPairStatsBrute(emb.orderBy(
      SamplingOps.hashOf(col("vec_id"), salt).asc, col("vec_id").asc)
      .limit(sampleSize))
  }

  /** Symmetric per-vector int8 quantization — the 4× memory/IO reduction
    * an ANN corpus takes before it ships to serving at scale. Adds
    * `scale` (= max|x| / 127, the dequant multiplier) and `qvec`
    * (`array<tinyint>`, element `floor(x / max|x| · 127)` ∈ [-127, 127]),
    * so `|x − q·scale| ≤ scale` per element. All-zero vectors quantize to
    * zeros with scale 0; a null vector stays null.
    *
    * Deterministic and engine-reproducible by construction: float→double
    * widening is exact, the max / divide / floor chain is IEEE-identical
    * everywhere — the DuckDB oracle recomputes it bit-for-bit. Pure
    * per-row map (no shuffle). Built on higher-order functions, which
    * evaluate interpreted: fine for a write-once pass over the corpus;
    * a serving-path hot loop would get a native expression like the
    * cosine kernel.
    */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = ColNames.quotedCol(vecCol)
    val mx = array_max(transform(v, x => abs(x.cast("double"))))
    df.withColumn("_mx", mx)
      .withColumn("scale", col("_mx") / 127d)
      .withColumn("qvec",
        when(col("_mx") === 0d, transform(v, _ => lit(0).cast("tinyint")))
          .otherwise(transform(v,
            x => floor(x.cast("double") / col("_mx") * 127).cast("tinyint"))))
      .drop("_mx")
  }

  def labelPairStatsBrute(emb: DataFrame): DataFrame = {
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"),
      col("label").as("la"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"),
      col("label").as("lb"))
    a.join(broadcast(b), col("ia") < col("ib"))
      .withColumn("cos", GraftFunctions.cosine_sim(col("va"), col("vb")))
      .withColumn("grp", when(col("la") === col("lb"), lit("within")).otherwise(lit("cross")))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("cos").cast("decimal(18,12)")).cast("double") / count(lit(1)), 6)
          .as("avg_cosine"),
        round(max(col("cos")), 6).as("max_cosine"))
      .select(col("grp"), col("n_pairs"), col("avg_cosine"), col("max_cosine"))
  }
}
