package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines: exact, fingerprint,
  * SimHash-banded, MinHash-LSH, and exact n-gram-Jaccard — each expressed
  * as shuffle-frugal DataFrame combinators (north star, SURVEY.md §2.8).
  *
  * Scale design (the point at 100 TB):
  *  - candidate generation is always an EQUI-JOIN on a small key (band
  *    value / shingle) — never a cross join — so Spark plans a shuffled
  *    hash join keyed by band, and each reducer sees only one bucket;
  *  - per-document work (hashing, signatures) is a map-side projection;
  *  - the verify step runs only on candidate pairs, which banding keeps
  *    ~linear in the number of true near-dups;
  *  - skew guards: the shingle-index ops cap degenerate ubiquitous
  *    shingles (`maxShingleDf`), and the banded LSH self-joins grid-split
  *    hot buckets ([[selfJoinWithinBuckets]]) so a popular bucket of
  *    DISTINCT members — the case duplicate collapse cannot touch —
  *    spreads across ~(n/splitTarget)² bounded tasks instead of
  *    serializing one reducer.
  */
object DedupOps {

  /** Buckets with more members than this are grid-split by
    * [[selfJoinWithinBuckets]]. 4096 members ≈ 8.4M same-bucket
    * comparisons — the most one task is allowed to own. */
  private[ops] val HotBucketThreshold = 4096L

  /** Hard cap on the per-partition key map of [[maxBucketUpperBound]]
    * (tier 1 of the hot-bucket guard). ~2M distinct keys ≈ 64 MB of
    * LongMap per task — comfortably inside the same executor-memory
    * envelope every hash aggregate in the plan assumes. A partition
    * with MORE distinct bucket keys than this abandons tier 1
    * ("bound unknown") rather than let the shuffle-free pre-pass
    * itself become the memory problem; the caller falls through to
    * the tier-2 exact count, which was always the safe path. */
  private[ops] val MaxTrackedBucketKeys = 1 << 21

  /** Sub-group size the grid split aims for: each (g1, g2) block compares
    * ≤ splitTarget² ≈ 4.2M element pairs, whatever the bucket size. */
  private[ops] val HotBucketSplitTarget = 2048L

  /** Within-bucket candidate pairs with a HOT-BUCKET SKEW GUARD — the
    * shared self-join core of the three banded LSH pair generators
    * (simhash / minhash / embedding sign bands). Input: one row per
    * (member id, bucket key), key columns `keyCols`, plus `carry`
    * columns to surface on both sides. Output: `id_a < id_b` pairs per
    * bucket with `<c>_a`/`<c>_b` for each carry column; duplicates only
    * arise inside split buckets and callers `.distinct()` (they already
    * must, across bands).
    *
    * Why: a band self-join is quadratic WITHIN a bucket, and one
    * overloaded bucket serializes the whole stage onto one reducer — the
    * scale-killer anisotropic real embeddings hit (a popular sign
    * orthant can hold a large corpus fraction of DISTINCT vectors, which
    * duplicate collapse cannot touch). The guard:
    *
    *  1. counts members per bucket (map-side partial agg) and reads the
    *     MAX count — one bounded row — as a switch: if no bucket exceeds
    *     the threshold, the op IS the original unguarded equi-join (no
    *     tag join, no union; the accounting pass is the only cost);
    *     otherwise the over-threshold survivors are few by definition
    *     and broadcast;
    *  2. rows in cold buckets take the plain `a.id < b.id` equi-join —
    *     byte-identical to the unguarded op, zero extra shuffle volume;
    *  3. rows in hot buckets are hash-assigned to `s = ceil(n /
    *     splitTarget)` sub-groups and the bucket's pair space is covered
    *     as the upper-triangular GRID of sub-group blocks: the a-side
    *     replicates each row to blocks (g, g..s-1), the b-side to blocks
    *     (0..g, g), and the join keys on (bucket, block) — every pair
    *     lands in exactly one block (its members' group pair), except
    *     same-group pairs which both orientations emit and `.distinct()`
    *     folds. Each block compares ≤ ~splitTarget² pairs, so no task
    *     exceeds the documented ceiling no matter how hot the bucket;
    *     replication cost (s+1 copies of hot-bucket rows) is paid ONLY
    *     by hot buckets. Candidate volume itself is unchanged — banding
    *     semantics decide candidacy, the guard only decides WHERE the
    *     comparisons run.
    */
  private[ops] def selfJoinWithinBuckets(rawBanded: DataFrame, keyCols: Seq[String],
      carry: Seq[String], hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget): DataFrame = {
    require(hotBucketThreshold >= 1, s"hotBucketThreshold must be >= 1, got $hotBucketThreshold")
    require(splitTarget >= 1, s"splitTarget must be >= 1, got $splitTarget")
    // Scope-persist the banded frame: the guard's pre-pass action and the
    // self-join would otherwise EACH recompute its lineage (the full
    // signature build — jobs never share exchanges); the pre-pass now
    // populates the cache the join reads. Released by the caller's
    // enclosing withCached (every pair op wraps one); narrow rows
    // (id + bucket key + carry), MEMORY_AND_DISK.
    val banded = Caching.scopedPersist(rawBanded)
    val keys = keyCols.map(col)
    def keyEq = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    def out(aLess: Column) =
      Seq(when(aLess, col("a.id")).otherwise(col("b.id")).as("id_a"),
        when(aLess, col("b.id")).otherwise(col("a.id")).as("id_b")) ++
        carry.flatMap(c => Seq(
          when(aLess, col(s"a.$c")).otherwise(col(s"b.$c")).as(s"${c}_a"),
          when(aLess, col(s"b.$c")).otherwise(col(s"a.$c")).as(s"${c}_b")))
    // Guard switch, two tiers. Tier 1: a SHUFFLE-FREE upper bound
    // ([[maxBucketUpperBound]] — one narrow scan, partition-local hash
    // counts, P longs to the driver) that confirms the healthy case
    // without the exact count's shuffle: with mostly-unique bucket keys,
    // the old groupBy-count's map-side combine shrank nothing, so its
    // shuffle was ~banded-volume and cost 0.6-0.9 s per op at sf0.1 on
    // every registered dataset — full price for a switch that always
    // read "no hot buckets". Tier 1 only runs when the partition count
    // leaves the bound headroom ([[tier1Eligible]]): every nonempty
    // partition contributes >= 1 to the sum-of-maxima, so at >= threshold
    // partitions the bound trips on perfectly healthy data and the cheap
    // pass would be pure added cost — a many-partition (cluster-scale)
    // frame goes straight to the exact count, whose shuffle is
    // proportionally cheap at that scale. Tier 2 (when tier 1 is skipped
    // or trips): the exact bounded-size agg + 1-row driver read, same documented
    // switch idiom as maxClassSize. In the healthy case the plan is the
    // ORIGINAL unguarded a<b equi-join: the always-on guard's extra
    // broadcast-tag join + two-branch union tripled the warm wall time of
    // every banded pair op (measured 2.1 s → 6.2 s at sf0.1) while the
    // hot side stayed empty. The grid-split machinery is only BUILT when
    // an over-threshold bucket actually exists.
    def plainJoin = banded.as("a").join(banded.as("b"),
        keyEq && col("a.id") < col("b.id"))
      .select(out(lit(true)): _*)
    if (tier1Eligible(banded, hotBucketThreshold) &&
        maxBucketUpperBound(banded, keyCols) <= hotBucketThreshold)
      return plainJoin
    val bucketCounts = banded.groupBy(keys: _*).agg(count(lit(1)).as("_bn"))
    if (maxLongOf(bucketCounts, "_bn") <= hotBucketThreshold) {
      return plainJoin
    }
    val hot = bucketCounts.filter(col("_bn") > hotBucketThreshold)
    val tagged = banded.join(broadcast(hot), keyCols, "left")
    val cold = tagged.filter(col("_bn").isNull).drop("_bn")
    val coldPairs = cold.as("a").join(cold.as("b"),
        keyEq && col("a.id") < col("b.id"))
      .select(out(lit(true)): _*)
    val hotRows = tagged.filter(col("_bn").isNotNull)
      .withColumn("_s", ceil(col("_bn").cast("double") / splitTarget).cast("int"))
      .withColumn("_g", pmod(xxhash64(col("id")), col("_s")).cast("int"))
      .drop("_bn")
    val aSide = hotRows.withColumn("_b2", explode(sequence(col("_g"), col("_s") - 1)))
    val bSide = hotRows.withColumn("_b1", explode(sequence(lit(0), col("_g"))))
    val hotPairs = aSide.as("a").join(bSide.as("b"),
        keyEq && col("a._g") === col("b._b1") && col("a._b2") === col("b._g") &&
          col("a.id") =!= col("b.id"))
      .select(out(col("a.id") < col("b.id")): _*)
    coldPairs.unionByName(hotPairs)
  }

  /** Pairs `(doc_a, doc_b)` (a<b) whose SimHash60 fingerprints differ by at
    * most `maxHamming` bits. Banding gives exactness-by-pigeonhole: with 4
    * bands of 15 bits, any pair within hamming distance 3 must agree on a
    * full band, so the band equi-join's candidate set provably contains
    * every qualifying pair; `bit_count(xor)` then verifies exactly.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4 bands of 15 bits guarantee recall only for hamming in [0, 3]")
    // persist (via Caching.withCached): the fingerprint must be computed
    // once per DOCUMENT. Left lazy, the optimizer inlines the hash
    // expression into the pair-join filter and recomputes it per CANDIDATE
    // PAIR — O(pairs) hashing instead of O(docs). Same pattern as Spark
    // ML's LSH models.
    withTextCollapse(docs, idCol, textCol, "hamming", lit(0).cast("int"),
        reps => reps /* identical copies always band together: all eligible */) { reps =>
    val sh = reps.select(
      col("id"),
      GraftFunctions.simhash60(TextOps.tokens(col("text"))).as("simhash"))
    Caching.withCached(sh) {
    val banded = sh.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), 15 * b).bitwiseAND(lit(0x7fffL)).as("bval"))): _*))
          .as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.bval"))
    // Hamming verifies IN-STAGE on the bucket join's own output, and only
    // the answer-sized survivors reach the cross-band distinct (keyed
    // (pair, hamming) — hamming is a pure function of the pair, so the
    // collapse is exact whichever band produced the row). The pre-r18
    // shape ran the distinct FIRST, on the raw candidate stream — and at
    // 4 fixed 15-bit bands that stream is quadratic in corpus density
    // (random collisions pile ~N/2¹⁵ reps per bucket): ShuffleAudit
    // measured its shuffle bytes growing 22.8× per 10× rows
    // (350 MB at 500k docs), where this shape shuffles only the banded
    // frame (corpus-linear) plus the true pairs. Same candidate-stream
    // discipline as the r17 semdedup/embedding reshape; the doomed
    // candidates still pay their popcount, but in CPU, never an exchange.
    selfJoinWithinBuckets(banded, Seq("band", "bval"), Seq("simhash"),
        hotBucketThreshold, splitTarget)
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming").cast("int").as("hamming"))
      .distinct()
    }
    }
  }

  /** MinHash-LSH near-dup pairs over word-`n`-gram shingles, verified with
    * EXACT Jaccard ≥ `threshold` on the candidate pairs. `bands`×`rowsPerBand`
    * minhashes; a pair is a candidate iff some band of its signatures
    * matches exactly (probability 1-(1-j^r)^b — at j=0.9, b=16, r=4 the miss
    * rate is ~4e-8, i.e. recall is 1 in practice while candidates stay
    * ~linear).
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.5,
      bands: Int = 16, rowsPerBand: Int = 4, shingleN: Int = 3, seed: Long = 42L,
      idCol: String = "doc_id", textCol: String = "text",
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget): DataFrame = {
    val k = bands * rowsPerBand
    // No inner persist: `base` is a pure projection of the collapse
    // wrapper's already-persisted reps frame, so its repeated consumers
    // (signature build + both verify sides) hit that cache directly.
    withSetCollapse(shingleSets(docs, shingleN, idCol, textCol), threshold) { (base, _) =>
    // Shingle-less docs (< shingleN tokens) are excluded BEFORE banding:
    // minhash of an empty set is the constant all-MaxValue signature, so
    // E empty docs would share every band key and enumerate O(E²)
    // candidate pairs — all doomed at verify (empty∩empty Jaccard is
    // null), but a quadratic blowup at web scale where empty/boilerplate
    // rows are common. The oracle's `WHERE len(tk) >= 3` matches.
    val sigs = base.filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"),
        GraftFunctions.minhash_signature(col("sh"), k, seed).as("sig"))
    // Band key: the r signature values of the band, stringified — an exact
    // match of all r minhashes. (Banding into a single long via slice+hash.)
    val banded = sigs.select(col("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))): _*))
          .as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    val candidates = selfJoinWithinBuckets(banded, Seq("band", "bkey"), Nil,
        hotBucketThreshold, splitTarget)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, base, threshold)
    }
  }

  /** Run a pair pipeline on exact-set-duplicate REPRESENTATIVES, then
    * expand verified pairs back to all members. Dup-heavy corpora (the
    * realistic web-crawl case) make shingle-index candidate volume
    * QUADRATIC in duplicate multiplicity: m copies of a document are
    * m·(m−1)/2 pairs re-discovered through every shared shingle — a 10×
    * replicated corpus measured 109× slower through the direct index.
    * Collapsing set-identical docs first (key: md5 over the ORDER-
    * NORMALIZED shingle set, so token order can't split a set class)
    * makes candidate generation and verification canonical-sized; only
    * the final expansion is output-sized — and the output IS inherently
    * quadratic in multiplicity, because every copy-pair is a true pair.
    *
    * Expansion is exact, not approximate: Jaccard depends only on the
    * shingle SETS, so every cross-class member pair inherits its rep
    * pair's value verbatim, and within-class pairs are 1.0 by definition
    * (emitted only for non-empty sets, matching the oracle's exclusion
    * of sub-`shingleN`-token docs — and only when `threshold ≤ 1`).
    */
  /** One row per `fp`: the class's min id, THAT member's `payload`
    * column, and the summed `cntExpr` — the ONE rep-frame definition
    * every collapse wrapper and ref-index builder shares (the append
    * merge passes the stored class counts as `cntExpr`; raw members
    * pass lit(1L) — sum(1) ≡ the old count(1)).
    *
    * Shape note (r21, measured and DELIBERATELY kept): min_by's
    * payload-typed buffer is not hash-aggregable, so this plans
    * Sort + SortAggregate — but the sorts are per-task, in-memory, and
    * corpus-LINEAR (the collapse input is one row per document, never
    * the exploded posting/pair streams), and they have never spilled
    * at any audited scale. The "ideal" hash-aggregate alternative
    * (narrow min+count agg, payload re-attached by a co-partitioned
    * shuffled-hash join) was built and interleave-A/B'd this round: it
    * LOST at both sf0.1 (2.68 vs 2.77 s winnow; 3.72 vs 5.21 s exact,
    * 3/3 rounds) and the ×100 dir (32.6 vs 43.8 s exact, 2/2 rounds) —
    * the extra join stage and narrow exchange cost more than two
    * bounded in-memory sorts save. Guide §1.1's loop: first-principles
    * said "remove the sorts", measurement said no.
    */
  private[ops] def repsByMinId(keyed: DataFrame, idName: String,
      payload: String, cntExpr: Column): DataFrame =
    keyed.groupBy("fp")
      .agg(min(col(idName)).as(idName),
        min_by(col(payload), col(idName)).as(payload),
        sum(cntExpr).as("cnt"))
      .select(col("fp"), col(idName), col(payload), col("cnt"))

  private def withSetCollapse(base: DataFrame, threshold: Double,
      scoreCol: String = "jaccard")(
      run: (DataFrame, Long) => DataFrame): DataFrame = {
    // Per-shingle md5 BEFORE concatenation: shingles are arbitrary
    // strings (crawl text can contain any separator byte), so no in-band
    // delimiter makes the serialization unambiguous - fixed-width hash
    // chunks do. Two different sets colliding now needs an md5 collision.
    val keyed = base.withColumn("fp",
      md5(concat_ws("", array_sort(transform(col("sh"), s => md5(s))))))
    val reps = repsByMinId(keyed, "id", "sh", lit(1L))
    // Persist the NARROW (fp, id) projection for the fan-out joins, not
    // the keyed frame with its shingle arrays — reps (canonical-sized)
    // carries the only array payload that must stay cached.
    val members = keyed.select(col("fp"), col("id"))
    Caching.withCached(members, reps) {
      // ONE pricing job (r21): the Σ posting count over the canonical
      // sets (the volume-sized partitioning input handed to `run`) and
      // the expansion switch's class-size max ride the same 1-row aggregate
      // over the cached reps frame, instead of one driver job each. The
      // job also populates the reps cache, so the op's main pass starts
      // from cached canonical sets exactly as before.
      val (postings, maxCnt) =
        sumAndMax(reps, size(col("sh")).cast("long"), col("cnt"))
      val repPairs = run(reps.select(col("id"), col("sh")), postings)
      if (math.max(1L, maxCnt) <= 1L) repPairs
      else {
        val withinFps = reps
          .filter(size(col("sh")) > 0 && lit(threshold) <= 1.0)
          .select(col("fp"))
        // Within-class pairs have IDENTICAL sets: jaccard and overlap
        // coefficient are both exactly 1.0, so one literal serves every
        // set-similarity score this wrapper hosts.
        expandCollapsed(members, reps, scoreCol, lit(1.0), withinFps, repPairs)
      }
    }
  }

  /** Largest duplicate-class size of a collapse wrapper's reps frame —
    * the dup-light fast-path switch: when every class is a singleton, the
    * expansion is the identity (cross mapping maps each rep to itself,
    * within cliques are empty), so the wrappers return the rep pairs
    * directly and skip five joins plus the members self-join — on
    * dup-light corpora (most curated inputs) the collapse machinery then
    * costs only the fingerprint groupBy. A 1-ROW driver aggregate over
    * the already-persisted canonical-sized reps frame, like the
    * P-row/centroid materializations pinned by CollectLintSpec — bounded
    * by design, never corpus-sized. Empty corpus → max is null → treated
    * as singleton (expansion of nothing is nothing either way).
    */
  private def maxClassSize(reps: DataFrame): Long =
    math.max(1L, maxLongOf(reps, "cnt"))

  /** The ONE driver-side max read behind every plan switch in this file
    * (dup-class size, hot-bucket counts): aggregates an already-bounded
    * frame to a single row. Bounded by construction at every call site —
    * never corpus-sized; pinned by CollectLintSpec. `private[ops]` so
    * sibling ops' plan switches (SemDeDup's collapse fast path) share
    * THIS read instead of growing the lint allowlist.
    */
  private[ops] def maxLongOf(df: DataFrame, c: String): Long =
    longAgg(df, max(col(c)))

  /** The single driver-side 1-row read both switches share. */
  private def longAgg(df: DataFrame, a: Column): Long = {
    val row = df.agg(a).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Job-fold of [[totalOf]] + [[maxLongOf]] for sites that need BOTH a
    * Σ price and a max over one already-cached frame: a single 1-row
    * aggregate instead of two driver jobs (r21 — pricing jobs are the
    * fixed per-call latency of every collapse wrapper and serve path,
    * a full scheduler round-trip each on a real cluster). Bounded like
    * its parents — always a 1-row read (CollectLintSpec).
    */
  private def sumAndMax(df: DataFrame, priceExpr: Column, m: Column): (Long, Long) = {
    val row = df.agg(coalesce(sum(priceExpr), lit(0L)).cast("long"), max(m)).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Is the tier-1 bound worth computing for this frame? The
    * sum-of-per-partition-maxima is floored by the nonempty-partition
    * count (every nonempty partition contributes >= 1), so once the
    * frame has more than threshold/4 partitions the bound would trip on
    * healthy data most of the time and tier 1 becomes a pure extra scan
    * before the inevitable exact count. The /4 headroom leaves room for
    * benign per-partition multiplicities of ~4 (hash-collision typical)
    * at the largest eligible partition count. Partition count comes
    * from the physical plan — no job runs.
    */
  private def tier1Eligible(banded: DataFrame, hotBucketThreshold: Long): Boolean =
    banded.rdd.getNumPartitions.toLong * 4L <= hotBucketThreshold

  /** SHUFFLE-FREE upper bound on the max bucket multiplicity of `banded`
    * under `keyCols` — the tier-1 hot-bucket switch. Per partition, a
    * local hash count of key multiplicities keeps the partition MAX; the
    * SUM of per-partition maxima bounds any single bucket's global count
    * (a bucket's count is the sum of its per-partition counts, each ≤
    * that partition's max). xxhash64 key collisions only MERGE buckets
    * and overcount, so the bound stays an upper bound. One narrow scan
    * of the banded frame (no shuffle — the exact groupBy-count's map-side
    * combine shrinks nothing when bucket keys are mostly unique, so its
    * shuffle is ~banded-volume), and the driver reads one partition-count
    * row. Memory: one LongMap of the partition's DISTINCT keys — bounded
    * by partition row count AND hard-capped at `maxTrackedKeys`
    * ([[MaxTrackedBucketKeys]]): a pathological many-distinct-keys
    * partition reports "bound unknown" (→ Long.MaxValue, so the caller
    * takes the tier-2 exact count) instead of growing the map past the
    * envelope every hash aggregate in the plan already assumes. A
    * legitimately hot dataset trips the bound
    * (possibly spuriously near the threshold — sum-of-maxima overcounts
    * when a bucket spreads across partitions) and pays the tier-2 exact
    * count; healthy corpora — every registered dataset — skip it.
    */
  private[ops] def maxBucketUpperBound(banded: DataFrame,
      keyCols: Seq[String],
      maxTrackedKeys: Int = MaxTrackedBucketKeys): Long = {
    import banded.sparkSession.implicits._
    val perPartitionMax = banded
      .select(xxhash64(keyCols.map(col): _*).as("k")).as[Long]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var mx = 0L
        var capped = false
        while (!capped && it.hasNext) {
          val k = it.next()
          val c = counts.getOrElse(k, 0L) + 1L
          // A NEW key past the cap → stop scanning (the rest of the
          // partition can't lower an upper bound anyway) and report the
          // -1 "bound unknown" sentinel for this partition.
          if (c == 1L && counts.size >= maxTrackedKeys) capped = true
          else {
            counts.update(k, c)
            if (c > mx) mx = c
          }
        }
        Iterator.single(if (capped) -1L else mx)
      }.toDF("mx")
    // Any -1 "unknown" partition poisons the whole bound to MaxValue
    // (caller → tier-2); one combined aggregate keeps this the same
    // single 1-row driver read longAgg always was (CollectLintSpec).
    longAgg(perPartitionMax,
      when(min(col("mx")) < 0L, lit(Long.MaxValue)).otherwise(sum(col("mx"))))
  }

  /** [[withSetCollapse]]'s sibling for pipelines whose candidate AND
    * verify logic depend on the full TEXT (token sequence / characters),
    * not just the shingle set: simhash (token-sequence fingerprint),
    * winnow candidates (positional windows), edit distance (characters).
    * Text-identity is the collapse key (`split(text, " ")` is injective,
    * so text-identical iff token-sequence-identical); copies of one text
    * behave identically through any such pipeline, making the expansion
    * exact. `withinEligible` filters the rep frame to classes whose
    * copies DO pair under the op's own candidate rule (e.g. winnow-gated
    * ops never pair docs with < minShared fingerprints, identical copies
    * included) and `withinValue` is the payload an identical pair gets
    * (hamming/dist 0, jaccard 1.0).
    */
  private def withTextCollapse(docs: DataFrame, idCol: String, textCol: String,
      payloadCol: String, withinValue: Column,
      withinEligible: DataFrame => DataFrame)(
      run: DataFrame => DataFrame): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("fp", md5(col("text")))
    val reps = repsByMinId(keyed, "id", "text", lit(1L))
    // As in [[withSetCollapse]]: cache the narrow (fp, id) projection and
    // the canonical-sized reps — never the full corpus text payload.
    val members = keyed.select(col("fp"), col("id"))
    Caching.withCached(members, reps) {
      val repPairs = run(reps.select(col("id"), col("text")))
      if (maxClassSize(reps) <= 1L) repPairs
      else expandCollapsed(members, reps, payloadCol, withinValue,
        withinEligible(reps).select(col("fp")), repPairs)
    }
  }

  /** Shared expansion core of the collapse wrappers: map rep-pair ids back
    * to class keys, fan out to every member pair (cross-class pairs
    * inherit the rep payload; orientation is re-derived with
    * least/greatest since member ids need not sort like their reps), and
    * add within-class pairs for the eligible classes. Every join is an
    * equi-join; the fan-out is output-sized — the true answer's size.
    */
  private def expandCollapsed(members: DataFrame, reps: DataFrame,
      payloadCol: String, withinValue: Column, withinFps: DataFrame,
      repPairs: DataFrame): DataFrame = {
    val repFp = reps.select(col("id"), col("fp"))
    val cross = repPairs
      .join(repFp.select(col("id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(repFp.select(col("id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .join(members.select(col("fp").as("fp_a"), col("id").as("xa")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("id").as("xb")), "fp_b")
      .select(least(col("xa"), col("xb")).as("doc_a"),
        greatest(col("xa"), col("xb")).as("doc_b"), col(payloadCol))
    val within = members.join(withinFps, "fp")
    val withinPairs = within.as("x")
      .join(within.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        withinValue.as(payloadCol))
    cross.unionByName(withinPairs)
  }

  /** Exact n-gram-Jaccard pairs via a shingle inverted index: explode
    * distinct shingles, self-equi-join on the shingle, count shared
    * shingles per pair (= |intersection|), then Jaccard from the per-doc
    * set sizes. No cross join anywhere; `maxShingleDf` drops degenerate
    * ubiquitous shingles (stopword-run guard, counted over distinct SETS
    * after the [[withSetCollapse]] duplicate collapse — duplication alone
    * no longer pushes a shingle over the cap) — at this data's vocabulary
    * no shingle comes close, so the result is still exact. With an ACTIVE
    * cap the result is inexact by documented design, and the collapse
    * shifts it further: within-class pairs (identical texts — true dups
    * by definition) are always emitted, where the pre-collapse index
    * dropped them too once every shared shingle was capped.
    */
  /** Partition count for a posting-list join whose OUTPUT explodes
    * quadratically per bucket, or None when the session default already
    * bounds the work. AQE sizes a stage's reducers from its INPUT
    * statistics, so an exploding join runs on input-sized task counts:
    * each task then partial-aggregates an exploded slice whose hash map
    * outgrows its share of execution memory, and the partial aggregate
    * degrades to sort-based spill with near-passthrough shuffle output
    * (ShuffleAudit r18: dedup_jaccard_exact wrote 18× the bytes for 10×
    * the rows with 8 GB of sort spill at sf10). Pinning the join's
    * partitioning to the POSTING count keeps per-task exploded volume —
    * and the aggregate's map — bounded as the corpus grows: the
    * in-operator analogue of sizing shuffle partitions to data volume on
    * a real cluster. Capped at 4096 so a
    * pathological count can't plan a million tasks.
    */
  private[ops] def explodedJoinPartitions(spark: org.apache.spark.sql.SparkSession,
      inputRows: Long, rowsPerTask: Long = 1L << 19): Option[Int] = {
    // The RAW conf value, not SQLConf.numShufflePartitions: with AQE
    // coalescing on, the latter reports initialPartitionNum (Sessions
    // sets 8× cores), which silently disabled this guard everywhere —
    // p never exceeded it, every volume-sized repartition was skipped,
    // and the agg exchanges fell back to AQE's byte-sized coalescing
    // (caught because the r18 PlanMetrics dump showed zero
    // REPARTITION_BY_NUM exchanges where three were expected).
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.min(4096L, (inputRows + rowsPerTask - 1) / rowsPerTask)
    if (p > base) Some(p.toInt) else None
  }

  /** Σ rows the frame's `n` column counts — the posting total that sizes
    * [[explodedJoinPartitions]]; one tiny aggregate over an (already
    * cached) per-doc frame. */
  private[ops] def totalOf(sized: DataFrame, n: String): Long =
    sized.agg(coalesce(sum(col(n)), lit(0L))).head().getLong(0)

  def jaccardPairs(docs: DataFrame, threshold: Double = 0.5, shingleN: Int = 3,
      maxShingleDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withSetCollapse(shingleSets(docs, shingleN, idCol, textCol), threshold) {
      (base, postings) =>
        jaccardFromCounts(pairIntersectionCounts(base, maxShingleDf, postings),
          threshold)
    }

  /** Overlap-coefficient near-dup pairs: |∩| / min(|A|, |B|) ≥ threshold
    * over the same word-n-gram shingle sets as [[jaccardPairs]]. The
    * overlap coefficient is the CONTAINMENT detector resemblance misses:
    * a truncation, excerpt, or quote whose shingles are a subset of a
    * longer document scores 1.0 here while its Jaccard (divided by the
    * UNION) can be arbitrarily low — the FineWeb-style "longest member
    * survives" policy exists precisely because crawl dups are usually
    * subsumptions, and this operator finds them directly. Since
    * |∩|/min ≥ |∩|/|∪| always, the output is a superset of
    * [[jaccardPairs]] at the same threshold (spec-pinned).
    *
    * Same machinery, same 100 TB posture: duplicate collapse before the
    * inverted index, fnv64 posting keys, volume-sized pair aggregation
    * with sizes riding the posting rows — only the scoring tail differs,
    * so the scale fixes measured for the Jaccard family hold here by
    * construction.
    */
  def overlapPairs(docs: DataFrame, threshold: Double = 0.8, shingleN: Int = 3,
      maxShingleDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withSetCollapse(shingleSets(docs, shingleN, idCol, textCol), threshold,
        scoreCol = "overlap") { (base, postings) =>
      pairIntersectionCounts(base, maxShingleDf, postings)
        .withColumn("overlap", round(col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6))
        .filter(col("overlap") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("overlap"))
    }

  /** Shared count-based candidate machinery of the set-similarity family:
    * inverted-index self-join on fnv64(shingle) → one row per
    * (doc_a < doc_b) candidate with `(n_a, n_b, n_inter)`. All the
    * measured scale shapes live HERE once — corpus-sized partitioning for
    * the exploding self-join, the optional `maxShingleDf` skew guard, and
    * the volume-sized pair aggregation (r18: the partial/final agg pair
    * at AQE-chosen task counts spilled 22 GB at sf10; repartitioning the
    * incidence stream by the PAIR key at Σ df·(df−1)/2-sized parallelism
    * bounds every agg map by construction) — so every scoring tail
    * (jaccard, overlap coefficient) inherits them identically.
    */
  /** @param postings Σ set sizes over `base` (the posting-row total that
    *                  sizes the exploding join) — priced by the caller's
    *                  collapse wrapper in the same 1-row job as the
    *                  expansion switch (r21), so no sizing job runs here.
    */
  private def pairIntersectionCounts(base: DataFrame, maxShingleDf: Int,
      postings: Long): DataFrame = {
    // The inverted index joins on fnv64(shingle) — an 8-byte key instead
    // of a ~20-byte string roughly halves the heaviest shuffle. Distinct
    // shingles colliding would miscount an intersection; at 64 bits the
    // probability is ~|shingles|²/2⁶⁵ (≈1e-9 at 10⁵ distinct) — the
    // standard trade for exact-dedup pipelines at scale.
    // `n` rides on every posting row (+4 bytes) so the pair aggregate can
    // group on (ids, sizes) and score WITHOUT attaching sizes afterwards:
    // PlanMetrics at sf10 showed the old `inter JOIN sizes JOIN sizes`
    // tail SMJ-sorting the 112M-pair stream twice (7.5 GB of sort spill,
    // 2.3 GB of exchanges) to deliver two ints per pair. n is
    // functionally dependent on the id, so the widened grouping key is
    // the same groups.
    val inv = base.select(col("id"), size(col("sh")).as("n"),
        explode(col("sh")).as("sh_str"))
      .select(col("id"), col("n"), GraftFunctions.fnv64(col("sh_str")).as("shingle"))
    // Skew guard via groupBy+co-partitioned join (not a window: a window
    // would sort the whole inverted index inside each shuffle partition).
    // Skipped when inactive — Jaccard stays exact and the index saves a
    // pass. NOTE: with the cap active, pairs dominated by capped shingles
    // lose intersection counts — at 100 TB that is the intended trade
    // (ubiquitous shingles carry no near-dup signal).
    val filtered =
      if (maxShingleDf == Int.MaxValue) inv
      else {
        val dfCounts = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf)
          .select("shingle")
        inv.join(dfCounts, Seq("shingle"), "left_semi")
      }
    // Corpus-sized partitioning for the exploding self-join (see
    // [[explodedJoinPartitions]]); filter/alias preserve the hash
    // partitioning, so both join sides stay co-partitioned and the join
    // itself adds no exchange.
    val sized = explodedJoinPartitions(base.sparkSession, postings)
      .map(p => filtered.repartition(p, col("shingle"))).getOrElse(filtered)
    val a = sized.as("a"); val b = sized.as("b")
    val joined = a.join(b,
      col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
    // Volume-sized pair aggregation: map-side combining is near-useless
    // here (a pair's incidence rows scatter across shingle partitions —
    // PlanMetrics at sf10: 126M → 125M rows, 0.8% combined, while the
    // partial agg spilled 10.7 GB and the final — planned at AQE's
    // byte-sized reducer count, millions of map entries per task —
    // spilled 10.4 GB more). When the exact pair volume (one df-count
    // pass over the already-repartitioned index, priced only when the
    // guard is active) is large, repartition the incidence stream by the
    // PAIR key at volume-sized parallelism: the aggregate's distribution
    // is already satisfied, so no further exchange is added and every
    // agg map is bounded by construction.
    val pairVol = if (postings < (1L << 19)) 0L
      else totalOf(sized.groupBy("shingle").agg(count(lit(1)).as("df"))
        .select((col("df") * (col("df") - lit(1)) / 2).cast("long").as("n")), "n")
    val pre = explodedJoinPartitions(base.sparkSession, pairVol)
      .map(p => joined.repartition(p, col("a.id"), col("b.id"))).getOrElse(joined)
    pre.groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Shared scoring tail of the count-based Jaccard formulations:
    * jaccard = n_inter / (n_a + n_b − n_inter), rounded to 6 then
    * thresholded — one place so the exact and cross-corpus operators
    * cannot silently diverge on rounding/threshold boundary semantics.
    * `aCol`/`bCol` name the pair-id columns
    * (`doc_a`/`doc_b` for the symmetric family, `new_id`/`ref_id` for
    * the asymmetric reference join).
    */
  private def jaccardFromCounts(pairs: DataFrame, threshold: Double,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    pairs
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))

  /** Asymmetric exact-Jaccard near-dup join: every NEW document against a
    * REFERENCE corpus — the incremental-crawl staple (dedupe today's
    * batch against the already-curated training set) the symmetric pair
    * ops can't express without re-pairing the reference against itself.
    * Output: one row per qualifying `(new_id, ref_id)` with
    * `jaccard >= threshold`; new×new and ref×ref pairs are never formed,
    * so the join cost scales with the BATCH, not the accumulated corpus².
    *
    * Shape mirrors [[jaccardPairs]]: candidates via the shingle inverted
    * index joined ACROSS sides only (equi-join on fnv64(shingle) — same
    * 8-byte key / collision trade), intersection by count, verify via the
    * shared [[jaccardFromCounts]] tail. Both sides are set-collapsed
    * first (same md5-chunk fingerprint as [[withSetCollapse]]): the
    * candidate and verify stages run on canonical sets, and only the
    * final expansion is output-sized. The asymmetric expansion needs no
    * within-clique branch — a new doc identical to a ref doc pairs
    * through the rep pair itself (equal sets → jaccard 1.0), and copies
    * WITHIN one side never pair by contract. `maxShingleDf` counts
    * document frequency over BOTH collapsed sides: a shingle ubiquitous
    * in either corpus carries no near-dup signal.
    */
  /** @param refGateBits size (in bits) of the broadcast Bloom filter of
    *                     BATCH shingle keys that gates the REFERENCE
    *                     inverted index before it shuffles (≤ 0 disables).
    *                     A Bloom has no false negatives, so gating is
    *                     result-identical no matter the sizing — false
    *                     positives only admit unmatchable rows — while
    *                     the reference side's shuffle shrinks from
    *                     corpus-shingle-sized to ~batch-matched-sized:
    *                     the asymmetry this op exists for, now enforced
    *                     map-side. The filter itself is fixed-size state
    *                     (bits/8 bytes however many shingles stream
    *                     through) built by one batch-sized aggregate and
    *                     broadcast as a single row; the 2²²-bit default
    *                     (512 KiB) holds ~400k batch shingles under 1% fp.
    */
  def jaccardPairsAgainstRef(newDocs: DataFrame, refDocs: DataFrame,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxShingleDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text",
      refGateBits: Int = 1 << 22): DataFrame =
    jaccardPairsAgainstIndex(newDocs,
      buildJaccardRefIndex(refDocs, shingleN, idCol, textCol),
      threshold, shingleN, maxShingleDf, idCol, textCol, refGateBits)

  /** Persistable REFERENCE INDEX for incremental dedup — the accumulated
    * corpus side of [[jaccardPairsAgainstIndex]] (shingle-set
    * representatives) or [[embeddingPairsAgainstIndex]] (vector-value
    * representatives) as two plain DataFrames: collapsed `reps` and the
    * fp→id `members` mapping. This is the artifact a CONTINUOUS-INGEST
    * deployment persists: [[ModelIO.saveRefIndex]] writes both tables as
    * parquet (distributed write — the index is corpus-sized, never
    * driver-materialized), and every daily batch then serves from the
    * LOADED index, dropping per-batch cost from corpus-linear (the
    * against-Ref convenience forms re-shingle/re-fingerprint the whole
    * reference on every call) to batch-sized work plus an index scan.
    * Between epochs, fold new batches' survivors in via
    * [[appendToRefIndex]] — the ONLY supported mutation: hand-unioning
    * the tables corrupts rep counts and leaves `maxClass` stale when a
    * new doc's fingerprint matches an existing class (the paragraph
    * axis's set-only state has the same lifecycle via
    * [[graft.ops.TextOps.appendParagraphFingerprints]]).
    */
  /** @param postings build-time Σ set sizes over `reps` (lexical axis
    *                  only — the posting-row total that sizes the serve
    *                  join's partitioning): priced once at build/save,
    *                  maintained by [[appendToRefIndex]], so a batch
    *                  serve never re-scans the corpus-sized reps table
    *                  just to size its exchanges (r21). None (unpriced)
    *                  keeps the serve's one-job union pricing.
    */
  final case class DedupRefIndex(reps: DataFrame, members: DataFrame,
      axis: String, shingleN: Option[Int] = None,
      maxClass: Option[Long] = None, postings: Option[Long] = None) {
    private[graft] def requireAxis(expected: String, op: String): Unit =
      require(axis == expected,
        s"$op: reference index has axis '$axis', expected '$expected' — " +
          "a lexical index cannot serve the semantic op or vice versa")
  }

  /** Build the lexical (shingle-set) reference index of `refDocs`.
    * `materialized = true` eagerly pins the keyed corpus pass (the
    * Caching seam) before deriving the two tables — do this when the
    * index is about to be SAVED, otherwise [[ModelIO.saveRefIndex]]'s
    * two writes each re-derive the full corpus lineage; the lazy
    * default keeps the delegating against-Ref convenience forms
    * allocation-free. */
  def buildJaccardRefIndex(refDocs: DataFrame, shingleN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      materialized: Boolean = false): DedupRefIndex = {
    val rk0 = shingleKeyed(refDocs, shingleN, idCol, textCol)
    val rk = if (materialized) Caching.materialize(rk0) else rk0
    DedupRefIndex(setRepsOf(rk), rk.select(col("fp"), col("id")),
      axis = "lexical", shingleN = Some(shingleN))
  }

  /** Price the stored class-size max of an in-session index — ONE
    * corpus aggregate over `reps`, after which every serve call's
    * expansion switch reads the constant instead of re-aggregating the
    * corpus per batch (the same pricing [[ModelIO.saveRefIndex]] bakes
    * into the persisted meta). Use when an UNSAVED index will serve
    * more than one batch — a resident index in a long-lived session;
    * pointless for the one-shot against-Ref convenience forms, whose
    * single serve pays the lazy aggregate exactly once anyway. The
    * aggregate RUNS A SPARK JOB in this call; price AFTER materializing
    * the tables or the build lineage recomputes here and at serve.
    */
  def priceRefIndex(index: DedupRefIndex): DedupRefIndex =
    if (index.axis == "lexical") {
      // One job prices BOTH serve-path constants (r21): the expansion
      // switch's class max and the posting total that sizes the serve
      // join — each serve then runs batch-sized pricing only.
      val (p, m) = sumAndMax(index.reps, size(col("sh")).cast("long"), col("cnt"))
      index.copy(maxClass = Some(math.max(1L, m)), postings = Some(p))
    } else index.copy(maxClass = Some(math.max(1L, maxClassSize(index.reps))))

  private def shingleKeyed(docs: DataFrame, shingleN: Int,
      idCol: String, textCol: String): DataFrame =
    shingleSets(docs, shingleN, idCol, textCol).withColumn("fp",
      md5(concat_ws("", array_sort(transform(col("sh"), x => md5(x))))))

  private def setRepsOf(k: DataFrame): DataFrame =
    repsByMinId(k, "id", "sh", lit(1L))

  /** EPOCH APPEND — fold a new batch into an existing [[DedupRefIndex]],
    * result-identical to rebuilding the index from the union of both
    * corpora (spec-pinned on both axes, overlapping-fingerprint classes
    * included): per fingerprint the merged rep keeps the global min id,
    * the payload of that min-id holder, and the summed member count;
    * `members` gains the batch's (fp, id) rows. This is the ONLY
    * supported between-epoch mutation of an index — hand-unioning the
    * tables leaves the stored `maxClass` stale, and an append that grows
    * a singleton class to size 2 under stale maxClass=1 makes the serve
    * path's expansion switch silently skip member expansion and drop
    * true pairs against non-canonical ref members.
    *
    * Stored-max maintenance: appends only GROW classes, so the new max
    * is max(stored max, exact post-append count of every class the
    * batch TOUCHED) — one batch-sized aggregate that probes the corpus
    * reps once on the batch's fingerprints, never a corpus-wide
    * re-aggregate. An index whose maxClass is None (built in-session,
    * never saved) stays None: the serve path already computes the exact
    * max lazily, and pricing it here would pay the corpus aggregate the
    * laziness exists to avoid.
    *
    * `idCol`/`valueCol` default per axis when left empty: ("doc_id",
    * "text") lexical, ("vec_id", "embedding") semantic. Cost per epoch:
    * batch keying plus one merge groupBy over reps ∪ batch keys —
    * corpus-linear ONCE per epoch (the per-batch serve calls stay
    * batch-sized). `materialized = true` pins the batch keying before
    * the two derived tables consume it — use it when saving the result
    * via [[ModelIO.saveRefIndex]] (which re-prices maxClass from the
    * written table), mirroring the builders' flag.
    *
    * When `maxClass` is Some (every loaded index), the touched-class
    * probe RUNS A SPARK JOB inside this call (the 1-row max read), and
    * the batch keying is pinned regardless of `materialized` so the
    * probe, `reps`, and `members` share one computation of the batch
    * lineage instead of re-keying it three times. The probe's join
    * Bloom-gates the corpus-sized reps map-side against the batch's
    * fingerprints (no false negatives, and a ref fingerprint absent
    * from the batch cannot change a touched class's count), so the
    * corpus side never shuffles for the probe.
    */
  def appendToRefIndex(index: DedupRefIndex, newRows: DataFrame,
      idCol: String = "", valueCol: String = "",
      materialized: Boolean = false): DedupRefIndex = {
    val (id, value, payload) = index.axis match {
      case "lexical" => (if (idCol.nonEmpty) idCol else "doc_id",
        if (valueCol.nonEmpty) valueCol else "text", "sh")
      case "semantic" => (if (idCol.nonEmpty) idCol else "vec_id",
        if (valueCol.nonEmpty) valueCol else "embedding", "v")
      case other => throw new IllegalArgumentException(
        s"appendToRefIndex: unknown index axis '$other'")
    }
    val keyed0 = index.axis match {
      case "lexical" =>
        val n = index.shingleN.getOrElse(throw new IllegalArgumentException(
          "appendToRefIndex: lexical index carries no shingleN — " +
            "rebuild or reload it before appending"))
        shingleKeyed(newRows, n, id, value)
      case _ => vectorKeyed(newRows, id, value)
    }
    val keyed = if (materialized || index.maxClass.isDefined)
      Caching.materialize(keyed0) else keyed0
    // Merge reps: the old rep row rides the union AS a member carrying
    // its class count, so min/min_by/sum over the union reproduces the
    // from-scratch groupBy exactly (the old rep id IS its class's min).
    val mergedReps = repsByMinId(index.reps
      .select(col("fp"), col("id"), col(payload), col("cnt"))
      .unionByName(keyed.select(col("fp"), col("id"), col(payload))
        .withColumn("cnt", lit(1L))),
      "id", payload, col("cnt"))
    val mergedMembers = index.members.select(col("fp"), col("id"))
      .unionByName(keyed.select(col("fp"), col("id")))
    // One probe job maintains BOTH priced constants (r21): the touched-
    // class max (as before) and — when the index carries a priced posting
    // total — the Σ set sizes of the batch's NEW fingerprint classes (a
    // left-join null against the gated ref counts ⇔ the class is new; the
    // Bloom gate has no false negatives, so no new class is missed, and
    // min(size) per fp is exact — every member of one fp holds the same
    // set). Existing classes keep their rep's set, so the merged posting
    // total is exactly old + Σ new-class sizes (spec-pinned against the
    // from-scratch rebuild).
    val mergedPriced = index.maxClass.map { m =>
      // The gate drops corpus reps whose fingerprint the batch cannot
      // hold BEFORE the join shuffles anything.
      val refCounts = bloomGateAgainst(
        index.reps.select(col("fp"), col("cnt")), fp60(col("fp")),
        keyed.select(col("fp")), fp60(col("fp")), 1 << 22)
      val touched = keyed.groupBy("fp")
        .agg(count(lit(1)).as("bc"), min(size(col(payload))).as("ps"))
        .join(refCounts, Seq("fp"), "left")
        .select((col("bc") + coalesce(col("cnt"), lit(0L))).as("tc"),
          when(col("cnt").isNull, col("ps").cast("long")).as("nps"))
      val (newPostings, touchedMax) = sumAndMax(touched, col("nps"), col("tc"))
      (math.max(m, touchedMax), newPostings)
    }
    DedupRefIndex(mergedReps, mergedMembers, index.axis, index.shingleN,
      mergedPriced.map(_._1),
      index.postings.flatMap(p => mergedPriced.map(p + _._2)))
  }

  /** [[jaccardPairsAgainstRef]] served from a prebuilt (typically
    * loaded) [[DedupRefIndex]] — result-identical to the convenience
    * form by construction (it delegates here). */
  def jaccardPairsAgainstIndex(newDocs: DataFrame, refIndex: DedupRefIndex,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxShingleDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text",
      refGateBits: Int = 1 << 22): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    refIndex.requireAxis("lexical", "jaccardPairsAgainstIndex")
    refIndex.shingleN.foreach(n => require(n == shingleN,
      s"jaccardPairsAgainstIndex: index built with shingleN=$n, serving " +
        s"with shingleN=$shingleN — the inverted-index join would " +
        "silently match nothing"))
    val nk = shingleKeyed(newDocs, shingleN, idCol, textCol)
    val nReps = setRepsOf(nk)
    val nMembers = nk.select(col("fp"), col("id"))
    val rReps = refIndex.reps
    val rMembers = refIndex.members
    Caching.withCached(nMembers, rMembers, nReps, rReps) {
      // `n` rides on the posting rows so the pair aggregate groups on
      // (ids, sizes) and scores without attach joins — same shape as
      // [[jaccardPairs]] (r18).
      def inv(reps: DataFrame): DataFrame =
        reps.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
          .select(col("id"), col("n"), GraftFunctions.fnv64(col("s")).as("shingle"))
      val nInv = inv(nReps)
      // Bloom gate BEFORE the df count: for any shingle the batch holds,
      // every reference row passes (no false negatives), so cross-side
      // df — the only df that can reach a pair — is unchanged; ref-only
      // shingles may survive the df filter they'd otherwise fail, but
      // they match nothing in nIdx and cannot reach the output.
      val rInv =
        if (refGateBits <= 0) inv(rReps)
        else bloomGateAgainst(inv(rReps), col("shingle"),
          nInv, col("shingle"), refGateBits)
      val (nIdx, rIdx) =
        if (maxShingleDf == Int.MaxValue) (nInv, rInv)
        else {
          val keep = nInv.select("shingle").unionAll(rInv.select("shingle"))
            .groupBy("shingle").agg(count(lit(1)).as("df"))
            .filter(col("df") <= maxShingleDf)
            .select("shingle")
          (nInv.join(keep, Seq("shingle"), "left_semi"),
            rInv.join(keep, Seq("shingle"), "left_semi"))
        }
      // Corpus-sized partitioning for the exploding cross-side posting
      // join (see [[explodedJoinPartitions]]; sized from the cached
      // reps' shingle totals — an upper bound on the gated index).
      // Serve-path pricing in ONE batch-sized job (r21): the batch
      // side's Σ sizes and class max ride one 1-row aggregate; the ref
      // side's constants come from the index when it is PRICED
      // (priceRefIndex / a loaded index / a maintained append) — so a
      // priced serve never scans the corpus-sized reps table just to
      // size its exchanges. An unpriced in-session index folds both
      // sides into one union aggregate instead of two driver jobs.
      val (postings, bothMax) = (refIndex.maxClass, refIndex.postings) match {
        case (Some(refMax), Some(refPostings)) =>
          val (bp, bm) = sumAndMax(nReps, size(col("sh")).cast("long"), col("cnt"))
          (bp + refPostings, math.max(math.max(1L, bm), refMax))
        case _ =>
          val (p, m) = sumAndMax(
            nReps.select(col("cnt"), col("sh"))
              .unionAll(rReps.select(col("cnt"), col("sh"))),
            size(col("sh")).cast("long"), col("cnt"))
          (p, math.max(1L, math.max(m,
            refIndex.maxClass.getOrElse(0L))))
      }
      val (nJ, rJ) = explodedJoinPartitions(newDocs.sparkSession, postings)
        .map(p => (nIdx.repartition(p, col("shingle")),
          rIdx.repartition(p, col("shingle")))).getOrElse((nIdx, rIdx))
      val joined = nJ.as("a").join(rJ.as("b"),
        col("a.shingle") === col("b.shingle"))
      // Volume-sized pair aggregation (see [[jaccardPairs]]): the cross
      // pair volume is bounded above by Σ df·(df−1)/2 over the UNIONED
      // posting sides (≥ Σ df_new·df_ref per shingle — only ever too
      // many partitions), priced only when the guard is active.
      val pairVol = if (postings < (1L << 19)) 0L
        else totalOf(nJ.select("shingle").unionAll(rJ.select("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .select((col("df") * (col("df") - lit(1)) / 2).cast("long").as("n")), "n")
      val pre = explodedJoinPartitions(newDocs.sparkSession, pairVol)
        .map(p => joined.repartition(p, col("a.id"), col("b.id"))).getOrElse(joined)
      val repPairs = jaccardFromCounts(
        pre.groupBy(col("a.id").as("new_id"), col("b.id").as("ref_id"),
            col("a.n").as("n_a"), col("b.n").as("n_b"))
          .agg(count(lit(1)).as("n_inter")),
        threshold, "new_id", "ref_id")
      // The expansion switch reads `bothMax` from the combined pricing
      // above — a build-time constant for a priced index, one union
      // aggregate otherwise; never a separate driver job (r21).
      if (bothMax <= 1L) repPairs
      else
        repPairs
          .join(nReps.select(col("id").as("new_id"), col("fp").as("fp_n")), "new_id")
          .join(rReps.select(col("id").as("ref_id"), col("fp").as("fp_r")), "ref_id")
          .join(nMembers.select(col("fp").as("fp_n"), col("id").as("xn")), "fp_n")
          .join(rMembers.select(col("fp").as("fp_r"), col("id").as("xr")), "fp_r")
          .select(col("xn").as("new_id"), col("xr").as("ref_id"), col("jaccard"))
    }
  }

  /** Per-document distinct shingle sets. Callers persist this (via
    * [[Caching.withCached]]): shingling is the expensive per-doc map, and
    * it is consumed multiple times (signature, band explode, and the
    * doc_a/doc_b sides of pair verification). Without the persist the
    * optimizer inlines the shingle expression into each consumer —
    * including per-pair join filters — turning O(docs) shingling into
    * O(pairs). Tokenization is a separate bound projection so the split()
    * runs once per doc, not once per lambda reference.
    */
  private def shingleSets(docs: DataFrame, shingleN: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("tk"))
      .select(col("id"), TextOps.shinglesFromTokens(col("tk"), shingleN).as("sh"))

  /** Exact-Jaccard verification of candidate pairs: join shingle sets back
    * and compute |∩|/|∪| with array built-ins (codegen'd, no UDF).
    */
  private def verifyJaccard(candidates: DataFrame, base: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(base.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(base.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Winnowing-based near-dup pairs: candidates are documents sharing
    * `minShared` winnowing fingerprints ([[TextOps.winnowFingerprints]] —
    * any pair sharing a token run of ≥ k + minShared·w - 1 IS a
    * candidate), verified with exact shingle Jaccard ≥ `threshold`. The
    * third candidate-generation formulation next to MinHash-LSH banding
    * and the full inverted index, feeding the same
    * verify: at scale the fingerprint index is ~2/(w+1) the size of the
    * full inverted index, and the join is an equi-join on the fingerprint
    * — no ranking shuffle, no banding.
    */
  /** @param minShared candidate pairs must share at least this many
    *                   fingerprints (the COUNT FILTER of signature-based
    *                   set-similarity joins): common-vocabulary corpora
    *                   make single-fingerprint sharing near-universal
    *                   (2.7% of ALL pairs at sf0.1 — 41× the ≥2 set), and
    *                   every candidate costs an array-intersection verify.
    *                   With minShared = m the guaranteed-candidate bound
    *                   becomes a shared token run of ≥ k + m·w - 1.
    */
  def winnowPairs(docs: DataFrame, threshold: Double = 0.5, shingleN: Int = 3,
      winnowW: Int = 4, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    withTextCollapse(docs, idCol, textCol, "jaccard", lit(1.0),
        // Identical copies share ALL their fingerprints, so they pair iff
        // the doc has >= minShared of them — the same candidate rule the
        // direct path applies to every pair.
        reps => TextOps.winnowFingerprints(reps, "text", shingleN, winnowW)
          .filter(size(col("winnow_fps")) >= minShared)) { reps =>
      val base = shingleSets(reps, shingleN, "id", "text")
      val fps = winnowFpRows(reps, shingleN, winnowW, "id", "text")
      Caching.withCached(base, fps) {
        verifyJaccard(winnowCandidates(fps, minShared), base, threshold)
      }
    }
  }

  /** Exploded `(id, fp)` winnow-fingerprint rows — shared candidate
    * currency of [[winnowPairs]] and [[editDistancePairs]]. */
  private def winnowFpRows(docs: DataFrame, shingleN: Int, winnowW: Int,
      idCol: String, textCol: String): DataFrame =
    TextOps.winnowFingerprints(docs, textCol, shingleN, winnowW)
      .select(col(idCol).as("id"), explode(col("winnow_fps")).as("fp"))

  /** Fingerprint-bucket equi-join → pairs sharing ≥ `minShared` winnow
    * fingerprints. The caller persists `fps` (see [[Caching]]). */
  private def winnowCandidates(fps: DataFrame, minShared: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .select("doc_a", "doc_b")
  }

  /** Character-level near-dup pairs: winnow-fingerprint candidates
    * (equi-join on fingerprint buckets — the same candidate generator as
    * [[winnowPairs]]) verified with thresholded `levenshtein` (banded
    * O(n·k), Spark 3.5+). The unbounded all-pairs formulation this
    * replaces was quadratic in the corpus; here pair generation is sized
    * to fingerprint-bucket collisions, so the op scales with duplication
    * volume. Recall contract (MOSS guarantee): any shared token run of
    * ≥ shingleN + minShared·winnowW − 1 produces a candidate; heavily
    * edited pairs beyond that share no window minimum and are not
    * compared — the standard candidate/verify tradeoff.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int, shingleN: Int = 3,
      winnowW: Int = 4, minShared: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // < MaxValue: the threshold below is maxDist + 1, which would wrap to
    // a negative levenshtein bound and silently return ZERO pairs for a
    // caller spelling "unbounded" as Int.MaxValue.
    require(maxDist >= 0 && maxDist < Int.MaxValue,
      s"maxDist must be in [0, ${Int.MaxValue - 1}], got $maxDist")
    withTextCollapse(docs, idCol, textCol, "dist", lit(0).cast("int"),
        reps => TextOps.winnowFingerprints(reps, "text", shingleN, winnowW)
          .filter(size(col("winnow_fps")) >= minShared)) { reps =>
    val fps = winnowFpRows(reps, shingleN, winnowW, "id", "text")
    val ta = reps.select(col("id").as("doc_a"), col("text").as("ta"))
    val tb = reps.select(col("id").as("doc_b"), col("text").as("tb"))
    Caching.withCached(fps) {
      winnowCandidates(fps, minShared)
        .join(ta, "doc_a").join(tb, "doc_b")
        // Thresholded levenshtein: beyond-threshold pairs return -1 and
        // are filtered; kept values equal the unbounded form.
        .withColumn("dist", expr(s"levenshtein(ta, tb, ${maxDist + 1})"))
        .filter(col("dist") >= 0 && col("dist") <= maxDist)
        .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
    }
    }
  }

  /** Embedding near-dup pairs, LSH-gated: axis-aligned sign bands (bucket
    * = packed sign bits of `bitsPerBand` consecutive dimensions) generate
    * candidates by band equi-join; exact cosine verifies. All joins are
    * equi-joins — no nested-loop pair enumeration survives in the plan.
    *
    * Recall is the standard banding curve: a pair collides on a band iff
    * all `bitsPerBand` sign bits agree, so high-cosine pairs (sign
    * agreement per dim p = 1 − θ/π) are found with probability
    * 1 − (1 − p^bits)^bands — ≈ 0.98 at cosine 0.8 with 8×4, falling off
    * below ~0.6. For corpus-wide statistics at low thresholds use
    * [[SimilarityOps.labelPairMeans]]' algebraic path instead.
    */
  /** @param dims length of the embedding vectors; the band signature reads
    *             dimensions 1..bands·bitsPerBand, so it must cover them —
    *             out-of-range reads would throw under ANSI mode (or, with
    *             ANSI off, collapse the missing bands to one bucket and
    *             degenerate the band join toward all-pairs).
    */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double, dims: Int,
      bands: Int = 8, bitsPerBand: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 30)
    require(bands * bitsPerBand <= dims,
      s"embeddingNearDupPairs: bands*bitsPerBand = ${bands * bitsPerBand} " +
        s"exceeds dims = $dims — the sign signature would read past the vector")
    // Same duplicate collapse as the text pair family: identical VECTORS
    // (duplicate docs embed identically — the dup-heavy crawl regime)
    // share every sign band, so the uncollapsed band join is quadratic in
    // duplicate multiplicity (m copies = C(m,2) candidate pairs per
    // band). Collapse on the exact vector value (md5 over the injective
    // IEEE-754 byte layout, [[graft.functions.VectorBytes]] — 128-bit,
    // bit-pattern-keyed, so no dependency on float FORMATTING like the
    // JSON rendering it replaced), run the band pipeline on
    // representatives, expand afterwards: cosine depends
    // only on the vector, so cross-class pairs inherit the rep cosine
    // verbatim and within-class pairs are identical-vector pairs — the
    // direct path scores those round(1.0, 6) whenever the vector has
    // non-zero norm (null/zero-norm cosine is NULL and never pairs).
    val keyed = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fp", md5(GraftFunctions.vector_bytes(col("v"))))
    val reps = repsByMinId(keyed, "id", "v", lit(1L))
    val members = keyed.select(col("fp"), col("id"))
    Caching.withCached(members, reps) {
    val repVecs = reps.select(col("id"), col("v"))
    val sig = signBandRows(repVecs, bands, bitsPerBand)
    // Same Caching contract as every sibling pair op: the sign-signature
    // projection feeds BOTH sides of the self-join (and the caller's
    // actions would otherwise re-run the whole lazy pipeline per action).
    //
    // CANDIDATE STREAM DISCIPLINE (r17 — the semdedup lesson, found by
    // the ×100 probe on a 200k-distinct-vector corpus): at 8-bit buckets
    // a dense corpus piles ~N/256 reps per bucket, so the candidate
    // stream is quadratic-in-density (≈6·10⁸ rows at 200k vectors) — the
    // pre-r17 shape (bare-pair distinct, then TWO vector-attach joins
    // that SMJ-sort the candidate stream with a 64-double payload)
    // spilled ~80 GB and died. Vectors now ride THROUGH the bucket join
    // as carry columns (banded frame grows to bands× vector copies —
    // corpus-linear, the cheap side of the trade for a SYMMETRIC op
    // whose candidates dwarf its corpus) and the cosine filter runs on
    // the join output in the same stage; only the answer-sized survivors
    // reach the cross-band distinct, which now keys (pair, cosine) —
    // identical rows whichever band or grid orientation produced them,
    // so the collapse is exact. Duplicate candidates pay ≤ bands extra
    // in-stage cosine evaluations (CPU) instead of three candidate-sized
    // sorted shuffles (disk). The BIPARTITE sibling adopted the same
    // carry-through shape in r18 once ShuffleAudit priced its join-back
    // candidate stream at fixed bucket space (33× shuffle bytes per 10×
    // rows for the half-corpus registered batch).
    val repPairs = Caching.withCached(sig) {
      selfJoinWithinBuckets(sig, Seq("band", "bucket"), Seq("v"),
          hotBucketThreshold, splitTarget)
        .withColumn("cosine", GraftFunctions.cosine_sim(col("v_a"), col("v_b")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("cosine"), 6).as("cosine"))
        .distinct()
    }
    if (maxClassSize(reps) <= 1L) repPairs
    else {
      // Within-class eligibility is LITERALLY the direct path's own test
      // on an identical pair: raw cosine_sim(v, v) >= threshold (the
      // op's filter runs on the raw cosine, rounding is display-only —
      // matching the oracle's WHERE). This inherits every edge case for
      // free: null/zero-norm vectors give NULL cosine and never pair,
      // and at threshold = 1.0 the raw self-cosine is 1 ± ~2 ulp, so the
      // expansion drops or keeps the clique exactly as the uncollapsed
      // join would.
      val withinFps = reps
        .filter(GraftFunctions.cosine_sim(col("v"), col("v")) >= threshold)
        .select(col("fp"))
      expandCollapsed(members, reps, "cosine", lit(1.0), withinFps,
          repPairs.withColumnRenamed("vec_a", "doc_a")
            .withColumnRenamed("vec_b", "doc_b"))
        .withColumnRenamed("doc_a", "vec_a")
        .withColumnRenamed("doc_b", "vec_b")
    }
    }
  }

  /** Sign-band LSH rows `(id, v, band, bucket)` for vector frame `(id, v)`
    * — the shared candidate signature of [[embeddingNearDupPairs]] and
    * [[embeddingPairsAgainstRef]]: band `b`'s bucket packs the signs of
    * dimensions `b·bits+1 .. (b+1)·bits` into an int (codegen'd,
    * join-free). The vector rides along: every consumer carries it
    * through its bucket join (symmetric since r17, bipartite since r18)
    * so cosine verifies in-stage and no candidate-sized stream is ever
    * exchanged.
    */
  private def signBandRows(vecs: DataFrame, bands: Int, bitsPerBand: Int): DataFrame =
    vecs.select(col("id"), col("v"),
      explode(array((0 until bands).map { b =>
        val bucket = (0 until bitsPerBand).map { j =>
          when(element_at(col("v"), b * bitsPerBand + j + 1) >= 0,
            lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _)
        struct(lit(b).as("band"), bucket.as("bucket"))
      }: _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))

  /** Drop rows of `big` whose `bigKey` cannot appear among `small`'s
    * `smallKey`s, via a Bloom filter of the small side
    * ([[graft.functions.BloomAgg]]): result-identical by
    * no-false-negatives, and the big (reference-corpus) side shrinks
    * MAP-SIDE, before any shuffle. The filter reaches the rows as a
    * SCALAR SUBQUERY (evaluated once, injected into a plain Filter) —
    * a 1-row join here is constant-folded by Catalyst into a
    * BroadcastNestedLoopJoin, which is indistinguishable in a plan audit
    * from the pair-enumeration failure mode these ops ban outright.
    */
  private[graft] def bloomGateAgainst(big: DataFrame, bigKey: Column,
      small: DataFrame, smallKey: Column, bits: Int): DataFrame =
    big.filter(GraftFunctions.bloom_might_contain(
      org.apache.spark.sql.graft.Bridge.scalarSubquery(
        small.agg(GraftFunctions.bloom_agg(smallKey, bits).as("_bl"))),
      bigKey))

  /** md5-hex fingerprint → 60-bit long, the Bloom key every fp-keyed
    * gate shares (one definition so the key derivation cannot diverge
    * between the ops that build a filter and the ops that probe it). */
  private[graft] def fp60(c: Column): Column =
    conv(substring(c, 1, 15), 16, 10).cast("long")

  /** Cross-side candidate pairs within equal buckets — the BIPARTITE
    * sibling of [[selfJoinWithinBuckets]] for asymmetric (new-vs-
    * reference) ops. Same skew exposure, same remedy: a popular bucket
    * serializes |a-bucket|·|b-bucket| comparisons onto one reducer, so
    *
    *  1. both sides' bucket member counts aggregate (bounded results);
    *     a 1-row max read switches — if neither side has a bucket over
    *     the threshold the op IS the plain cross-side equi-join;
    *  2. otherwise over-threshold buckets (either side) broadcast with
    *     their per-side sub-group counts `sA = ceil(an/splitTarget)`,
    *     `sB = ceil(bn/splitTarget)`; cold-bucket rows keep the plain
    *     join, hot a-rows land in sub-group `gA = hash(id) % sA` and
    *     replicate across all `sB` b-sub-groups (b-rows mirror with
    *     `gB`, replicating across `sA`), and the join keys on
    *     `(bucket, gA, gB)` — every cross pair lands in EXACTLY ONE
    *     block (no distinct needed at this layer), and each block
    *     compares ≤ ~splitTarget² pairs regardless of bucket size.
    */
  private[ops] def joinAcrossBuckets(aRaw: DataFrame, bRaw: DataFrame,
      keyCols: Seq[String], carry: Seq[String] = Nil,
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget): DataFrame = {
    require(hotBucketThreshold >= 1 && splitTarget >= 1)
    // Same scope-persist rationale as [[selfJoinWithinBuckets]]: the two
    // guard pre-passes populate the caches the bipartite join reads.
    val aBanded = Caching.scopedPersist(aRaw)
    val bBanded = Caching.scopedPersist(bRaw)
    val keys = keyCols.map(col)
    def keyEq = keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    // `carry` columns (present on BOTH sides) ride through as <c>_a/<c>_b
    // — the bipartite face of [[selfJoinWithinBuckets]]'s carry: verify
    // payloads travel inside the bucket join's own stage instead of
    // being attached to the (possibly candidate-sized) pair stream by
    // later joins.
    def out = Seq(col("a.id").as("id_a"), col("b.id").as("id_b")) ++
      carry.flatMap(c =>
        Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))
    def counts(df: DataFrame, n: String) =
      df.groupBy(keys: _*).agg(count(lit(1)).as(n))
    // Same two-tier switch as [[selfJoinWithinBuckets]] (including the
    // partition-count eligibility gate): the shuffle-free per-side bound
    // confirms the healthy case; only a tripped bound pays the exact
    // per-bucket counts.
    def plainJoin = aBanded.as("a").join(bBanded.as("b"), keyEq).select(out: _*)
    if (tier1Eligible(aBanded, hotBucketThreshold) &&
        tier1Eligible(bBanded, hotBucketThreshold) &&
        math.max(maxBucketUpperBound(aBanded, keyCols),
          maxBucketUpperBound(bBanded, keyCols)) <= hotBucketThreshold)
      return plainJoin
    val aCounts = counts(aBanded, "_an")
    val bCounts = counts(bBanded, "_bn")
    if (math.max(maxLongOf(aCounts, "_an"),
        maxLongOf(bCounts, "_bn")) <= hotBucketThreshold) {
      return plainJoin
    }
    val hot = aCounts.join(bCounts, keyCols, "full")
      .na.fill(0L, Seq("_an", "_bn"))
      .filter(col("_an") > hotBucketThreshold || col("_bn") > hotBucketThreshold)
      .withColumn("_sa",
        greatest(ceil(col("_an").cast("double") / splitTarget), lit(1)).cast("int"))
      .withColumn("_sb",
        greatest(ceil(col("_bn").cast("double") / splitTarget), lit(1)).cast("int"))
      .select(keys ++ Seq(col("_sa"), col("_sb")): _*)
    val aTagged = aBanded.join(broadcast(hot), keyCols, "left")
    val bTagged = bBanded.join(broadcast(hot), keyCols, "left")
    val coldPairs = aTagged.filter(col("_sa").isNull).drop("_sa", "_sb").as("a")
      .join(bTagged.filter(col("_sa").isNull).drop("_sa", "_sb").as("b"), keyEq)
      .select(out: _*)
    val aHot = aTagged.filter(col("_sa").isNotNull)
      .withColumn("_ga", pmod(xxhash64(col("id")), col("_sa")).cast("int"))
      .withColumn("_gb", explode(sequence(lit(0), col("_sb") - 1)))
    val bHot = bTagged.filter(col("_sa").isNotNull)
      .withColumn("_hb", pmod(xxhash64(col("id")), col("_sb")).cast("int"))
      .withColumn("_ha", explode(sequence(lit(0), col("_sa") - 1)))
    val hotPairs = aHot.as("a").join(bHot.as("b"),
        keyEq && col("a._ga") === col("b._ha") && col("a._gb") === col("b._hb"))
      .select(out: _*)
    coldPairs.unionByName(hotPairs)
  }

  /** Asymmetric embedding near-dup: every NEW vector against a REFERENCE
    * corpus — the semantic axis of incremental dedup, sibling of
    * [[jaccardPairsAgainstRef]] (lexical) with the same contract: output
    * `(new_id, ref_id, cosine)` for cross-side band-gated pairs with
    * cosine ≥ `threshold`; new×new and ref×ref pairs are never formed,
    * so a daily batch pays batch-sized candidate generation against the
    * accumulated index, never corpus². Same candidate semantics as
    * [[embeddingNearDupPairs]] (sign-band LSH, [[signBandRows]]), same
    * vector-value collapse on both sides (fp32 verify runs on canonical
    * vectors; expansion is output-sized and cross-side only), and the
    * bipartite hot-bucket guard ([[joinAcrossBuckets]]) bounds
    * within-bucket work exactly like the symmetric op's grid split.
    */
  /** @param refGateBits broadcast Bloom gate of the BATCH's (band,
    *                     bucket) keys over the REFERENCE side's band rows
    *                     (≤ 0 disables) — reference rows in buckets the
    *                     batch never populates drop map-side before the
    *                     candidate join (result-identical: Bloom has no
    *                     false negatives, and a ref row whose bucket has
    *                     no batch row joins nothing). Matters most at
    *                     wide bucket spaces (large bitsPerBand) and
    *                     small daily batches, where most of the
    *                     accumulated index is unmatchable.
    */
  def embeddingPairsAgainstRef(newEmb: DataFrame, refEmb: DataFrame,
      threshold: Double, dims: Int,
      bands: Int = 8, bitsPerBand: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget,
      refGateBits: Int = 1 << 22): DataFrame =
    embeddingPairsAgainstIndex(newEmb,
      buildEmbeddingRefIndex(refEmb, idCol, vecCol),
      threshold, dims, bands, bitsPerBand, idCol, vecCol,
      hotBucketThreshold, splitTarget, refGateBits)

  /** Build the semantic (vector-value) reference index of `refEmb` —
    * the [[DedupRefIndex]] sibling of [[buildJaccardRefIndex]]. */
  def buildEmbeddingRefIndex(refEmb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      materialized: Boolean = false): DedupRefIndex = {
    val rk0 = vectorKeyed(refEmb, idCol, vecCol)
    val rk = if (materialized) Caching.materialize(rk0) else rk0
    DedupRefIndex(vectorRepsOf(rk), rk.select(col("fp"), col("id")),
      axis = "semantic")
  }

  private def vectorKeyed(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("fp", md5(GraftFunctions.vector_bytes(col("v"))))

  private def vectorRepsOf(k: DataFrame): DataFrame =
    repsByMinId(k, "id", "v", lit(1L))

  /** [[embeddingPairsAgainstRef]] served from a prebuilt (typically
    * loaded) [[DedupRefIndex]] — result-identical to the convenience
    * form by construction (it delegates here). */
  def embeddingPairsAgainstIndex(newEmb: DataFrame, refIndex: DedupRefIndex,
      threshold: Double, dims: Int,
      bands: Int = 8, bitsPerBand: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      hotBucketThreshold: Long = HotBucketThreshold,
      splitTarget: Long = HotBucketSplitTarget,
      refGateBits: Int = 1 << 22): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 30)
    require(bands * bitsPerBand <= dims,
      s"embeddingPairsAgainstIndex: bands*bitsPerBand = ${bands * bitsPerBand} " +
        s"exceeds dims = $dims — the sign signature would read past the vector")
    refIndex.requireAxis("semantic", "embeddingPairsAgainstIndex")
    val nk = vectorKeyed(newEmb, idCol, vecCol)
    val nReps = vectorRepsOf(nk)
    val nMembers = nk.select(col("fp"), col("id"))
    val rReps = refIndex.reps
    val rMembers = refIndex.members
    Caching.withCached(nMembers, rMembers, nReps, rReps) {
      // CANDIDATE STREAM DISCIPLINE, bipartite face (r18 — found by
      // ShuffleAudit's byte gate, which the r17 wall-time probes had
      // PASSED): vectors ride THROUGH both band frames and the cosine
      // verifies inside the bucket join's own stage, so only the
      // answer-sized survivors ever reach an exchange. The r17 shape
      // (bare-pair distinct, then two shuffled-hash vector attaches)
      // had already removed the SORT amplification, but the candidate
      // stream itself still crossed three exchanges — and at fixed
      // 8-bit buckets that stream is |batch|·|ref|/2^bits: the audit
      // measured 436 MB → 14.5 GB shuffle (33×) with 3.2 GB of spill
      // for 10× rows (20k → 200k vectors, half-corpus batch). Carried
      // band frames are bands×(|batch|+|ref|) vector copies —
      // corpus-LINEAR (~800 MB at 200k vectors), the same trade the
      // symmetric op made in r17. Cross-band/grid duplicate candidates
      // pay ≤ bands extra in-stage cosines (CPU), and the final
      // distinct keys (pair, cosine) — exact collapse, cosine being a
      // pure function of the pair.
      val nSig = signBandRows(nReps.select(col("id"), col("v")),
        bands, bitsPerBand)
      // (band, bucket) packs into one long — band in the high 32 bits —
      // for the Bloom key; bucket < 2^30 by the bitsPerBand bound.
      def bandKey = col("band").cast("long") * 4294967296L + col("bucket")
      val rSig0 = signBandRows(rReps.select(col("id"), col("v")),
        bands, bitsPerBand)
      val rSig = if (refGateBits <= 0) rSig0
        else bloomGateAgainst(rSig0, bandKey, nSig, bandKey, refGateBits)
      val repPairs = Caching.withCached(nSig, rSig) {
        joinAcrossBuckets(nSig, rSig, Seq("band", "bucket"), carry = Seq("v"),
            hotBucketThreshold, splitTarget)
          .withColumn("cosine", GraftFunctions.cosine_sim(col("v_a"), col("v_b")))
          .filter(col("cosine") >= threshold)
          .select(col("id_a").as("new_id"), col("id_b").as("ref_id"),
            round(col("cosine"), 6).as("cosine"))
          .distinct()
      }
      // One union aggregate for the two class maxima when the index
      // carries none — same driver-job fold as the lexical serve (r21).
      val bothMax = refIndex.maxClass match {
        case Some(refMax) => math.max(maxClassSize(nReps), refMax)
        case None => math.max(1L, maxLongOf(
          nReps.select(col("cnt")).unionAll(rReps.select(col("cnt"))), "cnt"))
      }
      if (bothMax <= 1L) repPairs
      else
        repPairs
          .join(nReps.select(col("id").as("new_id"), col("fp").as("fp_n")), "new_id")
          .join(rReps.select(col("id").as("ref_id"), col("fp").as("fp_r")), "ref_id")
          .join(nMembers.select(col("fp").as("fp_n"), col("id").as("xn")), "fp_n")
          .join(rMembers.select(col("fp").as("fp_r"), col("id").as("xr")), "fp_r")
          .select(col("xn").as("new_id"), col("xr").as("ref_id"), col("cosine"))
    }
  }

  /** All-pairs brute-force variant of [[embeddingNearDupPairs]] — recall
    * reference for specs and exact baseline at TEST scale only (the
    * broadcast nested-loop is quadratic in the corpus; never the shipped
    * default).
    */
  def embeddingNearDupPairsBrute(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cosine", GraftFunctions.cosine_sim(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }
}
