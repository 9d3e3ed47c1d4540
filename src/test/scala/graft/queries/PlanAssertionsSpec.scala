package graft.queries

import graft.SparkSuite

/** Plan-shape regression guards for the scale-relevant properties the
  * queries are designed around (SURVEY.md §8 scale notes): filter
  * pushdown reaching the parquet scan, small dimensions broadcast,
  * candidate generation never falling back to nested-loop/cartesian
  * plans, and the hot aggregations staying inside whole-stage codegen.
  * Failures here mean a future change silently degraded a plan even if
  * values still match.
  */
class PlanAssertionsSpec extends SparkSuite {

  private def plan(name: String): String =
    GraftQueries.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  /** Plan after execution — AQE finalizes stages (and shows codegen spans)
    * only once the query has run.
    */
  private def finalPlan(name: String): String = {
    val df = GraftQueries.queries(name)(spark, sf())
    df.collect() // executes THIS QueryExecution (count() would build a new one)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q02: predicate is pushed to the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(!p.contains("PushedFilters: []"), p)
  }

  test("q05: dimension tables join via broadcast, not shuffle") {
    val p = plan("q05_region_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01: pricing summary aggregates inside whole-stage codegen with partial aggregation") {
    val p = finalPlan("q01_pricing_summary")
    assert(p.contains("codegen id"), p) // hot aggregation stays codegen'd
    assert(p.contains("Functions [6]"), p) // both HashAggregate phases present
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("dedup candidate generation never plans nested-loop or cartesian joins") {
    // allExecutedPlans (not the outer plan): these ops checkpoint their
    // result, so the candidate join only shows up in the inner executions.
    for (q <- Seq("dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_jaccard_exact",
        "dedup_jaccard_prefix", "dedup_winnow_pairs")) {
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("curate_incremental_dedup: cross-corpus candidates are equi-joins, never pair enumeration") {
    // The asymmetric join's whole scale contract is that candidates come
    // from the shingle inverted index across sides — a nested-loop or
    // cartesian anywhere would silently reintroduce batch×corpus pairing.
    val p = allExecutedPlans("curate_incremental_dedup").mkString("\n===\n")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The reference-side inverted index must pass the broadcast Bloom
    // gate before it shuffles into the candidate join (result-identical
    // by no-false-negatives; the map-side scale asymmetry of the op).
    assert(p.contains("might_contain("),
      s"expected the Bloom ref-gate in the incremental-dedup plan:\n$p")
  }

  test("append-path incremental queries keep equi-join candidates and the Bloom ref-gate") {
    // The epoch-append variants must inherit the one-shot rows' scale
    // shape: candidates from the inverted index / band join across sides
    // (never pair enumeration — a scalar-subquery Cross BNLJ from the
    // Bloom gate is fine, an Inner BNLJ is the regression), with the
    // reference side Bloom-gated before it shuffles.
    for (q <- Seq("curate_incremental_append", "curate_incremental_append_semantic",
        "curate_incremental_append_paragraphs")) {
      GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!"BroadcastNestedLoopJoin [^,]*, Inner".r.findFirstIn(p).isDefined,
        s"$q: $p")
      assert(p.contains("might_contain("),
        s"$q: expected the Bloom ref-gate in the appended-index serve:\n$p")
    }
  }

  test("text_shard_pack plans no global window and no single-partition exchange") {
    // The whole point of the two-phase prefix sum: the semantic twin is
    // `sum() OVER (ORDER BY key)` — a Window over Exchange SinglePartition
    // that serializes the corpus through one reducer. The shipped plan
    // must contain neither (range repartition + per-partition passes
    // only). The op checkpoints its ranged input, so check every executed
    // plan, not just the outer one.
    val p = allExecutedPlans("text_shard_pack").mkString("\n===\n")
    assert(!p.contains("Window"), s"global window crept in:\n$p")
    assert(!p.contains("SinglePartition"), s"single-reducer exchange crept in:\n$p")
    assert(p.contains("rangepartitioning"), s"expected a range repartition:\n$p")
  }

  test("BPE pack/pipeline keep the two-phase prefix-sum shape (no global window)") {
    // Same invariant as text_shard_pack, for the subword variants: the
    // BPE weights must not tempt a plan back into the single-reducer
    // ordered window.
    for (q <- Seq("text_shard_pack_bpe", "pipeline_pack_bpe")) {
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(!p.contains("Window"), s"$q: global window crept in:\n$p")
      assert(!p.contains("SinglePartition"), s"$q: single-reducer exchange crept in:\n$p")
      assert(p.contains("rangepartitioning"), s"$q: expected a range repartition:\n$p")
    }
  }

  test("curate_cluster_survivors: one partial-aggregated argmax, no window, no rank") {
    // The survivor policy must stay ONE map-side-combinable max_by per
    // component — a rank/row_number window over the joined frame is the
    // semantic twin that shuffles every member row to its component's
    // reducer WITH the carried columns and sorts there; the agg ships
    // one partial row per (map task, component) instead. Scoped to the
    // query's OWN final plan: the memoized labeling build legitimately
    // contains the exact-dup canonical-assignment window and has its
    // own plan guards elsewhere.
    val p = finalPlan("curate_cluster_survivors")
    assert(!p.contains("Window"), s"survivor selection fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct") && !"BroadcastNestedLoopJoin [^,]*, Inner".r
      .findFirstIn(p).isDefined, p)
    assert("max_by".r.findFirstIn(p).isDefined &&
      "partial_max_by|partial\\(max_by".r.findFirstIn(p).isDefined,
      s"expected a partial-aggregated max_by:\n$p")
  }

  test("sample_deterministic: the stratified cap runs on TopKPerKey, not a window") {
    // Strata are few huge groups; the cap must plan as the bounded-heap
    // whole-plan operator (map-side flush-at-cap), never a per-group
    // row_number window that sorts a whole language in one task.
    val p = allExecutedPlans("sample_deterministic").mkString("\n===\n")
    assert(p.contains("TopKPerKey"), s"expected the TopKPerKey node:\n$p")
    assert(!p.contains("Window"), s"stratified cap fell back to a window:\n$p")
  }

  test("pipeline_curate_v2: fingerprint window stays partitioned; pack stays two-phase") {
    val p = allExecutedPlans("pipeline_curate_v2").mkString("\n===\n")
    // The md5 dedup window is PARTITIONED by fingerprint (fine); what
    // must never appear is a single-reducer exchange — the pack tail is
    // the two-phase prefix sum.
    assert(!p.contains("SinglePartition"),
      s"pipeline_curate_v2: single-reducer exchange crept in:\n$p")
    assert(p.contains("rangepartitioning"),
      s"pipeline_curate_v2: expected the pack's range repartition:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_topk_ivf_q8: probe joins broadcast the query side, no nested loops") {
    val p = finalPlan("sim_topk_ivf_q8")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q8 probe degenerated to pair enumeration:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe joins:\n$p")
    // The fp32 re-rank join (shortlist ⋈ corpus on vec_id) must broadcast
    // the bounded shortlist, not sort-merge the corpus — an SMJ there
    // shuffles the full vector table and undoes the int8 narrow-payload
    // win (ADVICE r11). With every join broadcast, no SMJ may appear.
    assert(!p.contains("SortMergeJoin"),
      s"q8 re-rank join shuffles the corpus instead of broadcasting the shortlist:\n$p")
  }

  test("IVF assignment/probe run the native nearest_centroids kernel") {
    // The composed per-centroid cosine_sim struct tree is an nlist-sized
    // PLAN — a janino/codegen cliff under SemDeDup's √N nlist sizing; the
    // native kernel carries the model as a reference object (r16). A
    // refactor back to the composed form would be value-identical at
    // nlist=8 and a scale cliff at corpus nlist, so pin the kernel.
    Seq("sim_topk_ivf", "sim_topk_ivf_q8", "curate_semdedup").foreach { q =>
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(p.contains("nearest_centroids"),
        s"$q assignment/probe no longer uses the native kernel:\n$p")
    }
    // On the pure-IVF path cosine_sim may appear ONLY for the exact
    // re-rank — one expression, not one per centroid (nlist=8 would show
    // eight per argmax site under the composed form).
    val ivf = finalPlan("sim_topk_ivf")
    assert("cosine_sim".r.findAllIn(ivf).size <= 2,
      s"per-centroid cosine tree is back in the assignment path:\n$ivf")
  }

  test("curate_semdedup: within-cluster pairs are equi-joins, never pair enumeration") {
    GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
    val p = allExecutedPlans("curate_semdedup").mkString("\n===\n")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_topk_ivfpq: ADC probe broadcasts queries, re-rank broadcasts the shortlist") {
    // The indexed serve is EAGER since r16 (the strict generation guard
    // materializes the bounded shortlist + fetch at call time), so the
    // probe's plans execute inside the query fn — observe EVERY executed
    // plan, not just the returned re-rank tail.
    val p = allExecutedPlans("sim_topk_ivfpq").mkString("\n===\n")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ probe degenerated to pair enumeration:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe joins:\n$p")
    // Same contract as the q8 sibling: no join in the whole serve —
    // probe, guard, or re-rank — may sort-merge; the corpus-touching
    // joins broadcast the bounded side (an SMJ would shuffle the full
    // vector table and undo the 16-byte-code payload win), and the
    // guard compares two bounded materialized frames.
    assert(!p.contains("SortMergeJoin"),
      s"IVF-PQ serve shuffles the corpus instead of broadcasting the bounded side:\n$p")
    // The ADC kernel itself must be in the plan (scoring via lookups,
    // not a resurrected vector-arithmetic path).
    assert(p.contains("pq_adc_score"), s"expected the ADC lookup kernel in:\n$p")
  }

  test("gated near-dup ops plan no pair-enumerating nested-loop joins") {
    // These three replaced all-pairs formulations (round-3 verdict): pair
    // generation must stay candidate-gated equi-joins. A conditionless
    // Cross BNLJ over single-row aggregates (broadcast scalar) is fine;
    // an Inner BNLJ (`a.id < b.id` pair enumeration) is the regression.
    GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
    for (q <- Seq("dedup_edit_distance", "dedup_embedding_pairs", "sim_label_stats")) {
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(!"BroadcastNestedLoopJoin [^,]*, Inner".r.findFirstIn(p).isDefined, s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  /** Every physical plan executed while running the query — dedup ops
    * return an eager localCheckpoint, so their REAL plans (candidate
    * joins, verify expressions) only surface via the listener; the outer
    * plan is a `Scan ExistingRDD` stub.
    */
  private def allExecutedPlans(name: String): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      GraftQueries.queries(name)(spark, sf()).collect()
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("dedup hot paths run native expressions, not interpreted HOF trees") {
    // The shingle/winnow inner loops are native expressions
    // (word_shingles / winnow_fps60); a future refactor that reintroduces
    // the interpreted higher-order formulation (lambda transform over
    // sequence windows) or per-pair string-array intersection would be
    // value-identical but 10-100x slower.
    val winnow = allExecutedPlans("dedup_winnow_pairs").mkString("\n===\n")
    assert(winnow.contains("winnow_fps60"), winnow)
    val prefix = allExecutedPlans("dedup_jaccard_prefix").mkString("\n===\n")
    assert(prefix.contains("word_shingles"), prefix)
    assert(!prefix.contains("array_intersect"), prefix)
  }

  test("sim_topk_bruteforce: query side broadcasts") {
    val p = plan("sim_topk_bruteforce")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q34 range join: bucket equi-join, no nested loop") {
    val p = plan("q34_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q32/q33: TopKPerKey plans with no sort and a single exchange pair") {
    for (q <- Seq("q32_topk_plan", "q33_topk_rewrite")) {
      val p = plan(q)
      assert(p.contains("TopKPerKey"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
  }

  test("curate_decontaminate: eval grams broadcast — corpus never shuffles against them") {
    // The 100 TB contract: the benchmark side is small, so the gram join
    // must be a BroadcastHashJoin; a SortMergeJoin here would shuffle the
    // corpus's exploded gram stream by gram value.
    val p = plan("curate_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_chunk_budget: shuffle-free up to the presentation sort") {
    // Chunking is a pure per-row map + bounded explode; the ONLY exchange
    // in the plan must be the final orderBy's range partitioning.
    val p = plan("text_chunk_budget")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected only the orderBy exchange:\n$p")
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("sample_mixture: corpus filtered via broadcast rates, scanned at most twice") {
    // One corpus scan feeds the per-group counts, one the filter pass; the
    // T-fold must NOT duplicate the counts subplan into a third scan, and
    // the rates must reach the corpus as a broadcast, not a shuffle.
    val p = plan("sample_mixture")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected <= 2 corpus scans, got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_paragraph_dedup: keep-first is a min-aggregate, never a rank window") {
    // The keep-first decision must stay the map-side-combinable
    // min(struct) + fingerprint join — a rank window partitioned by the
    // paragraph value would funnel a hot boilerplate paragraph's copies
    // through one sorting task. No Window operator may appear anywhere
    // in the op's executions, and nothing may pair-enumerate.
    val ps = allExecutedPlans("text_paragraph_dedup").mkString("\n===\n")
    assert(!ps.contains("Window"),
      s"text_paragraph_dedup: rank window crept back into keep-first:\n$ps")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
  }

  test("text_dup_spans: dup-gram set joins as an equi-join, never pair enumeration") {
    // The dup-gram set is corpus-sized by contract, so the op never
    // broadcasts it by FIAT (AQE is free to convert at runtime when the
    // set measures small, as it does at this test's scale — that is the
    // desired behavior, not a violation). What must never appear is a
    // nested-loop/cartesian pairing of occurrences against the set.
    GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
    val ps = allExecutedPlans("text_dup_spans").mkString("\n===\n")
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .exists(ps.contains), s"text_dup_spans: no equi-join in plan:\n$ps")
  }

  test("pipeline_curate_v3: dedup windows partitioned, two-phase pack, no pair enumeration") {
    GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
    val p = allExecutedPlans("pipeline_curate_v3").mkString("\n===\n")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("rangepartitioning"),
      s"pipeline_curate_v3: expected the pack's range repartition:\n$p")
  }

  test("text_top_boilerplate: global top-20 plans as TakeOrdered, never a full sort") {
    val p = plan("text_top_boilerplate")
    assert(p.contains("TakeOrderedAndProject"),
      s"text_top_boilerplate: expected per-partition top-k heaps:\n$p")
  }

  test("dedup_jaccard_prefix runs the exact inverted-index shape") {
    // The registry row serves jaccardPairs' answer: native shingling, the
    // intersection COUNTED on an fnv64 posting equi-join (never a per-pair
    // array intersection), and no pair enumeration anywhere.
    GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
    val p = allExecutedPlans("dedup_jaccard_prefix").mkString("\n===\n")
    assert(p.contains("word_shingles"), p)
    assert(p.contains("fnv64"), s"dedup_jaccard_prefix: no fnv64 posting key:\n$p")
    assert(!p.contains("array_intersect"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("embedding pair ops (symmetric AND bipartite): cosine verify runs inside the bucket join, in-stage") {
    // The single biggest scale win in the repo (r17, found by the ×100
    // probe): vectors CARRY THROUGH the bucket self-join and the
    // threshold cosine evaluates on the join output in the same stage —
    // Catalyst pushes it into the join CONDITION itself — so only
    // answer-sized survivors ever reach an exchange. The pre-r17 shape
    // (bare-pair distinct + two vector-attach joins + cosine filter
    // after) shuffled the N^1.5/quadratic-in-density candidate stream
    // three times with vector payloads (~80 GB spill, run death at
    // ×100). Discriminator: in the fixed shape the pair-threshold
    // cosine_sim sits in a join keyed on the BUCKET columns; in the
    // regressed shape it sits above (or inside) id-keyed attach joins
    // and the bucket join carries no cosine at all.
    // The BIPARTITE serves joined this list in r18: their r17 shape
    // (bare-pair distinct + two shuffled-hash attaches — already
    // sort-free) still exchanged the candidate stream three times, and
    // at fixed 8-bit buckets ShuffleAudit priced that at 436 MB → 14.5 GB
    // shuffle + 3.2 GB spill per 10× rows for the registered half-corpus
    // batch. Carry-through makes their shuffle corpus-linear too.
    for ((q, bucketKey) <- Seq("dedup_embedding_pairs" -> "band",
        "curate_semantic_dedup" -> "band", "curate_semdedup" -> "list_id",
        "curate_incremental_semantic" -> "band",
        "curate_incremental_append_semantic" -> "band")) {
      GraftQueries.clearRunArtifacts() // observe the BUILD, not a memo read
      val p = allExecutedPlans(q).mkString("\n===\n")
      assert(("(?m)Join \\[" + bucketKey + "#.*cosine_sim\\(").r.findFirstIn(p).isDefined,
        s"$q: the threshold cosine no longer evaluates inside the " +
          s"$bucketKey-keyed candidate join — the carry-through shape regressed:\n$p")
      // Belt-and-suspenders for a planner that stops pushing the
      // predicate into join conditions: a STANDALONE cross-attribute
      // cosine filter is only legal directly above a bucket-keyed join,
      // never above id-keyed attach joins. Self-cosine filters
      // (cosine_sim(v, v) — the within-class eligibility test) are fine.
      val crossAttrFilter = ("(?m)Filter [^\\n]*cosine_sim\\((\\w+#\\d+)[^,]*, " +
        "(\\w+#\\d+)").r
      val bad = crossAttrFilter.findAllMatchIn(p).filter(m => m.group(1) != m.group(2))
      assert(bad.isEmpty,
        s"$q: a standalone cross-attribute cosine filter appeared — check it still " +
          s"sits on the bucket join's output, not above attach joins:\n$p")
    }
  }

  test("curate_dsir_weights: bucket model broadcast — corpus never shuffles against it") {
    // The model is `buckets` rows; the per-doc join must broadcast it.
    // The only corpus-scale shuffle is the (doc, bucket) partial count.
    val ps = allExecutedPlans("curate_dsir_weights").mkString("\n===\n")
    assert(ps.contains("BroadcastHashJoin"), ps)
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
  }
}
