package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Unit tests for the round-7 pipeline operators: benchmark
  * decontamination, context-window chunking, mixture sampling — the
  * contract edges the single-corpus oracle queries can't reach (short
  * docs, exact overlap boundaries, determinism under repartitioning,
  * argument validation).
  */
class CurationOpsSpec extends SparkSuite {

  import spark.implicits._

  // ------------------------------------------------- decontaminate

  test("decontaminate: shared n-grams flagged with exact distinct counts") {
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      // shares 2 distinct 3-grams: "alpha beta gamma", "beta gamma delta"
      (1L, "alpha beta gamma delta epsilon"),
      // shares 1: "beta gamma delta"
      (2L, "x beta gamma delta"),
      // repeats a contaminated gram — still ONE distinct shared gram
      (3L, "alpha beta gamma z alpha beta gamma"),
      (4L, "totally clean document here")).toDF("doc_id", "text")
    val byId = CurationOps.decontaminate(train, evalSet, n = 3)
      .select("doc_id", "n_contaminated", "kept")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(byId == Map(
      1L -> ((2L, 0)), 2L -> ((1L, 0)), 3L -> ((1L, 0)), 4L -> ((0L, 1))))
  }

  test("decontaminate: caller columns named _id/_graft_decon_id0 don't collide") {
    // The working id name is picked to miss caller columns; a literal
    // "_id" (the old fixed name) and even the generator's first choice
    // must both survive untouched.
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon", "keep-me", "keep-too"),
      (4L, "totally clean document here", "other", "also"))
      .toDF("doc_id", "text", "_id", "_graft_decon_id0")
    val got = CurationOps.decontaminate(train, evalSet, n = 3)
      .select("doc_id", "_id", "_graft_decon_id0", "n_contaminated", "kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      (1L, "keep-me", "keep-too", 2L, 0),
      (4L, "other", "also", 0L, 1)))
  }

  test("decontaminate: docs shorter than n have no grams and stay kept") {
    val evalSet = Seq((9L, "a b c")).toDF("doc_id", "text")
    val train = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val got = CurationOps.decontaminate(train, evalSet, n = 3)
      .select("doc_id", "n_contaminated", "kept")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 0L, 1), (2L, 0L, 1)))
  }

  test("decontaminate: n < 1 rejected") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      CurationOps.decontaminate(df, df, n = 0)
    }
  }

  // ---------------------------------------------- chunkByTokenBudget

  test("chunkByTokenBudget: overlap windows tile the token sequence exactly") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    // max=4, overlap=1 → stride 3 → ceil((10-4)/3)+1 = 3 chunks at 0,3,6.
    val got = TextOps.chunkByTokenBudget(docs, maxTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .select("chunk_idx", "start_tok", "chunk_tokens", "chunk_text")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (0, 0, 4, "t1 t2 t3 t4"),
      (1, 3, 4, "t4 t5 t6 t7"),
      (2, 6, 4, "t7 t8 t9 t10")))
    // Every consecutive pair overlaps by exactly `overlap` tokens and the
    // final chunk ends at the last token.
    assert(got.last._2 + got.last._3 == 10)
  }

  test("chunkByTokenBudget: short docs emit one whole-doc chunk; ragged tail kept") {
    val docs = Seq(
      (1L, "a b"),                                  // n <= max → 1 chunk
      (2L, (1 to 9).map(i => s"w$i").mkString(" ")) // 9 tokens, max 4 ov 0
    ).toDF("doc_id", "text")
    val got = TextOps.chunkByTokenBudget(docs, maxTokens = 4, overlap = 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nc"), sum("chunk_tokens").as("tot"),
        max("chunk_tokens").as("mx"), min("chunk_tokens").as("mn"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(1L) == ((1L, 2L, 2, 2)))
    // 9 tokens / stride 4 → chunks of 4,4,1 — no token dropped, no pad.
    assert(got(2L) == ((3L, 9L, 4, 1)))
  }

  test("chunkByTokenBudget: invalid budget/overlap rejected") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.chunkByTokenBudget(df, maxTokens = 0)
    }
    intercept[IllegalArgumentException] {
      TextOps.chunkByTokenBudget(df, maxTokens = 4, overlap = 4)
    }
  }

  // -------------------------------------------------- mixtureSample

  test("mixtureSample: composition tracks weights, scarcest group kept whole-ish") {
    // 400 a / 200 b / 100 c with weights 2/1/1 → T = min(400*4/2, 200*4/1,
    // 100*4/1) = min(800, 800, 400) = 400 → expect ~200 a, ~100 b, ~100 c
    // (c is binding: rate 1, kept entirely).
    val df = ((1 to 400).map(i => (i.toLong, "a")) ++
      (401 to 600).map(i => (i.toLong, "b")) ++
      (601 to 700).map(i => (i.toLong, "c"))).toDF("doc_id", "grp")
    val got = SamplingOps.mixtureSample(df, "grp",
        Seq("a" -> 2L, "b" -> 1L, "c" -> 1L), col("doc_id"))
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    // c's rate is exactly 1 (num = den) → all 100 rows survive.
    assert(got("c") == 100L)
    // Hash-rate groups land Binomial(n, rate) around the target — allow
    // generous slack, the point is composition not exact caps.
    assert(got("a") > 150 && got("a") < 250, got.toString)
    assert(got("b") > 70 && got("b") < 130, got.toString)
  }

  test("mixtureSample: deterministic under repartitioning; unweighted drop is opt-in") {
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 150).map(i => (i.toLong, "b")) ++
      (151 to 160).map(i => (i.toLong, "z"))).toDF("doc_id", "grp")
    def ids(parts: Int) = SamplingOps.mixtureSample(
        df.repartition(parts), "grp", Seq("a" -> 1L, "b" -> 1L), col("doc_id"),
        dropUnweightedGroups = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val one = ids(1)
    assert(one == ids(7) && one == ids(32))
    val kept = SamplingOps.mixtureSample(df, "grp",
      Seq("a" -> 1L, "b" -> 1L), col("doc_id"), dropUnweightedGroups = true)
    assert(kept.filter(col("grp") === "z").count() == 0)
    // Default contract: an unweighted group fails LOUDLY at execution
    // (silently discarding a slice is the bug), naming the group.
    val e = intercept[Exception] {
      SamplingOps.mixtureSample(df, "grp",
        Seq("a" -> 1L, "b" -> 1L), col("doc_id")).count()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("has no weight"), s"unexpected error: $messages")
    // All groups weighted → the strict default samples identically to
    // the opt-in path.
    val strictIds = SamplingOps.mixtureSample(df.filter(col("grp") =!= "z"),
        "grp", Seq("a" -> 1L, "b" -> 1L), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(strictIds == one)
  }

  test("temperatureSample: √n composition, scarcest-per-weight kept whole, deterministic") {
    // 900 a / 100 b / 25 c → w = (30, 10, 5), Σw = 45.
    // t = min(900·45 div 30, 100·45 div 10, 25·45 div 5) = min(1350, 450, 225) = 225
    // → rates a: 30·225/40500 = 1/6, b: 10·225/4500 = 1/2, c: 5·225/1125 = 1 (whole).
    val df = ((1 to 900).map(i => (i.toLong, "a")) ++
      (901 to 1000).map(i => (i.toLong, "b")) ++
      (1001 to 1025).map(i => (i.toLong, "c"))).toDF("doc_id", "grp")
    val got = SamplingOps.temperatureSample(df, "grp", col("doc_id"))
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(got("c") == 25L, s"binding group must be kept whole: $got")
    assert(got("a") > 100 && got("a") < 200, got.toString)   // ~150
    assert(got("b") > 30 && got("b") < 70, got.toString)     // ~50
    // Head flattened toward the tail: the a:b KEPT ratio must sit near
    // the √n ratio 3:1, far from the raw 9:1.
    val ratio = got("a").toDouble / got("b")
    assert(ratio > 1.8 && ratio < 4.5, s"kept ratio $ratio not flattened")
    // Deterministic membership under repartitioning.
    def ids(parts: Int) = SamplingOps.temperatureSample(
        df.repartition(parts), "grp", col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(1) == ids(13))
  }

  // ---------------------------------------------------- quantizeInt8

  test("quantizeInt8: dequant error bounded by scale; extremes hit ±127") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 1.0f)),
      (2L, Seq(0.0f, 0.0f)),               // all-zero → zeros, scale 0
      (3L, Seq(-2.0f))                     // single negative extreme
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.quantizeInt8(df)
      .select("vec_id", "scale", "qvec")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Byte](2))).toSeq.sortBy(_._1)
    val (_, s1, q1) = got(0)
    assert(s1 == 1.0 / 127)
    assert(q1.max == 127 && q1.min == -127)
    // floor-based: every element within one scale step of the original.
    val orig = Seq(0.5, -1.0, 0.25, 1.0)
    q1.zip(orig).foreach { case (q, x) =>
      assert(math.abs(x - q * s1) <= s1, s"dequant error for $x")
    }
    assert(got(1) == ((2L, 0.0, Seq[Byte](0, 0))))
    assert(got(2)._3 == Seq[Byte](-127))
  }

  test("quantizeInt8: null vectors stay null; determinism across partitioning") {
    val df = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.quantizeInt8(df).orderBy("vec_id").collect()
    assert(!r(0).isNullAt(2) && r(1).isNullAt(1) && r(1).isNullAt(2))
    val big = (1 to 200).map(i => (i.toLong, Seq(i * 0.01f, -i * 0.02f, 3.7f)))
      .toDF("vec_id", "embedding")
    def sums(parts: Int) = SimilarityOps.quantizeInt8(big.repartition(parts))
      .select(col("vec_id"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x.cast("long")).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(sums(1) == sums(13))
  }

  test("quantizeInt8: dequantized vectors preserve cosine top-1 neighbors") {
    // The end use: ANN over the 4x-smaller corpus must still find the
    // right neighbors. Deterministic pseudo-random 16-dim vectors (md5-
    // driven, no RNG state); top-1-by-cosine under dequantization must
    // match the exact top-1 for every query on this well-separated set.
    def vec(seed: Int): Seq[Float] =
      (0 until 16).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$seed:$d".getBytes("UTF-8"))
        (h(0) / 128.0f) + (if (seed % 3 == d % 3) 1.5f else 0.0f)
      }
    val df = (1 to 30).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val deq = SimilarityOps.quantizeInt8(df)
      .select(col("vec_id"),
        transform(col("qvec"), q => q.cast("double") * col("scale"))
          .cast("array<float>").as("embedding"))
    def top1(corpus: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val q = corpus.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = corpus.select(col("vec_id"), col("embedding").as("cv"))
      SimilarityOps.bruteForceTopK(q, c, k = 1) // excludeSelf by default
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toMap
    }
    assert(top1(deq) == top1(df))
  }

  test("withHashSplit: disjoint-exhaustive, proportional, stable under growth") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("doc_id")
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val got = SamplingOps.withHashSplit(df, splits, col("doc_id"))
      .as[(Long, String)].collect().toMap
    // Exhaustive: every row labeled; disjoint is structural (one column).
    assert(got.size == 2000 && got.values.forall(Set("train", "val", "test")))
    // Proportions Binomial around 8/1/1.
    val counts = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 1500 && counts("train") < 1700, counts.toString)
    assert(counts("val") > 140 && counts("val") < 260, counts.toString)
    assert(counts("test") > 140 && counts("test") < 260, counts.toString)
    // Growth stability: adding rows never moves an existing key's split.
    val grown = SamplingOps.withHashSplit((1L to 4000L).toDF("doc_id"),
        splits, col("doc_id"))
      .as[(Long, String)].collect().toMap
    assert(got.forall { case (k, v) => grown(k) == v })
    // Contract violations fail loudly.
    intercept[IllegalArgumentException] {
      SamplingOps.withHashSplit(df, Seq.empty, col("doc_id"))
    }
    intercept[IllegalArgumentException] {
      SamplingOps.withHashSplit(df, Seq("a" -> 0), col("doc_id"))
    }
    intercept[IllegalArgumentException] {
      SamplingOps.withHashSplit(df, Seq("a" -> 1, "a" -> 2), col("doc_id"))
    }
    // A NULL key would null the hash and leave the row silently unlabeled
    // — the opposite of disjoint-and-exhaustive; it must fail loudly at
    // execution (ADVICE r11).
    val nullKey = Seq(Some(1L), None).toDF("doc_id")
    val err = intercept[Exception] {
      SamplingOps.withHashSplit(nullKey, splits, col("doc_id")).collect()
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("null split key"), s"unexpected error: $msgs")
  }

  test("withGopherRules: each rule trips on its own adversarial fixture") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "rests under a shady tree while the farmer watches from afar today"
    val docs = Seq(
      1L -> good,                                  // passes everything
      2L -> "short text only here",                // word count < 5
      3L -> good.replace("quick", "q#### ##### ####### #####"), // symbols
      4L -> ("line one ...\nline two ...\nline three"), // 2/3 ellipsis lines
      5L -> good.replaceAll("[a-z]+", "12345"),    // no alphabetic words
      6L -> "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj" // no stopwords
    ).toDF("doc_id", "text")
    val got = TextOps.withGopherRules(docs, minWords = 5, maxWords = 50,
        minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
        maxSymbolRatio = 0.1, maxEllipsisLineRatio = 0.3,
        minAlphaWordRatio = 0.8, minStopwordHits = 2)
      .select("doc_id", "rule_word_count", "rule_symbol_ratio",
        "rule_ellipsis_lines", "rule_alpha_words", "rule_stopwords", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    assert(got(1L) == (true, true, true, true, true, true), s"good doc: ${got(1L)}")
    assert(!got(2L)._1 && !got(2L)._6, s"short doc must fail word count: ${got(2L)}")
    assert(!got(3L)._2 && !got(3L)._6, s"symbol doc must fail symbol ratio: ${got(3L)}")
    assert(!got(4L)._3 && !got(4L)._6, s"ellipsis doc must fail line rule: ${got(4L)}")
    assert(!got(5L)._4 && !got(5L)._6, s"numeric doc must fail alpha rule: ${got(5L)}")
    assert(!got(6L)._5 && !got(6L)._6, s"stopword-free doc must fail: ${got(6L)}")
    // Mean-word-length boundary is inclusive on both ends.
    val mw = TextOps.withGopherRules(Seq(7L -> "aa bb cc dd").toDF("doc_id", "text"),
        minWords = 1, minMeanWordLen = 2.0, maxMeanWordLen = 2.0,
        minStopwordHits = 0)
      .select("rule_mean_word_len").head().getBoolean(0)
    assert(mw, "mean word length exactly at the bound must pass")
  }

  test("dedupIntraDoc: run collapse and first-occurrence line dedup on fixtures") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c a"),                       // runs collapse, later 'a' kept
      (2L, "x y z"),                               // nothing to do
      (3L, "l1\nl2\nl1\nl3\nl2"),                  // dup lines drop, order kept
      (4L, ""),                                    // empty: 1 empty token/line
      (5L, "p p\np p\nq")                          // runs within lines + dup line
    ).toDF("doc_id", "text")
    val got = TextOps.dedupIntraDoc(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_runs_collapsed"), r.getAs[Int]("n_runs_collapsed"),
          r.getAs[String]("text_lines_deduped"), r.getAs[Int]("n_dup_lines_removed")))
      .toMap
    assert(got(1L) == ("a b c a", 3, "a a a b b c a", 0))
    assert(got(2L) == ("x y z", 0, "x y z", 0))
    assert(got(3L)._3 == "l1\nl2\nl3" && got(3L)._4 == 2)
    assert(got(4L) == ("", 0, "", 0))
    // run collapse is token-level (newlines live inside tokens here), and
    // the duplicate "p p" line drops.
    assert(got(5L)._3 == "p p\nq" && got(5L)._4 == 1)
  }

  test("mixtureSample: invalid weights rejected") {
    val df = Seq((1L, "a")).toDF("doc_id", "grp")
    intercept[IllegalArgumentException] {
      SamplingOps.mixtureSample(df, "grp", Seq.empty, col("doc_id"))
    }
    intercept[IllegalArgumentException] {
      SamplingOps.mixtureSample(df, "grp", Seq("a" -> 0L), col("doc_id"))
    }
    intercept[IllegalArgumentException] {
      SamplingOps.mixtureSample(df, "grp", Seq("a" -> 1L, "a" -> 2L), col("doc_id"))
    }
  }

  // ------------------------------------- dedupParagraphsAcrossDocs

  test("dedupParagraphsAcrossDocs: keep-first-global across and within docs") {
    val docs = Seq(
      (1L, Seq("A", "B")),       // both first occurrences → all kept
      (2L, Seq("B", "C", "B")),  // B seen in doc 1, and again within doc 2
      (3L, Seq("A"))             // only a later copy → empty rewrite
    ).toDF("doc_id", "paras")
    val got = TextOps.dedupParagraphsAcrossDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[String]("text_deduped")))).toMap
    assert(got(1L) == ((2L, 2L, "A\nB")))
    assert(got(2L) == ((3L, 1L, "C")))
    assert(got(3L) == ((1L, 0L, "")))
  }

  test("dedupParagraphsAcrossDocs: original order preserved, repartition-stable") {
    val docs = Seq(
      (1L, Seq("z", "a", "m")),       // kept order is positional, not sorted
      (2L, Seq("m", "q", "a", "z"))   // only q survives from doc 2
    ).toDF("doc_id", "paras")
    val expect = Map(1L -> "z\na\nm", 2L -> "q")
    Seq(docs, docs.repartition(7)).foreach { d =>
      val got = TextOps.dedupParagraphsAcrossDocs(d).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_deduped"))
        .toMap
      assert(got == expect)
    }
  }

  // ------------------------------------------- crossDocDupSpans

  test("crossDocDupSpans: interval union of overlapping dup spans is exact") {
    // "b c d" is the one cross-doc 3-gram: doc 1 at pos 2 AND pos 5
    // (overlap-free: spans [2,4] + [5,7] = 6 tokens), doc 2 at pos 2.
    val docs = Seq(
      (1L, "a b c d b c d e"),
      (2L, "x b c d y"),
      (3L, "clean text with no shared grams")).toDF("doc_id", "text")
    val got = TextOps.crossDocDupSpans(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_starts"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac")))).toMap
    assert(got(1L) == ((8L, 2L, 6L, 0.75)))
    assert(got(2L) == ((5L, 1L, 3L, 0.6)))
    assert(got(3L) == ((6L, 0L, 0L, 0.0)))
  }

  test("crossDocDupSpans: truly overlapping starts clip to the gap") {
    // doc 1 = doc 2, so EVERY 3-gram is duplicated: starts 1..4, each
    // clips to min(3, 1) = 1 except the last (3) → covered = all 6.
    val docs = Seq((1L, "t u v w x y"), (2L, "t u v w x y"))
      .toDF("doc_id", "text")
    val got = TextOps.crossDocDupSpans(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_starts"), r.getAs[Long]("dup_tokens")))).toMap
    assert(got(1L) == ((4L, 6L)) && got(2L) == ((4L, 6L)))
  }

  test("crossDocDupSpans: docs shorter than n have no grams and report zero") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.crossDocDupSpans(docs, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_tokens"))).toSet
    assert(got == Set((1L, 0L), (2L, 0L)))
    intercept[IllegalArgumentException] {
      TextOps.crossDocDupSpans(docs, n = 0)
    }
  }

  test("dedupParagraphsAcrossDocs: hot boilerplate paragraph (every doc) stays exact") {
    // The skew regime the min-agg keep-first exists for: one cookie-banner
    // paragraph in EVERY document. Exactly one copy (doc 1, pos 0)
    // survives; every doc keeps its unique paragraph.
    val docs = (1L to 200L).map(i => (i, Seq("COOKIE BANNER", s"unique $i")))
      .toDF("doc_id", "paras")
    val got = TextOps.dedupParagraphsAcrossDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("text_deduped")))).toMap
    assert(got.size == 200)
    assert(got(1L) == ((2L, "COOKIE BANNER\nunique 1")))
    (2L to 200L).foreach { i =>
      assert(got(i) == ((1L, s"unique $i")), s"doc $i")
    }
  }

  test("dedupParagraphsAgainstRef: ref hits drop, keep-first within batch, bloom-size-invariant") {
    val ref = Seq((100L, Seq("OLD NEWS", "BANNER"))).toDF("doc_id", "paras")
    val refFps = TextOps.paragraphFingerprints(ref)
    val batch = Seq(
      (1L, Seq("BANNER", "fresh one")),   // BANNER already ingested → drops
      (2L, Seq("fresh one", "fresh two")),// "fresh one" is doc 1's now → keep-first
      (3L, Seq("OLD NEWS"))               // everything known → empty rewrite
    ).toDF("doc_id", "paras")
    def run(bits: Int) = TextOps.dedupParagraphsAgainstRef(batch, refFps,
        bloomBits = bits).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("n_ref_hits"),
          r.getAs[String]("text_deduped")))).toMap
    val got = run(1 << 20)
    assert(got(1L) == ((1L, 1L, "fresh one")))
    assert(got(2L) == ((1L, 0L, "fresh two")))
    assert(got(3L) == ((0L, 1L, "")))
    // A saturated Bloom gates nothing but the join still decides
    // membership — results identical by no-false-negatives at ANY sizing.
    assert(run(8) == got)
  }

  test("dedupParagraphsAgainstRef: empty-array docs keep their output row") {
    // posexplode emits no rows for an empty array — without the doc
    // spine such documents silently vanished, violating the documented
    // one-row-per-batch-document contract.
    val refFps = TextOps.paragraphFingerprints(
      Seq((100L, Seq("BANNER"))).toDF("doc_id", "paras"))
    val batch = Seq(
      (1L, Seq("BANNER", "fresh")),
      (2L, Seq.empty[String])
    ).toDF("doc_id", "paras")
    val got = TextOps.dedupParagraphsAgainstRef(batch, refFps).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_ref_hits"), r.getAs[String]("text_deduped")))).toMap
    assert(got.size == 2)
    assert(got(1L) == ((2L, 1L, 1L, "fresh")))
    assert(got(2L) == ((0L, 0L, 0L, "")))
  }

  test("dedupParagraphsAgainstRef: null paragraph array fails loudly") {
    val refFps = TextOps.paragraphFingerprints(
      Seq((100L, Seq("BANNER"))).toDF("doc_id", "paras"))
    val batch = Seq((1L, Seq("a")), (2L, null))
      .toDF("doc_id", "paras")
    val err = intercept[Exception] {
      TextOps.dedupParagraphsAgainstRef(batch, refFps).collect()
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("null paragraph array"), s"unexpected error: $msgs")
  }

  test("dedupParagraphsAcrossDocs: null paragraph element fails loudly") {
    // A null paragraph would null its fingerprint and silently vanish
    // from the inner fingerprint join (and from n_paras).
    val docs = Seq((1L, Seq("A", null, "B"))).toDF("doc_id", "paras")
    val err = intercept[Exception] {
      TextOps.dedupParagraphsAcrossDocs(docs).collect()
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("null paragraph"), s"unexpected error: $msgs")
  }

  // ------------------------------------------ decontaminateSpans

  test("decontaminateSpans: only eval-covered tokens drop, clean text untouched") {
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // covered 1-4 → "epsilon"
      (2L, "x beta gamma delta y"),           // covered 2-4 → "x y"
      (3L, "clean doc here entirely"),        // no hits → verbatim
      (4L, "alpha beta")                      // shorter than n → no grams
    ).toDF("doc_id", "text")
    val got = CurationOps.decontaminateSpans(train, evalSet, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_masked"), r.getAs[String]("text_clean")))).toMap
    assert(got(1L) == ((4L, "epsilon")))
    assert(got(2L) == ((3L, "x y")))
    assert(got(3L) == ((0L, "clean doc here entirely")))
    assert(got(4L) == ((0L, "alpha beta")))
  }

  test("decontaminateSpans: repeated hit inside one doc masks every occurrence") {
    val evalSet = Seq((9L, "q r s")).toDF("doc_id", "text")
    val train = Seq((1L, "q r s t q r s")).toDF("doc_id", "text")
    val got = CurationOps.decontaminateSpans(train, evalSet, n = 3).collect()
      .map(r => (r.getAs[Long]("n_masked"), r.getAs[String]("text_clean")))
    assert(got.toSeq == Seq((6L, "t")))
  }

  // --------------------------------- dedupSubstringsAcrossDocs

  test("dedupSubstringsAcrossDocs: first copy intact, later copies lose exactly the shared span") {
    val docs = Seq(
      (1L, "a b c d e"),    // owns the kept "a b c"
      (2L, "x a b c y"),    // later copy of "a b c" → span removed
      (3L, "p q r s"),      // identical pair: first intact...
      (4L, "p q r s")       // ...second fully erased
    ).toDF("doc_id", "text")
    val got = TextOps.dedupSubstringsAcrossDocs(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("text_dedup")))).toMap
    assert(got(1L) == ((0L, "a b c d e")))
    assert(got(2L) == ((3L, "x y")))
    assert(got(3L) == ((0L, "p q r s")))
    assert(got(4L) == ((4L, "")))
  }

  test("dedupSubstringsAcrossDocs: within-doc repeat of a dup gram drops only the later span") {
    val docs = Seq(
      (5L, "m n o m n o"),  // "m n o" kept at pos 1; its pos-4 repeat drops
      (6L, "m n o z z z")   // later copy drops; unique "z z z" untouched
    ).toDF("doc_id", "text")
    val got = TextOps.dedupSubstringsAcrossDocs(docs, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_dedup")))).toMap
    assert(got(5L) == ((6L, 3L, "m n o")))
    assert(got(6L) == ((6L, 3L, "z z z")))
  }

  test("dedupSubstringsAcrossDocs: packed and struct keep-first keys agree (string/negative ids force the fallback)") {
    // The r21 packed keep-first key (id << posBits | pos, hash-aggregable)
    // must be indistinguishable from the struct-min fallback. String ids
    // and negative ids fail the packing bounds and take the fallback;
    // the same corpus under long ids takes the packed path — identical
    // rewrites either way.
    val base = Seq(
      (1L, "a b c d e"), (2L, "x a b c y"), (3L, "p q r s"), (4L, "p q r s"),
      (5L, "m n o m n o"), (6L, "m n o z z z"))
    val longIds = TextOps.dedupSubstringsAcrossDocs(
        base.toDF("doc_id", "text"), n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id").toString, r.getAs[Long]("n_removed"),
        r.getAs[String]("text_dedup"))).toSet
    val stringIds = TextOps.dedupSubstringsAcrossDocs(
        base.map { case (i, t) => (i.toString, t) }.toDF("doc_id", "text"),
        n = 3).collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("n_removed"),
        r.getAs[String]("text_dedup"))).toSet
    assert(stringIds == longIds)
    // Negative long ids: keep-first still orders by (id, pos) exactly.
    val negIds = TextOps.dedupSubstringsAcrossDocs(
        base.map { case (i, t) => (i - 3L, t) }.toDF("doc_id", "text"),
        n = 3).collect()
      .map(r => ((r.getAs[Long]("doc_id") + 3L).toString,
        r.getAs[Long]("n_removed"), r.getAs[String]("text_dedup"))).toSet
    assert(negIds == longIds)
  }

  test("dedupSubstringsAcrossDocs: repartition-stable; no dup grams → identity rewrite") {
    val docs = Seq((1L, "u v w"), (2L, "h i j k")).toDF("doc_id", "text")
    Seq(docs, docs.repartition(5)).foreach { d =>
      val got = TextOps.dedupSubstringsAcrossDocs(d, n = 3).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_removed"),
          r.getAs[String]("text_dedup"))).toSet
      assert(got == Set((1L, 0L, "u v w"), (2L, 0L, "h i j k")))
    }
  }

  // --------------------------------------------- dsirLogWeights

  test("dsirLogWeights: target-like docs outrank off-target docs") {
    val docs = Seq(
      (1L, "good clean prose text", "en"),
      (2L, "good clean prose text", "en"),
      (3L, "spam spam spam spam", "xx"),
      (4L, "good spam spam text", "xx")).toDF("doc_id", "text", "lang")
    val w = CurationOps.dsirLogWeights(docs,
        docs.filter(col("lang") === "en"), buckets = 64)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("dsir_logweight")))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L))
    assert(w(1L)._1 == 4L)
    assert(w(1L)._2 == w(2L)._2)         // identical docs, identical weight
    assert(w(1L)._2 > w(4L)._2)          // pure target beats mixed
    assert(w(4L)._2 > w(3L)._2)          // mixed beats pure off-target
  }

  test("dsirLogWeightsForSubset: bit-identical to the general form on a filtered target") {
    val docs = Seq(
      (1L, "good clean prose text", "en"),
      (2L, "alpha beta gamma", "en"),
      (3L, "spam spam spam spam", "xx"),
      (4L, "good spam omega text", null.asInstanceOf[String]),
      (5L, "delta beta", "de")).toDF("doc_id", "text", "lang")
    // Null predicate rows must behave exactly like filter(): dropped from
    // the target, kept in the corpus.
    val pred = col("lang") === "en"
    val general = CurationOps.dsirLogWeights(docs, docs.filter(pred),
        buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fused = CurationOps.dsirLogWeightsForSubset(docs, pred, buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fused == general)
    // Empty target subset: both forms degrade identically (all-smoothing
    // model), rather than diverging on the missing-count fill.
    val nonePred = col("lang") === "zz"
    val gEmpty = CurationOps.dsirLogWeights(docs, docs.filter(nonePred),
        buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fEmpty = CurationOps.dsirLogWeightsForSubset(docs, nonePred,
        buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fEmpty == gEmpty)
    intercept[IllegalArgumentException] {
      CurationOps.dsirLogWeightsForSubset(docs, pred, buckets = 1)
    }
  }

  test("dsirLogWeightsForSubset: caller columns named like its working columns") {
    // The id is `bk` and the predicate reads a column `c`: both names the
    // operator also uses internally. Weights must match the same corpus
    // under neutral names, with the output keyed by the caller's id name.
    val docs = Seq(
      (1L, "good clean prose text", 1, "x"),
      (2L, "alpha beta gamma", 1, "y"),
      (3L, "spam spam spam spam", 0, "z"),
      (4L, "good spam omega text", 0, "w")).toDF("doc_id", "text", "flag", "tag")
    val want = CurationOps.dsirLogWeightsForSubset(docs, col("flag") === 1,
        buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val clashing = docs.toDF("bk", "text", "c", "w")
    val got = CurationOps.dsirLogWeightsForSubset(clashing, col("c") === 1,
        buckets = 16, idCol = "bk")
    assert(got.columns.toSeq == Seq("bk", "n_tokens", "dsir_logweight"))
    assert(got.orderBy("bk").collect().map(_.toSeq).toSeq == want)
  }

  test("dsirLogWeights: bit-identical under repartitioning") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en"), (2L, "delta beta", "en"),
      (3L, "omega psi chi phi", "xx"), (4L, "alpha omega", "xx"))
      .toDF("doc_id", "text", "lang")
    val tgt = docs.filter(col("lang") === "en")
    val a = CurationOps.dsirLogWeights(docs, tgt, buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = CurationOps.dsirLogWeights(docs.repartition(11), tgt.repartition(5),
        buckets = 16)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      CurationOps.dsirLogWeights(docs, tgt, buckets = 1)
    }
  }
}
