package graft.ops

import graft.SparkSuite
import graft.queries.GraftQueries
import org.apache.spark.sql.functions._

/** Stand-in "real codec" for the [[MultimodalOps.MediaDecoder]] seam spec:
  * resolvable by reflection (top-level, no-arg constructor), and visibly
  * different from the stub so the spec can tell which one decoded.
  */
class TaggingTestDecoder extends MultimodalOps.MediaDecoder {
  override def decodeBatch(batch: Seq[MultimodalOps.MediaRecord])
      : Seq[MultimodalOps.DecodedMedia] =
    batch.map(r => MultimodalOps.decodeStub(r).copy(format = s"decoded:${r.format}"))
}

/** Unit tests for the LLM-pipeline operators (SURVEY.md §2.8) and a
  * smoke-run of every registered query at sf0.001. The value-exact
  * correctness gate is the driver's DuckDB oracle (tools/check_oracle.py
  * locally); these specs pin the operator semantics that the oracle can't
  * see (LSH recall vs brute force, shingle construction, decode plumbing).
  */
class OpsSpec extends SparkSuite {

  test("shingles: 3-gram construction, distinct, short-doc guard") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "x y z x y z").toDF("text")
    val got = df.select(TextOps.shingles(col("text")).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq("x y z", "y z x", "z x y")) // distinct of 4 windows
  }

  test("exact jaccard pairs == minhash-LSH pairs on real docs (recall 1 here)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val exact = DedupOps.jaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect().toSet
    assert(exact.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(lsh == exact,
      s"LSH missed ${(exact -- lsh).size}, extra ${(lsh -- exact).size}")
  }

  test("exact jaccard pairs == brute-force all-pairs Jaccard across thresholds") {
    // Deterministic tiny-to-mid random token bags over a small vocabulary,
    // swept over thresholds including the 1/3 and 2/3 that are not exact
    // doubles and the identity t = 1. Random 3-gram bags almost never
    // share a shingle, so the first 40 bags also get planted variants —
    // an identical copy (a duplicate class), a two-thirds truncation and
    // a one-token edit — which put pairs at every threshold, several
    // exactly on it (a truncation keeping k of n shingles scores k/n).
    // The reference shingles each text independently (distinct
    // space-joined 3-grams of the space split), scores every pair by
    // |∩|/|∪| under the operator's round(·, 6) (HALF_UP on the double's
    // decimal form, as Spark rounds), and keeps pairs at/above t.
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    val bags = (1L to 160L).map { id =>
      val len = 3 + rnd.nextInt(24)
      id -> Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
    }
    val planted = bags.take(40).flatMap { case (id, tk) =>
      Seq(1000 + id -> tk, 2000 + id -> tk.take(math.max(3, tk.size * 2 / 3)),
        3000 + id -> tk.updated(tk.size / 2, "zz"))
    }
    val texts = (bags ++ planted).map { case (id, tk) => id -> tk.mkString(" ") }
    val docs = texts.toDF("doc_id", "text")
    val sets = texts.map { case (id, text) =>
      id -> text.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }
    val scored = for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size if inter > 0
    } yield (a, b, BigDecimal(inter.toDouble / (sa | sb).size.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    for (t <- Seq(0.25, 1.0 / 3, 0.5, 2.0 / 3, 0.75, 0.9, 1.0)) {
      val want = scored.filter(_._3 >= t).toSet
      val got = DedupOps.jaccardPairs(docs, threshold = t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(want.nonEmpty, s"t=$t: no pair reaches the threshold")
      assert(got == want,
        s"t=$t: missed ${(want -- got).size}, extra ${(got -- want).size}")
    }
  }

  test("trainBpeMerges == reference word-type BPE trainer, incl. overlap counting and ties") {
    import spark.implicits._
    // Reference implementation: word-type BPE over (word -> freq), pairs
    // counted over ALL adjacencies (overlaps included), argmax by (count
    // desc, "L R" string asc), merge applied greedily left-to-right.
    def refTrain(corpus: Seq[String], k: Int): Seq[(String, String, Long)] = {
      def hexTokens(w: String): Vector[String] =
        w.getBytes("UTF-8").toVector.map(b => f"${b & 0xff}%02X")
      val vocab = scala.collection.mutable.Map.empty[Vector[String], Long]
      corpus.flatMap(_.split(" ", -1)).foreach { w =>
        val t = hexTokens(w); vocab(t) = vocab.getOrElse(t, 0L) + 1
      }
      val out = Seq.newBuilder[(String, String, Long)]
      var state = vocab.toMap
      var done = false
      for (_ <- 1 to k if !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        state.foreach { case (t, c) =>
          t.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, s"$a $b") }
          out += ((l, r, c))
          state = state.groupMapReduce { case (t, _) =>
            // greedy left-to-right merge of (l, r)
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < t.size) {
              if (i + 1 < t.size && t(i) == l && t(i + 1) == r) { b += l + r; i += 2 }
              else { b += t(i); i += 1 }
            }
            b.result()
          }(_._2)(_ + _)
        }
      }
      out.result()
    }
    // 'aaa'-style overlap (61,61 twice per word), competing pairs, a tie
    // broken by pair string, multi-word docs with repeats.
    val corpus = Seq(
      "aaa bb aaa cc", "bb cc bb", "aaa aaa", "dd dd dd dd")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.ops.TextOps.trainBpeMerges(docs, numMerges = 5)
    assert(got == refTrain(corpus, 5), s"got $got want ${refTrain(corpus, 5)}")
    // Learned sides are well-formed: base byte hex or an earlier result.
    val formed = scala.collection.mutable.Set[String]()
    got.foreach { case (l, r, _) =>
      assert(l.length == 2 || formed(l), s"left '$l' not derivable")
      assert(r.length == 2 || formed(r), s"right '$r' not derivable")
      formed += l + r
    }
    // Exhaustion: a vocabulary of single-byte words has no pairs — empty
    // table, no error.
    val tiny = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(graft.ops.TextOps.trainBpeMerges(tiny, numMerges = 3).isEmpty)
  }

  test("bpeTrainedTokenCounts: trained-table apply matches per-word greedy merges") {
    import spark.implicits._
    val corpus = Seq("aaa bb aaa cc", "bb cc bb", "aaa aaa", "dd dd dd dd", "")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges3 = graft.ops.TextOps.trainBpeMerges(docs, numMerges = 3)
      .map { case (l, r, _) => (l, r) }
    val got = graft.ops.TextOps.bpeTrainedTokenCounts(docs, merges3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Reference: per word, greedy left-to-right application of each merge
    // in rank order over byte-hex tokens.
    def tokCount(w: String): Long = {
      var t = w.getBytes("UTF-8").toVector.map(b => f"${b & 0xff}%02X")
      merges3.foreach { case (l, r) =>
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < t.size) {
          if (i + 1 < t.size && t(i) == l && t(i + 1) == r) { b += l + r; i += 2 }
          else { b += t(i); i += 1 }
        }
        t = b.result()
      }
      t.size.toLong
    }
    corpus.zipWithIndex.foreach { case (text, i) =>
      val words = text.split(" ", -1).toSeq
      val want = (words.size.toLong, words.map(tokCount).sum)
      assert(got(i.toLong) == want, s"doc $i: got ${got(i.toLong)} want $want")
    }
    // Zero merges: token count is the UTF-8 byte count per word.
    val base = graft.ops.TextOps.bpeTrainedTokenCounts(docs, Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val bytes = text.split(" ", -1).map(_.getBytes("UTF-8").length.toLong).sum
      assert(base(i.toLong) == bytes, s"doc $i base: got ${base(i.toLong)} want $bytes")
    }
  }

  test("cross-corpus jaccard: asymmetric join == symmetric pairs crossing the split") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val newSources = Seq("src0", "src1", "src2", "src3")
    val newBatch = docs.filter(col("source").isin(newSources: _*))
    val ref = docs.filter(!col("source").isin(newSources: _*))
    val got = DedupOps.jaccardPairsAgainstRef(newBatch, ref, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Ground truth: the symmetric exact pairs over the WHOLE corpus,
    // restricted to pairs that cross the split, reoriented new→ref.
    val newIds = newBatch.select("doc_id").collect().map(_.getLong(0)).toSet
    val refIds = ref.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = DedupOps.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        (if (newIds(a) && refIds(b)) Seq((a, b, j)) else Nil) ++
          (if (newIds(b) && refIds(a)) Seq((b, a, j)) else Nil)
      }.toSet
    assert(expected.nonEmpty, "expected planted cross-split near-dups in testdata")
    assert(got == expected,
      s"asym missed ${(expected -- got).size}, extra ${(got -- expected).size}")
  }

  test("cross-corpus jaccard: collapse expands exactly; within-side copies never pair") {
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "alpha beta gamma delta epsilon eta"
    // Copies of A on BOTH sides: new copies must each pair with the ref
    // copy of A at 1.0 and with B at jaccard(A,B) = 3/5 — but never with
    // each other (new×new), and ref docs never pair among themselves.
    val newDocs = Seq(1L -> tA, 2L -> tA, 3L -> "hi").toDF("doc_id", "text")
    val refDocs = Seq(10L -> tA, 11L -> tB, 12L -> "hi",
      13L -> "completely different text with other words entirely").toDF("doc_id", "text")
    val got = DedupOps.jaccardPairsAgainstRef(newDocs, refDocs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Set((1L, 10L, 1.0), (2L, 10L, 1.0), (1L, 11L, 0.6), (2L, 11L, 0.6))
    assert(got == expected, s"got $got")
  }

  /** Runs `body` with AQE partition coalescing off, so each shuffle
    * keeps the session's 4 partitions: a Bloom gate over a batch-side
    * aggregate then builds one partial filter per partition and merges
    * them. */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally previous.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("cross-corpus jaccard: Bloom ref-gate is result-identical at any sizing") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val newSources = Seq("src0", "src1")
    val newBatch = docs.filter(col("source").isin(newSources: _*))
    val ref = docs.filter(!col("source").isin(newSources: _*))
    def pairs(gateBits: Int, batch: org.apache.spark.sql.DataFrame = newBatch)
        : Set[(Long, Long, Double)] =
      DedupOps.jaccardPairsAgainstRef(batch, ref, threshold = 0.5,
          refGateBits = gateBits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ungated = pairs(0)
    assert(ungated.nonEmpty, "expected planted cross-split near-dups in testdata")
    // The default gate and a pathologically tiny (fp-saturated) gate must
    // both be identical to no gate — false positives only admit rows that
    // cannot pair, false negatives do not exist.
    assert(pairs(1 << 22) == ungated, "default Bloom gate changed results")
    assert(pairs(64) == ungated, "saturated Bloom gate changed results")
    // A batch spread over 4 partitions: the merged partial filters gate
    // exactly like the one-partition filter.
    assert(uncoalesced(pairs(1 << 22)) == ungated, "merged Bloom gate changed results")
    // An empty batch builds a NULL filter, which drops every ref row.
    val empty = docs.filter(col("source") === "no-such-source")
    assert(pairs(1 << 22, empty).isEmpty && pairs(0, empty).isEmpty)
  }

  test("cross-corpus embedding pairs: Bloom band-bucket ref-gate is result-identical") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val newBatch = emb.filter(col("vec_id") % 5 === 0)
    val ref = emb.filter(col("vec_id") % 5 =!= 0)
    def pairs(gateBits: Int, batch: org.apache.spark.sql.DataFrame = newBatch)
        : Set[(Long, Long)] =
      DedupOps.embeddingPairsAgainstRef(batch, ref, threshold = 0.9,
          dims = 64, refGateBits = gateBits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ungated = pairs(0)
    assert(pairs(1 << 22) == ungated, "default Bloom band gate changed results")
    assert(pairs(64) == ungated, "saturated Bloom band gate changed results")
    assert(uncoalesced(pairs(1 << 22)) == ungated, "merged Bloom band gate changed results")
    val empty = emb.filter(col("vec_id") < 0)
    assert(pairs(1 << 22, empty).isEmpty && pairs(0, empty).isEmpty,
      "empty batch (NULL filter) produced pairs")
  }

  test("cross-corpus embedding pairs == symmetric band-gated pairs crossing the split") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val newV = emb.filter(col("vec_id") % 5 === 0)
    val refV = emb.filter(col("vec_id") % 5 =!= 0)
    val got = DedupOps.embeddingPairsAgainstRef(newV, refV, threshold = 0.4, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Same banding, same verify — the asym result must be the symmetric
    // pair set restricted to pairs crossing the split, reoriented new→ref.
    val newIds = newV.select("vec_id").collect().map(_.getLong(0)).toSet
    val refIds = refV.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = DedupOps.embeddingNearDupPairs(emb, threshold = 0.4, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) =>
        (if (newIds(a) && refIds(b)) Seq((a, b, c)) else Nil) ++
          (if (newIds(b) && refIds(a)) Seq((b, a, c)) else Nil)
      }.toSet
    assert(expected.nonEmpty, "expected planted cross-split embedding near-dups")
    assert(got == expected,
      s"asym missed ${(expected -- got).size}, extra ${(got -- expected).size}")
  }

  test("cross-corpus embedding pairs: vector collapse expands cross-side only") {
    import spark.implicits._
    val vA = Array(1f, 0f, 0f, 0f)
    val vB = Array(1f, 1f, 0f, 0f) // cos(vA, vB) = 1/sqrt(2)
    val vC = Array(-1f, -1f, -1f, -1f) // different sign buckets — never a candidate
    val newE = Seq(1L -> vA, 2L -> vA).toDF("vec_id", "embedding")
    val refE = Seq(10L -> vA, 11L -> vB, 12L -> vC).toDF("vec_id", "embedding")
    val got = DedupOps.embeddingPairsAgainstRef(newE, refE, threshold = 0.5,
        dims = 4, bands = 2, bitsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Both identical new copies pair with the identical ref (1.0) and the
    // near ref (≈0.707107); new×new never pairs, vC never qualifies.
    assert(got.map { case (a, b, _) => (a, b) } ==
      Set((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L)), s"got $got")
    got.foreach { case (_, b, c) =>
      if (b == 10L) assert(c == 1.0, s"identical-vector pair cosine $c")
      else assert(math.abs(c - 0.707107) < 1e-6, s"near pair cosine $c")
    }
  }

  test("duplicate collapse: replicated docs expand to the exact pair set") {
    import spark.implicits._
    // 3 copies of A, 2 copies of B (A~B near-dup), 2 copies of a short doc
    // (sub-shingle: must produce NO pairs), one unrelated doc. The
    // collapse path must emit every within-set pair at jaccard 1.0 and
    // every cross-set member pair at the rep pair's jaccard — the answer
    // the direct all-pairs formulation gives.
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "alpha beta gamma delta epsilon eta"
    val docs = Seq(
      1L -> tA, 2L -> tA, 3L -> tA,
      4L -> tB, 5L -> tB,
      6L -> "hi", 7L -> "hi",
      8L -> "completely different text with other words entirely"
    ).toDF("doc_id", "text")
    val got = DedupOps.jaccardPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Within-set: (1,2)(1,3)(2,3) and (4,5) at 1.0; never the short docs.
    val within = Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (4L, 5L, 1.0))
    // Cross-set: every A-copy × B-copy at jaccard(A,B) = 3/5 (shingle
    // sets of size 4 sharing 3).
    val cross = (for (a <- 1L to 3L; b <- 4L to 5L) yield (a, b, 0.6)).toSet
    assert(got == within ++ cross, s"got $got")
  }

  test("duplicate collapse: text-keyed ops (simhash/winnow/edit) expand exactly") {
    import spark.implicits._
    // 40-token docs: A and B differ in the last token only → token 40
    // touches exactly one 3-shingle, so jaccard = 37/39; the ≥10-token
    // shared run guarantees winnow candidates (MOSS bound); minhash at
    // j≈0.95 has ~1e-12 miss probability. Short "hi" copies have 0
    // winnow fingerprints → winnow/edit must NOT pair them, while
    // simhash (identical fingerprint, no gate) MUST at hamming 0.
    val tA = (1 to 40).map(i => s"t$i").mkString(" ")
    val tB = (1 to 39).map(i => s"t$i").mkString(" ") + " zz"
    val docs = Seq(
      1L -> tA, 2L -> tA, 3L -> tA,
      4L -> tB, 5L -> tB,
      6L -> "hi", 7L -> "hi"
    ).toDF("doc_id", "text")
    val withinLong = Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
    val crossAB = (for (a <- 1L to 3L; b <- 4L to 5L) yield (a, b)).toSet
    val j = BigDecimal(37.0 / 39.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val winnow = DedupOps.winnowPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(winnow == withinLong.map { case (a, b) => (a, b, 1.0) }
      ++ crossAB.map { case (a, b) => (a, b, j) }, s"winnow: $winnow")

    val edit = DedupOps.editDistancePairs(docs, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // "t40" → "zz" is 3 edits; identical copies are 0; "hi" copies have
    // no fingerprints and must not appear.
    assert(edit == withinLong.map { case (a, b) => (a, b, 0) }
      ++ crossAB.map { case (a, b) => (a, b, 3) }, s"edit: $edit")

    val lsh = DedupOps.minhashLshPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == withinLong.map { case (a, b) => (a, b, 1.0) }
      ++ crossAB.map { case (a, b) => (a, b, j) }, s"lsh: $lsh")

    val sim = DedupOps.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Identical copies always pair at hamming 0 — including the short
    // docs (simhash has no fingerprint gate). Cross pairs, if the two
    // fingerprints land within the hamming bound, must be uniform
    // across all member combinations.
    val mustHave = (withinLong + ((6L, 7L))).map { case (a, b) => (a, b, 0) }
    assert(mustHave.subsetOf(sim), s"sim: $sim")
    val crossSim = sim -- mustHave
    assert(crossSim.map(_._3).size <= 1 &&
      (crossSim.isEmpty || crossSim.map(x => (x._1, x._2)) == crossAB), s"sim cross: $crossSim")
  }

  test("dup-light fast path: singleton-class corpus equals the full-corpus restriction") {
    // sf0.001 texts are all distinct → every collapse class is a
    // singleton and the wrappers take the skip path (no expansion joins).
    // Planting exact copies (ids + 100000) builds the dup-heavy sibling
    // corpus that takes the EXPANSION path. For any pairwise-exact op,
    // pairs among a SUBSET of docs are exactly the superset result
    // restricted to pairs inside the subset — so the two paths must agree
    // on the original ids, payloads included.
    val kept = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val docs = kept.unionByName(
      kept.filter(col("doc_id") < 50).select(
        (col("doc_id") + 100000L).as("doc_id"), col("text")))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docs.count() > keptIds.size, "planted dups missing")
    val cases = Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
      ("jaccard", DedupOps.jaccardPairs(docs, threshold = 0.5),
        DedupOps.jaccardPairs(kept, threshold = 0.5)),
      ("simhash", DedupOps.simhashPairs(docs),
        DedupOps.simhashPairs(kept)),
      ("winnow", DedupOps.winnowPairs(docs, threshold = 0.5),
        DedupOps.winnowPairs(kept, threshold = 0.5)))
    for ((name, full, light) <- cases) {
      val payload = full.columns(2)
      val restricted = full.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2)))
        .filter { case (a, b, _) => keptIds(a) && keptIds(b) }.toSet
      val got = light.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
      assert(got == restricted,
        s"$name: skip path diverged — missing ${(restricted -- got).size}, " +
          s"extra ${(got -- restricted).size}")
      assert(restricted.nonEmpty, s"$name: expected surviving near-dup pairs ($payload)")
    }
  }

  test("duplicate collapse: high-multiplicity corpus (20 copies each) stays exact") {
    import spark.implicits._
    // 50 distinct 12-token docs, 20 copies each (1000 docs) — the dup-
    // heavy regime the collapse exists for. All distinct docs share no
    // 3-shingles (disjoint token alphabets), so the exact answer is
    // PRECISELY the within-class cliques: 50 × C(20,2) = 9500 pairs at
    // jaccard 1.0. A regression to per-member candidate generation would
    // show up here as a 190k-candidate-row join doing quadratic work.
    val docs = (for {
      d <- 0 until 50
      c <- 0 until 20
    } yield ((d * 100 + c).toLong,
        (0 until 12).map(i => s"w${d}_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = DedupOps.jaccardPairs(docs, threshold = 0.5)
    assert(exact.count() == 9500)
    assert(exact.filter(col("jaccard") =!= 1.0).count() == 0)
    val winnow = DedupOps.winnowPairs(docs, threshold = 0.5)
    assert(winnow.count() == 9500)
    // Clustering the pair graph: every class is one component of 20.
    val comps = GraphOps.connectedComponents(
      docs.select(col("doc_id").as("id")),
      exact.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val sizes = comps.groupBy("component_id").count()
      .select("count").as[Long].collect()
    assert(sizes.length == 50 && sizes.forall(_ == 20L))
  }

  test("banded embedding pairs: subset of brute force with identical cosines") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val brute = DedupOps.embeddingNearDupPairsBrute(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = DedupOps.embeddingNearDupPairs(emb, threshold = 0.4, dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded.nonEmpty, "banding should surface at least some pairs here")
    banded.foreach { case (k, c) =>
      assert(brute.get(k).contains(c), s"pair $k: banded=$c brute=${brute.get(k)}")
    }
    // COMPLETENESS of the banding guarantee: a pair whose sign bits agree
    // on some full 8-bit band collides by construction, so every brute
    // pair with a shared band MUST be recovered. Recomputed driver-side
    // from the raw vectors, independent of the operator's bucket code.
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def bands(v: Seq[Float]): Seq[Int] = (0 until 8).map { b =>
      (0 until 8).map(j => if (v(b * 8 + j) >= 0) 1 << j else 0).sum
    }
    val owed = brute.keySet.filter { case (a, b) =>
      bands(vecs(a)).zip(bands(vecs(b))).exists { case (x, y) => x == y }
    }
    assert(owed.nonEmpty, "test data should contain band-colliding near-dups")
    assert(owed.subsetOf(banded.keySet),
      s"banding missed guaranteed-collision pairs: ${owed -- banded.keySet}")
  }

  test("labelPairMeans: algebraic means equal brute-force pair means") {
    import spark.implicits._
    // Edge rows alongside the real corpus: a zero vector (brute: NULL
    // cosine, dropped from sums but counted in pairs; algebraic: all-zero
    // unit, same effect) and NULL labels (NULL = NULL is not true → their
    // pairs are CROSS on both paths).
    val extras = Seq(
      (900001L, Array.fill(64)(0.0f), Some(1)),
      (900002L, Array.fill(64)(0.1f), Option.empty[Int]),
      (900003L, Array.tabulate(64)(i => if (i % 2 == 0) 0.2f else -0.1f),
        Option.empty[Int])
    ).toDF("vec_id", "embedding", "label")
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select("vec_id", "embedding", "label").unionByName(extras)
    val fast = SimilarityOps.labelPairMeans(emb)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val brute = SimilarityOps.labelPairStatsBrute(emb)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(fast.keySet == Set("within", "cross"))
    for (g <- Seq("within", "cross")) {
      assert(fast(g)._1 == brute(g)._1, s"$g pair count")
      assert(math.abs(fast(g)._2 - brute(g)._2) < 2e-6,
        s"$g mean: algebraic=${fast(g)._2} brute=${brute(g)._2}")
    }
  }

  test("labelPairMeans: a label whose rows are all NULL embeddings keeps its pairs WITHIN") {
    import spark.implicits._
    // Such a label never posexplodes into the component sums — with an
    // inner join its pairs vanished from within and were misclassified as
    // cross. Brute counts pair (1,2) as within (null cosine drops from
    // the sum only).
    val emb = Seq(
      (1L, Option.empty[Seq[Float]], Some(1)),
      (2L, Option.empty[Seq[Float]], Some(1)),
      (3L, Some(Seq.fill(4)(0.5f)), Some(2)),
      (4L, Some(Seq.fill(4)(0.5f)), Some(2))
    ).toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fast = pairs(SimilarityOps.labelPairMeans(emb))
    val brute = pairs(SimilarityOps.labelPairStatsBrute(emb))
    assert(fast("within") == 2L && fast("cross") == 4L, fast.toString)
    assert(brute("within") == fast("within") && brute("cross") == fast("cross"))
  }

  test("editDistancePairs: every reported pair verifies at the unbanded distance") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val got = DedupOps.editDistancePairs(docs, maxDist = 60).collect()
    assert(got.nonEmpty, "expected planted near-dup pairs in testdata")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val full = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(texts(a), texts(b))
      assert(full == d, s"pair ($a,$b): reported $d, reference $full")
    }
  }

  test("simhash banding finds exactly the hamming<=3 pairs (pigeonhole)") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val got = DedupOps.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
      .toMap
    // COMPLETENESS, not just forall-soundness (which holds vacuously on an
    // empty result): brute-force the same signatures driver-side and
    // require the exact hamming<=3 pair set, distances included.
    val sigs = docs.select($"doc_id",
        GraftFunctions.simhash60(TextOps.tokens($"text")).as("sh"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val want = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 3
    } yield (sigs(i)._1, sigs(j)._1) -> h).toMap
    assert(want.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(got == want,
      s"missed ${(want.keySet -- got.keySet).size}, extra ${(got.keySet -- want.keySet).size}")
  }

  test("minhashLshPairs: shingle-less docs never reach the band join") {
    import spark.implicits._
    // Empty and <3-token docs all share the constant all-MaxValue minhash
    // signature — unfiltered, E of them collide in EVERY band (O(E²)
    // candidates). They must be excluded before banding; genuine dups
    // still pair.
    val docs = Seq((1L, ""), (2L, ""), (3L, "a b"),
      (4L, "x y z w v u t s"), (5L, "x y z w v u t s")).toDF("doc_id", "text")
    val pairs = DedupOps.minhashLshPairs(docs, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((4L, 5L)),
      pairs.mkString(", "))
  }

  test("lshTopK: candidates re-rank with exact cosines, descending per query") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    // Exact cosine of every (query, corpus) pair, for cross-checking.
    val exact = SimilarityOps.bruteForceTopK(q, c, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = SimilarityOps.lshTopK(q, c, k = 5).collect()
    assert(lsh.nonEmpty)
    // Plumbing invariants (recall itself is data-dependent — these random
    // near-orthogonal vectors bucket poorly, by design of LSH): every hit
    // carries its EXACT cosine, and ranks descend within each query.
    lsh.foreach { r =>
      assert(r.getDouble(3) == exact((r.getLong(0), r.getLong(2))),
        s"LSH must re-rank candidates with exact cosine: $r")
    }
    lsh.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.sameElements(byRank.sortBy(-(_: Double))),
        "cosines must descend with rank")
    }
  }

  test("ivfTopK with nprobe == nlist degenerates to exact brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    val brute = SimilarityOps.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val full = SimilarityOps.ivfTopK(q, c, k = 5, nlist = 4, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == brute, "probing every inverted list must equal brute force")
    // Partial probe: approximate but well-formed (exact cosines, <= k rows).
    val partial = SimilarityOps.ivfTopK(q, c, k = 5, nlist = 4, nprobe = 1)
      .collect()
    assert(partial.nonEmpty)
    assert(partial.groupBy(_.getLong(0)).values.forall(_.length <= 5))
  }

  test("ivf centroid reuse: a pre-trained model gives results identical to in-call training") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    val cents = SimilarityOps.trainIvfCentroids(c, nlist = 4, trainIters = 3,
      trainFraction = 1.0)
    // Training is deterministic, so injecting the same-parameter model
    // must be a pure perf refactor: byte-identical results on both paths.
    val own = SimilarityOps.ivfTopK(q, c, k = 5, nlist = 4, nprobe = 2,
      trainIters = 3).collect().toSeq
    val reused = SimilarityOps.ivfTopK(q, c, k = 5, nlist = 4, nprobe = 2,
      trainIters = 3, centroids = Some(cents)).collect().toSeq
    assert(own.nonEmpty && reused == own)
    val own8 = SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 4, nprobe = 2,
      trainIters = 3, rerank = 4).collect().toSeq
    val reused8 = SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 4, nprobe = 2,
      trainIters = 3, rerank = 4, centroids = Some(cents)).collect().toSeq
    assert(own8.nonEmpty && reused8 == own8)
  }

  test("empty corpus: brute/LSH/IVF top-k all return an empty standard frame") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.filter(lit(false))
      .select(col("vec_id"), col("embedding").as("cv"))
    val results = Seq(
      SimilarityOps.bruteForceTopK(q, c, k = 5),
      SimilarityOps.lshTopK(q, c, k = 5),
      SimilarityOps.ivfTopK(q, c, k = 5, nlist = 4, nprobe = 2))
    // The three entry points are interchangeable: same shape, zero rows,
    // no throw — an empty index is a data condition, not an error.
    results.foreach { df =>
      assert(df.columns.toSeq == Seq("query_id", "rank", "neighbor_id", "cosine"))
      assert(df.count() == 0)
    }
    assert(results.map(_.schema.map(f => (f.name, f.dataType))).distinct.size == 1,
      "empty-corpus schemas must agree across brute/LSH/IVF")
  }

  test("int8_cosine: scale cancellation keeps quantized cosine within the error bound") {
    import spark.implicits._
    // Quantization error per element is <= scale = max|x|/127, so the
    // cosine of two quantized unit-direction vectors stays within ~2/127
    // + cross terms of the fp32 cosine — assert a conservative 0.05 on
    // real embeddings, and exactness on axis vectors (no rounding).
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val q = SimilarityOps.quantizeInt8(emb, "embedding")
      .select(col("vec_id"), col("embedding"), col("qvec"))
    val pairs = q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.GraftFunctions.cosine_sim(
          col("a.embedding"), col("b.embedding")).as("c32"),
        graft.functions.GraftFunctions.int8_cosine(
          col("a.qvec"), col("b.qvec")).as("c8"))
    val maxErr = pairs.agg(max(abs(col("c32") - col("c8")))).head().getDouble(0)
    assert(maxErr < 0.05, s"int8 cosine error $maxErr exceeds bound")
    // Exact on axis-aligned vectors: quantization is lossless there, and
    // mismatched lengths / zero vectors go NULL like the fp32 kernel.
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY, not
    // array<tinyint>.
    val axes = Seq(
      (Seq[Byte](127, 0, 0), Seq[Byte](127, 0, 0), Option(1.0)),
      (Seq[Byte](127, 0, 0), Seq[Byte](0, 127, 0), Option(0.0)),
      (Seq[Byte](127, 0, 0), Seq[Byte](-127, 0, 0), Option(-1.0)),
      (Seq[Byte](0, 0, 0), Seq[Byte](127, 0, 0), Option.empty[Double]),
      (Seq[Byte](127, 0), Seq[Byte](127, 0, 0), Option.empty[Double]))
    val got = axes.toDF("x", "y", "want")
      .select(graft.functions.GraftFunctions.int8_cosine(col("x"), col("y")).as("c"),
        col("want"))
      .collect()
    got.foreach { r =>
      val want = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val c = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      assert(c == want, s"axis case: got $c want $want")
    }
  }

  test("ivfTopKQ8: int8 probe + fp32 re-rank tracks fp32 IVF recall") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = hits(SimilarityOps.bruteForceTopK(q, c, k = 5))
    // Full probe + generous re-rank: the int8 shortlist must surface the
    // true top-k for fp32 re-rank to find — equality with brute force,
    // not just recall, because re-rank cosines are exact fp32.
    val fullQ8 = SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 4, nprobe = 4,
      rerank = 8)
    assert(hits(fullQ8) == brute,
      "full-probe q8 with generous re-rank must equal brute force")
    // Re-ranked cosines are the exact fp32 values (not dequantized int8).
    val bruteRows = SimilarityOps.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    fullQ8.collect().foreach { r =>
      assert(r.getDouble(3) == bruteRows((r.getLong(0), r.getLong(2))),
        "q8 re-rank must report exact fp32 cosines")
    }
    // The registered config: recall within a whisker of the fp32 IVF
    // sibling at the same parameters (int8 only orders the shortlist).
    val ivf = hits(SimilarityOps.ivfTopK(q, c, k = 5, nlist = 8, nprobe = 2,
      trainIters = 5, trainFraction = 0.25))
    val q8 = hits(SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 8, nprobe = 2,
      trainIters = 5, trainFraction = 0.25, rerank = 4))
    val rIvf = ivf.intersect(brute).size.toDouble / brute.size
    val rQ8 = q8.intersect(brute).size.toDouble / brute.size
    assert(rQ8 >= rIvf - 0.05,
      s"q8 recall $rQ8 fell more than 0.05 below fp32 IVF recall $rIvf")
  }

  test("randomProjection: JL cosine preservation within distortion; matrix deterministic") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(100)
    val proj = SimilarityOps.randomProjection(emb, dims = 64, outDims = 16)
      .select(col("vec_id"), col("embedding"), col("projected"))
    // Pairwise cosine before vs after: ±1 RP to 16 dims preserves
    // cosine within ~1/√16 typical distortion — assert a loose mean
    // bound (the value-exactness itself is the oracle row's job).
    val p = proj.as("a").join(proj.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.functions.GraftFunctions.cosine_sim(
          col("a.embedding"), col("b.embedding")).as("c0"),
        graft.functions.GraftFunctions.cosine_sim(
          col("a.projected"), col("b.projected")).as("c1"))
      .agg(avg(abs(col("c0") - col("c1"))).as("mean_err"),
        max(abs(col("c0") - col("c1"))).as("max_err"))
      .head()
    assert(p.getDouble(0) < 0.25,
      s"mean cosine distortion ${p.getDouble(0)} above the JL expectation")
    assert(p.getDouble(1) <= 1.0)
    // Same salt → identical matrix → identical projections.
    val again = SimilarityOps.randomProjection(emb, dims = 64, outDims = 16)
      .select("vec_id", "projected").collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1)).toMap
    proj.select("vec_id", "projected").collect().foreach { r =>
      assert(again(r.getLong(0)) == r.getSeq[Double](1))
    }
  }

  test("semdedupKeepSet == per-cluster smaller-id cosine rule; exact dups always drop") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // Plant exact copies under fresh larger ids: an identical vector
    // lands in the same cluster by determinism and has cosine 1.0 to its
    // original, so every copy MUST drop regardless of clustering quality.
    val dup = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 100000)
    val all = emb.unionByName(dup)
    val got = SimilarityOps.semdedupKeepSet(all, threshold = 0.4,
      nlist = 8, trainIters = 3)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue(), r.getBoolean(2)))
    assert(rows.length == all.count())
    val keepMap = rows.map(r => r._1 -> r._3).toMap
    (0L until 10L).foreach { i =>
      assert(!keepMap(i + 100000), s"exact dup of $i was kept") }
    assert(rows.count(!_._3) >= 10 && rows.count(_._3) > 0)
    // Reference: within each emitted cluster, v drops iff a smaller-id
    // mate has cosine >= t — same fp32→double arithmetic as the kernel.
    val vecs = all.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      if (denom == 0.0) None else Some(dot / denom)
    }
    rows.groupBy(_._2).values.foreach { members =>
      val ids = members.map(_._1)
      members.foreach { case (id, _, keep) =>
        val want = !ids.exists(o =>
          o < id && cos(vecs(o), vecs(id)).exists(_ >= 0.4))
        assert(keep == want, s"vec $id keep=$keep want=$want")
      }
    }
    // Deterministic under repartitioning.
    val again = SimilarityOps.semdedupKeepSet(all.repartition(7), threshold = 0.4,
      nlist = 8, trainIters = 3).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue(), r.getBoolean(2)))
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
  }

  test("ivfTopKPq: ADC shortlist + fp32 re-rank; full probe with generous re-rank equals brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = hits(SimilarityOps.bruteForceTopK(q, c, k = 5))
    // Full probe + a re-rank window covering every candidate: the ADC
    // ordering becomes irrelevant (the exact fp32 re-rank sees all
    // candidates), so IVF-PQ must EQUAL brute force — this pins the
    // plumbing (codes, tables, lookup, re-rank join) independently of
    // quantization quality.
    val n = c.count().toInt
    val fullPq = SimilarityOps.ivfTopKPq(q, c, k = 5, dims = 64,
      nlist = 4, nprobe = 4, m = 16, ksub = 16, trainIters = 3,
      rerank = n / 5 + 1)
    assert(hits(fullPq) == brute,
      "full-probe IVF-PQ with an all-candidate re-rank window must equal brute force")
    // Re-ranked cosines are the exact fp32 values (not ADC estimates).
    val bruteRows = SimilarityOps.bruteForceTopK(q, c, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    fullPq.collect().foreach { r =>
      assert(r.getDouble(3) == bruteRows((r.getLong(0), r.getLong(2))),
        "IVF-PQ re-rank must report exact fp32 cosines")
    }
    // The registered config (16-byte codes, nprobe=2, rerank=4): recall
    // within a whisker of the fp32 IVF sibling at the same coarse
    // parameters — ADC only has to surface the true top-k into the
    // shortlist, the re-rank orders it exactly.
    val ivf = hits(SimilarityOps.ivfTopK(q, c, k = 5, nlist = 8, nprobe = 2,
      trainIters = 5, trainFraction = 0.25))
    val pq = hits(SimilarityOps.ivfTopKPq(q, c, k = 5, dims = 64,
      nlist = 8, nprobe = 2, m = 16, ksub = 16,
      trainIters = 5, trainFraction = 0.25, rerank = 4))
    val rIvf = ivf.intersect(brute).size.toDouble / brute.size
    val rPq = pq.intersect(brute).size.toDouble / brute.size
    assert(rPq >= rIvf - 0.1,
      s"IVF-PQ recall $rPq fell more than 0.1 below fp32 IVF recall $rIvf")
  }

  test("trainPqCodebooks: deterministic, contiguous codes, reuse is result-identical") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    val b1 = SimilarityOps.trainPqCodebooks(c, dims = 64, m = 8, ksub = 8,
      trainIters = 3, trainFraction = 1.0)
    val b2 = SimilarityOps.trainPqCodebooks(c, dims = 64, m = 8, ksub = 8,
      trainIters = 3, trainFraction = 1.0)
    // Training is deterministic: same corpus + parameters → identical model.
    assert(b1.map { case (s, ws) => (s, ws.map { case (j, a) => (j, a.toSeq) }) } ==
      b2.map { case (s, ws) => (s, ws.map { case (j, a) => (j, a.toSeq) }) })
    // Codes are contiguous per subspace (the positional ADC-table contract).
    b1.foreach { case (s, ws) =>
      assert(ws.map(_._1) == ws.indices.toSeq, s"subspace $s codes not contiguous")
      ws.foreach { case (_, a) => assert(a.length == 8, "sub-centroid width != dsub") }
    }
    // Injecting the same-parameter model is a pure perf refactor:
    // byte-identical results on both paths.
    val own = SimilarityOps.ivfTopKPq(q, c, k = 5, dims = 64, nlist = 4,
      nprobe = 2, m = 8, ksub = 8, trainIters = 3, rerank = 4).collect().toSeq
    val reused = SimilarityOps.ivfTopKPq(q, c, k = 5, dims = 64, nlist = 4,
      nprobe = 2, m = 8, ksub = 8, trainIters = 3, rerank = 4,
      codebooks = Some(b1)).collect().toSeq
    assert(own.nonEmpty && reused == own)
    // Mis-declared dims fail loudly at training, not silently at scoring.
    val thrown = intercept[Exception] {
      SimilarityOps.trainPqCodebooks(c, dims = 32, m = 8, ksub = 8,
        trainIters = 0, trainFraction = 1.0)
    }
    assert(thrown.getMessage.contains("dims"), thrown.getMessage)
  }

  test("ivfTopK: Lloyd training lifts recall; >= 0.9 within data's reach") {
    // These synthetic embeddings are near-uniform on the sphere, so
    // recall at nprobe/nlist is capped near the covered corpus fraction
    // plus whatever structure the quantizer finds — 0.9 at 2/8 probes is
    // unreachable for ANY quantizer on this data. Measured curve
    // (recall@5, 20 queries): untrained/trained = 0.43/0.52 at nprobe=2,
    // 0.89/0.94 at nprobe=6. Asserted: training strictly helps, beats
    // the 25%-coverage baseline ~2x, and reaches 0.9 where the data
    // permits.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id"), col("embedding").as("cv"))
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = hits(SimilarityOps.bruteForceTopK(q, c, k = 5))
    def recallAt(nprobe: Int, trainIters: Int): Double = {
      val got = hits(SimilarityOps.ivfTopK(q, c, k = 5,
        nlist = 8, nprobe = nprobe, trainIters = trainIters))
      got.intersect(brute).size.toDouble / brute.size
    }
    val trained2 = recallAt(2, 10)
    val untrained2 = recallAt(2, 0) // raw vec_id%nlist seed partition
    assert(trained2 > untrained2,
      s"Lloyd training must lift recall: trained=$trained2 untrained=$untrained2")
    assert(trained2 >= 0.45, // ~1.8x the 2/8-coverage random baseline
      s"recall@5=$trained2 at nprobe=2 below the trained-quantizer floor")
    val trained6 = recallAt(6, 10)
    assert(trained6 >= 0.9, s"recall@5=$trained6 at nprobe=6")
    // The REGISTERED sim_topk_ivf configuration (25% training sample,
    // 5 Lloyd passes): sampling the training set must not give back the
    // quality that training bought — the whole premise of the 100 TB
    // posture is that centroids only need the density shape.
    val sampled2 = hits(SimilarityOps.ivfTopK(q, c, k = 5,
      nlist = 8, nprobe = 2, trainIters = 5, trainFraction = 0.25))
      .intersect(brute).size.toDouble / brute.size
    assert(sampled2 > untrained2, s"sampled-training recall $sampled2 " +
      s"must beat the untrained seed $untrained2")
    assert(sampled2 >= 0.45,
      s"recall@5=$sampled2 for the registered sampled config below floor")
  }

  test("approx_top_k: exact in the large-capacity regime, bounded when evicting") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val words = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(20)("c") ++
      Seq.fill(5)("d") ++ Seq.fill(3)("e") ++ Seq.fill(2)("f")
    val df = spark.createDataset(words).toDF("w").repartition(4)
    def topk(k: Int, cap: Int) = df
      .agg(GraftFunctions.approx_top_k(col("w"), k, cap).as("t"))
      .select(explode(col("t")).as("x"))
      .select(col("x.item"), col("x.count"), col("x.error"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // capacity >= distinct -> exact, error 0
    assert(topk(3, 64).toSeq == Seq(("a", 50L, 0L), ("b", 30L, 0L), ("c", 20L, 0L)))
    // capacity 4 with 6 distinct: heavy items retained, counts overestimate
    // by at most error (SpaceSaving guarantee). ONE evaluation — partial
    // merge order is task-completion dependent, so two runs need not
    // produce the identical buffer.
    val truth = Map("a" -> 50L, "b" -> 30L, "c" -> 20L, "d" -> 5L, "e" -> 3L, "f" -> 2L)
    val evicting = topk(3, 4)
    evicting.foreach { case (item, count, err) =>
      assert(truth(item) <= count && count - err <= truth(item),
        s"$item: count=$count err=$err true=${truth(item)}")
    }
    assert(evicting.map(_._1).take(2).toSeq == Seq("a", "b"))
  }

  test("asOfJoin: inclusive at equal ts, null before first right, latest wins") {
    import spark.implicits._
    val left = Seq((1L, 10L, "p1"), (1L, 5L, "p2"), (2L, 7L, "p3"))
      .toDF("k", "ts", "pl")
    // Key 2 also carries a NULL-timestamp right row: NULL <= ts is never
    // true, so it must NOT be attached (it would otherwise sort first and
    // match as "earlier than everything" — DuckDB ASOF returns null here).
    val right = Seq((1L, Some(5L), "r-a"), (1L, Some(9L), "r-b"),
        (2L, Some(8L), "r-c"), (2L, Option.empty[Long], "r-null"))
      .toDF("k", "rts", "payload")
    val got = TemporalOps.asOfJoin(left, right, key = "k",
        leftTs = "ts", rightTs = "rts", rightPayload = Seq("payload"))
      .select("k", "pl", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSet
    assert(got == Set(
      (1L, "p1", "r-b"),  // latest right at-or-before ts=10 is rts=9
      (1L, "p2", "r-a"),  // equal timestamps match (inclusive, rts=5)
      (2L, "p3", null)))  // no right row at-or-before ts=7; null-ts ignored
  }

  test("asOfJoin: NULL keys never match — join semantics, not window-partition semantics") {
    import spark.implicits._
    // Window.partitionBy groups all nulls into ONE partition, so without
    // the null-key guard a null-keyed left row would grab a null-keyed
    // right payload; an equality join (and DuckDB ASOF) attaches nothing.
    val left = Seq((Option.empty[Long], 10L, "ln"), (Some(1L), 10L, "l1"))
      .toDF("k", "ts", "pl")
    val right = Seq((Option.empty[Long], Some(3L), "r-null-key"),
        (Some(1L), Some(3L), "r1"))
      .toDF("k", "rts", "payload")
    val got = TemporalOps.asOfJoin(left, right, key = "k",
        leftTs = "ts", rightTs = "rts", rightPayload = Seq("payload"))
      .select("pl", "payload")
      .collect().map(r => (r.getString(0), r.get(1))).toSet
    assert(got == Set(("ln", null), ("l1", "r1")))
  }

  test("multimodal decode: batch plumbing is lossless and deterministic") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(100)
    val decoded = MultimodalOps.decodeAll(spark, MultimodalOps.toMediaRecords(docs))
      .collect()
    assert(decoded.length == 100)
    val d0 = decoded.minBy(_.doc_id)
    assert(d0.content_md5.length == 32)
    assert(d0.fake_width == d0.n_bytes % 64)
    // Deterministic across runs:
    val again = MultimodalOps.decodeAll(spark, MultimodalOps.toMediaRecords(docs))
      .collect().minBy(_.doc_id)
    assert(again == d0)
  }

  test("codec seam: stub by default, reflective decoder when configured, loud misconfig") {
    import MultimodalOps.MediaDecoder
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(10)
    val media = MultimodalOps.toMediaRecords(docs)
    def formats(): Set[String] =
      MultimodalOps.decodeAll(spark, media).collect().map(_.format).toSet
    // 1. No property, no graft.media.NativeMediaDecoder on the classpath:
    //    the deterministic stub is the decoder (the CI/oracle truth).
    System.clearProperty(MediaDecoder.DecoderClassProp)
    assert(formats() == Set("utf8-text"))
    try {
      // 1b. EXPLICITLY naming the (absent) well-known class must throw even
      //     though the unconfigured fallback just cached a stub under that
      //     very name — the cache may not launder misconfiguration.
      System.setProperty(MediaDecoder.DecoderClassProp, MediaDecoder.WellKnownClass)
      intercept[ClassNotFoundException] { MediaDecoder.resolve() }
      // 2. A decoder class on the classpath + the property: decodeAll uses
      //    it without any code change (local mode: executors see it too).
      System.setProperty(MediaDecoder.DecoderClassProp,
        classOf[TaggingTestDecoder].getName)
      assert(formats() == Set("decoded:utf8-text"))
      // 3. EXPLICIT misconfiguration fails loudly instead of silently
      //    degrading to the stub.
      System.setProperty(MediaDecoder.DecoderClassProp, "no.such.DecoderClass")
      intercept[ClassNotFoundException] { MediaDecoder.resolve() }
    } finally System.clearProperty(MediaDecoder.DecoderClassProp)
    // Back to the stub once the property is gone.
    assert(formats() == Set("utf8-text"))
  }

  test("imageio decoder: REAL decode through the seam — codec dims, stub for text") {
    import MultimodalOps.MediaDecoder
    import spark.implicits._
    // Deterministic in-memory raster → encoded bytes (pure JVM, headless).
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, x * 31 + y * 7)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = imageBytes("png", 17, 9)
    val bmp = imageBytes("bmp", 5, 23)
    val txt = "just text".getBytes("UTF-8")
    val media = Seq(
      (1L, png, "png", png.length),
      (2L, bmp, "bmp", bmp.length),
      (3L, txt, "utf8-text", txt.length))
      .toDF("doc_id", "payload", "format", "n_bytes")
    System.setProperty(MediaDecoder.DecoderClassProp,
      classOf[graft.media.ImageIoMediaDecoder].getName)
    try {
      val got = MultimodalOps.decodeAll(spark, media).collect()
        .map(d => d.doc_id -> d).toMap
      // Real codec dimensions — NOT the stub's n_bytes-derived fakes.
      assert((got(1L).fake_width, got(1L).fake_height, got(1L).fake_frames) == ((17, 9, 1L)))
      assert((got(2L).fake_width, got(2L).fake_height, got(2L).fake_frames) == ((5, 23, 1L)))
      assert(got(1L).fake_width != png.length % 64 || got(1L).fake_height != (png.length / 64) % 64)
      // Non-image records in the same batch still take the stub path.
      assert(got(3L) == MultimodalOps.decodeStub(
        MultimodalOps.MediaRecord(3L, txt, "utf8-text", txt.length)))
      // Corrupt image-tagged payloads fail loudly, never stub-fallback.
      val bad = Seq((9L, "not an image".getBytes("UTF-8"), "png", 12))
        .toDF("doc_id", "payload", "format", "n_bytes")
      val err = intercept[Exception] {
        MultimodalOps.decodeAll(spark, bad).collect()
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => Option(t.getMessage).exists(_.contains("undecodable"))))
    } finally System.clearProperty(MediaDecoder.DecoderClassProp)
  }

  test("cleanText: tags stripped, emails redacted, numbers masked, whitespace collapsed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello <b>world</b>  contact bob@example.com now"),
      (2L, "order 12345 shipped   in 2 days"),
      (3L, "already clean")).toDF("doc_id", "text")
    val got = TextOps.cleanText(docs).select($"doc_id", $"clean")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "hello world contact <EMAIL> now")
    assert(got(2L) == "order <NUM> shipped in <NUM> days")
    assert(got(3L) == "already clean")
  }

  test("redactPii: typed placeholders, per-class counts, URL-first order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "visit https://ex.com/u?e=bob@ex.com then mail bob@ex.org"),
      (2L, "host 10.0.3.45 call +1 555-0147 and +44 555-9999"),
      (3L, "nothing to scrub here"),
      (4L, "version 1.2.3.4.5 is not an address"),
      (5L, "build 1.2.3.400 and peer 256.1.1.1 and edge 255.255.255.255"),
      (6L, "login from 192.168.001.001 denied"))
      .toDF("doc_id", "text")
    val got = TextOps.redactPii(docs)
      .select($"doc_id", $"pii_redacted", $"n_pii_urls", $"n_pii_emails",
        $"n_pii_ipv4", $"n_pii_phones")
      .as[(Long, String, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    // The email embedded in the URL is absorbed by the URL redaction and
    // counted ONCE (as the URL); only the standalone email counts.
    assert(got(1L)._2 == "visit <URL> then mail <EMAIL>")
    assert((got(1L)._3, got(1L)._4, got(1L)._5, got(1L)._6) == ((1, 1, 0, 0)))
    assert(got(2L)._2 == "host <IP> call <PHONE> and <PHONE>")
    assert((got(2L)._3, got(2L)._4, got(2L)._5, got(2L)._6) == ((0, 0, 1, 2)))
    assert(got(3L)._2 == "nothing to scrub here")
    assert((got(3L)._3, got(3L)._4, got(3L)._5, got(3L)._6) == ((0, 0, 0, 0)))
    // A 5-octet run still contains a 4-octet boundary-delimited prefix?
    // No — the trailing '.5' sits inside the same word-char run, so the
    // \b..\b pattern matches the leading 1.2.3.4 (boundary at the dot);
    // pin the actual behavior so a pattern change is a conscious choice.
    assert(got(4L)._5 == 1 && got(4L)._2 == "version <IP>.5 is not an address")
    // Octet anchoring (ADVICE r15): values above 255 are version-like
    // strings, not addresses — no sub-quad may match either (the \b..\b
    // ends can't land inside a digit run); 255.255.255.255 is the valid
    // upper edge.
    assert(got(5L)._5 == 1,
      s"expected only the 255-edge address to match, got ${got(5L)}")
    assert(got(5L)._2 ==
      "build 1.2.3.400 and peer 256.1.1.1 and edge <IP>")
    // Zero-padded octets are real addresses (device/firewall log style)
    // — under-redaction is the unsafe side, so they must match.
    assert(got(6L)._5 == 1 && got(6L)._2 == "login from <IP> denied")
  }

  test("winnow-candidate jaccard join equals the unfiltered exact join") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val got = DedupOps.winnowPairs(docs, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val want = DedupOps.jaccardPairs(docs, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(got == want, s"${got.size} vs ${want.size} pairs")
  }

  test("winnowing: shared token run of >= k+w-1 guarantees a shared fingerprint") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = k+w-1 for k=3,w=4
    val docs = Seq(
      (1L, s"unique prefix one two $shared"),
      (2L, s"$shared completely different tail here"),
      (3L, "no overlap with anything else at all whatsoever")).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs)
      .select($"doc_id", $"winnow_fps").as[(Long, Seq[Long])].collect()
      .map { case (id, f) => id -> f.toSet }.toMap
    assert(fps(1).intersect(fps(2)).nonEmpty, "guaranteed shared fingerprint missing")
    assert(fps(3).intersect(fps(1) ++ fps(2)).isEmpty, "disjoint docs must not collide")
  }

  test("winnowing: short docs get empty fingerprint sets, never errors") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, ""), (3L, "one two")).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs) // 5 tokens → 3 shingles < w=4
      .select($"doc_id", $"winnow_fps").as[(Long, Seq[Long])].collect().toMap
    assert(fps.values.forall(_.isEmpty))
  }

  test("native word_ngrams equals the HOF formulation, incl. edge cases") {
    import spark.implicits._
    val real = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val edges = Seq(
      ("e1", null.asInstanceOf[String]), ("e2", ""), ("e3", "   "),
      ("e4", "a  b c"), ("e5", "one two"), ("e6", "x y x y x y")
    ).toDF("id", "text")
    val docs = real.unionByName(edges).withColumn("tk", TextOps.tokens($"text"))
    def run(c: org.apache.spark.sql.Column): Map[String, Seq[String]] =
      docs.select($"id", c.as("g")).as[(String, Seq[String])].collect().toMap
    val nat = run(TextOps.ngramsFromTokens($"tk", 3))
    val hof = run(TextOps.ngramsFromTokensHof($"tk", 3))
    for (k <- nat.keySet) assert(nat(k) == hof(k), s"doc $k")
    val natD = run(TextOps.shinglesFromTokens($"tk", 3))
    val hofD = run(when(size($"tk") >= 3,
      array_distinct(TextOps.ngramsFromTokensHof($"tk", 3)))
      .otherwise(array().cast("array<string>")))
    for (k <- natD.keySet) assert(natD(k) == hofD(k), s"doc $k distinct")
    assert(nat("e1") == Seq.empty && natD("e1") == Seq.empty)
    assert(nat("e6") == Seq("x y x", "y x y", "x y x", "y x y"))
    assert(natD("e6") == Seq("x y x", "y x y"))
  }

  test("native winnow_fps60 equals the HOF formulation, incl. edge cases") {
    import spark.implicits._
    val real = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val edges = Seq(
      ("e1", null.asInstanceOf[String]),       // null text → empty, not null
      ("e2", ""), ("e3", "   "),               // empty / separator-only
      ("e4", "a  b c d e f g h"),              // double space → empty token
      ("e5", "trailing space here now ok yes "), // trailing separator
      ("e6", Seq.fill(40)("loop the same three tokens").mkString(" "))
    ).toDF("id", "text")
    val docs = real.unionByName(edges)
    def run(f: (org.apache.spark.sql.DataFrame, String, Int, Int) =>
        org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      f(docs, "text", 3, 4).select($"id", $"winnow_fps")
        .as[(String, Seq[Long])].collect().toMap
    val native = run(TextOps.winnowFingerprints)
    val hof = run(TextOps.winnowFingerprintsHof)
    assert(native.keySet == hof.keySet)
    for (k <- native.keySet)
      assert(native(k) == hof(k), s"doc $k: native=${native(k)} hof=${hof(k)}")
    assert(native("e1") == Seq.empty) // null-in, empty-out contract
  }

  test("profile handles hostile column names (quotes, backticks, dots)") {
    import spark.implicits._
    // Names that would break (or inject into) a string-interpolated SQL
    // formulation; the DSL build must treat them as opaque identifiers.
    val df = Seq((1, "x", 2.0), (2, "y", 3.0), (2, null, 3.0))
      .toDF("it's", "we`ird", "dot.ted")
    val got = StatsOps.profile(df, Seq("it's", "we`ird", "dot.ted"))
      .orderBy("column")
      .select("column", "n_rows", "n_nonnull", "n_distinct")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("dot.ted", 3L, 3L, 2L), ("it's", 3L, 3L, 2L), ("we`ird", 3L, 2L, 2L)))
  }

  test("bm25TopK: tf saturation ranks heavier matches first; non-matching docs never appear") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark x y"),
      (2L, "spark alpha beta gamma delta"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, queries = Seq(7 -> "spark"), k = 10)
      .orderBy(col("score").desc, col("doc_id"))
      .as[(Int, Long, Double)].collect().toSeq
    // Only docs containing a query term score; equal dl, tf 3 > tf 1.
    assert(got.map(_._2) == Seq(1L, 2L), got.toString)
    assert(got.head._3 > got(1)._3 && got(1)._3 > 0)

    // k caps per query and scores are non-increasing on the real corpus.
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val ranked = TextOps.bm25TopK(corpus,
      queries = Seq(1 -> "spark stream", 2 -> "merge join"), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(ranked.groupBy(_._1).forall { case (_, rs) => rs.length == 5 })
    ranked.groupBy(_._1).values.foreach { rs =>
      val s = rs.sortBy(r => (-r._3, r._2)).map(_._3)
      assert(s.zip(s.tail).forall { case (a, b2) => a >= b2 })
    }
  }

  test("bm25TopK: empty-text docs count toward nd/avgdl like the raw-text formulation") {
    import spark.implicits._
    // r22 internals change: nd/avgdl fold onto the cached (id, dl) frame
    // instead of re-tokenizing the corpus. split("", " ") is [""] (dl 1),
    // so an empty doc must still count: nd = 3, avgdl = (2 + 1 + 4) / 3.
    val docs = Seq(
      (1L, "spark x"),
      (2L, ""),
      (3L, "spark spark x y")).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, queries = Seq(1 -> "spark"), k = 10)
      .orderBy(col("doc_id")).as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 3L)) // the empty doc never matches
    // Exact replay of the op's arithmetic under nd=3, avgdl=7/3 — a
    // wrong nd or avgdl (e.g. the empty doc dropped from the stats
    // frame) shifts every score.
    def score(tf: Double, dl: Double): Double = {
      val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5)) // df("spark") = 2
      val c = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (7.0 / 3.0)))
      BigDecimal(new java.math.BigDecimal(c).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue())
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.find(_._2 == 1L).get._3 == score(1.0, 2.0))
    assert(got.find(_._2 == 3L).get._3 == score(2.0, 4.0))
  }

  test("withC4Rules: line filter, javascript lines, lorem/brace page drops") {
    import spark.implicits._
    val docs = Seq(
      // 3 qualifying sentences + a no-punct line + a short line -> keep
      (1L, "one two three four five six.\nno punctuation here at all\nseven eight nine ten eleven!\nshort line.\nis this a question mark line?"),
      // javascript line is removed even with punctuation -> only 2 left -> drop
      (2L, "one two three four five six.\nenable JavaScript to view this.\nseven eight nine ten eleven!"),
      // lorem ipsum anywhere drops the page even with 3 good lines
      (3L, "lorem ipsum dolor sit amet one.\ntwo three four five six seven.\neight nine ten eleven twelve!"),
      // curly brace (code marker) drops the page
      (4L, "function call with braces {x}.\ntwo three four five six seven.\neight nine ten eleven twelve!")
    ).toDF("doc_id", "text")
    val got = TextOps.withC4Rules(docs)
      .select("doc_id", "n_lines", "n_kept_lines", "keep", "clean_text")
      .as[(Long, Int, Int, Boolean, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 5, 3, true,
      "one two three four five six.\nseven eight nine ten eleven!\nis this a question mark line?")))
    assert(got(1)._3 == 2 && !got(1)._4) // javascript line filtered, page dropped
    assert(got(2)._3 == 3 && !got(2)._4) // lines fine, lorem ipsum kills the page
    assert(got(3)._3 == 3 && !got(3)._4) // all 3 lines pass the LINE filter; '{' kills the page
  }

  test("overlapPairs: superset of jaccardPairs; catches pure containment jaccard misses") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // |∩|/min >= |∩|/|∪| pointwise, so at one threshold the overlap pair
    // set must contain the jaccard pair set.
    val j = DedupOps.jaccardPairs(docs, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val o = DedupOps.overlapPairs(docs, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(j.subsetOf(o), s"missing from overlap: ${(j -- o).take(5)}")
    // Containment fixture: B is a strict prefix of A — B's shingles are a
    // subset of A's, so overlap = 1.0 while jaccard = 3/8 misses it.
    val fix = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e")).toDF("doc_id", "text")
    val op = DedupOps.overlapPairs(fix, threshold = 0.99)
      .as[(Long, Long, Double)].collect().toSeq
    assert(op == Seq((1L, 2L, 1.0)), op.toString)
    assert(DedupOps.jaccardPairs(fix, threshold = 0.99).isEmpty)
  }

  test("cms: estimates dominate true counts, state is depth×width-bounded, builds are deterministic") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // Deliberately tiny width so collisions (the overestimation the
    // domination property must survive) actually occur at this corpus.
    val (depth, width) = (3, 64)
    val sketch = StatsOps.cmsSketch(docs, depth, width)
    val rows = sketch.collect()
    assert(rows.length <= depth * width)
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < depth))
    assert(rows.forall(r => r.getLong(1) >= 0L && r.getLong(1) < width))
    // Each hash row partitions ALL token occurrences: every row's counters
    // sum to the corpus token count.
    val totalTokens = docs
      .select(sum(size(split(col("text"), " "))).cast("long")).as[Long].head()
    val perRow = sketch.groupBy("row").agg(sum("cnt").as("s"))
      .select("s").as[Long].collect()
    assert(perRow.length == depth && perRow.forall(_ == totalTokens))
    // CMS guarantee: est >= true for EVERY token in the corpus (probes =
    // the full vocabulary, not a favorable subset).
    val truth = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_true"))
    val under = StatsOps.cmsEstimate(sketch, truth.select("token"), depth, width)
      .join(truth, "token").filter(col("n_est") < col("n_true"))
    assert(under.isEmpty, under.limit(5).collect().mkString(", "))
    // Replayability: a second independent build is value-identical.
    val again = StatsOps.cmsSketch(docs, depth, width).collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      again.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    // The pre-aggregated build (r21 — the stats_cms_freq single-tokenize
    // path) is counter-identical to the occurrence build: summing exact
    // per-token counts into buckets IS counting occurrences per bucket.
    val fromCounts = StatsOps.cmsSketchFromCounts(truth, depth, width,
      countCol = "n_true").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
      fromCounts.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
  }

  test("every registered query runs at sf0.001 and is non-degenerate") {
    // May legitimately be empty at tiny SF (10 suppliers across 25 nations
    // leave some nation pairs unpopulated; every customer may have orders).
    val empties = Set("q07_anti_join_customers", "q25_nation_volume")
    GraftQueries.all.foreach { q =>
      val n = q.fn(spark, sf()).count() // throws if the query itself fails
      if (!empties(q.name)) assert(n > 0, s"${q.name} returned 0 rows at sf0.001")
    }
  }

  test("oracle coverage: every registered query has an oracle") {
    val noOracle = GraftQueries.all.filter(_.oracle.isEmpty).map(_.name).toSet
    // Since r16 the set is EMPTY: the four approximate ANN paths — the
    // last rows-only holdouts — went value-exact via model dump-and-replay
    // (quantizer/assignments/codebooks/codes/bucket signatures dumped at
    // Verify, the oracle replaying probe selection, quantization, kernels,
    // and ranks from the raw tables). sim_recall_ann still pins their
    // recall arithmetic; exactness floors are asserted below.
    assert(noOracle.isEmpty, s"queries without oracles: $noOracle")
  }
}
