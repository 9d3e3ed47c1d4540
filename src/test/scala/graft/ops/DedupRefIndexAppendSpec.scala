package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the epoch-append lifecycle of [[DedupOps.DedupRefIndex]]
  * (SURVEY §8 round 14): `appendToRefIndex(build(A), B)` must be
  * result-identical to `build(A ∪ B)` on BOTH axes — including
  * overlapping-fingerprint classes, where a hand-union of the tables
  * would corrupt rep counts — and appending onto a PRICED index must
  * keep the stored class-size max exact, so the serve path's member
  * expansion can never be silently skipped by stale metadata (the
  * round-13 ADVICE defect).
  */
class DedupRefIndexAppendSpec extends SparkSuite {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def embDf(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** reps as a comparable set: (fp, id, cnt, payload canonicalized). */
  private def repRows(index: DedupOps.DedupRefIndex): Set[Seq[Any]] = {
    val payload = index.reps.columns.filterNot(Set("fp", "id", "cnt")).head
    index.reps
      .select(col("fp"), col("id"), col("cnt").cast("long"),
        (if (payload == "sh") array_sort(col(payload)) else col(payload))
          .cast("string").as("p"))
      .collect().map(_.toSeq).toSet
  }

  private def memberRows(index: DedupOps.DedupRefIndex): Set[(String, Long)] =
    index.members.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def pairRows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // Three-token-shingle texts; tA appears in A twice and in B once (the
  // overlapping-fingerprint class), tD is near-dup of tA but not identical.
  private val tA = "alpha beta gamma delta epsilon zeta"
  private val tB = "one two three four five six"
  private val tC = "seven eight nine ten eleven twelve"
  private val tD = "alpha beta gamma delta epsilon eta"

  test("lexical append(build(A), B) ≡ build(A ∪ B), overlapping classes included") {
    val a = docsDf(10L -> tA, 11L -> tB, 12L -> tA)
    // 5 < 10: the appended batch holds the class's NEW global min id, so
    // the merged rep must switch both id and payload holder.
    val b = docsDf(5L -> tA, 20L -> tC)
    val appended = DedupOps.appendToRefIndex(
      DedupOps.buildJaccardRefIndex(a), b)
    val rebuilt = DedupOps.buildJaccardRefIndex(docsDf(
      10L -> tA, 11L -> tB, 12L -> tA, 5L -> tA, 20L -> tC))
    assert(repRows(appended) == repRows(rebuilt),
      "appended reps diverge from the from-scratch rebuild")
    assert(memberRows(appended) == memberRows(rebuilt))
    assert(appended.axis == "lexical" && appended.shingleN.contains(3) &&
      appended.maxClass.isEmpty, "in-session append must stay lazy on maxClass")
    // The serve contract — the reason the index exists: a later batch
    // gets identical verdicts from the appended and rebuilt indexes,
    // member expansion included (tD pairs with ALL of class tA's ids).
    val batch = docsDf(100L -> tD)
    val viaAppend = pairRows(DedupOps.jaccardPairsAgainstIndex(batch, appended,
      threshold = 0.5))
    val viaRebuild = pairRows(DedupOps.jaccardPairsAgainstIndex(batch, rebuilt,
      threshold = 0.5))
    assert(viaAppend == viaRebuild && viaAppend.map(_(1)) == Set(5L, 10L, 12L),
      s"served pairs $viaAppend miss expanded class members")
  }

  test("semantic append(build(A), B) ≡ build(A ∪ B)") {
    val vX = Seq.tabulate(8)(i => (i + 1).toFloat)
    val vY = Seq.tabulate(8)(i => (8 - i).toFloat)
    val vZ = Seq.tabulate(8)(i => if (i % 2 == 0) 1f else -1f)
    val a = embDf(10L -> vX, 11L -> vY, 12L -> vX)
    val b = embDf(5L -> vX, 20L -> vZ)
    val appended = DedupOps.appendToRefIndex(
      DedupOps.buildEmbeddingRefIndex(a), b)
    val rebuilt = DedupOps.buildEmbeddingRefIndex(embDf(
      10L -> vX, 11L -> vY, 12L -> vX, 5L -> vX, 20L -> vZ))
    assert(repRows(appended) == repRows(rebuilt))
    assert(memberRows(appended) == memberRows(rebuilt))
    // Near-but-not-identical query vector pairs through the expansion
    // with every member of the vX class.
    val vQ = vX.updated(7, vX(7) + 0.05f)
    val batch = embDf(100L -> vQ)
    val viaAppend = pairRows(DedupOps.embeddingPairsAgainstIndex(batch, appended,
      threshold = 0.9, dims = 8, bands = 2, bitsPerBand = 4))
    val viaRebuild = pairRows(DedupOps.embeddingPairsAgainstIndex(batch, rebuilt,
      threshold = 0.9, dims = 8, bands = 2, bitsPerBand = 4))
    assert(viaAppend == viaRebuild && viaAppend.map(_(1)).contains(5L) &&
      viaAppend.map(_(1)).contains(10L) && viaAppend.map(_(1)).contains(12L))
  }

  test("append onto a priced index keeps the stored class max exact (stale-meta defect)") {
    // Build on singletons only: the priced index records maxClass = 1.
    val a = docsDf(10L -> tA, 11L -> tB)
    val priced = DedupOps.priceRefIndex(DedupOps.buildJaccardRefIndex(a))
    assert(priced.maxClass.contains(1L))
    // The append grows class tA to size 2. A stale max of 1 would make
    // the serve path skip member expansion and drop the pair against the
    // non-canonical member — the exact silent-skew the ADVICE named.
    val appended = DedupOps.appendToRefIndex(priced, docsDf(20L -> tA))
    assert(appended.maxClass.contains(2L),
      s"appended maxClass ${appended.maxClass} is stale")
    val served = pairRows(DedupOps.jaccardPairsAgainstIndex(
      docsDf(100L -> tD), appended, threshold = 0.5))
    assert(served.map(_(1)) == Set(10L, 20L),
      s"served $served must include the appended non-canonical member 20")
  }

  test("priceRefIndex bakes the exact class max into an in-session index") {
    // The resident-index lifecycle (serves many batches): pricing must
    // record the exact class max, and a priced serve must equal the
    // lazy serve.
    val idx = DedupOps.appendToRefIndex(
      DedupOps.buildJaccardRefIndex(docsDf(10L -> tA, 11L -> tB, 12L -> tA)),
      docsDf(5L -> tA, 20L -> tC))
    val priced = DedupOps.priceRefIndex(idx)
    assert(priced.maxClass.contains(3L),
      s"priced maxClass ${priced.maxClass}; class tA has 3 members")
    assert(priced.axis == idx.axis && priced.shingleN == idx.shingleN)
    val batch = docsDf(100L -> tD)
    assert(pairRows(DedupOps.jaccardPairsAgainstIndex(batch, priced,
        threshold = 0.5)) ==
      pairRows(DedupOps.jaccardPairsAgainstIndex(batch, idx,
        threshold = 0.5)),
      "priced serve diverges from the lazy serve")
    // An all-singleton index prices to 1, never 0 (the <=1 fast path).
    assert(DedupOps.priceRefIndex(DedupOps.buildJaccardRefIndex(
      docsDf(10L -> tA, 11L -> tB))).maxClass.contains(1L))
  }

  test("append maintains the priced posting total exactly (r21)") {
    // postings = Σ set sizes over reps: one entry per distinct shingle
    // SET. The append adds tC (new class) and more tA members (existing
    // class — contributes nothing); the maintained constant must equal
    // the from-scratch price of the merged index.
    val base = DedupOps.priceRefIndex(
      DedupOps.buildJaccardRefIndex(docsDf(10L -> tA, 11L -> tB)))
    assert(base.postings.exists(_ > 0L))
    val appended = DedupOps.appendToRefIndex(base,
      docsDf(20L -> tA, 21L -> tC))
    val rebuilt = DedupOps.priceRefIndex(DedupOps.buildJaccardRefIndex(
      docsDf(10L -> tA, 11L -> tB, 20L -> tA, 21L -> tC)))
    assert(appended.postings == rebuilt.postings,
      s"maintained ${appended.postings} != rebuilt ${rebuilt.postings}")
    // The semantic axis stays unpriced on postings (None end to end).
    assert(DedupOps.priceRefIndex(DedupOps.buildEmbeddingRefIndex(
      embDf(1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f)))).postings.isEmpty)
  }

  test("paragraph-axis epoch append equals union-distinct at gated cost") {
    import spark.implicits._
    def paras(rows: (Long, Seq[String])*): DataFrame =
      rows.toDF("doc_id", "paras")
    val state0 = graft.ops.TextOps.paragraphFingerprints(
      paras(1L -> Seq("p one", "p two"), 2L -> Seq("p two", "p three")))
    val batch = paras(3L -> Seq("p two", "p four"), 4L -> Seq("p four"))
    val appended = graft.ops.TextOps
      .appendParagraphFingerprints(state0, batch)
    val naive = state0
      .union(graft.ops.TextOps.paragraphFingerprints(batch)).distinct()
    assert(appended.collect().map(_.getString(0)).toSet ==
      naive.collect().map(_.getString(0)).toSet)
    // No duplicate rows either: the anti-join admits each new fp once.
    assert(appended.count() == appended.distinct().count())
    // Gate disabled is the same set (the Bloom is an optimization only).
    assert(graft.ops.TextOps.appendParagraphFingerprints(state0, batch,
        bloomBits = 0).collect().map(_.getString(0)).toSet ==
      naive.collect().map(_.getString(0)).toSet)
  }
}
