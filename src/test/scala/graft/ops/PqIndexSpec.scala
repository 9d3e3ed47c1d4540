package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF-PQ index lifecycle (SURVEY §8 round 15): encode-once /
  * serve-many. [[SimilarityOps.ivfTopKPq]] re-encodes the corpus inside
  * every call; [[SimilarityOps.buildPqIndex]] pays that corpus-linear
  * pass once, and [[SimilarityOps.ivfTopKPqIndexed]] serves every
  * subsequent query batch from the stored codes. Every serve below must
  * be result-IDENTICAL to the inline-encode call: encoding is a
  * deterministic per-row map under fixed models, so when it runs cannot
  * change any score.
  */
class PqIndexSpec extends SparkSuite {

  private val dims = 16
  private val m = 4
  private val ksub = 8

  private def corpus: DataFrame = {
    import spark.implicits._
    Seq.tabulate(48)(i =>
      (i.toLong, Seq.tabulate(dims)(d => math.sin(i * 17 + d * 3).toFloat)))
      .toDF("vec_id", "cv")
  }

  private def queries: DataFrame = {
    import spark.implicits._
    Seq.tabulate(6)(i =>
      (100L + i, Seq.tabulate(dims)(d => math.cos(i * 11 + d * 5).toFloat)))
      .toDF("query_id", "qv")
  }

  private def models(c: DataFrame) = (
    SimilarityOps.trainIvfCentroids(c, nlist = 4, trainIters = 5,
      trainFraction = 1.0),
    SimilarityOps.trainPqCodebooks(c, dims = dims, m = m, ksub = ksub,
      trainIters = 5, trainFraction = 1.0))

  private def rows(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSet

  test("serve from a built index ≡ the inline-encode call") {
    val c = corpus
    val (cents, cbs) = models(c)
    val direct = rows(SimilarityOps.ivfTopKPq(queries, c, k = 3,
      dims = dims, nlist = 4, nprobe = 2, m = m, ksub = ksub,
      excludeSelf = false, rerank = 4,
      centroids = Some(cents), codebooks = Some(cbs)))
    val idx = SimilarityOps.buildPqIndex(c, dims = dims, nlist = 4,
      m = m, ksub = ksub, centroids = Some(cents), codebooks = Some(cbs))
    val served = rows(SimilarityOps.ivfTopKPqIndexed(queries, idx, c,
      k = 3, nprobe = 2, excludeSelf = false, rerank = 4))
    assert(served == direct, s"indexed serve $served != direct $direct")
    assert(direct.nonEmpty)
  }

  test("an index built on an empty corpus serves the standard empty result") {
    val empty = corpus.limit(0)
    val idx = SimilarityOps.buildPqIndex(empty, dims = dims, nlist = 4,
      m = m, ksub = ksub)
    assert(idx.encoded.count() == 0)
    val served = SimilarityOps.ivfTopKPqIndexed(queries, idx, empty, k = 3,
      nprobe = 2, excludeSelf = false)
    assert(served.count() == 0)
    assert(served.columns.toSeq ==
      Seq("query_id", "rank", "neighbor_id", "cosine"))
  }

  test("serving against a truncated corpus fails loudly (generation mismatch)") {
    val c = corpus
    val (cents, cbs) = models(c)
    val idx = SimilarityOps.buildPqIndex(c, dims = dims, nlist = 4,
      m = m, ksub = ksub, centroids = Some(cents), codebooks = Some(cbs))
    // A corpus missing rows the index encoded — e.g. serving yesterday's
    // vector table against today's appended index. The re-rank fetch
    // must raise naming the missing vec_id, not silently drop it.
    val truncated = c.filter(col("vec_id") < 24)
    val e = intercept[Exception] {
      SimilarityOps.ivfTopKPqIndexed(queries, idx, truncated, k = 3,
        nprobe = 2, excludeSelf = false, rerank = 4).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c2 => Option(c2.getMessage)).getOrElse("")
    assert(msg.contains("generation mismatch"),
      s"expected a loud generation-mismatch error, got: $e")
    // The guard costs nothing when generations line up: the full corpus
    // still serves identically to the unguarded inline-encode call.
    val served = rows(SimilarityOps.ivfTopKPqIndexed(queries, idx, c,
      k = 3, nprobe = 2, excludeSelf = false, rerank = 4))
    val direct = rows(SimilarityOps.ivfTopKPq(queries, c, k = 3,
      dims = dims, nlist = 4, nprobe = 2, m = m, ksub = ksub,
      excludeSelf = false, rerank = 4,
      centroids = Some(cents), codebooks = Some(cbs)))
    assert(served == direct)
  }
}
