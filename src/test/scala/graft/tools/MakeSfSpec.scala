package graft.tools

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pins the contract of the linear-scale directory builder (MakeSf —
  * VERDICT r16 #5's sf1 bench input): factor× volume, referential
  * integrity under the key shift, and the two perturbation guarantees
  * that make the scaled corpus LINEAR in true workload — within-replica
  * structure preserved (the base corpus's dup/ANN topology repeats per
  * replica) and cross-replica candidate keys disjoint (no quadratic
  * cross-replica dup volume, which is ScaleProbe's regime, not this
  * tool's).
  */
class MakeSfSpec extends SparkSuite {

  private val factor = 3
  private lazy val outDir: String = {
    val d = tmp("graft-makesf") + "/scaled"
    MakeSf.build(spark, sf(), d, factor)
    d
  }

  test("every scaled table has factor x rows; dimensions pass through") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")) {
      val base = spark.read.parquet(s"${sf()}/$t.parquet").count()
      val scaled = spark.read.parquet(s"$outDir/$t.parquet").count()
      assert(scaled == base * factor, s"$t: $scaled != $factor x $base")
    }
    // Constant-size dimensions are linked through unchanged.
    assert(spark.read.parquet(s"$outDir/nation.parquet").count() ==
      spark.read.parquet(s"${sf()}/nation.parquet").count())
  }

  test("referential integrity survives the key shift at base selectivity") {
    val li = spark.read.parquet(s"$outDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$outDir/orders.parquet")
    val cust = spark.read.parquet(s"$outDir/customer.parquet")
    // Every lineitem resolves its order; every order its customer — and
    // the join volume is exactly factor x the base volume (selectivity
    // preserved, no cross-replica key collisions).
    val baseLi = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val baseOrd = spark.read.parquet(s"${sf()}/orders.parquet")
    val baseJoin = baseLi.join(baseOrd, baseLi("l_orderkey") === baseOrd("o_orderkey")).count()
    val scaledJoin = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
    assert(scaledJoin == baseJoin * factor, s"$scaledJoin != $factor x $baseJoin")
    val orphans = ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").count()
    assert(orphans == 0, s"$orphans orders with unresolvable o_custkey")
  }

  test("documents: replica 0 verbatim, cross-replica token sets disjoint, within-replica dup structure preserved") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
    // Replica 0 (doc_id % factor == 0) is the base corpus verbatim.
    val r0 = docs.filter(col("doc_id") % factor === 0)
      .select((col("doc_id") / factor).cast("long").as("doc_id"), col("text"))
    assert(r0.join(base.select("doc_id", "text"), Seq("doc_id", "text")).count() ==
      base.count())
    // Distinct tokens of different replicas never collide (the ~k suffix):
    // so no cross-replica shingle/paragraph/fingerprint candidates exist.
    val tokens = docs.select((col("doc_id") % factor).as("k"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val collisions = tokens.groupBy("tok")
      .agg(countDistinct("k").as("nk")).filter(col("nk") > 1).count()
    assert(collisions == 0, s"$collisions tokens shared across replicas")
    // Within a replica the EXACT-dup class structure of the base corpus
    // is reproduced: identical base texts stay identical after uniform
    // suffixing, distinct ones stay distinct (suffixing is injective on
    // token sequences).
    val baseClasses = base.groupBy("text").count()
      .groupBy("count").count().orderBy("count").collect().toSeq
    for (k <- 0 until factor) {
      val cls = docs.filter(col("doc_id") % factor === k).groupBy("text").count()
        .groupBy("count").count().orderBy("count").collect().toSeq
      assert(cls == baseClasses, s"replica $k dup-class profile drifted")
    }
    // n_chars was recomputed for the suffixed text.
    assert(docs.filter(col("n_chars") =!= length(col("text"))).count() == 0)
  }

  test("factor > dims: the sign layer keeps replicas k and k+dims distinct, within-replica dots exact") {
    // Rotation alone has period dims (= 64): replica 65 would equal
    // replica 1 without the per-block sign layer. Build at factor 66 and
    // pin both halves of the layer's contract.
    val dir = tmp("graft-makesf-wide") + "/scaled"
    MakeSf.build(spark, sf(), dir, 66)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ids = (0 until 4).map(_.toLong)
    def vec(k: Long, orig: Long): Seq[Float] =
      emb.filter(col("vec_id") === orig * 66 + k).select("embedding")
        .head().getSeq[Float](0)
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).map { case (a, c) => a.toDouble * c }.sum
    for (i <- ids) {
      // Same rotation shift (7), different block: must differ now.
      assert(vec(1, i) != vec(65, i), s"replica 65 duplicates replica 1 for orig $i")
    }
    // Within replica 65 the dup/ANN topology is still the base corpus's:
    // sign flips are orthogonal, so pairwise dots match the base exactly.
    val base = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def baseVec(orig: Long): Seq[Float] =
      base.filter(col("vec_id") === orig).select("embedding").head().getSeq[Float](0)
    for (i <- ids; j <- ids if i < j) {
      assert(math.abs(dot(vec(65, i), vec(65, j)) - dot(baseVec(i), baseVec(j))) < 1e-6,
        s"replica 65: dot($i,$j) drifted")
    }
  }

  test("embeddings: rotation preserves within-replica cosines exactly and scrambles cross-replica ones") {
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val base = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // Rotation is orthogonal: within replica k, every pairwise dot equals
    // the base pair's dot bit-for-bit (same element products in a rotated
    // order — addition order changes, so compare to 1e-6, which still
    // catches any indexing defect). Sample the first 5 base vectors.
    val ids = (0 until 5).map(_.toLong)
    def vecs(df: org.apache.spark.sql.DataFrame, idMap: Long => Long): Map[Long, Seq[Float]] =
      ids.map(i => i -> df.filter(col("vec_id") === idMap(i))
        .select("embedding").head().getSeq[Float](0)).toMap
    val b = vecs(base, identity)
    def dot(x: Seq[Float], y: Seq[Float]): Double =
      x.zip(y).map { case (a, c) => a.toDouble * c }.sum
    for (k <- 1 until factor) {
      val r = vecs(emb, i => i * factor + k)
      for (i <- ids; j <- ids if i < j) {
        assert(math.abs(dot(r(i), r(j)) - dot(b(i), b(j))) < 1e-6,
          s"replica $k: dot($i,$j) drifted")
        // Cross-replica: the same base pair with ONE side rotated must not
        // reproduce the base dot (scrambled below dup thresholds).
        assert(math.abs(dot(b(i), r(j)) - dot(b(i), b(j))) > 1e-9,
          s"cross-replica dot($i,$j) unchanged — rotation not applied")
      }
    }
  }

  test("claimOutDir: refuses an unmarked dir and a file store without the space, before claiming") {
    import java.nio.file.{Files, Paths}
    val root = tmp("graft-makesf-claim")
    val foreign = Paths.get(root, "foreign")
    Files.createDirectories(foreign)
    Files.writeString(foreign.resolve("data.txt"), "not ours")
    val refused = intercept[IllegalArgumentException](
      MakeSf.claimOutDir(foreign.toString, MakeSf.Marker, "MakeSf", 1))
    assert(refused.getMessage.contains("refusing to wipe"))
    assert(Files.exists(foreign.resolve("data.txt")))

    val dir = Paths.get(root, "scaled")
    Files.createDirectories(dir)
    val need = Files.getFileStore(dir).getUsableSpace + (1L << 30)
    val e = intercept[IllegalArgumentException](
      MakeSf.claimOutDir(dir.toString, MakeSf.Marker, "MakeSf", need))
    assert(e.getMessage.contains(s"'$dir'") && e.getMessage.contains(s"needs $need bytes") &&
      e.getMessage.contains("usable"), e.getMessage)
    assert(!Files.exists(dir.resolve(MakeSf.Marker)))
    MakeSf.claimOutDir(dir.toString, MakeSf.Marker, "MakeSf", 1)
    assert(Files.exists(dir.resolve(MakeSf.Marker)))
  }
}
