package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** A trained coarse-quantizer model in kernel layout — parallel
  * (ids, vecs, norms) arrays, norms precomputed driver-side with the
  * exact per-centroid accumulation order [[CosineSimilarity]] uses
  * (left-to-right product sum, correctly-rounded √). Broadcast ONCE per
  * model; [[NearestCentroids]] holds only the [[Broadcast]] handle, so
  * plan serialization, explain/UI plumbing, and every task-binary
  * rebuild carry a few hundred bytes however large nlist×dims grows
  * (√N sizing at corpus scale puts the raw model in the hundreds of MB
  * — torrent broadcast is built for that; the plan object is not).
  */
final class CentroidModel private[functions] (
    val ids: Array[Int],
    val vecs: Array[Array[Double]],
    val norms: Array[Double]) extends Serializable

object CentroidModel {
  def apply(centroids: Seq[(Int, Array[Double])]): CentroidModel = {
    val vecs = centroids.map(_._2).toArray
    val norms = vecs.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    new CentroidModel(centroids.map(_._1).toArray, vecs, norms)
  }
}

/** nearest_centroids(vec) → array<struct<sim, id>>: the `take`
  * most-cosine-similar centroids of a trained coarse quantizer, sorted
  * (sim DESC, id DESC) — the IVF-family assignment/probe kernel
  * ([[graft.ops.SimilarityOps.assignListIds]]/`probeListIds`).
  *
  * Why a native expression and not the composed
  * `slice(reverse(array_sort(array(struct(cosine_sim(v, c), id)...))))`
  * tree it replaces: that tree is one Catalyst node chain PER CENTROID,
  * and the quantizer's size is a scale knob — SemDeDup's √N sizing rule
  * puts nlist in the tens of thousands at corpus scale, where an
  * nlist-wide expression tree blows past janino's method limits and
  * knocks the corpus-sized assignment projection out of whole-stage
  * codegen (the exact failure mode the PQ kernels already solved, and at
  * 16×64×4-node scale the LSH signature did too). The model rides as a
  * [[Broadcast]] handle (r17 — previously the nlist×dims doubles were
  * embedded in the expression and re-shipped with every task binary):
  * executors fetch it via torrent broadcast once per executor, and the
  * plan object, explain output, and task binaries stay a few hundred
  * bytes at any nlist. Each row costs one tight nlist×dims loop plus a
  * bounded `take`-insertion, independent of nlist in PLAN size.
  *
  * Result contract (spec-pinned equal to the composed form): sims are
  * [[CosineSimilarity]] doubles — the query-side norm folds out once per
  * row (same double: √ is correctly rounded and the per-centroid norms
  * are the same products summed in the same order); a zero-norm vector
  * or a dims-mismatched centroid yields a NULL sim, which orders BELOW
  * every non-null sim exactly as Spark's struct ordering places null
  * fields first ascending; ties (including all-null) break to the
  * LARGER id, matching `array_max`/`reverse(array_sort(...))` on
  * (sim, id) structs. A NULL input vector behaves as the composed form
  * does — every per-centroid cosine is NULL, so the result is the
  * all-null-sim id-descending array, NOT a null output (the expression
  * is non-nullable, like the array constructor it replaces).
  * Sim comparisons match Spark's nanSafeCompareDoubles — the ordering
  * array_sort/array_max apply to the composed form — exactly: NaN
  * largest and equal to itself, and -0.0 == 0.0 (a ±0.0 sim tie falls
  * through to the id tie-break; java.lang.Double.compare alone would
  * order -0.0 < 0.0). Cosine here never produces NaN, and -0.0 is
  * reachable only via subnormal-underflow division, but the kernel is
  * spec-pinned equal to the composed form so the edge is honored, not
  * just unlikely.
  */
case class NearestCentroids(child: Expression,
    model: Broadcast[CentroidModel], take: Int)
    extends UnaryExpression with VectorArrayCodegen {
  require(take >= 1, s"take must be >= 1, got $take")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("id", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(acceptedVector)

  // One broadcast fetch per executor (torrent), then plain array reads.
  @transient private lazy val ids: Array[Int] = model.value.ids
  @transient private lazy val vecs: Array[Array[Double]] = model.value.vecs
  @transient private lazy val norms: Array[Double] = model.value.norms

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) topKNull() else topK(v.asInstanceOf[ArrayData])
  }

  /** The composed form's null-vector result: every sim NULL, ids
    * descending — reached for a NULL input (cosine_sim(null, c) is NULL
    * per centroid in the tree this replaces). */
  def topKNull(): ArrayData = {
    val k = math.min(take, ids.length)
    // Ordering.Int.reverse, NOT sortBy(-_): negating Int.MinValue is the
    // identity, which would mis-order it FIRST — unreachable from trained
    // quantizers (0-based ids) but this is a public API over arbitrary ids.
    val sorted = ids.sorted(Ordering.Int.reverse).take(k)
    new GenericArrayData(sorted.map(id =>
      InternalRow(null, id): Any))
  }

  /** (simIsNull, sim, id) `a` strictly beats `b` under (sim DESC, id
    * DESC) with null sims smallest. Sim equality is nan-safe Spark
    * semantics: `aSim == bSim` first makes ±0.0 a TIE (Double.compare
    * alone orders -0.0 < 0.0, diverging from array_sort); Double.compare
    * then handles NaN (largest, equal to itself). */
  private[functions] def beats(aNull: Boolean, aSim: Double, aId: Int,
      bNull: Boolean, bSim: Double, bId: Int): Boolean =
    if (aNull != bNull) bNull
    else if (!aNull && aSim != bSim && java.lang.Double.compare(aSim, bSim) != 0)
      java.lang.Double.compare(aSim, bSim) > 0
    else aId > bId

  def topK(x: ArrayData): ArrayData = {
    val et = elemType(child.dataType)
    val n = x.numElements()
    // Materialize the vector into a primitive array during the norm
    // pass: the centroid loop below reads it nlist times, and per-read
    // evalGet (type match + null-bitset check) in the hot loop would
    // waste exactly the work this kernel exists to save at large nlist.
    val xv = new Array[Double](n)
    var nx = 0.0
    var i = 0
    while (i < n) { val v = evalGet(et, x, i); xv(i) = v; nx += v * v; i += 1 }
    val sx = math.sqrt(nx)
    val k = math.min(take, vecs.length)
    // Bounded insertion buffer, kept sorted best-first — k is 1
    // (assignment) or nprobe (small), so O(nlist·k) with no allocation
    // beyond the result.
    val bNull = new Array[Boolean](k)
    val bSim = new Array[Double](k)
    val bId = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < vecs.length) {
      val cv = vecs(c)
      var isNull = true
      var sim = 0.0
      if (cv.length == n) {
        var dot = 0.0
        var j = 0
        while (j < n) { dot += xv(j) * cv(j); j += 1 }
        val denom = sx * norms(c)
        if (denom != 0.0) { isNull = false; sim = dot / denom }
      }
      val id = ids(c)
      // Insert if the buffer has room or this beats the current worst.
      if (filled < k || beats(isNull, sim, id,
          bNull(filled - 1), bSim(filled - 1), bId(filled - 1))) {
        var pos = if (filled < k) filled else k - 1
        while (pos > 0 && beats(isNull, sim, id,
            bNull(pos - 1), bSim(pos - 1), bId(pos - 1))) {
          bNull(pos) = bNull(pos - 1); bSim(pos) = bSim(pos - 1)
          bId(pos) = bId(pos - 1); pos -= 1
        }
        bNull(pos) = isNull; bSim(pos) = sim; bId(pos) = id
        if (filled < k) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    i = 0
    while (i < filled) {
      out(i) = InternalRow(if (bNull(i)) null else java.lang.Double.valueOf(bSim(i)),
        bId(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    val childGen = child.genCode(ctx)
    val arrayData = classOf[ArrayData].getName
    // Non-nullable output with an explicit null branch: a NULL vector
    // takes the composed form's all-null-sim result, not a null array.
    ev.copy(code = code"""
      |${childGen.code}
      |$arrayData ${ev.value} = ${childGen.isNull}
      |  ? $ref.topKNull() : $ref.topK(${childGen.value});
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestCentroids {
  /** Cache key with CONTENT equality — ids plus vector values, hashCode
    * precomputed once. The r17 weak-keyed map keyed on the raw
    * `Seq[(Int, Array[Double])]`, whose hashCode hashes the arrays by
    * IDENTITY: two equal models held in different arrays missed each
    * other and re-broadcast (VERDICT r17 #3). Structural keys make
    * every copy of the same model hit one broadcast.
    */
  private final class ModelKey(m: Seq[(Int, Array[Double])]) {
    private val ids: Array[Int] = m.map(_._1).toArray
    private val vecs: Array[Array[Double]] = m.map(_._2).toArray
    override val hashCode: Int = {
      var h = java.util.Arrays.hashCode(ids)
      var i = 0
      while (i < vecs.length) {
        h = 31 * h + java.util.Arrays.hashCode(vecs(i)); i += 1
      }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case k: ModelKey =>
        java.util.Arrays.equals(ids, k.ids) && vecs.length == k.vecs.length && {
          var i = 0; var eq = true
          while (eq && i < vecs.length) {
            eq = java.util.Arrays.equals(vecs(i), k.vecs(i)); i += 1
          }
          eq
        }
      case _ => false
    }
  }

  private val MaxCached = 16

  // One broadcast per model CONTENT per context: the IVF ops build
  // assign AND probe expressions from the same trained model (often
  // several serve calls deep — sim_recall_ann scores three IVF paths
  // off one fit), and structurally-equal copies of a model must
  // reuse the shipped bytes, not duplicate them.
  // Bounded LRU instead of weak keys: a content key has no external
  // strong referent to keep a WeakHashMap entry alive, so the bound is
  // the anti-pinning mechanism — an evicted entry merely drops the
  // cache's reference and ContextCleaner reclaims the broadcast once no
  // live plan holds it. 16 models ≈ a few hundred MB at the largest
  // √N-sized quantizer, driver-side only.
  private val cache = new java.util.LinkedHashMap[ModelKey,
      (org.apache.spark.SparkContext, Broadcast[CentroidModel])](
      MaxCached, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ModelKey,
        (org.apache.spark.SparkContext, Broadcast[CentroidModel])]): Boolean =
      size() > MaxCached
  }

  /** Broadcast-and-wrap constructor: the trained model is driver-side
    * `Seq[(id, vec)]` everywhere upstream (Lloyd's output, a caller's
    * `centroids`); this ships it to executors ONCE via torrent broadcast and
    * hands the expression the handle. Requires an active SparkSession
    * (always true where plans are being built).
    */
  def apply(child: Expression, centroids: Seq[(Int, Array[Double])],
      take: Int): NearestCentroids = {
    val sc = SparkSession.active.sparkContext
    val key = new ModelKey(centroids)
    val bc = cache.synchronized {
      cache.get(key) match {
        case (`sc`, b) if !sc.isStopped => b
        case _ =>
          val b = sc.broadcast(CentroidModel(centroids))
          cache.put(key, (sc, b))
          b
      }
    }
    new NearestCentroids(child, bc, take)
  }
}
