package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** word_ngrams(array<string> tokens, n[, distinct]) → array<string>.
  *
  * Native straightline twin of the higher-order-function n-gram builder
  * ([[graft.ops.TextOps.ngramsFromTokensHof]], spec-asserted equal):
  * space-joined windows of `n` consecutive tokens, with `concat_ws` null
  * skipping, empty output below `n` tokens or on null input, and
  * (optionally) `array_distinct` first-occurrence dedup. HOFs do not
  * participate in whole-stage codegen — the interpreted
  * transform→sequence→element_at tree costs ~1 ms per document and feeds
  * every shingle-based dedup operator (Jaccard, MinHash, SimHash,
  * winnowing), which made shingle construction the dominant cost of the
  * dedup family; one eval per document removes that while producing
  * byte-identical shingle strings.
  */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  require(n > 0, s"word_ngrams: n=$n must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (distinct) "word_shingles" else "word_ngrams"
  override def inputTypes: Seq[Bridge.AbstractType] = Seq(ArrayType(StringType))

  // Null token array → EMPTY n-gram array, matching the HOF twin (null
  // `when` condition falls through to the empty branch).
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](arr.numElements())
    var i = 0
    while (i < toks.length) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i)
      i += 1
    }
    val win = new Array[UTF8String](n)
    if (!distinct) {
      val out = new Array[Any](m)
      i = 0
      while (i < m) {
        var j = 0
        while (j < n) { win(j) = toks(i + j); j += 1 }
        out(i) = UTF8String.concatWs(sep, win: _*) // copies bytes; null-skipping
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String]() // first-occurrence order
      i = 0
      while (i < m) {
        var j = 0
        while (j < n) { win(j) = toks(i + j); j += 1 }
        seen.add(UTF8String.concatWs(sep, win: _*))
        i += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** sorted_intersect_count(array<long>, array<long>) → int.
  *
  * Linear-merge intersection size of two SORTED long arrays (duplicates
  * contribute min-multiplicity, like `array_intersect` on sets the arrays
  * never have). A pair-verify kernel: per candidate pair it replaces
  * `array_intersect`/`array_union` over ~90-element string arrays
  * (hash-probe + string equality per element) with one O(n_a + n_b)
  * primitive merge — measured 7× on the verify
  * stage at sf0.1. Inputs MUST be sorted ascending (the caller sorts once
  * per document, not per pair).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def inputTypes: Seq[Bridge.AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    // Null ELEMENTS are skipped, not read: the input type admits
    // containsNull arrays, and ArrayData.getLong on a null slot silently
    // yields 0 — which would count a phantom intersection against a real
    // hash value of 0. A null is no value; it matches nothing.
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

