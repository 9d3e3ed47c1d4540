package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.PropCheck
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the native per-document kernels against independent
  * straight-Scala reference implementations (NOT the production code
  * paths): the DataFrame-level equivalence specs in OpsSpec pin native ==
  * HOF on real documents; these pin the algorithms themselves across
  * arbitrary token streams — duplicates, empties, unicode, pathological
  * window shapes.
  */
class NativeKernelPropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = PropCheck.check(prop)

  private val token: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.oneOf("a", "b", "ü", "字", ""))
  private val tokens: Gen[List[String]] = Gen.listOf(token)

  test("winnowFingerprints == reference windows-min-distinct for arbitrary tokens") {
    check(Prop.forAll(tokens, Gen.choose(1, 4), Gen.choose(1, 5)) {
      (ts: List[String], k: Int, w: Int) =>
        // Reference: shingle strings, md5Hash60 each, sliding-window min,
        // first-occurrence distinct — independent of the production loop.
        val shingles = ts.sliding(k).filter(_.size == k).map(_.mkString(" ")).toList
        val want =
          if (shingles.size < w) Seq.empty[Long]
          else shingles.map(s => HashUtil.md5Hash60(s.getBytes("UTF-8")))
            .sliding(w).map(_.min).toList.distinct
        val got = HashUtil.winnowFingerprints(
          ts.map(_.getBytes("UTF-8")).toArray, k, w).toSeq
        got == want
    })
  }

  test("int8_cosine == reference double-arithmetic cosine for arbitrary byte vectors") {
    import org.apache.spark.sql.types.ByteType
    val bytes = Gen.listOf(Gen.choose(-127, 127).map(_.toByte))
    check(Prop.forAll(bytes, bytes) { (a: List[Byte], b: List[Byte]) =>
      val e = Int8Cosine(
        Literal(new GenericArrayData(a.toArray), ArrayType(ByteType)),
        Literal(new GenericArrayData(b.toArray), ArrayType(ByteType)))
      val got = e.eval(null)
      if (a.size != b.size) got == null
      else {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        if (na * nb == 0.0) got == null
        // Long accumulation is exact; the reference's double sums are too
        // at these magnitudes (< 2^53) — equality must be bitwise.
        else got == dot / (na * nb)
      }
    })
  }

  test("pq_adc_score == reference table-lookup sum for arbitrary codes/tables") {
    import org.apache.spark.sql.types.{ByteType, DoubleType => DT}
    val gen = for {
      m <- Gen.choose(0, 12)
      ksub <- Gen.choose(1, 16)
      codes <- Gen.listOfN(m, Gen.choose(0, ksub - 1).map(_.toByte))
      tables <- Gen.listOfN(m, Gen.listOfN(ksub,
        Gen.choose(-1000000, 1000000).map(_ / 1000.0)))
      // sometimes desync lengths / push a code out of range
      drop <- Gen.oneOf(0, 0, 0, 1)
      bump <- Gen.oneOf(false, false, true)
    } yield (if (bump && codes.nonEmpty) (ksub.toByte :: codes.tail) else codes,
      tables.drop(drop))
    check(Prop.forAll(gen) { case (codes, tables) =>
      val e = PqAdcScore(
        Literal(new GenericArrayData(codes.toArray), ArrayType(ByteType)),
        Literal(new GenericArrayData(
          tables.map(t => new GenericArrayData(t.toArray)).toArray),
          ArrayType(ArrayType(DT))))
      val got = e.eval(null)
      if (codes.size != tables.size) got == null
      else if (codes.zip(tables).exists { case (c, t) => c < 0 || c >= t.size }) got == null
      // Sequential double sums on both sides — equality must be bitwise.
      else got == codes.zip(tables).map { case (c, t) => t(c) }.sum
    })
  }

  test("pq_encode == reference folded-norm argmax; tables consistent with encode") {
    import org.apache.spark.sql.types.FloatType
    val vecGen = Gen.choose(2, 4).flatMap(msub =>
      Gen.listOfN(msub * 3, Gen.choose(-1000, 1000).map(_ / 250.0f)).map((msub, _)))
    val bookGen = Gen.choose(1, 5).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(3, Gen.choose(-1000, 1000).map(_ / 250.0))))
    check(Prop.forAll(vecGen, bookGen) { case ((m, v), book0) =>
      // One shared sub-codebook per subspace keeps the generator simple;
      // contents still arbitrary.
      val books: Seq[Seq[Array[Double]]] = Seq.fill(m)(book0.map(_.toArray))
      val lit = Literal(new GenericArrayData(v.toArray), ArrayType(FloatType))
      val codes = PqEncode(lit, books).eval(null).asInstanceOf[GenericArrayData]
      val tables = PqTables(lit, books).eval(null)
        .asInstanceOf[GenericArrayData].array.map(_.asInstanceOf[GenericArrayData])
      // Reference replays the EXACT arithmetic contract (left-to-right
      // double dot, 2·dot/‖v‖ − ‖c‖², zero-norm → −‖c‖², ties → smallest
      // code) so equality is bitwise.
      val nrm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      val expect = (0 until m).map { s =>
        val sub = v.slice(s * 3, s * 3 + 3).map(_.toDouble)
        val scores = book0.map { c =>
          val n2 = c.map(x => x * x).sum
          if (nrm > 0.0) sub.zip(c).map { case (a, b) => a * b }.sum * 2 / nrm - n2
          else -n2
        }
        scores.indexOf(scores.max)
      }
      val gotCodes = (0 until m).map(i => codes.array(i).asInstanceOf[Byte].toInt)
      val tablesOk = (0 until m).forall { s =>
        val sub = v.slice(s * 3, s * 3 + 3).map(_.toDouble)
        book0.zipWithIndex.forall { case (c, j) =>
          val want = if (nrm > 0.0) sub.zip(c).map { case (a, b) => a * b }.sum / nrm else 0.0
          tables(s).getDouble(j) == want
        }
      }
      gotCodes == expect && tablesOk
    })
  }

  test("BPE segmentation == iterative lowest-rank reference for arbitrary strings") {
    // Independent reference: the canonical BPE inference loop — find the
    // LOWEST-RANK merge whose pair occurs anywhere in the current token
    // sequence, apply it as one left-to-right pass, repeat until no merge
    // applies. The production kernel applies each rank exactly once in
    // order; for a valid table (sides are bases or earlier results —
    // enforced at Bpe class load) the two must coincide, and this
    // property is the proof for the bundled table over arbitrary input,
    // unicode and pathological repeats included.
    val rank = Bpe.merges.zipWithIndex.map { case ((a, b), r) => (a, b) -> r }.toMap
    def referenceTokens(bytes: Array[Byte]): List[String] = {
      var toks = bytes.map(b => f"${b & 0xff}%02X").toList
      var done = false
      while (!done) {
        val present = toks.zip(toks.drop(1)).flatMap(p => rank.get(p).map(p -> _))
        if (present.isEmpty) done = true
        else {
          val ((a, b), _) = present.minBy(_._2)
          val out = List.newBuilder[String]
          var rest = toks
          while (rest.nonEmpty) rest match {
            case x :: y :: tail if x == a && y == b => out += x + y; rest = tail
            case x :: tail => out += x; rest = tail
            case Nil => ()
          }
          toks = out.result()
        }
      }
      toks
    }
    val text: Gen[String] = Gen.oneOf(
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', ',', 'ü', '字')))
        .map(_.mkString),
      // Pathological: runs of one char (odd/even), and the high-merge words
      Gen.oneOf("ttttt", "tttt", "the theatre is in the thing",
        "   ", "ininining", ", . 2019 2020"))
    check(Prop.forAll(text) { (s: String) =>
      val bytes = s.getBytes("UTF-8")
      val want = referenceTokens(bytes)
      Bpe.tokensHex(bytes) == want && Bpe.tokenCount(bytes) == want.size
    })
  }

  test("bpe_chunks windows tile the token stream and carry exact byte slices") {
    val text: Gen[String] = Gen.listOf(
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', 'ü', '字'))).map(_.mkString)
    val params: Gen[(Int, Int)] = for {
      mt <- Gen.choose(1, 12)
      ov <- Gen.choose(0, mt - 1)
    } yield (mt, ov)
    check(Prop.forAll(text, params) { case (s: String, (mt: Int, ov: Int)) =>
      val bytes = s.getBytes("UTF-8")
      val toks = Bpe.tokensHex(bytes)
      val got = BpeChunks(Literal.create(UTF8String.fromString(s), StringType), mt, ov)
        .eval(null).asInstanceOf[ArrayData]
      val rows = (0 until got.numElements()).map(i => got.getStruct(i, 4))
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getBinary(3).map(b => f"${b & 0xff}%02X").mkString))
      val stride = mt - ov
      val n = toks.size
      val wantNc = if (n == 0) 0 else if (n <= mt) 1 else (n - mt + stride - 1) / stride + 1
      rows.size == wantNc && rows.zipWithIndex.forall { case ((ci, st, nt, hexStr), i) =>
        ci == i && st == i * stride && nt == math.min(st + mt, n) - st &&
          // The chunk's bytes are exactly its window's tokens, so the
          // hex concatenation must match the reference token stream.
          hexStr == toks.slice(st, st + nt).mkString
      } && (n == 0 || rows.last._2 + rows.last._3 == n) // last window reaches the end
    })
  }

  test("vector_bytes fingerprints key exact-vector-equality classes") {
    import org.apache.spark.sql.types.FloatType
    // Values chosen to collide under naive formatting/widening mistakes:
    // ±0.0 (equal under ==, distinct bit patterns), NaN (self-unequal,
    // one canonical class), nulls vs 0.0, and near-equal floats.
    val elem: Gen[Option[Float]] = Gen.frequency(
      5 -> Gen.oneOf(0.0f, -0.0f, 1.0f, 1.0000001f, Float.NaN,
        Float.MinPositiveValue, -1.5f).map(Some(_)),
      1 -> Gen.const(None))
    val vec: Gen[List[Option[Float]]] = Gen.choose(0, 5).flatMap(Gen.listOfN(_, elem))
    def bytesOf(v: List[Option[Float]]): Seq[Byte] = {
      val lit = Literal.create(
        new GenericArrayData(v.map(_.map(Float.box).orNull).toArray),
        ArrayType(FloatType, containsNull = true))
      VectorBytes(lit).eval(null).asInstanceOf[Array[Byte]].toSeq
    }
    // Exact equality class key: element count + per-element
    // (present, canonical bit pattern) — what "the same vector" means.
    def classKey(v: List[Option[Float]]): Seq[Option[Long]] =
      v.map(_.map(f => java.lang.Double.doubleToLongBits(f.toDouble)))
    check(Prop.forAll(vec, vec) { (a, b) =>
      (bytesOf(a) == bytesOf(b)) == (classKey(a) == classKey(b))
    })
    // Prefix injectivity: a shorter vector never encodes as a prefix-equal
    // byte string of a longer one's class (lengths differ => bytes differ).
    assert(bytesOf(List(Some(1.0f))) != bytesOf(List(Some(1.0f), Some(0.0f))))
    assert(bytesOf(List(None)) != bytesOf(List(Some(0.0f))))
  }

  test("word ngrams kernel == reference sliding join for arbitrary tokens") {
    check(Prop.forAll(tokens, Gen.choose(1, 4), Gen.oneOf(true, false)) {
      (ts: List[String], n: Int, distinct: Boolean) =>
        val lit = Literal(
          new GenericArrayData(ts.map(UTF8String.fromString).toArray),
          ArrayType(StringType))
        val got = WordNgrams(lit, n, distinct).eval(null).asInstanceOf[ArrayData]
        val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
        val all = ts.sliding(n).filter(_.size == n).map(_.mkString(" ")).toList
        val want = if (distinct) all.distinct else all
        gotSeq == want
    })
  }
}
