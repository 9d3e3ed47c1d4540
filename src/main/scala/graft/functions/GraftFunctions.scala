package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Bridge

/** Column-API and SQL surface for graft's custom Catalyst expressions.
  *
  * These are native `Expression`s (not Scala UDFs): they evaluate on
  * `InternalRow`/`ArrayData` directly with no serialization round-trip, and
  * the hot-path ones implement `doGenCode` so they stay inside whole-stage
  * codegen (SURVEY.md §2.8 preference order: built-ins > native Expression
  * > UDF).
  */
object GraftFunctions {

  private def col(e: Expression): Column = Bridge.column(e)
  private def expr(c: Column): Expression = Bridge.expression(c)

  /** Cosine similarity between two float/double array columns (codegen'd). */
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(expr(a), expr(b)))

  /** Dot product of two float/double array columns (codegen'd). */
  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))

  /** L2 norm of a float/double array column (codegen'd). */
  def l2_norm(a: Column): Column = col(L2Norm(expr(a)))

  /** 60-bit SimHash of a token array (md5-derived, so independently
    * reproducible in any engine with md5 — the DuckDB oracle recomputes it).
    */
  def simhash60(tokens: Column): Column = col(SimHash60(expr(tokens)))

  /** MinHash signature (array of k minima) of a token/shingle array. */
  def minhash_signature(tokens: Column, k: Int, seed: Long = 42L): Column =
    col(MinHashSignature(expr(tokens), k, seed))

  /** 64-bit FNV-1a content hash of a string (stable across JVMs/engines). */
  def fnv64(s: Column): Column = col(Fnv64(expr(s)))

  /** Winnowing (MOSS) fingerprint set of a token array: md5-60bit shingle
    * hashes, window minima, first-occurrence distinct.
    */
  def winnow_fps60(tokens: Column, k: Int, w: Int): Column =
    col(WinnowFps60(expr(tokens), k, w))

  /** Space-joined word n-grams of a token array (`distinct` = shingle
    * set); empty below n tokens.
    */
  def word_ngrams(tokens: Column, n: Int, distinct: Boolean = false): Column =
    col(WordNgrams(expr(tokens), n, distinct))

  /** Random-hyperplane LSH signature of a vector column (ANN bucketing). */
  def lsh_signature(v: Column, bits: Int, table: Int): Column =
    col(HyperplaneLshSignature(expr(v), bits, table))

  /** Cosine over int8-quantized vectors (`array<tinyint>`) — integer dot
    * and norms, scales cancel (codegen'd).
    */
  def int8_cosine(a: Column, b: Column): Column = col(Int8Cosine(expr(a), expr(b)))

  /** ADC lookup score for product-quantized vectors: Σ_s tables[s][codes[s]]
    * (codegen'd — the PQ probe's hot kernel).
    */
  def pq_adc_score(codes: Column, tables: Column): Column =
    col(PqAdcScore(expr(codes), expr(tables)))

  /** m-byte PQ encoding of a vector under a trained codebook (codegen'd;
    * the codebook rides as a model-sized reference object).
    */
  def pq_encode(v: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    col(PqEncode(expr(v), codebooks))

  /** Per-query ADC lookup tables under a trained codebook (codegen'd). */
  def pq_tables(v: Column, codebooks: Seq[Seq[Array[Double]]]): Column =
    col(PqTables(expr(v), codebooks))

  /** Top-`take` (sim, id) centroid structs of a vector under a trained
    * coarse quantizer, sorted (sim DESC, id DESC) — codegen'd, the model
    * ships as a torrent-broadcast handle so plan AND task-binary size
    * are nlist-independent.
    */
  def nearest_centroids(v: Column, cents: Seq[(Int, Array[Double])],
      take: Int): Column =
    col(NearestCentroids(expr(v), cents, take))

  /** Injective IEEE-754 byte layout of a float/double array — the
    * formatting-independent fingerprint base (md5 over it keys
    * exact-vector-equality classes).
    */
  def vector_bytes(a: Column): Column = col(VectorBytes(expr(a)))

  /** Byte-level BPE token count under the bundled [[Bpe]] merge table. */
  def bpe_token_count(c: Column): Column = col(BpeTokenCount(expr(c)))

  /** BPE-budget context-window chunks (array of chunk structs carrying
    * the raw byte slice) — [[BpeChunks]].
    */
  def bpe_chunks(c: Column, maxTokens: Int, overlap: Int): Column =
    col(BpeChunks(expr(c), maxTokens, overlap))

  /** SpaceSaving heavy-hitters aggregate: top-k (item, count, error) by
    * count desc. Exact when `capacity` ≥ distinct items; fixed memory
    * otherwise.
    */
  def approx_top_k(c: Column, k: Int, capacity: Int): Column =
    col(ApproxTopK(expr(c), k, capacity).toAggregateExpression())

  /** SQL registrations for [[graft.GraftExtensions]]. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    reg("cosine_sim", classOf[CosineSimilarity], arity = 2,
      "_FUNC_(a, b) - cosine similarity of two numeric arrays",
      es => CosineSimilarity(es.head, es(1))),
    reg("dot_product", classOf[DotProduct], arity = 2,
      "_FUNC_(a, b) - dot product of two numeric arrays",
      es => DotProduct(es.head, es(1))),
    reg("l2_norm", classOf[L2Norm], arity = 1,
      "_FUNC_(a) - l2 norm of a numeric array", es => L2Norm(es.head)),
    reg("simhash60", classOf[SimHash60], arity = 1,
      "_FUNC_(tokens) - 60-bit md5-derived simhash of a token array",
      es => SimHash60(es.head)),
    reg("fnv64", classOf[Fnv64], arity = 1,
      "_FUNC_(str) - 64-bit FNV-1a hash of a string", es => Fnv64(es.head)),
    reg("int8_cosine", classOf[Int8Cosine], arity = 2,
      "_FUNC_(a, b) - cosine of two int8-quantized (tinyint array) vectors",
      es => Int8Cosine(es.head, es(1))),
    reg("pq_adc_score", classOf[PqAdcScore], arity = 2,
      "_FUNC_(codes, tables) - PQ asymmetric-distance lookup: sum of tables[s][codes[s]]",
      es => PqAdcScore(es.head, es(1))),
    reg("bpe_token_count", classOf[BpeTokenCount], arity = 1,
      "_FUNC_(text) - byte-level BPE token count (bundled merge table)",
      es => BpeTokenCount(es.head)))

  // ExpressionInfo's 3-arg ctor is (className, db, name) — passing usage
  // there garbles DESCRIBE FUNCTION (ADVICE r01 low) — and the 5-arg form
  // is deprecated; the 11-arg form is the one non-deprecated ctor that
  // carries usage. Empty group/since/deprecated are valid; source must be
  // a recognized tag ("built-in" covers extension-registered functions).
  private def reg(name: String, cls: Class[_], arity: Int, usage: String,
      b: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      // Arity-checked: without this, surplus SQL arguments were silently
      // DROPPED (cosine_sim(a, b, c) ran as cosine_sim(a, b)) and missing
      // ones threw a raw IndexOutOfBoundsException from es(1).
      es => {
        if (es.length != arity) throw new IllegalArgumentException(
          s"$name expects $arity argument(s), got ${es.length}")
        b(es)
      })
}
