package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.Sessions
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Build a LINEARLY-scaled test-data directory from an existing sf dir —
  * the input for a full-registry bench at 10× the largest driver-shipped
  * SF (VERDICT r16 #5: the ×10/×100 ScaleProbe covers the dedup/ANN
  * algebra under replication, but the whole 125-query registry had only
  * ever been timed at sf0.1; a single sf1 line catches any query whose
  * constant is fine at 600k rows and wrong at 6M).
  *
  * This is deliberately NOT [[ScaleProbe.replicateDir]]: that tool
  * replicates documents/embeddings verbatim, creating factor-copy dup
  * classes — the dup-heavy regime where the true dedup answer (and so
  * the wall time) grows QUADRATICALLY in multiplicity, which is exactly
  * what its expansion-algebra assertions price. A bench line needs the
  * opposite: a corpus whose true workload grows ~linearly with rows, so
  * "no query super-linear vs sf0.1" is a meaningful assertion about
  * constants rather than about answer volume. Hence each replica is
  * PERTURBED:
  *
  *  - `documents.text`: replica 0 is the base corpus verbatim; replica
  *    k > 0 suffixes every whitespace token with `~k` — shingle sets,
  *    token bags, paragraph fingerprints, and n-grams become disjoint
  *    across replicas (no cross-replica exact/near/paragraph/substring
  *    dups), while WITHIN a replica the dup structure of the base corpus
  *    is reproduced exactly (a base near-dup pair's two texts get the
  *    same suffixing, preserving their Jaccard). `n_chars` is recomputed.
  *  - `embeddings.embedding`: replica k circularly rotates the vector by
  *    k·stride positions, stride = the smallest s ≥ 7 coprime to the
  *    corpus's dims (derived at build time — 7 for the 64-dim test
  *    corpora). Rotation is an orthogonal map, so WITHIN a replica
  *    every cosine is preserved bit-for-bit structurally (the dup/ANN
  *    topology of the base corpus repeats per replica) while
  *    cross-replica cosines are scrambled below any dedup threshold.
  *    Coprimality gives the rotation alone period dims (dims distinct
  *    shifts for dims-dim vectors), so past factor = dims a second
  *    orthogonal layer keeps replicas distinct: replicas in rotation
  *    block b = k div dims (b > 0) also flip each dimension's sign by a
  *    hash of (b, i). Sign flips preserve within-replica dots EXACTLY
  *    ((-x)·(-y) = x·y in IEEE) while decorrelating k from k+dims, so
  *    strict linearity in distinct vectors holds at any factor; block 0
  *    is the identity, so factor ≤ dims builds are byte-identical to
  *    the rotation-only form.
  *  - fact tables (`customer supplier part orders lineitem events`):
  *    ids shift by `orig * factor + k` consistently across foreign keys,
  *    so joins keep exactly their base selectivity and referential
  *    integrity at factor× volume.
  *  - `region`/`nation` symlink unchanged — constant-size dimensions do
  *    not scale with SF (the TPC-H convention), and every nationkey
  *    stays resolvable.
  *
  * Usage: `runMain graft.tools.MakeSf <baseDir> <outDir> [factor=10]`.
  * Refuses to wipe a non-empty outDir it did not create (same ownership
  * marker contract as ScaleProbe).
  */
object MakeSf {

  val Marker = "_GRAFT_MAKESF"

  /** (table, columns to shift as orig*factor+k). */
  private val keyShifts: Map[String, Seq[String]] = Map(
    "customer.parquet" -> Seq("c_custkey"),
    "supplier.parquet" -> Seq("s_suppkey"),
    "part.parquet" -> Seq("p_partkey"),
    "orders.parquet" -> Seq("o_orderkey", "o_custkey"),
    "lineitem.parquet" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events.parquet" -> Seq("event_id", "user_id"),
    "documents.parquet" -> Seq("doc_id"),
    "embeddings.parquet" -> Seq("vec_id"))

  /** Claim `outDir` for a scale tool that marks the directories it owns
    * with `marker`. An existing dir is wiped only when it is empty or
    * carries the marker: stale tables or symlinks from a run against a
    * different base would silently mix scale factors, while a typo'd or
    * reused path (somebody's data dir) is refused loudly, not wiped.
    * Then the dir's file store must have `needBytes` usable before any
    * table is written, so a full disk stops the tool here with the
    * figures instead of killing it (and whatever shares the disk)
    * mid-write. The marker goes in before any table, so a crashed run's
    * directory is still wipe-safe on retry.
    */
  private[tools] def claimOutDir(outDir: String, marker: String, tool: String,
      needBytes: Long): Unit = {
    val out = Paths.get(outDir)
    if (Files.exists(out)) {
      val empty = { val s = Files.list(out); try !s.findAny().isPresent finally s.close() }
      require(empty || Files.exists(out.resolve(marker)),
        s"$tool: refusing to wipe non-empty '$outDir' — it lacks the $marker marker, " +
          "so it was not written by a previous run")
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
    Files.createDirectories(out)
    val usable = Files.getFileStore(out).getUsableSpace
    require(usable >= needBytes,
      s"$tool: '$outDir' needs $needBytes bytes free for the scaled tables, but only $usable are usable")
    Files.writeString(out.resolve(marker), s"directory owned by graft.tools.$tool\n")
  }

  /** On-disk bytes of `tables` under `dir`: the volume a ×factor
    * explode multiplies. */
  private[tools] def tableBytes(dir: String, tables: Iterable[String]): Long =
    tables.iterator.map { t =>
      val files = Files.walk(Paths.get(dir, t))
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally files.close()
    }.sum

  def build(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    claimOutDir(outDir, Marker, "MakeSf", factor * tableBytes(baseDir, keyShifts.keys))
    val out = Paths.get(outDir)
    val base = Paths.get(baseDir).toAbsolutePath.normalize()
    val listing = Files.list(base)
    try listing.forEach { p =>
      if (!keyShifts.contains(p.getFileName.toString))
        Files.createSymbolicLink(out.resolve(p.getFileName), p)
    } finally listing.close()

    keyShifts.foreach { case (table, shiftCols) =>
      // Spread the BASE rows before the ×factor explode (r22): the base
      // parquet is often a single row group, so a post-explode
      // repartition pushed the whole exploded volume (factor × base,
      // ~21 GB at ×1000) through one sorter on one task — a 49 GB
      // shuffle-temp straggler. Repartitioning the small base instead
      // costs a base-sized shuffle and lets each task stream its
      // exploded+perturbed replicas straight to the writer.
      val df = spark.read.parquet(s"$baseDir/$table")
        .repartition(spark.sessionState.conf.numShufflePartitions)
      if (table == "documents.parquet") {
        // The cross-replica disjointness argument assumes NO base token
        // already ends in ~<digits>: replica 0 keeps "foo~2" verbatim
        // while replica 2 turns "foo" into "foo~2", silently
        // reintroducing cross-replica dup candidates and bending the
        // linear-workload guarantee the probe ratios rely on. Escaping
        // would break replica 0's verbatim contract, so assert instead.
        val tainted = df.filter(col("text").rlike("~\\d+(\\s|$)")).count()
        require(tainted == 0L,
          s"MakeSf: $tainted base document(s) contain tokens ending in " +
            "~<digits> — the replica-suffix scheme cannot guarantee " +
            "cross-replica disjointness on this corpus")
      }
      val exploded = df.select(
        explode(array((0 until factor).map(lit): _*)).as("_k"), col("*"))
      val shifted = shiftCols.foldLeft(exploded) { (d, c) =>
        d.withColumn(c, col(c) * factor + col("_k"))
      }
      val perturbed = table match {
        case "documents.parquet" =>
          // Replica 0 verbatim; k>0 suffixes every \S+ token with ~k.
          // \S+ never crosses newlines, so paragraph structure survives.
          shifted
            .withColumn("text", when(col("_k") === 0, col("text")).otherwise(
              regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("$1~"), col("_k").cast("string")))))
            .withColumn("n_chars", length(col("text")).cast("long"))
        case "embeddings.parquet" =>
          // Circular rotation by k*stride (mod dims); k=0 is the
          // identity. The rotation has period dims only when
          // gcd(stride, dims) = 1 — otherwise replicas k and
          // k + dims/gcd inside the same sign block are byte-identical,
          // creating cross-replica exact duplicates the scaladoc's
          // linearity claim forbids. So the stride is DERIVED at build
          // time: the smallest s >= 7 coprime to the corpus's actual
          // dims (7 for the 64-dim test corpora, preserving existing
          // built dirs byte-for-byte).
          val dimBounds = df.agg(min(size(col("embedding"))),
            max(size(col("embedding")))).head
          val dimsVal = dimBounds.getInt(0)
          require(dimsVal == dimBounds.getInt(1) && dimsVal >= 1,
            s"MakeSf: embeddings have mixed dims [${dimBounds.getInt(0)}, " +
              s"${dimBounds.getInt(1)}] — the rotation scheme needs one width")
          val stride = Iterator.from(7)
            .find(s => BigInt(s).gcd(BigInt(dimsVal)) == 1).get
          val dims = size(col("embedding"))
          val shift = pmod(col("_k") * stride, dims)
          val rotated =
            when(shift === 0, col("embedding")).otherwise(
              concat(slice(col("embedding"), shift + 1, dims - shift),
                slice(col("embedding"), lit(1), shift)))
          // Per-block sign layer (see scaladoc): block b = k div dims;
          // b = 0 is the identity, b > 0 flips dimension i's sign when
          // xxhash64(b, i) is odd — orthogonal, so within-replica dots
          // are preserved bit-for-bit while k and k+dims decorrelate.
          val block = floor(col("_k") / dims).cast("int")
          shifted.withColumn("embedding",
            when(block === 0, rotated).otherwise(
              zip_with(rotated, sequence(lit(0), dims - 1), (x, i) =>
                (x.cast("double") * (lit(1) - lit(2) *
                  pmod(xxhash64(block, i), lit(2)).cast("int"))).cast("float"))))
        case _ => shifted
      }
      perturbed.drop("_k")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table")
    }
    // Parameter attestation — only a COMPLETE build earns the lines
    // LinearProbe --reuse matches on.
    Files.writeString(out.resolve(Marker),
      s"base=${base}\nfactor=$factor\n",
      java.nio.file.StandardOpenOption.APPEND)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MakeSf <baseDir> <outDir> [factor=10]")
    val factor = if (args.length >= 3) args(2).toInt else 10
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try build(spark, args(0), args(1), factor)
    finally spark.stop()
    println(s"MakeSf: wrote ${args(1)} = ${args(0)} x$factor")
  }
}
