package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names — a targeted oracle
    // check during development. The driver always calls the 2-arg form,
    // which is unchanged (all queries).
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, Option.empty[Set[String]])
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Verify-run marker: queries whose oracle reads a side artifact
    // (GraftQueries.verifyDump — the ANN dump, the MQ row dump, the
    // z-order roundtrip files) write it only under this flag, so the
    // artifacts the DuckDB compare reads are exactly the ones THIS run
    // produced, and a later Capture run can't rewrite them underneath the
    // oracle.
    System.setProperty("graft.verify.dump", "1")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Names the query on stderr before it runs, so Spark's WARN lines
      // (e.g. "Broadcasting large task binary") can be tied to a query.
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // NonFatal only: an OOM/LinkageError leaves the SparkContext
      // unusable — continuing would report ~70 bogus per-query failures
      // instead of the real cause. Let fatal errors abort the run.
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Ops persist() their per-doc derived frames; drop them between
      // queries so 45 sequential queries don't accumulate cached blocks.
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
