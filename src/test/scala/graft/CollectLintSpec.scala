package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the contracts prose can't enforce:
  *
  *  1. NO Scala UDFs in main source — every per-row kernel is either a
  *     built-in function or a native Catalyst expression (the codegen
  *     rule the whole functions/ package exists for). `udf(` appearing
  *     anywhere in main is a regression.
  *  2. Driver materializations (`collect`/`head`/`first`/
  *     `toLocalIterator`) are pinned to an EXACT allowlist of documented
  *     model-sized sites. Each is bounded by config, not corpus:
  *     IVF centroid fitting (nlist×dims rows), the pack's per-partition
  *     totals (P rows), and the collapse wrappers' max-class-size switch
  *     (1 row). Moving, adding, or duplicating a site fails this spec —
  *     the diff must then update the allowlist, making every new driver
  *     materialization a REVIEWED decision instead of a silent scale
  *     leak.
  *  3. Spark and SQL listeners are installed only by the one capture
  *     tool (graft.tools.Capture), so per-tool listener copies cannot
  *     grow back.
  *  4. NO session artifacts: `Sessions.configs` turns artifact isolation
  *     off so every session shares the executor's one classloader (and
  *     its compiled code); an artifact added to one session would then be
  *     visible to all of them. `addArtifact(s)` calls and `ADD JAR`/
  *     `FILE`/`ARCHIVE` in SQL strings are both refused.
  *  5. Every top-level object or class in `graft.ops` is named by some
  *     other main or perfbench source, so a module that only its own
  *     specs reach cannot come back unreviewed.
  *
  * Matching is done on comment-stripped source so scaladoc may discuss
  * `collect()` freely; string literals in main source don't mention these
  * tokens today (and a false positive is a loud, fixable failure, never a
  * silent pass). Only the SQL check reads the string literals.
  */
class CollectLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  /** (relative path → expected occurrence count) of driver
    * materializations; everything not listed must have zero.
    */
  private val allowedCollects: Map[String, Int] = Map(
    "graft/ops/SimilarityOps.scala" -> 3, // meansOf: nlist×dims centroid model
                                          // fit; pqMeans: dims×ksub PQ codebook
                                          // fit — both config-sized per pass;
                                          // pqProbeServe strict guard: 1-row
                                          // min(vec_id) on the FAILURE path
                                          // only, over the bounded shortlist
    "graft/ops/LayoutOps.scala" -> 1, // packByTokenBudgetKeys: P-row partition totals
    "graft/ops/TextOps.scala" -> 2,  // trainBpeMerges: 1-row argmax per
                                     // merge step — the model fit, like
                                     // the IVF centroid loop;
                                     // dedupSubstringsAcrossDocs: 1-row
                                     // pricing read (gram volume + packed
                                     // keep-first bounds) over the cached
                                     // per-doc frame — the volume-sized
                                     // partitioning guard (r21)
    "graft/ops/DedupOps.scala" -> 3, // maxLongOf: the one 1-row max read
                                     // behind every plan switch (dup-class
                                     // size, hot-bucket counts) — bounded
                                     // by agg at every call site; totalOf
                                     // (r18): the 1-row sum aggregate
                                     // pricing posting/pair volume for the
                                     // volume-sized partitioning guards;
                                     // sumAndMax (r21): the job-fold of
                                     // the two — one 1-row read where a
                                     // site needs both a Σ price and a max
    "graft/ops/ClassifierOps.scala" -> 1, // trainPerceptron: the
                                     // (numBuckets+1)-row per-step
                                     // gradient — the model fit
    "graft/tools/ScaleProbe.scala" -> 2) // longScalar (the sizing probe's
                                     // 1-row pair-budget aggregate) and
                                     // checkTemperature's group-
                                     // cardinality counts (≤ #languages
                                     // rows) — probe oracles, not
                                     // operators

  private val collectPattern =
    """\.(collect\(\)|collectAsList|head\(\)|first\(\)|toLocalIterator)""".r
  private val udfPattern = """(^|[^\w.])udf\s*\(""".r

  /** One left-to-right scan over string literals, char literals and
    * comments, so a `//` inside a string (the oracle SQL blocks contain
    * DuckDB integer division) starts no comment and a quote inside a
    * comment or a char literal starts no string. Triple-quoted before
    * single-quoted so the quotes inside """…""" don't start a phantom
    * string.
    */
  private val lexeme =
    "(?s)\"\"\".*?\"\"\"|\"(?:[^\"\\\\\\n]|\\\\.)*\"|'(?:[^'\\\\\\n]|\\\\.)'|/\\*.*?\\*/|//[^\\n]*".r

  /** `src` without comments; string literals become "S" unless `keepStrings`. */
  private def stripComments(src: String, keepStrings: Boolean): String =
    lexeme.replaceAllIn(src, m => m.matched.charAt(0) match {
      case '/' => ""
      case '"' if !keepStrings => "\"S\""
      case _ => scala.util.matching.Regex.quoteReplacement(m.matched)
    })

  private def mainSources(keepStrings: Boolean = false): Seq[(String, String)] =
    sourcesUnder(mainRoot, keepStrings)

  private def sourcesUnder(root: Path, keepStrings: Boolean): Seq[(String, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root — lint running from wrong cwd?")
    files.map { p: Path =>
      (root.relativize(p).toString,
        stripComments(new String(Files.readAllBytes(p), "UTF-8"), keepStrings))
    }
  }

  test("driver materializations stay on the documented bounded sites") {
    val counts = mainSources().map { case (rel, src) =>
      rel -> collectPattern.findAllIn(src).size
    }.filter(_._2 > 0).toMap
    assert(counts == allowedCollects,
      s"driver-materialization sites changed.\n  found: $counts\n  " +
        s"allowed: $allowedCollects\nA new collect/head/first in an operator " +
        "is a scale decision — justify it in the allowlist or remove it.")
  }

  test("no Scala UDFs anywhere in main source") {
    val offenders = mainSources().collect {
      case (rel, src) if udfPattern.findFirstIn(src).isDefined => rel
    }
    assert(offenders.isEmpty,
      s"udf( found in $offenders — use a built-in function or a native expression")
  }

  test("listeners are installed only by the capture tool") {
    val listenerPattern = """listenerManager\.register|addSparkListener""".r
    val sites = mainSources().collect {
      case (rel, src) if listenerPattern.findFirstIn(src).isDefined => rel
    }
    assert(sites == Seq("graft/tools/Capture.scala"),
      s"listener registration found in $sites — trace through graft.tools.Capture instead")
  }

  test("no session artifacts: every session shares one classloader") {
    val apiPattern = """\baddArtifacts?\b""".r
    val sqlPattern = """(?i)\bADD\s+(JAR|FILE|ARCHIVE)S?\b""".r
    val apiSites = mainSources().collect {
      case (rel, src) if apiPattern.findFirstIn(src).isDefined => rel
    }
    val sqlSites = mainSources(keepStrings = true).collect {
      case (rel, src) if sqlPattern.findFirstIn(src).isDefined => rel
    }
    assert(apiSites.isEmpty && sqlSites.isEmpty,
      s"session artifacts added in ${apiSites ++ sqlSites} — graft sessions run with " +
        "artifact isolation off (Sessions.configs), so an artifact would reach every session")
  }

  test("every graft.ops module has a caller outside its own file") {
    val topLevel =
      """(?m)^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?)\s+)*(?:object|class)\s+(\w+)""".r
    val sources = mainSources().map { case (rel, src) => s"main/$rel" -> src } ++
      sourcesUnder(Paths.get("perfbench/src"), keepStrings = false)
        .map { case (rel, src) => s"perfbench/$rel" -> src }
    val uncalled = for {
      (rel, src) <- sources if rel.startsWith("main/graft/ops/")
      name <- topLevel.findAllMatchIn(src).map(_.group(1)).toSeq.distinct
      named = s"\\b$name\\b".r
      if !sources.exists { case (other, o) => other != rel && named.findFirstIn(o).isDefined }
    } yield s"$name ($rel)"
    assert(uncalled.isEmpty,
      s"graft.ops modules no other main or perfbench source names: $uncalled — " +
        "delete them, or give them a caller (a registered query or a tool)")
  }
}
