package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSuite
import graft.queries.GraftQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The capture pass end to end at sf0.001: one record per query with
  * cold, warm and steady figures, traced counts that agree with each
  * other, a plan file per captured query, a capture.json that parses,
  * and a query that throws recorded as an error without ending the pass.
  * A query that runs its SQL in a child session (`newSession()`) shows
  * its executions, and no steady run compiles generated code.
  */
class CaptureSpec extends SparkSuite {

  test("one pass records every query; a throwing query is an error and the next still runs") {
    val out = tmp("graft-capture")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val names = Seq("q01_pricing_summary", "boom", "dedup_jaccard_exact", "q30_scalar_subquery")
    val records = Capture.run(spark, sf(), out, names.map {
      case "boom" => "boom" -> boom
      case n => n -> GraftQueries.queries(n)
    })
    assert(records.map(_.query) == names)
    assert(records(1) == Capture.Failed("boom", "java.lang.IllegalStateException: boom"))
    val captured = records.collect { case c: Capture.Captured => c.query -> c }.toMap
    assert(captured.keySet == Set("q01_pricing_summary", "dedup_jaccard_exact", "q30_scalar_subquery"))

    // A group-by over lineitem writes shuffle in both traced runs.
    val q01 = captured("q01_pricing_summary")
    assert(q01.cold.shuffleWriteBytes > 0 && q01.steady.shuffleWriteBytes > 0)
    // The pair op checkpoints intermediates: several inner executions.
    assert(captured("dedup_jaccard_exact").steady.executions.size > 1)
    // q30's SQL runs in a child session: its executions are recorded too.
    val q30 = captured("q30_scalar_subquery")
    assert(q30.cold.executions.nonEmpty && q30.steady.executions.nonEmpty)

    for (c <- captured.values) {
      assert(c.warmS.size == Capture.WarmRuns && c.warmS.contains(c.warmMedianS))
      assert(c.traceOverhead > 0)
      val plan = new String(Files.readAllBytes(Paths.get(out, "plans", s"${c.query}.txt")), "UTF-8")
      for ((label, t) <- Seq("cold" -> c.cold, "steady" -> c.steady)) {
        assert(t.jobs > 0 && t.stages > 0 && t.tasks >= t.stages, s"${c.query} $label: $t")
        // Exchanges are a subset of what the tasks wrote: cached and
        // checkpointed frames shuffle inside no captured execution.
        assert(t.exchanges.map(_.records).sum <= t.shuffleWriteRecords, s"${c.query} $label")
        assert(t.executions.forall(e => e.durationMs >= 0 && e.root.nonEmpty))
        assert(t.codegenCompiles >= 0)
        // One non-empty formatted plan per inner execution.
        val sections = plan.split(s"---------- $label execution \\d+ ----------\n").drop(1)
        assert(sections.length == t.executions.size, s"${c.query} $label")
        assert(sections.forall(_.trim.nonEmpty))
      }
      // The warm runs compiled everything the steady run needs.
      assert(c.steady.codegenCompiles == 0, s"${c.query} steady")
    }

    val root = new ObjectMapper().readTree(Paths.get(out, "capture.json").toFile)
    val qs = root.get("queries").elements().asScala.toSeq
    assert(qs.map(_.get("query").asText) == names)
    assert(qs(1).get("error").asText.contains("boom"))
    assert(qs(0).get("steady").get("shuffle_write_bytes").asLong == q01.steady.shuffleWriteBytes)
    assert(qs(2).get("trace_overhead").asDouble > 0)
    assert(qs(3).get("cold").get("codegen_compiles").asLong == q30.cold.codegenCompiles)
  }
}
