package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Failure path of sim_recall_ann's concurrent fan-out
  * ([[GraftQueries.overlapAnnPaths]]): when one ANN path throws, the
  * failure surfaces as itself and the sibling branches' Spark jobs are
  * cancelled rather than left running behind the caller.
  */
class AnnFanOutSpec extends SparkSuite {

  test("one ANN path throwing cancels the brute-force branch's running job") {
    val sc = spark.sparkContext
    // Brute force stands in as a 4-task job that runs until killed (60 s
    // ceiling), so a job still active after the failure is an orphan.
    def slowBrute: DataFrame = {
      sc.parallelize(1 to 4, 4).foreach { _ =>
        val until = System.nanoTime() + 60000000000L
        while (System.nanoTime() < until &&
            !org.apache.spark.TaskContext.get().isInterrupted()) Thread.sleep(20)
      }
      spark.range(1).select(col("id").as("query_id"), col("id").as("neighbor_id"))
    }
    def pairs = spark.range(3).select(col("id").as("query_id"), col("id").as("neighbor_id"))
    // The failing path throws once the brute-force job is running.
    val failing = () => {
      val deadline = System.nanoTime() + 10000000000L
      while (sc.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      throw new IllegalStateException("ann path failed")
    }
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      GraftQueries.overlapAnnPaths(spark, slowBrute,
        Seq("ok" -> (() => pairs), "bad" -> failing))
    }
    assert(err.getMessage == "ann path failed")
    val deadline = System.nanoTime() + 20000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "the brute-force job kept running after the fan-out failed")
    assert(System.nanoTime() - t0 < 40000000000L)
    // The session is healthy afterwards.
    assert(pairs.count() == 3)
  }
}
