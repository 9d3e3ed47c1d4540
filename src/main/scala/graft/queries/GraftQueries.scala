package graft.queries

import graft.functions.GraftFunctions
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The operator/query library: every operator from SURVEY.md §2 plus the
  * north-star LLM-pipeline extensions, each as a DataFrame query over the
  * driver's parquet tables with (where SQL-expressible) a DuckDB oracle.
  *
  * Determinism contract (the driver hash-compares values): every query has
  * a total-order `orderBy`, every aggregate over 2-decimal doubles goes
  * through exact decimal(18,2) arithmetic before a final cast to double,
  * every ratio is `round(..., 6)`, and window/top-k orderings carry a
  * unique tie-break key. Column names are aliased identically on both
  * sides.
  */
object GraftQueries {

  final case class Q(name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTsNanos(df) else df
  }

  /** events.ts arrives as long NANOS when the parquet stores
    * TIMESTAMP(NANOS) (read under `nanosAsLong`) but as TIMESTAMP(MICROS)
    * — surfaced as TIMESTAMP_NTZ — when the generator writes µs.
    * Normalize BOTH layouts to long nanos at the one load site so every
    * event-time helper below sees a single representation; µs → ns is
    * exact (*1000), and the NTZ→instant cast is UTC because every entry
    * point pins `spark.sql.session.timeZone=UTC` (matching DuckDB's
    * naive-as-UTC `epoch_ns`). Any OTHER ts type (string, int seconds, a
    * future generator change) is a contract violation and fails loudly —
    * a catch-all cast would silently misinterpret it.
    */
  private def normalizeTsNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000)
      case other => throw new IllegalArgumentException(
        s"events.ts has unexpected type $other — expected long nanos " +
          "(nanosAsLong) or timestamp/timestamp_ntz micros")
    }

  /** Run SQL-surface queries in an isolated child session (`newSession`:
    * same SparkContext, own sessionState/catalog) with the named tables
    * registered as temp views — registering base-table-named views on the
    * caller's session would mutate its catalog for every later query
    * (the q33 isolation rationale, applied to all SQL entry points).
    */
  private def sqlWithViews(s: SparkSession, dir: String, tables: Seq[String],
      sql: String): DataFrame = {
    val s2 = s.newSession()
    tables.foreach(n => t(s2, dir, n).createOrReplaceTempView(n))
    s2.sql(sql)
  }

  /** Side-artifact dump for oracles over non-table inputs (the ANN
    * shortlists, the generated MQ rows): a handful of oracles must see
    * data DuckDB has no table for, so during a Verify run (flag set by
    * [[graft.Verify]]) the query writes those rows to a FIXED /tmp path
    * and the oracle SQL reads them back with `read_parquet`. Outside
    * Verify (Bench, ad-hoc use) nothing is written — the artifact the
    * DuckDB compare reads is always the one the same Verify run produced.
    * The flow contract is run-Verify-then-compare, which is the driver's
    * (and the verify skill's) order anyway.
    */
  private def verifyDump(df: DataFrame, path: String): Unit =
    if (sys.props.contains("graft.verify.dump"))
      df.write.mode("overwrite").parquet(path)

  /** Bounded FIFO pool for overlapping INDEPENDENT DataFrame
    * constructions (guide §2.6 — overlap independent jobs): each task may
    * launch its own Spark jobs (the ops' eager intermediate
    * materializations), and Spark's scheduler happily runs them at once,
    * so one pipeline's straggler tail backfills with the next pipeline's
    * stages instead of leaving the session idle. Capped at
    * [[ConcurrentJobs]] in flight (r22 — VERDICT r21: the previous
    * one-thread-per-thunk pool could self-contend at executor scale; the
    * guide's "2-3 jobs in flight is plenty"); FIFO order means earlier
    * submissions get resources first, so callers submit the
    * longest-running task FIRST and harvest it LAST — everything between
    * submit and get overlaps its compute. Safe here by construction:
    * [[graft.ops.Caching]] scopes are thread-local (each task's
    * withCached lifecycle stays private to its pool thread) and the
    * shared input frames are immutable. `get` rethrows a task failure as
    * itself. Used only where the branches are genuinely independent — a
    * dependent chain gains nothing.
    *
    * Every Spark job a task launches carries the pool's job tag, so
    * [[abort]] — the failure path — can cancel the sibling branches'
    * jobs instead of leaving them running after the caller has thrown.
    */
  private val ConcurrentJobs = 3
  private final class JobPool(sc: org.apache.spark.SparkContext) {
    private val pool =
      java.util.concurrent.Executors.newFixedThreadPool(ConcurrentJobs)
    private val tag = s"graft-job-pool-${java.util.UUID.randomUUID()}"
    private val futures =
      new java.util.concurrent.ConcurrentLinkedQueue[java.util.concurrent.Future[_]]()
    def submit[A](t: => A): java.util.concurrent.Future[A] = {
      val f = pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = {
          sc.addJobTag(tag)
          try t finally sc.removeJobTag(tag)
        }
      })
      futures.add(f)
      f
    }
    def get[A](f: java.util.concurrent.Future[A]): A =
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    def shutdown(): Unit = pool.shutdown()
    /** Stop every branch: cancel (interrupting) the outstanding tasks, stop
      * the threads, then cancel whatever Spark jobs they left behind — a
      * thread interrupted while it waits on a job returns, but the job
      * itself keeps running until cancelled by tag. */
    def abort(): Unit = {
      futures.forEach(f => f.cancel(true))
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      sc.cancelJobsWithTag(tag)
    }
  }

  private val AnnDumpPath = "/tmp/graft_sim_ann_dump"
  private val SemDedupDumpPath = "/tmp/graft_semdedup_dump"
  private val MqDumpPath = "/tmp/graft_mq_wordcount_dump"
  private val ZOrderRoundtripPath = "/tmp/graft_zorder_roundtrip"
  // Model dumps for the value-exact ANN oracles (the curate_semdedup
  // dump-and-replay pattern applied to the sim_topk_* rows): the DuckDB
  // oracle trusts ONLY these model artifacts — quantizer centroids, list
  // assignments, PQ codebooks/codes, LSH bucket signatures — and replays
  // every downstream step (probe selection, int8 quantization, integer
  // kernels, ADC lookups, exact cosine, ranks) from the raw tables.
  private val IvfCentsDumpPath = "/tmp/graft_ivf_cents_dump"
  private val IvfAssignDumpPath = "/tmp/graft_ivf_assign_dump"
  private val PqBooksDumpPath = "/tmp/graft_pq_books_dump"
  private val PqCodesDumpPath = "/tmp/graft_pq_codes_dump"
  private val LshQBucketsDumpPath = "/tmp/graft_lsh_qbuckets_dump"
  private val LshCBucketsDumpPath = "/tmp/graft_lsh_cbuckets_dump"

  /** Exact money sum: double → decimal(18,2) (exact for 2-dp data) →
    * order-independent decimal sum → double. Identical in DuckDB.
    */
  private def dsum(c: String): String =
    s"cast(sum(cast($c as decimal(18,2))) as double)"
  private val revenue =
    "cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))"

  /** events.ts is long NANOS (nanosAsLong) but DuckDB reads the same
    * parquet at µs resolution, so every event-time comparison floors to
    * µs first — ONE floor idiom for every query, floor-mod by
    * construction: pmod is non-negative, so both helpers floor (not
    * truncate toward zero) and agree with DuckDB's read for pre-1970
    * timestamps too, where `ts div 1000` alone would round the other way.
    */
  private def tsFloorUsNanos(c: String): Column =
    expr(s"$c - pmod($c, 1000)") // µs-floored, still ns units
  private def tsMicros(c: String): Column =
    expr(s"($c - pmod($c, 1000)) div 1000") // µs units; dividend is an exact multiple, so div is exact

  // ---------------------------------------------------------------- core

  private val q01 = Q("q01_pricing_summary",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        expr(s"${dsum("l_quantity")}").as("sum_qty"),
        expr(s"${dsum("l_extendedprice")}").as("sum_base_price"),
        expr(s"cast(sum($revenue) as double)").as("sum_disc_price"),
        expr(s"cast(sum($revenue * (1 + cast(l_tax as decimal(18,2)))) as double)")
          .as("sum_charge"),
        expr(s"round(${dsum("l_quantity")} / count(*), 6)").as("avg_qty"),
        expr(s"round(${dsum("l_discount")} / count(*), 6)").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${dsum("l_quantity")} AS sum_qty,
        ${dsum("l_extendedprice")} AS sum_base_price,
        cast(sum($revenue) as double) AS sum_disc_price,
        cast(sum($revenue * (1 + cast(l_tax as decimal(18,2)))) as double) AS sum_charge,
        round(${dsum("l_quantity")} / count(*), 6) AS avg_qty,
        round(${dsum("l_discount")} / count(*), 6) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  private val q02 = Q("q02_filter_pushdown",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp")
        && col("l_shipdate") < lit("2001-03-01").cast("timestamp")
        && col("l_discount") >= 0.05 && col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= timestamp '2001-01-01' AND l_shipdate < timestamp '2001-03-01'
        AND l_discount >= 0.05 AND l_quantity < 25
      ORDER BY l_orderkey, l_linenumber"""))

  private val q03 = Q("q03_topk_orders",
    (s, dir) => t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  private val q04 = Q("q04_segment_revenue",
    (s, dir) => t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        expr(s"${dsum("o_totalprice")}").as("total_revenue"))
      .orderBy("c_mktsegment"),
    Some(s"""
      SELECT c_mktsegment, count(*) AS n_orders, ${dsum("o_totalprice")} AS total_revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val q05 = Q("q05_region_nation_revenue",
    (s, dir) => t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .groupBy("r_name", "n_name")
      .agg(expr(s"cast(sum($revenue) as double)").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name"),
    Some(s"""
      SELECT r_name, n_name, cast(sum($revenue) as double) AS revenue, count(*) AS n_items
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA', 'EUROPE')
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  private val q06 = Q("q06_semi_join_nations",
    (s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer")
        .join(big, Seq("c_custkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_name")
    },
    Some("""
      SELECT n_name, count(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      GROUP BY n_name ORDER BY n_name"""))

  private val q07 = Q("q07_anti_join_customers",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment"),
    Some("""
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val q08 = Q("q08_top_orders_per_customer",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn").cast("int").as("rn"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT o_custkey, cast(rn as int) AS rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) x
      WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  private val q09 = Q("q09_running_revenue",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        cast(sum(cast(o_totalprice as decimal(18,2)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)
          AS running_total
      FROM orders ORDER BY o_custkey, o_orderkey"""))

  private val q10 = Q("q10_distinct_counts",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q11 = Q("q11_rollup_qty",
    (s, dir) => t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"),
        expr(s"${dsum("l_quantity")}").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty")
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        cast(grouping(l_returnflag) as int) AS g_rf,
        cast(grouping(l_linestatus) as int) AS g_ls,
        count(*) AS n, ${dsum("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  private val q12 = Q("q12_cube_counts",
    (s, dir) => t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(grouping(col("o_orderstatus")).cast("int").as("g_st"),
        grouping(col("o_orderpriority")).cast("int").as("g_pr"),
        count(lit(1)).as("n"))
      .select("o_orderstatus", "o_orderpriority", "g_st", "g_pr", "n")
      .orderBy(col("g_st"), col("g_pr"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority,
        cast(grouping(o_orderstatus) as int) AS g_st,
        cast(grouping(o_orderpriority) as int) AS g_pr,
        count(*) AS n
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY g_st, g_pr, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  private val q13 = Q("q13_setops_customers",
    (s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(big).withColumn("tag", lit("both"))
        .unionByName(building.except(big).withColumn("tag", lit("only_building")))
        .select("tag", "c_custkey")
        .orderBy("tag", "c_custkey")
    },
    Some("""
      SELECT 'both' AS tag, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000) a
      UNION ALL
      SELECT 'only_building' AS tag, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000) b
      ORDER BY tag, c_custkey"""))

  private val q14 = Q("q14_promo_share",
    (s, dir) => t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(expr(s"""round(100.0 *
          cast(sum(CASE WHEN p_type = 'PROMO' THEN $revenue ELSE NULL END) as double)
          / cast(sum($revenue) as double), 6)""").as("promo_share"),
        count(lit(1)).as("n_items")),
    Some(s"""
      SELECT round(100.0 *
          cast(sum(CASE WHEN p_type = 'PROMO' THEN $revenue ELSE NULL END) as double)
          / cast(sum($revenue) as double), 6) AS promo_share,
        count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey"""))

  private val q15 = Q("q15_json_events",
    (s, dir) => {
      val k = from_json(col("props"), lit("k INT")).getField("k")
      t(s, dir, "events")
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          expr(s"round(${dsum("value")} / count(*), 6)").as("avg_value"),
          count(when(col("k") > 50, 1)).as("n_high_k"),
          min(col("k")).cast("int").as("min_k"),
          max(col("k")).cast("int").as("max_k"))
        .orderBy("event_type")
    },
    Some(s"""
      SELECT event_type, count(*) AS n_events,
        round(${dsum("value")} / count(*), 6) AS avg_value,
        count(CASE WHEN cast(json_extract_string(props, '$$.k') as int) > 50 THEN 1 END) AS n_high_k,
        cast(min(cast(json_extract_string(props, '$$.k') as int)) as int) AS min_k,
        cast(max(cast(json_extract_string(props, '$$.k') as int)) as int) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  private val q16 = Q("q16_monthly_orders",
    (s, dir) => t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        expr(s"${dsum("o_totalprice")}").as("total_revenue"))
      .orderBy("month"),
    Some(s"""
      SELECT cast(date_trunc('month', o_orderdate) as date) AS month,
        count(*) AS n_orders,
        ${dsum("o_totalprice")} AS total_revenue
      FROM orders GROUP BY 1 ORDER BY 1"""))

  private val q17 = Q("q17_priority_large_orders",
    (s, dir) => {
      val bigKeys = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"))
        .filter(col("n_items") > 5)
        .select(col("l_orderkey").as("o_orderkey"))
      t(s, dir, "orders").join(bigKeys, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders FROM orders
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) > 5)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private val q18 = Q("q18_part_stats",
    (s, dir) => t(s, dir, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        countDistinct(col("p_type")).as("n_types"),
        expr(s"round(${dsum("p_retailprice")} / count(*), 6)").as("avg_price"),
        max(length(col("p_name"))).cast("int").as("max_name_len"),
        min(upper(substring(col("p_name"), 1, 3))).as("first_prefix"))
      .orderBy("p_brand"),
    Some(s"""
      SELECT p_brand, count(*) AS n_parts,
        count(DISTINCT p_type) AS n_types,
        round(${dsum("p_retailprice")} / count(*), 6) AS avg_price,
        cast(max(length(p_name)) as int) AS max_name_len,
        min(upper(substr(p_name, 1, 3))) AS first_prefix
      FROM part GROUP BY p_brand ORDER BY p_brand"""))

  // events.ts reads as long nanos in Spark (Verify's nanosAsLong config),
  // but DuckDB reads TIMESTAMP(NANOS) at microsecond resolution — its
  // epoch_ns() returns µs-FLOORED nanos. Spark floors explicitly
  // (ts - ts % 1000) before ordering and gap arithmetic so both engines
  // compute on identical integers BY CONSTRUCTION; comparing raw nanos
  // against floored ones only matched while no event fell within 1 µs of
  // a session boundary (a property of the frozen dataset, not the query).
  private val q19 = Q("q19_user_sessions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("ts_us", tsFloorUsNanos("ts"))
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("prev").isNull
            || col("ts_us") - col("prev") > 1800000000000L, 1))
            .as("n_sessions"))
        .orderBy("user_id")
    },
    Some("""
      WITH x AS (
        SELECT user_id, ts,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
      SELECT user_id, count(*) AS n_events,
        count(CASE WHEN prev IS NULL
                     OR epoch_ns(ts) - epoch_ns(prev) > 1800000000000 THEN 1 END)
          AS n_sessions
      FROM x GROUP BY user_id ORDER BY user_id"""))

  /** Variance/correlation via EXACT decimal moments: Spark's stddev/corr
    * aggregate doubles in shuffle order (nondeterministic bits); summing
    * x, x², xy as decimals first makes the moments order-independent, then
    * the closed-form combination is identical double arithmetic in any
    * engine.
    */
  private val q20 = {
    val sx = "sum(cast(l_quantity as decimal(18,2)))"
    val sxx = "sum(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2)))"
    val sy = "sum(cast(l_extendedprice as decimal(18,2)))"
    val syy = "sum(cast(l_extendedprice as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)))"
    val sxy = "sum(cast(l_quantity as decimal(18,2)) * cast(l_extendedprice as decimal(18,2)))"
    val n = "count(*)"
    // greatest(0, radicand): a zero-variance group's radicand can land an
    // epsilon BELOW zero in double arithmetic (e.g. all values 0.01, n=5
    // → -1.08e-19) — Spark sqrt would return NaN but DuckDB ABORTS on
    // sqrt of a negative, crashing the whole oracle query. The clamp is
    // the same double op in both engines, so the identical-arithmetic
    // contract is preserved.
    val stddev =
      s"round(sqrt(greatest(0.0, (cast($sxx as double) - cast($sx as double) * cast($sx as double) / $n) / ($n - 1))), 6)"
    val corr =
      s"""round((cast($sxy as double) - cast($sx as double) * cast($sy as double) / $n)
         / (sqrt(greatest(0.0, cast($sxx as double) - cast($sx as double) * cast($sx as double) / $n))
            * sqrt(greatest(0.0, cast($syy as double) - cast($sy as double) * cast($sy as double) / $n))), 6)"""
    Q("q20_moment_stats",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr(stddev).as("stddev_qty"),
          expr(corr).as("corr_qty_price"))
        .orderBy("l_returnflag"),
      Some(s"""
        SELECT l_returnflag, count(*) AS n,
          $stddev AS stddev_qty,
          $corr AS corr_qty_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))
  }

  private val q21 = Q("q21_pivot_status",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Salted two-stage aggregation (skew guard) — must be VALUE-IDENTICAL
    * to the direct groupBy, so its oracle is the plain formulation.
    */
  private val q22 = Q("q22_salted_segment_agg",
    (s, dir) => ScaleOps.saltedCountSum(
        t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey")),
        key = "c_mktsegment",
        sumExprSql = "sum(cast(o_totalprice as decimal(18,2)))",
        saltBy = col("o_orderkey"), salt = 16)
      .select(col("c_mktsegment"), col("n").as("n_orders"),
        col("s").cast("double").as("total_revenue"))
      .orderBy("c_mktsegment"),
    Some(s"""
      SELECT c_mktsegment, count(*) AS n_orders, ${dsum("o_totalprice")} AS total_revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val q24 = Q("q24_shipping_priority",
    (s, dir) => t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(expr(s"cast(sum($revenue) as double)").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
    Some(s"""
      SELECT l_orderkey, cast(sum($revenue) as double) AS revenue,
        o_orderdate, o_orderpriority
      FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < timestamp '1997-01-01'
        AND l_shipdate > timestamp '1997-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""))

  private val q25 = Q("q25_nation_volume",
    (s, dir) => {
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation").isin("NATION_1", "NATION_2")
          && col("cust_nation").isin("NATION_3", "NATION_4"))
        .groupBy("supp_nation", "cust_nation")
        .agg(expr(s"cast(sum($revenue) as double)").as("volume"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation")
    },
    Some(s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        cast(sum($revenue) as double) AS volume, count(*) AS n_items
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_3', 'NATION_4')
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Batch event-time tumbling windows via `window()` (1-hour, epoch
    * aligned — equals date_trunc('hour') in the oracle). ts is long nanos
    * (nanosAsLong); truncating division to µs matches DuckDB's read
    * resolution.
    */
  private val q26 = Q("q26_hourly_events",
    (s, dir) => t(s, dir, "events")
      .groupBy(window(timestamp_micros(tsMicros("ts")), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"round(${dsum("value")} / count(*), 6)").as("avg_value"))
      .select(col("w.start").as("hour"), col("n_events"), col("avg_value"))
      .orderBy("hour"),
    Some(s"""
      SELECT cast(date_trunc('hour', ts) as timestamp) AS hour,
        count(*) AS n_events,
        round(${dsum("value")} / count(*), 6) AS avg_value
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Exact interpolated percentiles (both engines: linear interpolation at
    * rank p·(n−1)).
    */
  private val q27 = Q("q27_percentiles",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("round(percentile(l_quantity, 0.5), 6)").as("p50_qty"),
        expr("round(percentile(l_extendedprice, 0.9), 6)").as("p90_price"),
        expr("round(percentile(l_extendedprice, 0.99), 6)").as("p99_price"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** As-of join (click→purchase attribution): each purchase matched to the
    * user's latest click at-or-before it. Composed union+window
    * ([[TemporalOps.asOfJoin]]); the oracle is DuckDB's native ASOF JOIN —
    * two independent formulations of the same semantics.
    */
  private val q23 = Q("q23_asof_attribution",
    (s, dir) => {
      val e = t(s, dir, "events")
      // µs-floored BEFORE the as-of match, not just in the output: DuckDB
      // reads the nanos parquet at µs resolution, so its ASOF condition
      // compares µs values — matching on raw nanos would diverge whenever
      // a click trails a purchase inside the same microsecond. (Remaining
      // latent asymmetry, absent from this data: two clicks in one
      // (user, µs) tie — our asOfJoin picks the struct-max deterministically,
      // DuckDB ASOF picks arbitrarily.)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), tsMicros("ts").as("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          tsMicros("ts").as("click_ts"))
      TemporalOps.asOfJoin(purchases, clicks, key = "user_id",
          leftTs = "ts", rightTs = "click_ts",
          rightPayload = Seq("click_id", "click_ts"))
        .filter(col("click_id").isNotNull) // inner as-of
        .select(col("user_id"), col("event_id"), col("click_id"),
          (col("ts") - col("click_ts")).as("gap_us"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click')
      SELECT p.user_id, p.event_id, c.click_id,
        epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
      FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
      ORDER BY p.user_id, p.event_id"""))

  /** Batch event-time SESSION windows (`session_window`, 30-min gap) —
    * the oracle re-derives identical sessions with the classic
    * gaps-and-islands SQL (lag + running sum of session-start flags), so
    * the two formulations cross-check each other. Spark merges an event
    * into the current session iff it lands strictly inside [start,
    * last+gap), so a gap of EXACTLY 30 min starts a new session (hence
    * `>=` in the oracle).
    */
  private val q28 = Q("q28_session_stats",
    (s, dir) => t(s, dir, "events")
      .groupBy(col("user_id"),
        session_window(timestamp_micros(tsMicros("ts")), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"round(${dsum("value")} / count(*), 6)").as("avg_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("avg_value"))
      .orderBy("user_id", "session_start"),
    Some(s"""
      WITH x AS (
        SELECT user_id, ts, value,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
          event_id
        FROM events),
      g AS (
        SELECT user_id, ts, value,
          sum(CASE WHEN prev IS NULL
                     OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
        FROM x)
      SELECT user_id, cast(min(ts) as timestamp) AS session_start,
        count(*) AS n_events,
        round(${dsum("value")} / count(*), 6) AS avg_value
      FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  /** Correlated EXISTS / NOT EXISTS (TPC-H Q21-shaped: suppliers whose
    * item was the ONLY returned one in a multi-supplier order), entered
    * through the SQL surface so Catalyst's subquery DECORRELATION plans
    * the rewrites (left-semi + left-anti over the self-joined lineitem) —
    * the oracle runs the identical ANSI text.
    */
  private val q29 = {
    // ONE binding for both engines (like jaccardOracle/winnowCte): the
    // "oracle runs the identical ANSI text" guarantee must be structural,
    // not maintained by hand across two string literals.
    val sql = """
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name ORDER BY numwait DESC, s_name"""
    Q("q29_exists_waiting",
      (s, dir) => sqlWithViews(s, dir, Seq("supplier", "lineitem", "orders"), sql),
      Some(sql))
  }

  /** Correlated SCALAR subquery (TPC-H Q17-shaped: small-quantity orders
    * below 20% of the part's average quantity). The per-part average
    * decorrelates into an aggregate + join; the threshold compare is exact
    * because l_quantity is integral (double sums of small ints are
    * order-independent).
    */
  private val q30 = {
    val sql = s"""
      SELECT p_brand, count(*) AS n_small,
        ${dsum("l_extendedprice")} AS small_revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand ORDER BY p_brand"""
    Q("q30_scalar_subquery",
      (s, dir) => sqlWithViews(s, dir, Seq("lineitem", "part"), sql),
      Some(sql))
  }

  /** Window-function variety over one total-ordered per-customer window:
    * ntile bucketing, lead/lag offsets, first_value with the default
    * running frame — the window shapes q08/q09 don't cover. The
    * partition-key filter commutes with the window, applied before it on
    * both sides.
    */
  private val q31 = Q("q31_window_variety",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .withColumn("nt", ntile(4).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .withColumn("first_date", first(col("o_orderdate")).over(w))
        .withColumn("lag2_key", lag(col("o_orderkey"), 2).over(w))
        .select("o_custkey", "o_orderkey", "nt", "next_price", "first_date",
          "lag2_key")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        cast(ntile(4) OVER w as int) AS nt,
        lead(o_totalprice, 1) OVER w AS next_price,
        first_value(o_orderdate) OVER w AS first_date,
        lag(o_orderkey, 2) OVER w AS lag2_key
      FROM orders WHERE o_custkey <= 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  /** Top-3 orders per customer through the custom TopKPerKey whole-plan
    * operator (graft.plans: logical node → strategy → partial/final exec
    * with map-side bounded heaps — k rows per key per partition reach the
    * shuffle instead of the whole table; see TopKPerKey.scala scaladoc).
    * The oracle is the semantically-equal row_number window. The order is
    * total ((o_totalprice, o_orderkey) unique) so results are exact.
    */
  private val q32 = Q("q32_topk_plan",
    (s, dir) => graft.plans.GraftPlans.topKPerKey(
        t(s, dir, "orders").filter(col("o_custkey") <= 200),
        keys = Seq("o_custkey"),
        orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "o_orderkey"),
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders WHERE o_custkey <= 200)
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"""))

  /** Same idiom as q32's oracle, but written AS the row_number SQL idiom
    * and rewritten to TopKPerKey by the opt-in optimizer rule
    * (RewriteRowNumberTopK) — proving the rewritten plan is value-exact
    * against DuckDB running the un-rewritten SQL. Runs in a cloned session
    * (`newSession`: same SparkContext, isolated sessionState) so the rule
    * never leaks into the other queries' plans.
    */
  private val q33 = Q("q33_topk_rewrite",
    (s, dir) => {
      val s2 = s.newSession()
      graft.plans.RowNumberTopKRewrite.enable(s2)
      t(s2, dir, "orders").filter(col("o_custkey") <= 200)
        .createOrReplaceTempView("orders_q33")
      s2.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders_q33)
        WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""")
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders WHERE o_custkey <= 200)
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey"""))

  /** Point-in-interval range join via RangeOps bucketization (equi-join on
    * time bucket + residual filter — no BroadcastNestedLoopJoin): events
    * landing in the hour after each sampled purchase. events.ts reads as
    * long nanos (nanosAsLong) but the oracle's epoch_ns() returns
    * µs-FLOORED nanos (DuckDB reads TIMESTAMP(NANOS) at µs resolution) —
    * so Spark floors explicitly and both engines test window membership
    * on identical integers; raw-nanos membership would flip for events
    * within 1 µs of a window edge. Window is [ts, ts+1h) half-open;
    * bucketWidth = window length → ≤2 buckets per interval.
    */
  private val q34 = Q("q34_range_join",
    (s, dir) => {
      val hourNs = 3600L * 1000000000L
      val tsUs = tsFloorUsNanos("ts")
      val ev = t(s, dir, "events")
        .select(col("event_id"), tsUs.as("pts"), col("value"))
      val anchors = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("event_id") % 50 === 0)
        .select(col("event_id").as("anchor_id"), tsUs.as("w_start"),
          (tsUs + lit(hourNs)).as("w_end"))
      RangeOps.pointInIntervalJoin(ev, "pts", anchors, "w_start", "w_end", hourNs)
        .groupBy("anchor_id")
        .agg(count(lit(1)).as("n_in_window"),
          expr(s"${dsum("value")}").as("sum_value"))
        .orderBy("anchor_id")
    },
    Some(s"""
      WITH e AS (SELECT event_id, epoch_ns(ts) AS pts, value FROM events),
      a AS (SELECT event_id AS anchor_id, epoch_ns(ts) AS w_start,
              epoch_ns(ts) + 3600000000000 AS w_end
            FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0)
      SELECT anchor_id, count(*) AS n_in_window,
        ${dsum("value")} AS sum_value
      FROM a JOIN e ON e.pts >= a.w_start AND e.pts < a.w_end
      GROUP BY anchor_id ORDER BY anchor_id"""))

  /** Salted sort-merge join (ScaleOps.saltedJoin): lineitem×part with the
    * part side replicated across 8 salt shards — the skewed-JOIN
    * counterpart of q22's salted aggregation. Values must equal the plain
    * join, which is what the oracle runs.
    */
  private val q35 = Q("q35_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part").filter(col("p_size") <= 10)
        .select("p_partkey", "p_brand")
      ScaleOps.saltedJoin(li, part, "l_partkey", "p_partkey",
          saltBy = col("l_orderkey"), salt = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          expr(s"${dsum("l_quantity")}").as("sum_qty"))
        .orderBy("p_brand")
    },
    Some(s"""
      SELECT p_brand, count(*) AS n_items, ${dsum("l_quantity")} AS sum_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_size <= 10
      GROUP BY p_brand ORDER BY p_brand"""))

  /** Explicit GROUPING SETS (the shape rollup/cube can't express: an
    * arbitrary subset of grouping combinations), via the SQL surface.
    */
  private val q36 = {
    // The two copies this replaces had already drifted textually
    // ("ASC NULLS FIRST" vs "NULLS FIRST") — harmless this time, which is
    // exactly why the sharing must be structural.
    val sql = s"""
      SELECT l_returnflag, l_linestatus,
        cast(grouping(l_returnflag) as int) AS g_rf,
        cast(grouping(l_linestatus) as int) AS g_ls,
        count(*) AS n, ${dsum("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""
    Q("q36_grouping_sets",
      (s, dir) => sqlWithViews(s, dir, Seq("lineitem"), sql),
      Some(sql))
  }

  /** Rank-family windows q31 doesn't cover: dense_rank, percent_rank,
    * cume_dist — all tie-stable (equal inputs get equal outputs), so the
    * result is deterministic even where o_totalprice ties.
    */
  private val q37 = Q("q37_rank_variety",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").asc)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .withColumn("drk", dense_rank().over(w).cast("int"))
        .withColumn("prk", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .select("o_custkey", "o_orderkey", "drk", "prk", "cd")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey,
        cast(dense_rank() OVER w as int) AS drk,
        round(percent_rank() OVER w, 6) AS prk,
        round(cume_dist() OVER w, 6) AS cd
      FROM orders WHERE o_custkey <= 50
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
      ORDER BY o_custkey, o_orderkey"""))

  /** Outer-join family (left/full with unmatched rows on BOTH sides):
    * per-side membership counts plus exact bigint key checksums prove the
    * null-extension behavior, not just the row counts.
    */
  private val q38 = Q("q38_outer_join",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "cust_only")
            .otherwise("both").as("side"),
          coalesce(col("c_custkey"), lit(-1L)).as("ck"),
          coalesce(col("o_orderkey"), lit(-1L)).as("ok"))
        .groupBy("side")
        .agg(count(lit(1)).as("n"), sum(col("ck")).as("ck_sum"),
          sum(col("ok")).as("ok_sum"))
        .orderBy("side")
    },
    Some("""
      WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
      o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey <= 100),
      j AS (SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
                        WHEN o_custkey IS NULL THEN 'cust_only'
                        ELSE 'both' END AS side,
              coalesce(c_custkey, -1) AS ck, coalesce(o_orderkey, -1) AS ok
            FROM c FULL OUTER JOIN o ON c_custkey = o_custkey)
      SELECT side, count(*) AS n, cast(sum(ck) as bigint) AS ck_sum,
        cast(sum(ok) as bigint) AS ok_sum
      FROM j GROUP BY side ORDER BY side"""))

  /** The keep-ties rank idiom through the optimizer rewrite (q33's setup,
    * rank() instead of row_number): top-3 balance BUCKETS per nation with
    * every boundary tie kept — `rank() <= k` rewritten to TopKPerKey's
    * RankMode (RewriteRowNumberTopKSpec asserts Sort/Window-free). The
    * deliberately coarse bucket (acctbal/100) guarantees real ties, and
    * keep-ties makes the kept SET deterministic without a tie-break
    * column — the property that distinguishes rank from row_number.
    */
  private val q39 = Q("q39_rank_topk",
    (s, dir) => {
      val s2 = s.newSession()
      graft.plans.RowNumberTopKRewrite.enable(s2)
      t(s2, dir, "customer").createOrReplaceTempView("customer_q39")
      s2.sql("""
        SELECT c_nationkey, c_custkey, bal_bucket FROM (
          SELECT c_nationkey, c_custkey, bal_bucket,
                 rank() OVER (PARTITION BY c_nationkey
                   ORDER BY bal_bucket DESC) AS rnk
          FROM (SELECT c_nationkey, c_custkey,
                  cast(floor(c_acctbal / 100) as bigint) AS bal_bucket
                FROM customer_q39))
        WHERE rnk <= 3 ORDER BY c_nationkey, c_custkey""")
    },
    Some("""
      SELECT c_nationkey, c_custkey, bal_bucket FROM (
        SELECT c_nationkey, c_custkey, bal_bucket,
               rank() OVER (PARTITION BY c_nationkey
                 ORDER BY bal_bucket DESC) AS rnk
        FROM (SELECT c_nationkey, c_custkey,
                cast(floor(c_acctbal / 100) as bigint) AS bal_bucket
              FROM customer))
      WHERE rnk <= 3 ORDER BY c_nationkey, c_custkey"""))

  // ------------------------------------------------------------- dedup

  private val d01 = Q("dedup_exact_stats",
    (s, dir) => t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
      .orderBy("lang"),
    Some("""
      SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique,
        count(*) - count(DISTINCT text) AS n_exact_dups
      FROM documents GROUP BY lang ORDER BY lang"""))

  private val d02 = Q("dedup_fingerprint_md5",
    (s, dir) => t(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_fingerprints"),
        countDistinct(substring(md5(col("text")), 1, 8)).as("n_prefix8")),
    Some("""
      SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_fingerprints,
        count(DISTINCT substr(md5(text), 1, 8)) AS n_prefix8
      FROM documents"""))

  private val d03 = Q("dedup_simhash_pairs",
    (s, dir) => DedupOps.simhashPairs(t(s, dir, "documents"), maxHamming = 3)
      .orderBy("doc_a", "doc_b"),
    Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM tok),
      bits AS (SELECT doc_id, j,
          sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th, (SELECT unnest(range(60)) AS j) js GROUP BY doc_id, j),
      sh AS (SELECT doc_id,
          sum(CASE WHEN s > 0 THEN (1::bigint << j) ELSE 0 END)::bigint AS simhash
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        cast(bit_count(xor(a.simhash, b.simhash)) as int) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY doc_a, doc_b"""))

  /** Exact-Jaccard oracle shared by the MinHash-LSH and inverted-index
    * implementations (both must produce the exact ≥0.5 pair set — the data
    * has no pairs in [0.2, 0.9), so LSH recall is exact in practice).
    */
  private val jaccardOracle = """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(cast(len(list_intersect(a.sh, b.sh)) as double)
                / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.5
      ORDER BY doc_a, doc_b"""

  private val d04 = Q("dedup_minhash_lsh",
    (s, dir) => DedupOps.minhashLshPairs(t(s, dir, "documents"), threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(jaccardOracle))

  // Registered with maxShingleDf at its default (inactive): the cap is a
  // 100 TB skew guard that DROPS ubiquitous shingles, so switching it on
  // makes intersection counts — and the oracle comparison — inexact by
  // design. At this corpus's vocabulary no shingle approaches a skewed
  // document frequency, so the exact and capped results coincide anyway;
  // a production deployment would set it to ~corpus_docs/100.
  private val d05 = Q("dedup_jaccard_exact",
    (s, dir) => DedupOps.jaccardPairs(t(s, dir, "documents"), threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(jaccardOracle))

  /** Kept registered under its name (the DuckDB oracle run and the
    * perfbench query list name it); it serves the exact inverted index's
    * answer ([[DedupOps.jaccardPairs]]). The PPJoin prefix-filtered
    * formulation it used to run returned the same pairs with more jobs
    * per call: slower at sf0.1, within run-to-run spread of the index at
    * the ×10 MakeSf rung, so it was removed rather than kept as a second
    * exact-Jaccard path.
    */
  private val d09 = Q("dedup_jaccard_prefix",
    (s, dir) => DedupOps.jaccardPairs(t(s, dir, "documents"), threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(jaccardOracle))

  /** Overlap-coefficient pairs ([[DedupOps.overlapPairs]]): |∩|/min ≥ 0.8
    * — the containment axis (truncations/excerpts score 1.0 here while
    * their Jaccard can be arbitrarily low). Oracle = the jaccardOracle's
    * shingle algebra with the min-denominator score.
    */
  private val d32 = Q("dedup_overlap_pairs",
    (s, dir) => DedupOps.overlapPairs(t(s, dir, "documents"), threshold = 0.8)
      .orderBy("doc_a", "doc_b"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(cast(len(list_intersect(a.sh, b.sh)) as double)
                / cast(least(len(a.sh), len(b.sh)) as double), 6) AS overlap
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, overlap FROM p WHERE overlap >= 0.8
      ORDER BY doc_a, doc_b"""))

  /** Winnow-fingerprint candidates + exact-Jaccard verify
    * ([[DedupOps.winnowPairs]]): pairs sharing ≥2 winnowing fingerprints
    * (count filter) with Jaccard ≥ 0.5 — the oracle reruns the full
    * winnow pipeline in DuckDB list algebra (HAVING count ≥ 2) and the
    * same verify as the other jaccard queries.
    */
  /** Shared winnowing CTE chain (shingle -> md5-60bit hash -> window-min
    * -> first-occurrence distinct; k=3, w=4), expecting a preceding `t`
    * CTE that provides (doc_id, tk). ONE definition feeding all three
    * winnow oracles (text_winnow, dedup_winnow_pairs, dedup_edit_distance)
    * so a scheme change cannot silently drift between them and the Scala
    * op -- the same guard the shared jaccardOracle gives its family.
    */
  private val winnowCte = """s AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
              list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
            ELSE [] END AS sh FROM t),
      h AS (SELECT doc_id,
              list_transform(sh, x -> ('0x' || substr(md5(x), 1, 15))::bigint) AS hs
            FROM s),
      wn AS (SELECT doc_id, CASE WHEN len(hs) >= 4 THEN
              list_distinct(list_transform(range(1, len(hs) - 2),
                i -> list_aggregate(hs[i:i+3], 'min')))
            ELSE [] END AS fps FROM h)"""

  private val d11 = Q("dedup_winnow_pairs",
    (s, dir) => DedupOps.winnowPairs(t(s, dir, "documents"), threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      $winnowCte,
      f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
      c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2),
      sets AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
               FROM t WHERE len(tk) >= 3),
      j AS (SELECT doc_a, doc_b,
              round(cast(len(list_intersect(x.sh, y.sh)) as double) /
                cast(len(list_distinct(list_concat(x.sh, y.sh))) as double), 6) AS jaccard
            FROM c JOIN sets x ON c.doc_a = x.doc_id
                   JOIN sets y ON c.doc_b = y.doc_id)
      SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
      ORDER BY doc_a, doc_b"""))

  /** LSH-gated ([[DedupOps.embeddingNearDupPairs]]): sign-band candidates
    * by equi-join, exact-cosine verify. The oracle reproduces the band
    * buckets in SQL, so the gated result is value-exact; recall vs the
    * all-pairs form is the banding curve (asserted in OpsSpec).
    */
  private val d06 = Q("dedup_embedding_pairs",
    (s, dir) => embeddingPairsFor(s, dir)
      .orderBy("vec_a", "vec_b"),
    Some("""
      WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sig AS (SELECT vec_id, band,
                list_sum(list_transform(range(8),
                  j -> CASE WHEN v[band*8 + j + 1] >= 0 THEN (1 << j) ELSE 0 END)) AS bucket
              FROM t, unnest(range(8)) AS r(band)),
      c AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sig a JOIN sig b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT vec_a, vec_b, round(list_cosine_similarity(x.v, y.v), 6) AS cosine
      FROM c JOIN t x ON c.vec_a = x.vec_id JOIN t y ON c.vec_b = y.vec_id
      WHERE list_cosine_similarity(x.v, y.v) >= 0.4
      ORDER BY vec_a, vec_b"""))

  /** Dedup as an OUTPUT operation: the surviving canonical rows (min
    * doc_id per content fingerprint) — what a pipeline actually writes
    * downstream after deduplication.
    */
  private val d07 = Q("dedup_survivors",
    (s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      t(s, dir, "documents")
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""
      WITH c AS (SELECT doc_id, lang, source, n_chars,
          min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents)
      SELECT doc_id, lang, source, n_chars FROM c
      WHERE doc_id = canonical_id ORDER BY doc_id"""))

  /** The composed curation KEEP-SET — what a training-data pipeline
    * actually materializes: exact-dedup canonicalization (min doc_id per
    * content fingerprint, as `dedup_survivors`) ∩ language filter ∩
    * quality floor ([[TextOps.withQualityScore]], same formula as
    * `text_quality_scores`). One pass: per-row quality signals are
    * map-side, the only shuffle is the fingerprint window; at 100 TB the
    * cheap per-row filters run BEFORE the window so shuffled volume is
    * already quality-pruned.
    */
  private val d12 = Q("curate_keep_set",
    (s, dir) => {
      val scored = TextOps.withQualityScore(t(s, dir, "documents"))
        .filter(col("lang") === "en" && col("quality_score") >= 0.5)
      val w = Window.partitionBy(md5(col("text")))
      scored
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"),
          col("quality_score"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk
                 FROM documents),
      x AS (SELECT doc_id, lang, text,
          cast(len(tk) as double) AS n_tok,
          cast(len(list_distinct(tk)) as double) AS n_uniq,
          cast(len(list_filter(tk, t -> t IN ('the','a','of','and','is','to'))) as double) AS n_stop
        FROM d),
      q AS (SELECT doc_id, lang, text, n_tok,
          round(least(n_tok / 100.0, 1.0) * 0.4 + (n_uniq / n_tok) * 0.4
            + (1.0 - n_stop / n_tok) * 0.2, 6) AS quality_score
        FROM x),
      f AS (SELECT doc_id, n_tok, quality_score,
          min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM q WHERE lang = 'en' AND quality_score >= 0.5)
      SELECT doc_id, cast(n_tok as int) AS n_tokens, quality_score
      FROM f WHERE doc_id = canonical_id ORDER BY doc_id"""))

  /** Edit-distance near-dup pairs over the FULL corpus, candidate-gated on
    * winnow fingerprints ([[DedupOps.editDistancePairs]]) — the
    * character-level complement to token-level Jaccard, with pair
    * generation sized to fingerprint-bucket collisions instead of the
    * all-pairs quadratic. The oracle reproduces the candidate stage
    * (winnow list algebra, as in `dedup_winnow_pairs`) and the verify.
    */
  private val d08 = Q("dedup_edit_distance",
    (s, dir) => DedupOps.editDistancePairs(
        t(s, dir, "documents").select(col("doc_id"), col("text")), maxDist = 60)
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
      $winnowCte,
      f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
      c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2),
      j AS (SELECT doc_a, doc_b, levenshtein(x.text, y.text) AS dist
            FROM c JOIN t x ON c.doc_a = x.doc_id JOIN t y ON c.doc_b = y.doc_id)
      SELECT doc_a, doc_b, cast(dist as int) AS dist
      FROM j WHERE dist <= 60 ORDER BY doc_a, doc_b"""))

  /** Pairs → CLUSTERS: connected components over the near-dup pair graph
    * (MinHash-LSH candidates verified at exact Jaccard ≥ 0.5, i.e. the
    * same edge set as [[jaccardOracle]]), every document labeled with the
    * min doc_id of its component — the step that turns pairwise dedup
    * output into canonical groups. The oracle recomputes components with a
    * recursive CTE (label propagation to fixpoint) — an independent
    * formulation of the same reachability semantics.
    */
  /** The near-dup CLUSTER GRAPH, at linear edge volume: clustering needs
    * connectivity, not the full pair set, and an exact-dup class's
    * m·(m−1)/2 clique edges connect exactly what m−1 STAR edges (member →
    * class canonical) connect. So: star edges for exact-dup members (the
    * canonical-assignment window shuffles only (doc_id, md5, n_tokens),
    * never text) plus MinHash near-dup pairs among canonical
    * representatives only. Sub-shingle docs (< 3 tokens) get no star
    * edge — the pair graph's universe is shingled docs, so identical
    * short docs stay singletons, as the reachability oracles dictate. A
    * 100× replicated corpus has 24.7M clique pairs but only ~500k star +
    * rep edges. Both derived edge sets are materialized inside
    * connectedComponents (the oriented edge set is eagerly checkpointed),
    * so the persist is fully consumed before release.
    */
  /** Run-artifact memo keyed by (session, input dir, INPUT SIGNATURE):
    * the signature hashes the dir's recursive file listing (path,
    * length, mtime), so a MUTATED input directory — rewritten parquet,
    * appended part files — is detected and forces a rebuild (the
    * r13/r14 advisory: keys were (session, dir) only). The guard is
    * BEST-EFFORT, as strong as the listing metadata: a rewrite that
    * preserves every file's path and length within the filesystem's
    * mtime granularity (coarse object-store/HDFS timestamps) can still
    * serve a stale artifact — the same staleness contract as mtime-based
    * build tools; stores exposing content checksums/ETags could
    * strengthen the signature if that regime ever matters (ADVICE r15).
    * The immutable-dir-within-a-run assumption the caches used
    * to REQUIRE is now merely the common case the memo optimizes; a
    * mutation shows up as a new signature and forces a rebuild. Listing
    * cost per lookup is driver-side and the same order as the file
    * enumeration the query's own scan planning performs; the Hadoop FS
    * API covers hdfs:// and object-store paths on a cluster. Stale
    * entries under old signatures release to the ContextCleaner with
    * [[GraftQueries.clearRunArtifacts]], exactly as before.
    */
  private final class RunArtifactCache[V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), V]
    def get(s: SparkSession, dir: String)(build: => V): V = {
      val key = (s, dir, inputSignature(s, dir))
      // A fresh signature supersedes every older generation of this
      // (session, dir): evict them so the ContextCleaner can release
      // their checkpoint blocks once unreferenced — a service
      // re-ingesting the same path must not accumulate one generation
      // of corpus-sized blocks per ingest.
      if (!m.containsKey(key))
        m.keySet.removeIf(k => k._1 == s && k._2 == dir && k._3 != key._3)
      m.computeIfAbsent(key, _ => build)
    }
    def clear(): Unit = m.clear()
    private[queries] def entryCount: Int = m.size
  }

  /** Test hook: total live entries across all run-artifact caches —
    * pins the supersession eviction (a mutated dir must REPLACE its
    * generation, not add one). */
  private[graft] def runArtifactEntryCount: Int =
    Seq(v3StageCache, ivfCentroidCache, pqCodebookCache, pqEncodedCache,
      bpeMergeCache, perceptronCache, semdedupCentroidCache,
      nearDupComponentsCache, embeddingPairsCache, semanticComponentsCache,
      dupSpansCache, paraAppendFpsCache)
      .map(_.entryCount).sum + lexAppendIndexCache.entryCount +
      semAppendIndexCache.entryCount

  private def inputSignature(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    // The context's live conf, NOT sessionState.newHadoopConf(): this
    // runs on every lookup including cache hits, and a full
    // Configuration clone per hit is pure driver overhead.
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** ONE near-dup component labeling per (session, input dir) — shared
    * by dedup_components and curate_near_dup exactly like the v3 stage
    * chain: a run clusters the corpus once, downstream views read the
    * labeling. Checkpointed at build so both consumers are block reads;
    * deterministic, so build order is value-irrelevant. */
  private val nearDupComponentsCache = new RunArtifactCache[DataFrame]

  private def nearDupComponentsFor(s: SparkSession, dir: String): DataFrame =
    nearDupComponentsCache.get(s, dir)(
      nearDupClusterComponents(t(s, dir, "documents")).localCheckpoint(true))

  /** The embedding near-dup pair graph at the registered parameters
    * (threshold 0.4, 64 dims), shared by dedup_embedding_pairs and
    * curate_semantic_dedup; the op's own Caching contract makes the
    * memoized frame checkpoint-backed already. */
  private val embeddingPairsCache = new RunArtifactCache[DataFrame]

  private def embeddingPairsFor(s: SparkSession, dir: String): DataFrame =
    embeddingPairsCache.get(s, dir)(
      DedupOps.embeddingNearDupPairs(t(s, dir, "embeddings"),
        threshold = 0.4, dims = 64))

  /** Test hook: drop every session-shared run artifact so a spec can
    * observe the BUILD plans (a memo-served query's executed plan is a
    * checkpoint-block scan, which would blind plan-shape assertions).
    * Dropping the map entries releases the frames to the ContextCleaner,
    * which reclaims their checkpoint blocks once GC collects them —
    * there is no direct unpersist for localCheckpoint blocks. The same
    * applies to a stopped session's entries: the maps are keyed by
    * session, so a long-lived DRIVER hosting many short-lived sessions
    * should call this between sessions (entries are a handful of narrow
    * frames each; the driver contract uses one session per process). */
  private[graft] def clearRunArtifacts(): Unit = {
    v3StageCache.clear(); ivfCentroidCache.clear(); pqCodebookCache.clear()
    pqEncodedCache.clear(); bpeMergeCache.clear(); perceptronCache.clear()
    semdedupCentroidCache.clear(); nearDupComponentsCache.clear()
    embeddingPairsCache.clear(); semanticComponentsCache.clear()
    dupSpansCache.clear(); lexAppendIndexCache.clear()
    semAppendIndexCache.clear(); paraAppendFpsCache.clear()
  }

  /** The three EPOCH-APPENDED reference states the
    * curate_incremental_append* queries serve from, memoized per
    * (session, input dir, signature) with their tables checkpointed —
    * the run-artifact shape of the continuous-ingest deployment: a
    * service folds an epoch in ONCE and holds the appended index
    * RESIDENT across every subsequent batch serve; rebuilding the
    * two-epoch index per serve call is a bench artifact, not the
    * workload. The cold sweep (per-query attributed on the bench line)
    * still prices the full build+append every round — the memo only
    * takes the warm sweeps from build+serve to serve, exactly the
    * trained-once/serve-many split the IVF/PQ/BPE artifacts use. The
    * index artifacts are PRICED at build ([[DedupOps.priceRefIndex]])
    * so each serve's expansion switch reads the stored class max
    * instead of re-aggregating corpus reps per batch — the same
    * constant a ModelIO-loaded index carries. */
  private val lexAppendIndexCache = new RunArtifactCache[DedupOps.DedupRefIndex]

  private def lexAppendedIndexFor(s: SparkSession, dir: String): DedupOps.DedupRefIndex =
    lexAppendIndexCache.get(s, dir) {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(!col("source").isin("src0", "src1", "src2", "src3"))
      val idx = DedupOps.appendToRefIndex(
        DedupOps.buildJaccardRefIndex(ref.filter(col("doc_id") % 2 === 0)),
        ref.filter(col("doc_id") % 2 =!= 0))
      // Price maxClass AFTER the checkpoint: the resident index serves
      // many batches, and the priced constant keeps each serve's
      // expansion switch batch-sized (the ModelIO-load parity).
      DedupOps.priceRefIndex(idx.copy(
        reps = idx.reps.localCheckpoint(true),
        members = idx.members.localCheckpoint(true)))
    }

  private val semAppendIndexCache = new RunArtifactCache[DedupOps.DedupRefIndex]

  private def semAppendedIndexFor(s: SparkSession, dir: String): DedupOps.DedupRefIndex =
    semAppendIndexCache.get(s, dir) {
      val refV = t(s, dir, "embeddings").filter(col("vec_id") % 5 =!= 0)
      val idx = DedupOps.appendToRefIndex(
        DedupOps.buildEmbeddingRefIndex(refV.filter(col("vec_id") % 2 === 0)),
        refV.filter(col("vec_id") % 2 =!= 0))
      DedupOps.priceRefIndex(idx.copy(
        reps = idx.reps.localCheckpoint(true),
        members = idx.members.localCheckpoint(true)))
    }

  private val paraAppendFpsCache = new RunArtifactCache[DataFrame]

  private def paraAppendedFpsFor(s: SparkSession, dir: String): DataFrame =
    paraAppendFpsCache.get(s, dir) {
      val docs = t(s, dir, "documents")
      val refDocs = docs.filter(
        SamplingOps.hashSampleFlag(col("doc_id"), 10, 5, salt = "refpara"))
      TextOps.appendParagraphFingerprints(
        TextOps.paragraphFingerprints(
          derivedParas(refDocs.filter(col("doc_id") % 2 === 0))),
        derivedParas(refDocs.filter(col("doc_id") % 2 =!= 0)))
        .localCheckpoint(true)
    }

  /** The per-doc duplicated-span statistics ([[TextOps.crossDocDupSpans]]
    * at the registered n=8), shared by text_dup_spans and
    * stats_dedup_report's span column — one gram pass per run. */
  private val dupSpansCache = new RunArtifactCache[DataFrame]

  private def dupSpansFor(s: SparkSession, dir: String): DataFrame =
    dupSpansCache.get(s, dir)(
      TextOps.crossDocDupSpans(t(s, dir, "documents"), n = 8)
        .localCheckpoint(true))

  /** The semantic component labeling over [[embeddingPairsFor]]'s graph
    * — curate_semantic_dedup's cluster step, memoized like its lexical
    * twin [[nearDupComponentsFor]]. */
  private val semanticComponentsCache = new RunArtifactCache[DataFrame]

  private def semanticComponentsFor(s: SparkSession, dir: String): DataFrame =
    semanticComponentsCache.get(s, dir)(
      GraphOps.connectedComponents(
        t(s, dir, "embeddings").select(col("vec_id")),
        embeddingPairsFor(s, dir).select("vec_a", "vec_b"),
        idCol = "vec_id", srcCol = "vec_a", dstCol = "vec_b")
        .localCheckpoint(true))

  private def nearDupClusterComponents(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), md5(col("text")).as("h"),
        size(TextOps.tokens(col("text"))).as("ntok"))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy("h")))
    keyed.persist()
    try {
      val starEdges = keyed
        .filter(col("doc_id") =!= col("rep") && col("ntok") >= 3)
        .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
      val repEdges = DedupOps.minhashLshPairs(
          docs.join(keyed.filter(col("doc_id") === col("rep"))
            .select("doc_id"), Seq("doc_id"), "left_semi")
            .select("doc_id", "text"),
          threshold = 0.5)
        .select("doc_a", "doc_b")
      GraphOps.connectedComponents(
        docs.select(col("doc_id")), starEdges.unionByName(repEdges),
        idCol = "doc_id", srcCol = "doc_a", dstCol = "doc_b")
    } finally keyed.unpersist(blocking = false)
  }

  private val d10 = Q("dedup_components",
    (s, dir) => nearDupComponentsFor(s, dir)
      .select(col("id").as("doc_id"), col("component_id"))
      .orderBy("doc_id"),
    Some("""
      WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE round(cast(len(list_intersect(a.sh, b.sh)) as double)
                / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) >= 0.5),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b AS a, doc_a AS b FROM p),
      r AS (
        SELECT doc_id AS id, doc_id AS lbl FROM documents
        UNION
        SELECT e.b AS id, r.lbl FROM r JOIN e ON r.id = e.a)
      SELECT id AS doc_id, min(lbl) AS component_id
      FROM r GROUP BY id ORDER BY doc_id"""))

  /** The composed NEAR-dup curation pipeline — the flagship shape a
    * training-data pipeline materializes: MinHash-LSH candidate pairs
    * (exact-Jaccard verified, the [[jaccardOracle]] edge set) → connected
    * components over the pair graph → per-component canonical (min doc_id)
    * → the keep-set of canonical documents, each carrying its component
    * size and metadata. Unlike `curate_keep_set` (exact dedup only), the
    * duplicate test here is fuzzy, so canonicalization MUST go through
    * clustering: near-dup is not transitive, and pairwise survivors alone
    * would keep one doc per PAIR, not per cluster. At 100 TB every stage
    * stays bucketed/edge-sized (LSH bands, star contraction, label-sized
    * size agg); only the final metadata join is corpus-sized — exactly the
    * dedup_components posture plus one groupBy on labels.
    */
  /** [[d13]]'s embedding-space twin — SEMANTIC dedup, the modern
    * pipeline's third dedup axis after exact and lexical near-dup:
    * sign-band LSH-gated cosine pairs ([[DedupOps.embeddingNearDupPairs]],
    * duplicate-collapsed) → connected components → per-component
    * canonical (min vec_id) keep-set with component size and label.
    * Same 100 TB shape as the lexical pipeline: banded equi-join
    * candidates, linear star-edge clustering, label-sized aggregates.
    */
  private val d17 = Q("curate_semantic_dedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val comps = semanticComponentsFor(s, dir)
      val sizes = comps.groupBy("component_id").agg(count(lit(1)).as("n_members"))
      comps.filter(col("id") === col("component_id"))
        .join(sizes, "component_id")
        .select(col("id").as("vec_id"), col("n_members"))
        .join(emb.select("vec_id", "label"), "vec_id")
        .orderBy("vec_id")
    },
    Some("""
      WITH RECURSIVE t AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      sig AS (SELECT vec_id, band,
                list_sum(list_transform(range(8),
                  j -> CASE WHEN v[band*8 + j + 1] >= 0 THEN (1 << j) ELSE 0 END)) AS bucket
              FROM t, unnest(range(8)) AS r(band)),
      c AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sig a JOIN sig b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      pr AS (SELECT vec_a, vec_b
             FROM c JOIN t x ON c.vec_a = x.vec_id JOIN t y ON c.vec_b = y.vec_id
             WHERE list_cosine_similarity(x.v, y.v) >= 0.4),
      e AS (SELECT vec_a AS a, vec_b AS b FROM pr
            UNION ALL SELECT vec_b AS a, vec_a AS b FROM pr),
      r AS (
        SELECT vec_id AS id, vec_id AS lbl FROM t
        UNION
        SELECT e.b AS id, r.lbl FROM r JOIN e ON r.id = e.a),
      comp AS (SELECT id AS vec_id, min(lbl) AS component_id FROM r GROUP BY id),
      sz AS (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id)
      SELECT c.vec_id, sz.n_members, t.label
      FROM comp c
      JOIN sz ON c.component_id = sz.component_id
      JOIN t ON t.vec_id = c.vec_id
      WHERE c.vec_id = c.component_id
      ORDER BY c.vec_id"""))

  /** Incremental (cross-corpus) dedup verdicts
    * ([[DedupOps.jaccardPairsAgainstRef]]): a "new crawl batch" (sources
    * src0-src3) deduped against the "already-curated reference" (every
    * other source) — one verdict row per new doc with its qualifying
    * ref-match count, best Jaccard, and keep flag. The asymmetric join
    * never pairs new×new or ref×ref, so at 100 TB the cost scales with
    * the batch (shingle index join + count agg), not the accumulated
    * corpus²; the oracle recomputes the exact new×ref Jaccard matrix
    * over the same split.
    */
  /** The incremental-dedup verdict frame shared by d18 and d28: matches
    * of the src0-src3 "new crawl batch" against a reference-side pair
    * source, rolled up to one verdict row per new doc. */
  private def incrementalVerdicts(newBatch: DataFrame,
      pairs: DataFrame): DataFrame = {
    val matches = pairs
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_ref_dups"), max(col("jaccard")).as("best_jaccard"))
      .withColumnRenamed("new_id", "doc_id")
    newBatch.select(col("doc_id"), col("lang"), col("source"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_ref_dups"), lit(0L)).as("n_ref_dups"),
        col("best_jaccard"),
        (coalesce(col("n_ref_dups"), lit(0L)) === 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Shared by curate_incremental_dedup and curate_incremental_append:
    * the two queries must produce the SAME answer — the append variant's
    * two-epoch index is spec-proven equivalent to the one-shot build
    * (DedupRefIndexAppendSpec), and registering both under one oracle
    * puts that equivalence under the driver's hash check. (Defined
    * before its two consumers: a forward val reference in an object
    * body initializes to null, and the compiler only warns.) */
  private val incrementalDedupOracle = """
      WITH newb AS (SELECT doc_id, lang, source, text FROM documents
                    WHERE source IN ('src0','src1','src2','src3')),
      ref AS (SELECT doc_id, text FROM documents
              WHERE source NOT IN ('src0','src1','src2','src3')),
      tn AS (SELECT doc_id, string_split(text, ' ') AS tk FROM newb),
      tr AS (SELECT doc_id, string_split(text, ' ') AS tk FROM ref),
      sn AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM tn WHERE len(tk) >= 3),
      sr AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM tr WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
              round(cast(len(list_intersect(a.sh, b.sh)) as double)
                / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) AS jaccard
            FROM sn a CROSS JOIN sr b),
      m AS (SELECT new_id, count(*) AS n_ref_dups, max(jaccard) AS best_jaccard
            FROM p WHERE jaccard >= 0.5 GROUP BY new_id)
      SELECT n.doc_id, n.lang, n.source,
        coalesce(m.n_ref_dups, 0) AS n_ref_dups, m.best_jaccard,
        coalesce(m.n_ref_dups, 0) = 0 AS keep
      FROM newb n LEFT JOIN m ON m.new_id = n.doc_id
      ORDER BY n.doc_id"""

  private val d18 = Q("curate_incremental_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val newSources = Seq("src0", "src1", "src2", "src3")
      val newBatch = docs.filter(col("source").isin(newSources: _*))
      val ref = docs.filter(!col("source").isin(newSources: _*))
      incrementalVerdicts(newBatch,
        DedupOps.jaccardPairsAgainstRef(newBatch, ref, threshold = 0.5))
    },
    Some(incrementalDedupOracle))

  /** The EPOCH-APPEND lifecycle under the hard signal
    * ([[DedupOps.appendToRefIndex]]): the reference index is built on
    * HALF the curated corpus (even doc_ids), the other half arrives as
    * a later epoch folded in via appendToRefIndex, and the new-crawl
    * batch is served from the appended index — by the append algebra
    * (merged rep keeps the global min id, its payload, and the summed
    * member count) the verdicts are identical to the one-shot
    * curate_incremental_dedup run, so the SAME oracle hash-checks them.
    * This is the query the continuous-ingest deployment actually runs
    * between epochs; without it a regression in the append merge would
    * be visible only to ScalaTest, never to the driver's DuckDB gate.
    */
  private val d28 = Q("curate_incremental_append",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val newSources = Seq("src0", "src1", "src2", "src3")
      val newBatch = docs.filter(col("source").isin(newSources: _*))
      // Epoch-split build + append live in [[lexAppendedIndexFor]] —
      // session-shared, so warm repeats serve the RESIDENT index.
      incrementalVerdicts(newBatch,
        DedupOps.jaccardPairsAgainstIndex(newBatch,
          lexAppendedIndexFor(s, dir), threshold = 0.5))
    },
    Some(incrementalDedupOracle))

  /** Semantic incremental dedup ([[DedupOps.embeddingPairsAgainstRef]]):
    * the embedding-space sibling of curate_incremental_dedup — a "new"
    * vector batch (vec_id % 5 == 0) screened against the "reference"
    * index (the rest), one verdict row per new vector. Candidates are
    * the same sign-band gate as dedup_embedding_pairs (the oracle
    * replays the banding), verified with exact fp32 cosine; the
    * asymmetric join never pairs within a side, and the bipartite
    * hot-bucket grid bounds within-bucket work at scale.
    */
  /** The semantic verdict frame shared by d19 and d29 — the
    * embedding-space twin of [[incrementalVerdicts]]. */
  private def semanticVerdicts(newV: DataFrame, pairs: DataFrame): DataFrame = {
    val matches = pairs
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_ref_dups"), max(col("cosine")).as("best_cosine"))
      .withColumnRenamed("new_id", "vec_id")
    newV.select(col("vec_id"), col("label"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_ref_dups"), lit(0L)).as("n_ref_dups"),
        col("best_cosine"),
        (coalesce(col("n_ref_dups"), lit(0L)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  /** Shared by curate_incremental_semantic and its epoch-append twin —
    * the same one-oracle-two-queries pattern as the lexical pair. */
  private val incrementalSemanticOracle = """
      WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      sig AS (SELECT vec_id, band,
                list_sum(list_transform(range(8),
                  j -> CASE WHEN v[band*8 + j + 1] >= 0 THEN (1 << j) ELSE 0 END)) AS bucket
              FROM t, unnest(range(8)) AS r(band)),
      nw AS (SELECT vec_id, label FROM t WHERE vec_id % 5 = 0),
      rf AS (SELECT vec_id FROM t WHERE vec_id % 5 <> 0),
      c AS (SELECT DISTINCT a.vec_id AS new_id, b.vec_id AS ref_id
            FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
            JOIN nw ON a.vec_id = nw.vec_id JOIN rf ON b.vec_id = rf.vec_id),
      p AS (SELECT new_id, ref_id,
              round(list_cosine_similarity(x.v, y.v), 6) AS cosine
            FROM c JOIN t x ON c.new_id = x.vec_id JOIN t y ON c.ref_id = y.vec_id
            WHERE list_cosine_similarity(x.v, y.v) >= 0.4),
      m AS (SELECT new_id, count(*) AS n_ref_dups, max(cosine) AS best_cosine
            FROM p GROUP BY new_id)
      SELECT n.vec_id, n.label,
        coalesce(m.n_ref_dups, 0) AS n_ref_dups, m.best_cosine,
        coalesce(m.n_ref_dups, 0) = 0 AS keep
      FROM nw n LEFT JOIN m ON m.new_id = n.vec_id
      ORDER BY n.vec_id"""

  private val d19 = Q("curate_incremental_semantic",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val newV = emb.filter(col("vec_id") % 5 === 0)
      val refV = emb.filter(col("vec_id") % 5 =!= 0)
      semanticVerdicts(newV, DedupOps.embeddingPairsAgainstRef(newV, refV,
        threshold = 0.4, dims = 64))
    },
    Some(incrementalSemanticOracle))

  /** The SEMANTIC epoch-append under the hard signal — the embedding
    * twin of curate_incremental_append: vector index built on half the
    * reference split (even vec_ids), the odd half folded in via
    * appendToRefIndex, the new-vector batch served from the appended
    * index; identical verdicts to the one-shot d19 run by the append
    * algebra, so the SAME oracle hash-checks them. Both axes of the
    * epoch lifecycle now sit under the driver's DuckDB gate.
    */
  private val d29 = Q("curate_incremental_append_semantic",
    (s, dir) => {
      val newV = t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
      // Epoch-split build + append live in [[semAppendedIndexFor]].
      semanticVerdicts(newV, DedupOps.embeddingPairsAgainstIndex(newV,
        semAppendedIndexFor(s, dir), threshold = 0.4, dims = 64))
    },
    Some(incrementalSemanticOracle))

  /** The near-dup component labeling as a DuckDB CTE chain ending in
    * `comp(doc_id, component_id)` — label propagation to fixpoint over
    * the exact-Jaccard >= 0.5 pair graph, an independent formulation of
    * [[nearDupComponentsFor]]'s reachability. Shared by curate_near_dup
    * and curate_cluster_survivors so the two oracles cannot drift.
    * (Defined before its consumers: a forward val reference in an
    * object body initializes to null, and the compiler only warns.) */
  private val nearDupCompCte = """t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM t WHERE len(tk) >= 3),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE round(cast(len(list_intersect(a.sh, b.sh)) as double)
                / cast(len(list_distinct(list_concat(a.sh, b.sh))) as double), 6) >= 0.5),
      e AS (SELECT doc_a AS a, doc_b AS b FROM p
            UNION ALL SELECT doc_b AS a, doc_a AS b FROM p),
      r AS (
        SELECT doc_id AS id, doc_id AS lbl FROM documents
        UNION
        SELECT e.b AS id, r.lbl FROM r JOIN e ON r.id = e.a),
      comp AS (SELECT id AS doc_id, min(lbl) AS component_id FROM r GROUP BY id)"""

  private val d13 = Q("curate_near_dup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // Linear-edge cluster graph — see [[nearDupClusterComponents]];
      // session-shared with dedup_components.
      val comps = nearDupComponentsFor(s, dir)
      val sizes = comps.groupBy("component_id").agg(count(lit(1)).as("n_members"))
      comps.filter(col("id") === col("component_id"))
        .join(sizes, "component_id")
        .select(col("id").as("doc_id"), col("n_members"))
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $nearDupCompCte,
      sz AS (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id)
      SELECT c.doc_id, sz.n_members, d.lang, d.source
      FROM comp c
      JOIN sz ON c.component_id = sz.component_id
      JOIN documents d ON d.doc_id = c.doc_id
      WHERE c.doc_id = c.component_id
      ORDER BY c.doc_id"""))

  /** Cluster survivor SELECTION as a policy, not a fixed min-id rule:
    * per near-dup component keep the LONGEST member (ties to the
    * smaller doc_id) — the FineWeb/RefinedWeb choice: near-duplicates
    * are rarely byte-identical, and the longest variant usually
    * subsumes the truncated ones, so "keep first" throws content away
    * that "keep longest" retains. Reuses the session's memoized
    * component labeling; the selection itself is ONE map-side-
    * combinable max_by(struct) per component — no window over the
    * corpus, no text join-back, survivor rows carry only the id-sized
    * columns. The oracle recomputes components via the recursive CTE
    * shared with curate_near_dup and picks survivors with a
    * row_number window — an independent formulation of the same
    * argmax.
    */
  private val d31 = Q("curate_cluster_survivors",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sized = nearDupComponentsFor(s, dir)
        .join(docs.select(col("doc_id").as("id"), col("lang"),
          col("source"), col("n_chars")), "id")
      // Maximize (n_chars, -id): longest member, ties to the smaller id.
      sized.groupBy("component_id")
        .agg(max_by(
          struct(col("id"), col("lang"), col("source"), col("n_chars")),
          struct(col("n_chars"), (-col("id")).as("neg_id"))).as("w"))
        .select(col("w.id").as("doc_id"), col("w.lang"), col("w.source"),
          col("w.n_chars"), col("component_id"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $nearDupCompCte,
      m AS (SELECT c.doc_id, c.component_id, d.lang, d.source, d.n_chars,
              row_number() OVER (PARTITION BY c.component_id
                ORDER BY d.n_chars DESC, c.doc_id) AS rk
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT doc_id, lang, source, n_chars, component_id
      FROM m WHERE rk = 1 ORDER BY doc_id"""))

  /** Benchmark decontamination ([[CurationOps.decontaminate]]): a
    * deterministic ~10% hash-sample of documents stands in for the eval
    * benchmark; every remaining (train) doc reports its count of distinct
    * word-4-grams shared with ANY eval doc plus the keep flag. 4-grams
    * because this corpus's 3-gram vocabulary is so reused that nearly
    * every doc collides (425/453 at n=3 vs 61/453 at n=4) — real
    * pipelines tune n the same way (8–13 on subword tokens). Eval grams
    * broadcast; the corpus side never shuffles against them.
    */
  private val d14 = Q("curate_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = SamplingOps.hashSampleFlag(col("doc_id"), 10, 1, salt = "eval")
      CurationOps.decontaminate(
          docs.filter(!isEval), docs.filter(isEval), n = 4)
        .select("doc_id", "lang", "n_contaminated", "kept")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, text,
          (('0x' || substr(md5('eval' || cast(doc_id as varchar)), 1, 15))::bigint % 10 < 1)
            AS is_eval
        FROM documents),
      tk AS (SELECT doc_id, lang, is_eval, string_split(text, ' ') AS t FROM d),
      g AS (SELECT doc_id, lang, is_eval,
              CASE WHEN len(t) >= 4
                THEN list_distinct(list_transform(range(1, len(t) - 2),
                       i -> array_to_string(t[i : i+3], ' ')))
                ELSE []::VARCHAR[] END AS grams
            FROM tk),
      eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_eval),
      tr AS (SELECT doc_id, lang, grams FROM g WHERE NOT is_eval),
      h AS (SELECT doc_id, count(*) AS n_contaminated
            FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) x
            JOIN eg USING (gram) GROUP BY doc_id)
      SELECT tr.doc_id, tr.lang,
        coalesce(h.n_contaminated, 0) AS n_contaminated,
        CASE WHEN coalesce(h.n_contaminated, 0) = 0 THEN 1 ELSE 0 END AS kept
      FROM tr LEFT JOIN h USING (doc_id) ORDER BY tr.doc_id"""))

  /** Span-level decontamination ([[CurationOps.decontaminateSpans]]):
    * the same hash-split eval set as curate_decontaminate, but tokens
    * under a shared 4-gram are REMOVED instead of the document being
    * flagged — every rewritten doc pinned by md5.
    */
  private val d26 = Q("curate_decontaminate_spans",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = SamplingOps.hashSampleFlag(col("doc_id"), 10, 1, salt = "eval")
      CurationOps.decontaminateSpans(
          docs.filter(!isEval), docs.filter(isEval), n = 4)
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, text,
          (('0x' || substr(md5('eval' || cast(doc_id as varchar)), 1, 15))::bigint % 10 < 1)
            AS is_eval
        FROM documents),
      tk AS (SELECT doc_id, is_eval, string_split(text, ' ') AS t FROM d),
      eg AS (SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS gram
             FROM tk, unnest(range(1, greatest(len(t)-3, 0)+1)) AS r(i)
             WHERE is_eval),
      tr AS (SELECT doc_id, t FROM tk WHERE NOT is_eval),
      g AS (SELECT doc_id, cast(i as int) AS pos,
              array_to_string(t[i:i+3], ' ') AS gram
            FROM tr, unnest(range(1, greatest(len(t)-3, 0)+1)) AS r(i)),
      h AS (SELECT doc_id, list(pos ORDER BY pos) AS es
            FROM g JOIN eg USING (gram) GROUP BY doc_id),
      kt AS (SELECT tr.doc_id, t, coalesce(es, []::int[]) AS es2
             FROM tr LEFT JOIN h ON tr.doc_id = h.doc_id),
      f AS (SELECT doc_id, len(t) AS n_tokens,
              list_filter(t, (x, i) ->
                len(list_filter(es2, p2 -> p2 <= i AND i < p2 + 4)) = 0) AS kept
            FROM kt)
      SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
        cast(n_tokens - len(kept) as bigint) AS n_masked,
        md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
      FROM f ORDER BY doc_id"""))

  /** Incremental paragraph dedup ([[TextOps.dedupParagraphsAgainstRef]],
    * the continuous-crawl shape): a hash-split half of the corpus plays
    * the already-ingested reference (its paragraph fingerprints are the
    * persisted state), the other half arrives as the new batch — batch
    * paragraphs the reference already has drop, keep-first applies
    * within the batch, every rewrite pinned by md5.
    */
  /** The batch-vs-reference serve shared by d27 and d30: given the
    * reference-side paragraph-fingerprint state, dedup the non-ref half
    * of the corpus against it, every rewrite pinned by md5. */
  private def paragraphServe(docs: DataFrame, isRef: Column,
      refFps: DataFrame): DataFrame =
    TextOps.dedupParagraphsAgainstRef(
        derivedParas(docs.filter(!isRef)), refFps)
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        col("n_ref_hits"), md5(col("text_deduped")).as("dedup_md5"))
      .orderBy("doc_id")

  /** Shared by curate_incremental_paragraphs and its epoch-append
    * sibling: the two queries must produce the SAME answer — the
    * appended fingerprint state is set-identical to the one-shot
    * corpus-wide distinct (DedupRefIndexAppendSpec), and one oracle
    * over both puts that equivalence under the driver's hash check. */
  private val incrementalParagraphOracle = """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk,
          (('0x' || substr(md5('refpara' || cast(doc_id as varchar)), 1, 15))::bigint % 10 < 5)
            AS is_ref
        FROM documents),
      p AS (SELECT doc_id, is_ref, cast(i as int) AS para_idx,
              list_aggregate(tk[i*8+1:i*8+8], 'string_agg', ' ') AS para
            FROM d, unnest(range(0, (len(tk)+7)//8)) AS r(i)),
      ref AS (SELECT DISTINCT para FROM p WHERE is_ref),
      b AS (SELECT doc_id, para_idx, para FROM p WHERE NOT is_ref),
      k AS (SELECT b.doc_id, b.para_idx, b.para,
              (ref.para IS NOT NULL) AS in_ref,
              (row_number() OVER (PARTITION BY b.para ORDER BY b.doc_id, b.para_idx)) = 1
                AS is_first
            FROM b LEFT JOIN ref ON b.para = ref.para),
      a AS (SELECT doc_id, count(*) AS n_paras,
              sum(CASE WHEN (NOT in_ref) AND is_first THEN 1 ELSE 0 END) AS n_kept,
              sum(CASE WHEN in_ref THEN 1 ELSE 0 END) AS n_ref_hits,
              coalesce(string_agg(
                CASE WHEN (NOT in_ref) AND is_first THEN para END, chr(10)
                ORDER BY para_idx), '') AS txt
            FROM k GROUP BY doc_id)
      SELECT doc_id, cast(n_paras as bigint) AS n_paras,
        cast(n_kept as bigint) AS n_kept,
        cast(n_ref_hits as bigint) AS n_ref_hits,
        md5(txt) AS dedup_md5
      FROM a ORDER BY doc_id"""

  private val d27 = Q("curate_incremental_paragraphs",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isRef = SamplingOps.hashSampleFlag(col("doc_id"), 10, 5,
        salt = "refpara")
      val refFps = TextOps.paragraphFingerprints(
        derivedParas(docs.filter(isRef)))
      paragraphServe(docs, isRef, refFps)
    },
    Some(incrementalParagraphOracle))

  /** The paragraph axis of the EPOCH-APPEND lifecycle under the hard
    * signal ([[TextOps.appendParagraphFingerprints]]) — the set-only
    * third sibling of curate_incremental_append (lexical) and
    * curate_incremental_append_semantic (vector): the reference
    * fingerprint state is built on HALF the already-ingested corpus
    * (even doc_ids), the other half arrives as a later epoch folded in
    * via the Bloom-gated append, and the new-crawl batch is served from
    * the appended state. Set-identity with the one-shot distinct makes
    * the SAME oracle hash-check the serve, so a regression in the
    * append's anti-join admission is driver-visible, not ScalaTest-only.
    */
  private val d30 = Q("curate_incremental_append_paragraphs",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isRef = SamplingOps.hashSampleFlag(col("doc_id"), 10, 5,
        salt = "refpara")
      // Epoch-split build + Bloom-gated append live in
      // [[paraAppendedFpsFor]] — session-shared resident state.
      paragraphServe(docs, isRef, paraAppendedFpsFor(s, dir))
    },
    Some(incrementalParagraphOracle))

  /** The north-star pipeline END TO END, one DataFrame program: quality
    * floor + language filter → exact-dedup canonicalization →
    * benchmark decontamination → context-window chunking → token-budget
    * shard packing. What a training-data run actually materializes: a
    * packed shard layout of curated, decontaminated chunks.
    *
    * The composition keeps each stage's scale shape: per-row quality
    * signals are map-side and run BEFORE the fingerprint window (shuffled
    * volume pre-pruned), eval grams broadcast against the already-curated
    * canonical set, chunking is a shuffle-free 1→N map, and packing is
    * the distributed two-phase prefix sum over the COMPOUND key
    * `(doc_id, chunk_idx)` — no arithmetic id encoding, so there is no
    * per-document chunk-count capacity constant to outgrow.
    */
  private val d15 = Q("pipeline_pack_shards",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val isEval = SamplingOps.hashSampleFlag(col("doc_id"), 10, 1, salt = "eval")
      // Benchmarks are EXTERNAL: eval grams come from the raw eval split,
      // not the curated one.
      val evalDocs = docs.filter(isEval)
      val w = Window.partitionBy(md5(col("text")))
      val canonical = TextOps.withQualityScore(docs)
        .filter(col("lang") === "en" && col("quality_score") >= 0.5)
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id") && !isEval)
        .select("doc_id", "text")
      // `canonical` is referenced twice inside decontaminate (gram explode
      // + the left join back) and DataFrame branches don't dedup (the
      // mixtureSample lesson) — without the persist, the quality scoring
      // and the fingerprint-window shuffle would run twice over the
      // corpus. packByTokenBudget materializes its input EAGERLY (its
      // ranged localCheckpoint + stats pass run inside the call), so the
      // cache is fully consumed — and safely released — before return.
      canonical.persist()
      try {
        val kept = CurationOps.decontaminate(canonical, evalDocs, n = 4)
          .filter(col("kept") === 1)
          .select("doc_id", "text")
        val chunks = TextOps.chunkByTokenBudget(kept, maxTokens = 40, overlap = 8)
          .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"))
        LayoutOps.packByTokenBudgetKeys(chunks, Seq("doc_id", "chunk_idx"),
            weightCol = "chunk_tokens", budget = 2000L)
          .select(col("doc_id"), col("chunk_idx"),
            col("chunk_tokens"), col("token_offset"), col("shard_id"))
          .orderBy("doc_id", "chunk_idx")
      } finally canonical.unpersist(blocking = false)
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk,
          (('0x' || substr(md5('eval' || cast(doc_id as varchar)), 1, 15))::bigint % 10 < 1)
            AS is_eval
        FROM documents),
      x AS (SELECT doc_id, lang, text, tk, is_eval,
          cast(len(tk) as double) AS n_tok,
          cast(len(list_distinct(tk)) as double) AS n_uniq,
          cast(len(list_filter(tk, t -> t IN ('the','a','of','and','is','to'))) as double)
            AS n_stop
        FROM d),
      q AS (SELECT doc_id, text, tk, is_eval, lang,
          round(least(n_tok / 100.0, 1.0) * 0.4 + (n_uniq / n_tok) * 0.4
            + (1.0 - n_stop / n_tok) * 0.2, 6) AS quality_score
        FROM x),
      f AS (SELECT doc_id, tk, is_eval,
          min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM q WHERE lang = 'en' AND quality_score >= 0.5),
      eg AS (SELECT DISTINCT unnest(
              CASE WHEN len(tk) >= 4
                THEN list_distinct(list_transform(range(1, len(tk) - 2),
                       i -> array_to_string(tk[i : i+3], ' ')))
                ELSE []::VARCHAR[] END) AS gram
             FROM d WHERE is_eval),
      tr AS (SELECT doc_id, tk,
               CASE WHEN len(tk) >= 4
                 THEN list_distinct(list_transform(range(1, len(tk) - 2),
                        i -> array_to_string(tk[i : i+3], ' ')))
                 ELSE []::VARCHAR[] END AS grams
             FROM f WHERE doc_id = canonical_id AND NOT is_eval),
      dirty AS (SELECT DISTINCT doc_id
                FROM (SELECT doc_id, unnest(grams) AS gram FROM tr) z
                JOIN eg USING (gram)),
      keep AS (SELECT doc_id, tk, len(tk) AS n FROM tr ANTI JOIN dirty USING (doc_id)),
      c AS (SELECT doc_id, tk, n,
              CASE WHEN n <= 40 THEN 1 ELSE (n - 40 + 31) // 32 + 1 END AS nc
            FROM keep),
      e AS (SELECT doc_id, tk, n, unnest(range(nc)) AS ci FROM c),
      ch AS (SELECT doc_id, cast(ci as int) AS chunk_idx,
               len(tk[ci*32 + 1 : least(ci*32 + 40, n)]) AS w FROM e),
      o AS (SELECT doc_id, chunk_idx, w,
              coalesce(sum(w) OVER (ORDER BY doc_id, chunk_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM ch)
      SELECT doc_id, chunk_idx, cast(w as bigint) AS chunk_tokens,
        cast(off as bigint) AS token_offset, cast(off // 2000 as bigint) AS shard_id
      FROM o ORDER BY doc_id, chunk_idx"""))

  /** Second end-to-end pipeline, composed from the round-12 stages:
    * Gopher hard rules → intra-doc run collapse → exact dedup on the
    * COLLAPSED text (canonicalization widens the dup net: docs that
    * differ only in run lengths merge) → token-budget shard packing of
    * survivors. One DataFrame program; oracle = the equivalent CTE
    * chain.
    */
  private val d23 = Q("pipeline_curate_v2",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val gophered = TextOps.withGopherRules(docs, minWords = 20,
          minMeanWordLen = 4.0, minStopwordHits = 1)
        .filter(col("keep")).select("doc_id", "text")
      val collapsed = TextOps.dedupIntraDoc(gophered)
        .select(col("doc_id"), col("text_runs_collapsed").as("ctext"))
      val w = Window.partitionBy(md5(col("ctext")))
      val survivors = collapsed
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"),
          size(split(col("ctext"), " ")).cast("bigint").as("n_tok"))
      LayoutOps.packByTokenBudgetKeys(survivors, Seq("doc_id"),
          weightCol = "n_tok", budget = 1500L)
        .select(col("doc_id"), col("n_tok"), col("token_offset"),
          col("shard_id"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
          string_split(text, chr(10)) AS ln FROM documents),
      g AS (SELECT doc_id, tk FROM t0 WHERE
          len(tk) BETWEEN 20 AND 100000
          AND (list_sum(list_transform(tk, x -> len(x)))::DOUBLE / len(tk))
            BETWEEN 4.0 AND 10.0
          AND ((len(text) - len(replace(text, '#', '')))
            + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE
            / len(tk) <= 0.1
          AND (len(list_filter(ln, x -> x LIKE '%...'))::DOUBLE / len(ln)) <= 0.3
          AND (len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
            / len(tk)) >= 0.8
          AND len(list_intersect(list_distinct(tk),
            ['the','be','to','of','and','that','have','with'])) >= 1),
      c AS (SELECT doc_id, array_to_string(
              list_filter(tk, (x, i) -> i = 1 OR x <> tk[greatest(i - 1, 1)]),
              ' ') AS ctext FROM g),
      f AS (SELECT doc_id, ctext,
              min(doc_id) OVER (PARTITION BY md5(ctext)) AS canonical_id
            FROM c),
      k AS (SELECT doc_id, cast(len(string_split(ctext, ' ')) as bigint) AS n_tok
            FROM f WHERE doc_id = canonical_id),
      o AS (SELECT doc_id, n_tok,
              coalesce(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM k)
      SELECT doc_id, n_tok, cast(off as bigint) AS token_offset,
        cast(off // 1500 as bigint) AS shard_id
      FROM o ORDER BY doc_id"""))

  /** Paragraph derivation + keep-first CTEs (t0/p/k) — the SQL twin of
    * [[derivedParas]] + the keep-first rule, shared by the x21 oracle and
    * [[v3OracleCtes]].
    */
  private val paraKeepCtes: String = """t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      p AS (SELECT doc_id, cast(i as int) AS para_idx,
              list_aggregate(tk[i*8+1:i*8+8], 'string_agg', ' ') AS para
            FROM t0, unnest(range(0, (len(tk)+7)//8)) AS r(i)),
      k AS (SELECT doc_id, para_idx, para,
              (row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx)) = 1
                AS keep
            FROM p)"""

  /** 8-word paragraph derivation for the synthetic single-line corpus —
    * the ONE definition shared by text_paragraph_dedup (x21) and the v3
    * pipeline chain, so the paragraph boundary cannot drift between the
    * standalone query and the pipeline stage.
    */
  private def derivedParas(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
    .select(col("doc_id"),
      expr("transform(sequence(0, ((size(tk) + 7) div 8) - 1), " +
        "i -> array_join(slice(tk, i * 8 + 1, 8), ' '))").as("paras"))

  /** Boilerplate leaderboard: the top-20 paragraphs by corpus occurrence
    * count (with how many distinct docs carry each) — the "what
    * boilerplate dominates my corpus" question a curation run asks
    * before choosing dedup thresholds. Global top-k plans as
    * TakeOrderedAndProject (per-partition heaps, no full sort); ties
    * break on the paragraph text so the cut is deterministic.
    */
  private val x25 = Q("text_top_boilerplate",
    (s, dir) => derivedParas(t(s, dir, "documents"))
      .select(col("doc_id"), explode(col("paras")).as("para"))
      .groupBy("para")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("para"))
      .limit(20),
    Some(s"""
      WITH $paraKeepCtes
      SELECT para, count(*) AS n_occurrences,
        cast(count(distinct doc_id) as bigint) AS n_docs
      FROM p GROUP BY para
      ORDER BY n_occurrences DESC, para LIMIT 20"""))

  /** PII scrub stage ([[TextOps.redactPii]]): per-source scrub-volume
    * report — class counts plus bytes removed. The synthetic corpus
    * carries no PII, so both engines seed each document with the same
    * deterministic URL (with an EMBEDDED email — pinning the
    * count-after-previous-redaction order: it must count as the URL,
    * never also as an email), a standalone email, an IPv4, and a phone;
    * the oracle replays the identical Java∩RE2 regex chain with
    * DuckDB's 'g' flag.
    */
  private val x26 = Q("text_pii_stats",
    (s, dir) => {
      val d = col("doc_id").cast("string")
      val seeded = t(s, dir, "documents").withColumn("seeded",
        concat(col("text"),
          lit(" see https://ex"), d, lit(".com/u?e="), d, lit("@ex.com"),
          lit(" mail "), d, lit("@ex.org"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit(" call +1 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      TextOps.redactPii(seeded, textCol = "seeded")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_pii_urls").as("urls"),
          sum("n_pii_emails").as("emails"),
          sum("n_pii_ipv4").as("ipv4"),
          sum("n_pii_phones").as("phones"),
          sum(length(col("seeded")) - length(col("pii_redacted")))
            .as("bytes_redacted"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT source,
          concat(text, ' see https://ex', cast(doc_id as varchar), '.com/u?e=',
                 cast(doc_id as varchar), '@ex.com mail ',
                 cast(doc_id as varchar), '@ex.org from 10.0.',
                 cast(doc_id % 256 as varchar), '.',
                 cast(doc_id % 100 as varchar), ' call +1 555-',
                 lpad(cast(doc_id % 10000 as varchar), 4, '0')) AS seeded
        FROM documents),
      s1 AS (SELECT source, seeded,
          len(regexp_extract_all(seeded, 'https?://[^ \t\n]+')) AS n_urls,
          regexp_replace(seeded, 'https?://[^ \t\n]+', '<URL>', 'g') AS t1
        FROM d),
      s2 AS (SELECT source, seeded, n_urls,
          len(regexp_extract_all(t1,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          regexp_replace(t1,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
        FROM s1),
      s3 AS (SELECT source, seeded, n_urls, n_emails,
          len(regexp_extract_all(t2,
            '\b((25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)\b')) AS n_ipv4,
          regexp_replace(t2,
            '\b((25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|0\d{1,2}|[1-9]?\d)\b', '<IP>', 'g') AS t3
        FROM s2),
      s4 AS (SELECT source, seeded, n_urls, n_emails, n_ipv4,
          len(regexp_extract_all(t3, '\+\d{1,2}[ -]\d{3}[ -]\d{4}')) AS n_phones,
          regexp_replace(t3, '\+\d{1,2}[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g') AS t4
        FROM s3)
      SELECT source, count(*) AS n_docs,
        cast(sum(n_urls) as bigint) AS urls,
        cast(sum(n_emails) as bigint) AS emails,
        cast(sum(n_ipv4) as bigint) AS ipv4,
        cast(sum(n_phones) as bigint) AS phones,
        cast(sum(len(seeded) - len(t4)) as bigint) AS bytes_redacted
      FROM s4 GROUP BY source ORDER BY source"""))

  /** One-query DEDUP dashboard: per-language exact-duplicate rate,
    * paragraph-duplicate rate, and token-weighted duplicated-span
    * fraction — the three dedup axes a curation run sizes its thresholds
    * from, value-exact because every rate is a ratio of exact counts
    * (the span fraction reuses [[TextOps.crossDocDupSpans]]' corpus-wide
    * dup set, grouped by language).
    */
  private val sm6 = Q("stats_dedup_report",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val langOf = docs.select(col("doc_id"), col("lang"))
      val exact = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
      val paraStats = derivedParas(docs)
        .join(langOf, "doc_id")
        .select(col("lang"), explode(col("paras")).as("para"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_paras"),
          countDistinct(col("para")).as("n_distinct_paras"))
      val spanStats = dupSpansFor(s, dir)
        .join(langOf, "doc_id")
        .groupBy("lang")
        .agg(sum("dup_tokens").as("dup_tokens"), sum("n_tokens").as("n_tokens"))
      exact.join(paraStats, "lang").join(spanStats, "lang")
        .select(col("lang"), col("n_docs"),
          round(lit(1.0) - col("n_distinct_texts").cast("double") / col("n_docs"), 6)
            .as("exact_dup_rate"),
          round(lit(1.0) - col("n_distinct_paras").cast("double") / col("n_paras"), 6)
            .as("para_dup_rate"),
          round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
            .as("dup_span_frac"))
        .orderBy("lang")
    },
    Some("""
      WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
      e AS (SELECT lang, count(*) AS n_docs,
              count(distinct md5(text)) AS n_distinct_texts
            FROM documents GROUP BY lang),
      p AS (SELECT doc_id, cast(i as int) AS para_idx,
              list_aggregate(tk[i*8+1:i*8+8], 'string_agg', ' ') AS para
            FROM t, unnest(range(0, (len(tk)+7)//8)) AS r(i)),
      pa AS (SELECT lang, count(*) AS n_paras,
              count(distinct para) AS n_distinct_paras
            FROM p JOIN t USING (doc_id) GROUP BY lang),
      g AS (SELECT doc_id, cast(i as int) AS pos,
              list_aggregate(tk[i:i+7], 'string_agg', ' ') AS gram
            FROM t, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
      d AS (SELECT gram FROM g GROUP BY gram HAVING count(distinct doc_id) >= 2),
      o AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM g JOIN d USING (gram)),
      c AS (SELECT doc_id, sum(least(8, coalesce(nxt - pos, 8))) AS dup_tokens
            FROM o GROUP BY doc_id),
      sp AS (SELECT lang, sum(coalesce(c.dup_tokens, 0)) AS dup_tokens,
              sum(len(tk)) AS n_tokens
            FROM t LEFT JOIN c USING (doc_id) GROUP BY lang)
      SELECT e.lang, e.n_docs,
        round(1.0 - cast(n_distinct_texts as double) / e.n_docs, 6)
          AS exact_dup_rate,
        round(1.0 - cast(n_distinct_paras as double) / n_paras, 6)
          AS para_dup_rate,
        round(cast(sp.dup_tokens as double) / sp.n_tokens, 6) AS dup_span_frac
      FROM e JOIN pa USING (lang) JOIN sp USING (lang)
      ORDER BY lang"""))

  /** The pipeline_curate_v3 stage chain, shared with the funnel report
    * (sm5) so the two queries cannot drift: (docs, paragraph-deduped,
    * substring-deduped, DSIR-selected).
    */
  /** ONE materialized v3 chain per (session, input dir) — the production
    * model: a pipeline RUN materializes its stage outputs once, and the
    * funnel report reads that run's artifacts instead of re-running the
    * pipeline. The expensive stage frames are eager checkpoints
    * ([[graft.ops.Caching]] — executor-local blocks, or reliable under
    * `spark.graft.checkpointDir`), so a second consumer is a block read;
    * every stage is deterministic, so either build order is
    * value-identical and the driver's oracle comparison is unaffected.
    * Memory: a handful of narrow per-doc frames per input dir for the
    * session's lifetime (checkpoint blocks are NOT dropped by
    * `catalog.clearCache`, which is what makes the reuse survive
    * Verify's per-query cache clears). A re-ingested (mutated) input
    * dir gets a fresh signature and rebuilds — see [[RunArtifactCache]].
    */
  private val v3StageCache =
    new RunArtifactCache[(DataFrame, DataFrame, DataFrame, DataFrame)]

  private def v3Stages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    v3StageCache.get(s, dir)(v3StagesBuild(s, dir))

  private def v3StagesBuild(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val pd = TextOps.dedupParagraphsAcrossDocs(derivedParas(docs))
      .filter(col("n_kept") > 0)
      // paragraphs re-join with spaces for the token-stream stages
      .select(col("doc_id"),
        translate(col("text_deduped"), "\n", " ").as("ptext"))
    val sd = TextOps.dedupSubstringsAcrossDocs(pd, n = 8, textCol = "ptext")
      .filter(length(col("text_dedup")) > 0)
      .select(col("doc_id"), col("text_dedup"))
    val withLang = sd.join(docs.select("doc_id", "lang"), "doc_id")
    val selected = CurationOps.dsirLogWeightsForSubset(withLang,
        col("lang") === "en", buckets = 64,
        textCol = "text_dedup")
      .filter(col("dsir_logweight") >= 0)
      .select(col("doc_id"), col("n_tokens").as("n_tok"),
        col("dsir_logweight"))
    (docs, pd, sd, selected)
  }

  /** The v3 oracle's CTE chain through the DSIR-selected set (`sel`) —
    * shared verbatim by pipeline_curate_v3 and stats_curation_funnel.
    * Stage frames referenced downstream: `t0` (input tokens), `a`
    * (paragraph-deduped ptext), `c` (substring-deduped ctext), `sel`
    * (selected docs with n_tok + dsir_logweight).
    */
  private val v3OracleCtes: String = s"""$paraKeepCtes,
      a AS (SELECT doc_id,
              string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY para_idx)
                AS ptext
            FROM k GROUP BY doc_id
            HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0),
      t1 AS (SELECT doc_id, string_split(ptext, ' ') AS tk FROM a),
      g AS (SELECT doc_id, cast(i as int) AS pos,
              list_aggregate(tk[i:i+7], 'string_agg', ' ') AS gram
            FROM t1, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
      d AS (SELECT gram FROM g GROUP BY gram HAVING count(distinct doc_id) >= 2),
      o AS (SELECT doc_id, pos,
              (row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)) = 1
                AS kept
            FROM g JOIN d USING (gram)),
      sp AS (SELECT doc_id, list(pos ORDER BY pos) AS ds,
              list(pos ORDER BY pos) FILTER (WHERE kept) AS ks
            FROM o GROUP BY doc_id),
      kt AS (SELECT t1.doc_id, tk, coalesce(ds, []::int[]) AS ds2,
              coalesce(ks, []::int[]) AS ks2
            FROM t1 LEFT JOIN sp ON t1.doc_id = sp.doc_id),
      f AS (SELECT doc_id,
              coalesce(array_to_string(list_filter(tk, (x, i) -> NOT (
                len(list_filter(ds2, p2 -> p2 <= i AND i < p2 + 8)) > 0 AND
                len(list_filter(ks2, p2 -> p2 <= i AND i < p2 + 8)) = 0)), ' '),
                '') AS ctext
            FROM kt),
      c AS (SELECT f.doc_id, ctext, dl.lang
            FROM f JOIN (SELECT doc_id, lang FROM documents) dl
              ON f.doc_id = dl.doc_id
            WHERE len(ctext) > 0),
      tok AS (SELECT doc_id, lang, unnest(string_split(ctext, ' ')) AS w FROM c),
      b AS (SELECT doc_id, lang,
              ('0x' || substr(md5('dsir' || w), 1, 15))::bigint % 64 AS bk
            FROM tok),
      raw AS (SELECT bk, count(*) AS cr FROM b GROUP BY bk),
      tgt AS (SELECT bk, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY bk),
      tots AS (SELECT (SELECT count(*) FROM b) AS tr,
                      (SELECT count(*) FROM b WHERE lang = 'en') AS tt),
      spine AS (SELECT unnest(range(64)) AS bk),
      model AS (SELECT bk,
          cast(ln(cast(coalesce(ct, 0) + 1 as double) / cast(tt + 64 as double))
             - ln(cast(coalesce(cr, 0) + 1 as double) / cast(tr + 64 as double))
            as decimal(18,12)) AS lam
        FROM spine LEFT JOIN raw USING (bk) LEFT JOIN tgt USING (bk), tots),
      perdoc AS (SELECT doc_id, bk, count(*) AS cnt FROM b GROUP BY doc_id, bk),
      wts AS (SELECT doc_id, cast(sum(cnt) as bigint) AS n_tok,
                round(cast(sum(cnt * lam) as double), 6) AS dsir_logweight
              FROM perdoc JOIN model USING (bk) GROUP BY doc_id),
      sel AS (SELECT * FROM wts WHERE dsir_logweight >= 0)"""

  /** THIRD end-to-end pipeline, composing this round's substring-dedup
    * family with DSIR selection: paragraph keep-first-global dedup
    * (8-word paragraphs) → exact-substring span removal (8-grams) on the
    * rewritten corpus → DSIR importance weights against the English
    * subset, keeping docs at least as target-like as the corpus
    * (logweight ≥ 0, the natural DSIR acceptance line) → token-budget
    * shard packing. One DataFrame program; the oracle replays the whole
    * chain as one CTE cascade.
    */
  private val d25 = Q("pipeline_curate_v3",
    (s, dir) => {
      val (_, _, _, selected) = v3Stages(s, dir)
      LayoutOps.packByTokenBudgetKeys(selected, Seq("doc_id"),
          weightCol = "n_tok", budget = 1200L)
        .join(selected.select("doc_id", "dsir_logweight"), "doc_id")
        .select(col("doc_id"), col("n_tok"), col("dsir_logweight"),
          col("token_offset"), col("shard_id"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $v3OracleCtes,
      oo AS (SELECT doc_id, n_tok, dsir_logweight,
               coalesce(sum(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             FROM sel)
      SELECT doc_id, n_tok, dsir_logweight, cast(off as bigint) AS token_offset,
        cast(off // 1200 as bigint) AS shard_id
      FROM oo ORDER BY doc_id"""))

  /** Curation FUNNEL report over the v3 chain (the operational dashboard
    * a pipeline run prints first: how many docs/tokens survive each
    * stage): input → paragraph dedup → substring removal → DSIR
    * selection, one row per stage. Shares [[v3Stages]] and the oracle
    * CTE chain with pipeline_curate_v3, so the two cannot drift.
    */
  private val sm5 = Q("stats_curation_funnel",
    (s, dir) => {
      val (docs, pd, sd, selected) = v3Stages(s, dir)
      def stage(idx: Int, name: String, df: DataFrame, tokens: Column) = df
        .agg(count(lit(1)).as("n_docs"),
          sum(tokens).cast("bigint").as("n_tokens"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
      stage(0, "input", docs, size(TextOps.tokens(col("text"))))
        .unionAll(stage(1, "paragraph_dedup", pd, size(split(col("ptext"), " "))))
        .unionAll(stage(2, "substring_dedup", sd,
          size(split(col("text_dedup"), " "))))
        .unionAll(stage(3, "dsir_selected", selected, col("n_tok")))
        .orderBy("stage_idx")
    },
    Some(s"""
      WITH $v3OracleCtes
      SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs,
        cast(sum(len(tk)) as bigint) AS n_tokens FROM t0
      UNION ALL
      SELECT 1, 'paragraph_dedup', count(*),
        cast(sum(len(string_split(ptext, ' '))) as bigint) FROM a
      UNION ALL
      SELECT 2, 'substring_dedup', count(*),
        cast(sum(len(string_split(ctext, ' '))) as bigint) FROM c
      UNION ALL
      SELECT 3, 'dsir_selected', count(*), cast(sum(n_tok) as bigint) FROM sel
      ORDER BY stage_idx"""))

  /** RELATIVE quality floor: keep each language's top 75% by quality
    * score (per-lang P25 threshold) — the curation form real pipelines
    * use instead of one absolute cutoff, because score distributions
    * differ by language and a single constant either guts low-resource
    * languages or keeps junk in high-resource ones.
    *
    * Scale note on the EXACT percentile: `percentile`'s per-group state
    * is a value→count map, which is corpus-size-bounded only because
    * quality_score is round(…,6) in [0,1] — ≤ ~10^6 distinct values per
    * group no matter how many rows. Unbounded-domain metrics at 100 TB
    * would switch to approx_percentile; bounded-domain scores get
    * exactness for free. Thresholds (one row per lang) broadcast back.
    */
  /** SemDeDup ([[SimilarityOps.semdedupKeepSet]]): cluster-then-prune
    * semantic dedup. Value-exactness via the ANN-dump pattern: the
    * cluster ASSIGNMENTS (the one part DuckDB cannot replay — k-means)
    * are dumped during Verify, and the oracle recomputes every keep flag
    * independently from the embeddings table — the within-cluster
    * smaller-id cosine rule is pinned bit-for-bit, the quantizer is
    * pinned as a deterministic partition (trainer determinism is
    * spec-asserted).
    */
  /** The semdedup quantizer (nlist=16 — distinct parameters from the
    * ANN rows' nlist=8 fit, hence its own cache). */
  private val semdedupCentroidCache =
    new RunArtifactCache[Seq[(Int, Array[Double])]]

  private val d21 = Q("curate_semdedup",
    (s, dir) => {
      // nlist = the op's own √N sizing rule, derived per corpus — NOT a
      // pinned constant (r19: ShuffleAudit's pinned ×10→×100 sweep read
      // rows 27.29× for 10× data and PlanMetrics attributed it to the
      // hot-bucket grid split activating between scales: with nlist=16
      // fixed, sf10's 12.5k-member clusters replicate ~4× through the
      // split while sf1's 1250-member clusters don't split at all. The
      // fixed value measured the guard's failsafe, not the op; under √N
      // sizing clusters stay ~√N ≪ the 4096 split threshold at every
      // driver SF and the shuffle is corpus-linear). The oracle replays
      // the DUMPED assignments, so it is independent of nlist by
      // construction.
      val cents = semdedupCentroidCache.get(s, dir)({
        val corpus = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("cv"))
        val nlistEff = math.max(16L,
          math.ceil(math.sqrt(corpus.count().toDouble)).toLong).toInt
        SimilarityOps.trainIvfCentroids(corpus,
          nlist = nlistEff, trainIters = 5, trainFraction = 0.25)
      })
      val res = SimilarityOps.semdedupKeepSet(t(s, dir, "embeddings"),
          threshold = 0.4, nlist = 0, trainIters = 5, trainFraction = 0.25,
          centroids = Some(cents))
        .orderBy("vec_id")
        // Eager checkpoint: the dump and the returned result must come
        // from ONE materialization, so the oracle scores exactly the
        // assignments this run emitted.
        .localCheckpoint(true)
      verifyDump(res.select("vec_id", "list_id"), SemDedupDumpPath)
      res
    },
    Some(s"""
      WITH a AS (SELECT vec_id, list_id
                 FROM read_parquet('$SemDedupDumpPath/*.parquet')),
      t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      dropped AS (SELECT DISTINCT b.vec_id
        FROM a x JOIN a b ON x.list_id = b.list_id AND x.vec_id < b.vec_id
        JOIN t tx ON tx.vec_id = x.vec_id
        JOIN t tb ON tb.vec_id = b.vec_id
        WHERE list_cosine_similarity(tx.v, tb.v) >= 0.4)
      SELECT a.vec_id, a.list_id, (d.vec_id IS NULL) AS keep
      FROM a LEFT JOIN dropped d ON d.vec_id = a.vec_id
      ORDER BY a.vec_id"""))

  /** Deterministic linear quality classifier
    * ([[graft.ops.ClassifierOps]]): ONE full-batch pass (the
    * Rocchio-style class-centroid difference — see trainPerceptron's
    * step-choice note) trained to reproduce a stopword-density quality
    * label from hashed bag-of-words features, then scores the whole
    * corpus (~0.92 accuracy here). The label is a text-derived rule
    * because the synthetic corpus's metadata columns are independent of
    * its text (every lang/source draws from one shared vocabulary —
    * measured, and what text_langid_confusion shows); in production the
    * same operator trains against human/LLM quality labels. The oracle
    * replays the ENTIRE training trajectory — margins, misclassified
    * set, per-bucket gradients — as a CTE chain (the BPE-training
    * pattern), then the final scoring pass; all cross-row sums are
    * decimal(38,12) and the loss is transcendental-free, so the
    * trajectory is bit-portable.
    */
  private val d22 = Q("curate_quality_classifier",
    (s, dir) => {
      val tk = TextOps.tokens(col("text"))
      val enStops = Seq("the", "a", "of", "and", "is", "to")
      val docs = t(s, dir, "documents").withColumn("is_quality",
        size(filter(tk, x => x.isin(enStops: _*))).cast("double")
          / size(tk).cast("double") >= 0.06)
      val model = perceptronCache.get(s, dir)(
        ClassifierOps.trainPerceptron(docs, "is_quality",
          numBuckets = 256, steps = 1, learningRate = 1.0))
      ClassifierOps.scorePerceptron(docs, model, "is_quality")
        .orderBy("doc_id")
    },
    Some(perceptronOracleSql(steps = 1, buckets = 256)))

  /** Generated oracle for [[d22]]: feature build (bias as bucket −1 with
    * x = 1), `steps` train steps (margin → misclassified → per-bucket
    * decimal gradient → FULL-JOIN weight update), one final scoring
    * margin pass. Weight tables are (bucket, wt) rows, so no SQL array
    * indexing is needed.
    */
  private def perceptronOracleSql(steps: Int, buckets: Int): String = {
    val stepCtes = (1 to steps).map { k =>
      s"""m$k AS (SELECT f.doc_id, any_value(f.y) AS y,
            cast(sum(cast(f.x * coalesce(w.wt, 0.0) AS decimal(38,12))) AS DOUBLE) AS dot
          FROM feat f LEFT JOIN w${k - 1} w USING (bucket) GROUP BY f.doc_id),
      mis$k AS (SELECT doc_id, y FROM m$k WHERE dot * y <= 0),
      cnt$k AS (SELECT y, count(*) AS ny FROM mis$k GROUP BY y),
      g$k AS (SELECT f.bucket,
            cast(sum(cast(f.y * f.x / c.ny AS decimal(38,12))) AS DOUBLE) AS g
          FROM feat f JOIN mis$k m ON f.doc_id = m.doc_id
          JOIN cnt$k c ON c.y = f.y GROUP BY f.bucket),
      w$k AS MATERIALIZED (SELECT coalesce(w.bucket, g.bucket) AS bucket,
            coalesce(w.wt, 0.0) + 1.0 * coalesce(g.g, 0.0) AS wt
          FROM w${k - 1} w FULL JOIN g$k g ON w.bucket = g.bucket)"""
    }.mkString(",\n      ")
    s"""
      WITH base AS (SELECT doc_id,
              (len(list_filter(tk, t -> list_contains(
                 ['the','a','of','and','is','to'], t)))::DOUBLE
                 / len(tk)) >= 0.06 AS lab,
              tk FROM (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents)),
      tok AS (SELECT doc_id, CASE WHEN lab THEN 1 ELSE -1 END AS y,
              unnest(tk) AS w, len(tk) AS n FROM base),
      feat AS (
        SELECT doc_id, y, bucket, cnt::DOUBLE / n AS x FROM (
          SELECT doc_id, y, n,
            (('0x' || substr(md5(w), 1, 15))::BIGINT % $buckets)::INT AS bucket,
            count(*) AS cnt
          FROM tok GROUP BY doc_id, y, n, bucket)
        UNION ALL
        SELECT doc_id, CASE WHEN lab THEN 1 ELSE -1 END, -1, 1.0 FROM base),
      w0 AS (SELECT -2 AS bucket, 0.0 AS wt WHERE false),
      $stepCtes,
      mf AS (SELECT f.doc_id, any_value(f.y) AS y,
            cast(sum(cast(f.x * coalesce(w.wt, 0.0) AS decimal(38,12))) AS DOUBLE) AS s
          FROM feat f LEFT JOIN w$steps w USING (bucket) GROUP BY f.doc_id)
      SELECT doc_id, (y = 1) AS label, round(s, 6) AS score,
        (s > 0) AS pred, ((s > 0) = (y = 1)) AS correct
      FROM mf ORDER BY doc_id"""
  }

  /** Gopher-style hard rule filter ([[TextOps.withGopherRules]]): every
    * rule surfaced per document so the oracle pins each boundary
    * comparison, not just the final keep bit. Thresholds here are tuned
    * to BITE on the synthetic corpus (word-count floor 20 over the
    * 10..99 range, mean-word-length floor 4.0 over the 3.7..5.3 range,
    * ≥ 1 Gopher stopword over the 0..1 range); the operator defaults are
    * the published Gopher bounds.
    */
  private val d20 = Q("curate_gopher_rules",
    (s, dir) => TextOps.withGopherRules(t(s, dir, "documents"),
        minWords = 20, minMeanWordLen = 4.0, minStopwordHits = 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("rule_word_count"), col("rule_mean_word_len"),
        col("rule_symbol_ratio"), col("rule_ellipsis_lines"),
        col("rule_alpha_words"), col("rule_stopwords"), col("keep"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk,
          string_split(text, chr(10)) AS ln FROM documents),
      r AS (SELECT doc_id, lang, len(tk) AS n_tokens,
        len(tk) BETWEEN 20 AND 100000 AS rule_word_count,
        (list_sum(list_transform(tk, x -> len(x)))::DOUBLE / len(tk))
          BETWEEN 4.0 AND 10.0 AS rule_mean_word_len,
        ((len(text) - len(replace(text, '#', '')))
          + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE
          / len(tk) <= 0.1 AS rule_symbol_ratio,
        (len(list_filter(ln, x -> x LIKE '%...'))::DOUBLE / len(ln)) <= 0.3
          AS rule_ellipsis_lines,
        (len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
          / len(tk)) >= 0.8 AS rule_alpha_words,
        len(list_intersect(list_distinct(tk),
          ['the','be','to','of','and','that','have','with'])) >= 1
          AS rule_stopwords
       FROM t)
      SELECT doc_id, lang, n_tokens, rule_word_count, rule_mean_word_len,
        rule_symbol_ratio, rule_ellipsis_lines, rule_alpha_words,
        rule_stopwords,
        rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
          AND rule_ellipsis_lines AND rule_alpha_words AND rule_stopwords
          AS keep
      FROM r ORDER BY doc_id"""))

  /** C4 line-level cleaning ([[TextOps.withC4Rules]]). The synthetic
    * corpus has no newlines or punctuation, so the query SEEDS the line
    * structure the rules need (the text_clean_stats/text_pii_stats
    * precedent): tokens are folded into 6-token lines, even-indexed lines
    * terminated with '.' — both engines rebuild the identical structure,
    * then replay the line filter (terminal punctuation + ≥5 words +
    * no-javascript) and the document rules (≥3 kept lines, no lorem
    * ipsum, no brace). `clean_fp` pins the EXACT cleaned text by md5.
    */
  private val d33 = Q("curate_c4_rules",
    (s, dir) => {
      val tk = TextOps.tokens(col("text"))
      val nLines = ceil(size(tk).cast("double") / 6.0).cast("int")
      val lines = transform(sequence(lit(0), nLines - 1), i =>
        concat(array_join(slice(tk, i * 6 + 1, lit(6)), " "),
          when(i % 2 === 0, lit(".")).otherwise(lit(""))))
      val structured = t(s, dir, "documents")
        .withColumn("text", array_join(lines, "\n"))
      TextOps.withC4Rules(structured, minWordsPerLine = 5, minSentences = 3)
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          md5(col("clean_text")).as("clean_fp"), col("keep"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      l AS (SELECT doc_id, list_transform(range(0, cast(ceil(len(tk) / 6.0) as int)),
              i -> concat(array_to_string(tk[i*6+1 : i*6+6], ' '),
                   CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)) AS lines
            FROM t),
      c AS (SELECT doc_id, lines,
              list_filter(lines, x -> regexp_matches(x, '[.!?"]$')
                AND len(list_filter(string_split(x, ' '), w -> w != '')) >= 5
                AND NOT contains(lower(x), 'javascript')) AS kept
            FROM l),
      r AS (SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept_lines,
              md5(array_to_string(kept, chr(10))) AS clean_fp,
              len(kept) >= 3
                AND NOT contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum')
                AND NOT contains(array_to_string(lines, chr(10)), '{') AS keep
            FROM c)
      SELECT doc_id, n_lines, n_kept_lines, clean_fp, keep FROM r
      ORDER BY doc_id"""))

  private val d16 = Q("curate_quality_quantile",
    (s, dir) => {
      val scored = TextOps.withQualityScore(t(s, dir, "documents"))
        .select("doc_id", "lang", "quality_score")
      val floors = scored.groupBy("lang")
        .agg(expr("round(percentile(quality_score, 0.25), 6)").as("q_floor"))
      scored.join(broadcast(floors), "lang")
        .filter(col("quality_score") >= col("q_floor"))
        .select("doc_id", "lang", "quality_score", "q_floor")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
      x AS (SELECT doc_id, lang,
          cast(len(tk) as double) AS n_tok,
          cast(len(list_distinct(tk)) as double) AS n_uniq,
          cast(len(list_filter(tk, t -> t IN ('the','a','of','and','is','to'))) as double)
            AS n_stop
        FROM d),
      q AS (SELECT doc_id, lang,
          round(least(n_tok / 100.0, 1.0) * 0.4 + (n_uniq / n_tok) * 0.4
            + (1.0 - n_stop / n_tok) * 0.2, 6) AS quality_score
        FROM x),
      th AS (SELECT lang, round(quantile_cont(quality_score, 0.25), 6) AS q_floor
             FROM q GROUP BY lang)
      SELECT doc_id, q.lang, quality_score, q_floor
      FROM q JOIN th USING (lang)
      WHERE quality_score >= q_floor ORDER BY doc_id"""))

  // -------------------------------------------------------- similarity

  private def queriesAndCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    (emb.filter(col("vec_id") < 10)
       .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
     emb.select(col("vec_id"), col("embedding").as("cv")))
  }

  /** ONE trained IVF quantizer per (session, input dir) at the registered
    * parameters (nlist=8, 5 Lloyd passes, 25% hash-sample) — the
    * train-once/serve-many production model the ops already expose via
    * their `centroids` parameter and ModelIO persistence: the four ANN
    * rows (ivf / ivf_q8 / ivf_pq / recall_ann) serve from the same fit
    * instead of each re-running an identical deterministic k-means.
    * Determinism (spec-asserted) makes the shared fit bit-identical to
    * per-query fits, so every consumer's value-exact result — the four
    * dump-and-replay ANN rows and the recall row — is unchanged. Same
    * input-signature guard as the v3 stage cache ([[RunArtifactCache]]).
    */
  private val ivfCentroidCache = new RunArtifactCache[Seq[(Int, Array[Double])]]

  private def registeredIvfCentroids(s: SparkSession, dir: String)
      : Seq[(Int, Array[Double])] =
    ivfCentroidCache.get(s, dir)(
      SimilarityOps.trainIvfCentroids(queriesAndCorpus(s, dir)._2,
        nlist = 8, trainIters = 5, trainFraction = 0.25))

  /** The PQ codebook sibling of [[registeredIvfCentroids]] (16 subspaces
    * × 16 codewords at the registered parameters), shared by
    * sim_topk_ivfpq and sim_recall_ann's ivf_pq path. */
  private val pqCodebookCache = new RunArtifactCache[SimilarityOps.PqCodebooks]

  private def registeredPqCodebooks(s: SparkSession, dir: String)
      : SimilarityOps.PqCodebooks =
    pqCodebookCache.get(s, dir)(
      SimilarityOps.trainPqCodebooks(queriesAndCorpus(s, dir)._2,
        dims = 64, m = 16, ksub = 16, trainIters = 5, trainFraction = 0.25))

  /** The ENCODED-CORPUS sibling of the model caches — the corpus-sized
    * (list_id, vec_id, codes) table of [[SimilarityOps.buildPqIndex]]
    * at the registered parameters, shared by sim_topk_ivfpq and
    * sim_recall_ann's ivf_pq path: encode-once/serve-many within a run,
    * the same lifecycle the public PqIndex artifact persists across
    * sessions via ModelIO. Checkpointed at build so both consumers are
    * block reads; encoding is a deterministic per-row map under the
    * shared models, so serves are result-identical to inline encoding
    * (spec-pinned by PqIndexSpec). */
  private val pqEncodedCache = new RunArtifactCache[DataFrame]

  private def registeredPqIndex(s: SparkSession, dir: String)
      : SimilarityOps.PqIndex =
    SimilarityOps.PqIndex(
      pqEncodedCache.get(s, dir)(
        SimilarityOps.encodePqCorpus(queriesAndCorpus(s, dir)._2,
          registeredIvfCentroids(s, dir), registeredPqCodebooks(s, dir))
          .localCheckpoint(true)),
      registeredIvfCentroids(s, dir), registeredPqCodebooks(s, dir),
      dims = 64, m = 16)

  /** Verify-time model dumps for the IVF-family value-exact oracles: the
    * shared trained quantizer (nlist×dims — config-sized) and the corpus
    * list assignments, computed by the SAME public expression the ops
    * serve with ([[SimilarityOps.assignListIds]] — shared code, so the
    * dump cannot drift from the serve path). Each consuming query dumps
    * what its oracle reads (training is cached and deterministic, so
    * repeated dumps are byte-identical); outside Verify nothing runs.
    */
  private def dumpIvfModel(s: SparkSession, dir: String): Unit =
    if (sys.props.contains("graft.verify.dump")) {
      import s.implicits._
      verifyDump(registeredIvfCentroids(s, dir)
        .map { case (id, c) => (id, c.toSeq) }.toDF("list_id", "centroid"),
        IvfCentsDumpPath)
      verifyDump(SimilarityOps.assignListIds(
          queriesAndCorpus(s, dir)._2, registeredIvfCentroids(s, dir))
        .select("vec_id", "list_id"), IvfAssignDumpPath)
    }

  /** [[dumpIvfModel]]'s PQ sibling: the quantizer (probe selection), the
    * trained codebooks (the oracle rebuilds the per-query ADC tables from
    * them), and the encoded corpus codes the registered query actually
    * serves from. */
  private def dumpPqModel(s: SparkSession, dir: String): Unit =
    if (sys.props.contains("graft.verify.dump")) {
      import s.implicits._
      verifyDump(registeredIvfCentroids(s, dir)
        .map { case (id, c) => (id, c.toSeq) }.toDF("list_id", "centroid"),
        IvfCentsDumpPath)
      verifyDump(registeredPqCodebooks(s, dir)
        .flatMap { case (sub, words) =>
          words.map { case (code, w) => (sub, code, w.toSeq) } }
        .toDF("s", "code", "word"), PqBooksDumpPath)
      verifyDump(registeredPqIndex(s, dir).encoded, PqCodesDumpPath)
    }

  /** The corpus-trained BPE merge table at the registered depth (8
    * merges), shared by text_bpe_train and text_bpe_apply — both queries
    * previously re-ran the identical 8-step argmax trainer. Same
    * train-once model and input-signature guard as the ANN caches;
    * the trainer is deterministic, so both consumers see the exact
    * table the oracles replay. */
  private val bpeMergeCache = new RunArtifactCache[Seq[(String, String, Long)]]

  private def registeredBpeMerges(s: SparkSession, dir: String)
      : Seq[(String, String, Long)] =
    bpeMergeCache.get(s, dir)(
      TextOps.trainBpeMerges(t(s, dir, "documents"), numMerges = 8))

  /** The trained quality perceptron at the registered parameters
    * (256 buckets, 1 step) — train once per (session, dir), score on
    * demand; identical to train-and-score in one call by determinism. */
  private val perceptronCache =
    new RunArtifactCache[graft.ops.ClassifierOps.PerceptronModel]

  private val s01 = Q("sim_topk_bruteforce",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      SimilarityOps.bruteForceTopK(q, c, k = 5).orderBy("query_id", "rank")
    },
    Some("""
      WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM t WHERE vec_id < 10),
      scored AS (SELECT q.query_id, t.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, t.v) AS cos
        FROM q, t WHERE t.vec_id <> q.query_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, cast(rank as int) AS rank, neighbor_id,
        round(cos, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  // LSH path: approximate by design, but VALUE-EXACT under its oracle via
  // dump-and-replay (the curate_semdedup pattern): Verify dumps the
  // (id, table, signature) bucket frames — computed by the same
  // [[SimilarityOps.lshBuckets]] code the op joins on — and the oracle
  // replays the bucket join, candidate dedup, self-exclusion, exact
  // cosine, and ranking from the raw embeddings table, so any
  // scoring/ranking bug hash-mismatches. (The splitmix64 signature itself
  // is not SQL-expressible — it is the trusted model artifact, exactly as
  // semdedup trusts its dumped cluster assignments.) Parameters come from
  // the tools/LshTune grid at this SF: bucket population scales as
  // N/2^bits, so bits must track log₂(N) — 12 bits over 5k
  // near-orthogonal vectors leaves buckets near-empty (recall 0), while
  // 8 bits × 8 tables scans ~3% of the corpus per query for recall ≈ 0.2
  // on this structureless data (clustered real embeddings bucket far
  // better). At 100 TB the same grid is rerun with bits sized to the
  // corpus.
  private val s02 = Q("sim_topk_lsh",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      if (sys.props.contains("graft.verify.dump")) {
        verifyDump(SimilarityOps.lshBuckets(q, "query_id", "qv",
          bits = 8, tables = 8), LshQBucketsDumpPath)
        verifyDump(SimilarityOps.lshBuckets(c, "vec_id", "cv",
          bits = 8, tables = 8), LshCBucketsDumpPath)
      }
      SimilarityOps.lshTopK(q, c, k = 5, bits = 8, tables = 8)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH qb AS (SELECT query_id, t, sig
                  FROM read_parquet('$LshQBucketsDumpPath/*.parquet')),
      cb AS (SELECT vec_id, t, sig
             FROM read_parquet('$LshCBucketsDumpPath/*.parquet')),
      tt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM tt WHERE vec_id < 10),
      pairs AS (SELECT DISTINCT qb.query_id, cb.vec_id
        FROM cb JOIN qb ON qb.t = cb.t AND qb.sig = cb.sig
        WHERE qb.query_id <> cb.vec_id),
      scored AS (SELECT p.query_id, p.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, tt.v) AS cos
        FROM pairs p JOIN q USING (query_id) JOIN tt ON tt.vec_id = p.vec_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, cast(rank as int) AS rank, neighbor_id,
        round(cos, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Algebraic, pair-free within/cross mean cosine
    * ([[SimilarityOps.labelPairMeans]]): Σ_{i<j} u_i·u_j =
    * (‖Σu‖² − Σ‖u‖²)/2 over unit vectors. The oracle mirrors the same
    * algebra (decimal component sums, double products), so the result is
    * value-exact while the plan never enumerates a pair.
    */
  private val s03 = Q("sim_label_stats",
    (s, dir) => SimilarityOps.labelPairMeans(t(s, dir, "embeddings")).orderBy("grp"),
    Some("""
      WITH t AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      u AS (SELECT label,
              list_transform(v, x -> CASE WHEN list_sum(list_transform(v, y -> y*y)) > 0
                THEN x / sqrt(list_sum(list_transform(v, y -> y*y))) ELSE 0 END) AS u
            FROM t),
      e AS (SELECT label, ko - 1 AS k, u[ko] AS uk
            FROM u, unnest(range(1, len(u) + 1)) AS r(ko)),
      g AS (SELECT label, k, sum(cast(uk as decimal(38,12))) AS sk,
              sum(cast(uk*uk as decimal(38,12))) AS qk
            FROM e GROUP BY label, k),
      pl AS (SELECT label,
               sum(cast(cast(sk as double) * cast(sk as double) as decimal(38,12))) AS s2,
               sum(qk) AS sq
             FROM g WHERE label IS NOT NULL GROUP BY label),
      n AS (SELECT label, count(*) AS nl FROM t
            WHERE label IS NOT NULL GROUP BY label),
      wl AS (SELECT cast((cast(s2 as double) - cast(sq as double)) / 2 as decimal(38,12)) AS sc,
               nl * (nl - 1) // 2 AS np
             FROM pl JOIN n USING (label)),
      win AS (SELECT sum(sc) AS swc, sum(np) AS npw FROM wl),
      ga AS (SELECT k, sum(sk) AS sk, sum(qk) AS qk FROM g GROUP BY k),
      tot AS (SELECT cast((cast(s2 as double) - cast(sq as double)) / 2 as decimal(38,12)) AS st,
                nt * (nt - 1) // 2 AS npt
              FROM (SELECT
                  sum(cast(cast(sk as double) * cast(sk as double) as decimal(38,12))) AS s2,
                  sum(qk) AS sq FROM ga),
                (SELECT count(*) AS nt FROM t))
      SELECT 'cross' AS grp, cast(npt - npw as bigint) AS n_pairs,
        round((cast(st as double) - cast(swc as double)) / cast(npt - npw as double), 6)
          AS avg_cosine
      FROM tot, win
      UNION ALL
      SELECT 'within' AS grp, cast(npw as bigint) AS n_pairs,
        round(cast(swc as double) / cast(npw as double), 6) AS avg_cosine
      FROM win
      ORDER BY grp"""))

  // IVF scale path: approximate (probe subset of inverted lists), but
  // VALUE-EXACT under its oracle via dump-and-replay: Verify dumps the
  // trained quantizer + corpus list assignments ([[dumpIvfModel]]) and
  // the oracle replays probe selection (cosine to each dumped centroid,
  // top-nprobe with the op's sim-DESC/id-DESC tie-break), the candidate
  // join, self-exclusion, exact cosine, and ranks from the raw
  // embeddings table. Exactness at nprobe==nlist stays asserted in
  // OpsSpec. The quantizer trains on a deterministic 25% hash-sample
  // with 5 Lloyd passes: passes scan only the training set (centroids
  // need the density shape, not every row — the standard IVF practice
  // and the registered 100 TB posture), quality plateaus well before the
  // train-to-convergence default at this sample size, and the full
  // corpus is still assigned exactly once.
  private val s05 = Q("sim_topk_ivf",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      dumpIvfModel(s, dir)
      SimilarityOps.ivfTopK(q, c, k = 5, nlist = 8, nprobe = 2,
          trainFraction = 0.25, trainIters = 5,
          centroids = Some(registeredIvfCentroids(s, dir)))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cents AS (SELECT list_id, centroid::DOUBLE[] AS c
                     FROM read_parquet('$IvfCentsDumpPath/*.parquet')),
      assign AS (SELECT vec_id, list_id
                 FROM read_parquet('$IvfAssignDumpPath/*.parquet')),
      tt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM tt WHERE vec_id < 10),
      psim AS (SELECT q.query_id, cents.list_id,
          list_cosine_similarity(q.qv, cents.c) AS sim
        FROM q CROSS JOIN cents),
      probes AS (SELECT query_id, list_id FROM (
          SELECT query_id, list_id, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, list_id DESC) AS pr
          FROM psim) WHERE pr <= 2),
      cand AS (SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a USING (list_id)
        WHERE a.vec_id <> p.query_id),
      scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, tt.v) AS cos
        FROM cand c JOIN q USING (query_id) JOIN tt ON tt.vec_id = c.vec_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, cast(rank as int) AS rank, neighbor_id,
        round(cos, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  // Int8-quantized IVF probe ([[SimilarityOps.ivfTopKQ8]]): the candidate
  // join streams 1-byte qvecs and scores with the integer int8_cosine
  // kernel; exact fp32 re-rank of the top rerank·k shortlist. VALUE-EXACT
  // under its oracle: only the quantizer model is dumped
  // ([[dumpIvfModel]], shared with sim_topk_ivf) — the oracle replays
  // EVERYTHING else from the raw table: the int8 quantization chain
  // (max|x| / divide / ·127 / floor — the sim_quantize_int8-proven
  // IEEE-identical recipe), the integer cosine kernel (dots and norms are
  // exact integers below 2^53, so the double arithmetic is bit-identical
  // by construction), the rerank·k shortlist with the op's tie-break,
  // and the exact fp32 re-rank.
  private val s05b = Q("sim_topk_ivf_q8",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      dumpIvfModel(s, dir)
      SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 8, nprobe = 2,
          trainFraction = 0.25, trainIters = 5, rerank = 4,
          centroids = Some(registeredIvfCentroids(s, dir)))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cents AS (SELECT list_id, centroid::DOUBLE[] AS c
                     FROM read_parquet('$IvfCentsDumpPath/*.parquet')),
      assign AS (SELECT vec_id, list_id
                 FROM read_parquet('$IvfAssignDumpPath/*.parquet')),
      tt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM tt WHERE vec_id < 10),
      psim AS (SELECT q.query_id, cents.list_id,
          list_cosine_similarity(q.qv, cents.c) AS sim
        FROM q CROSS JOIN cents),
      probes AS (SELECT query_id, list_id FROM (
          SELECT query_id, list_id, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, list_id DESC) AS pr
          FROM psim) WHERE pr <= 2),
      q8 AS (SELECT vec_id,
          CASE WHEN mx = 0 THEN list_transform(v, x -> cast(0 as bigint))
               ELSE list_transform(v, x -> cast(floor(x / mx * 127) as bigint))
          END AS qv8
        FROM (SELECT vec_id, v,
                list_max(list_transform(v, x -> abs(x))) AS mx FROM tt)),
      cand AS (SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a USING (list_id)
        WHERE a.vec_id <> p.query_id),
      s8 AS (SELECT c.query_id, c.vec_id,
          list_sum(list_transform(range(1, len(qq.qv8) + 1),
                                  i -> qq.qv8[i] * cq.qv8[i])) AS dot,
          list_sum(list_transform(qq.qv8, x -> x * x)) AS nx,
          list_sum(list_transform(cq.qv8, x -> x * x)) AS ny
        FROM cand c JOIN q8 qq ON qq.vec_id = c.query_id
                    JOIN q8 cq ON cq.vec_id = c.vec_id),
      cos8 AS (SELECT query_id, vec_id,
          CASE WHEN sqrt(cast(nx as double)) * sqrt(cast(ny as double)) = 0
               THEN NULL
               ELSE cast(dot as double)
                 / (sqrt(cast(nx as double)) * sqrt(cast(ny as double)))
          END AS c8 FROM s8),
      shortlist AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
              ORDER BY c8 DESC NULLS LAST, vec_id) AS r8
          FROM cos8) WHERE r8 <= 20),
      scored AS (SELECT sl.query_id, sl.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, tt.v) AS cos
        FROM shortlist sl JOIN q USING (query_id)
                          JOIN tt ON tt.vec_id = sl.vec_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, cast(rank as int) AS rank, neighbor_id,
        round(cos, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  // IVF-PQ probe ([[SimilarityOps.ivfTopKPq]]): the candidate join streams
  // a 16-BYTE product-quantization code per corpus vector (vs dims bytes
  // int8, 4·dims fp32) and scores via the pq_adc_score lookup kernel
  // against per-query broadcast tables; exact fp32 re-rank of the top
  // rerank·k shortlist. VALUE-EXACT under its oracle: Verify dumps the
  // quantizer, the trained codebooks, and the encoded corpus codes the
  // query serves from ([[dumpPqModel]]); the oracle rebuilds each
  // query's ADC table from the codebooks (sub-dot / query-norm, the
  // PqTables contract: dsub=4 left-to-right dots over the raw vector),
  // replays probe selection, the ADC lookups + rerank·k shortlist, and
  // the exact fp32 re-rank from the raw table.
  /** The ivfpq oracle's ADC sum, ordered EXACTLY as [[graft.functions.PqAdcScore]]
    * adds its m=16 lookups (left-to-right by subspace): each `eS` is an
    * exact single-value pivot (one entry row per (candidate, subspace)),
    * and the explicit `e0 + e1 + … + e15` fixes the double-addition
    * order — a plain GROUP-BY sum would add in unspecified aggregate
    * order, and near-tied shortlist boundaries must not rest on
    * FP-summation luck. */
  private val pqAdcPivots = (0 until 16).map(i =>
    s"sum(CASE WHEN cexp.s = $i THEN e.e END) AS e$i").mkString(", ")
  private val pqAdcSum = (0 until 16).map(i => s"e$i").mkString(" + ")

  private val s05c = Q("sim_topk_ivfpq",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      dumpPqModel(s, dir)
      // Serve from the run-shared encoded corpus (the PqIndex
      // lifecycle): result-identical to the inline-encode form under
      // the same models, with the corpus-linear encode paid once per
      // run instead of per call.
      SimilarityOps.ivfTopKPqIndexed(q, registeredPqIndex(s, dir), c,
          k = 5, nprobe = 2, rerank = 4)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cents AS (SELECT list_id, centroid::DOUBLE[] AS c
                     FROM read_parquet('$IvfCentsDumpPath/*.parquet')),
      books AS (SELECT s, code, word::DOUBLE[] AS w
                FROM read_parquet('$PqBooksDumpPath/*.parquet')),
      codes AS (SELECT list_id, vec_id, codes
                FROM read_parquet('$PqCodesDumpPath/*.parquet')),
      tt AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM tt WHERE vec_id < 10),
      psim AS (SELECT q.query_id, cents.list_id,
          list_cosine_similarity(q.qv, cents.c) AS sim
        FROM q CROSS JOIN cents),
      probes AS (SELECT query_id, list_id FROM (
          SELECT query_id, list_id, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, list_id DESC) AS pr
          FROM psim) WHERE pr <= 2),
      qn AS (SELECT query_id,  qv,
          sqrt(list_sum(list_transform(qv, x -> x * x))) AS nrm FROM q),
      entries AS (SELECT qn.query_id, b.s, b.code,
          CASE WHEN qn.nrm > 0 THEN
            (qn.qv[b.s * 4 + 1] * b.w[1] + qn.qv[b.s * 4 + 2] * b.w[2]
              + qn.qv[b.s * 4 + 3] * b.w[3] + qn.qv[b.s * 4 + 4] * b.w[4])
            / qn.nrm
          ELSE 0 END AS e
        FROM qn CROSS JOIN books b),
      cand AS (SELECT p.query_id, c.vec_id, c.codes
        FROM probes p JOIN codes c USING (list_id)
        WHERE c.vec_id <> p.query_id),
      cexp AS (SELECT query_id, vec_id, so - 1 AS s, codes[so] AS code
        FROM cand, unnest(range(1, 17)) AS r(so)),
      adcp AS (SELECT cexp.query_id, cexp.vec_id, $pqAdcPivots
        FROM cexp JOIN entries e ON e.query_id = cexp.query_id
          AND e.s = cexp.s AND e.code = cexp.code
        GROUP BY cexp.query_id, cexp.vec_id),
      adc AS (SELECT query_id, vec_id, $pqAdcSum AS adc FROM adcp),
      shortlist AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
              ORDER BY adc DESC NULLS LAST, vec_id) AS ra
          FROM adc) WHERE ra <= 20),
      scored AS (SELECT sl.query_id, sl.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, tt.v) AS cos
        FROM shortlist sl JOIN q USING (query_id)
                          JOIN tt ON tt.vec_id = sl.vec_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, cast(rank as int) AS rank, neighbor_id,
        round(cos, 6) AS cosine
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The sim_recall_ann fan-out: the ANN paths and the brute-force
    * reference are INDEPENDENT pipelines over the same inputs, each
    * materializing its own bounded intermediates (shortlists,
    * signatures) eagerly during construction — built sequentially they
    * serialize ~six sub-second jobs; the [[JobPool]] overlaps them
    * (guide §2.6). Brute force is submitted FIRST (FIFO: it starts
    * immediately) and harvested LAST (r22 — VERDICT r21 #8): the ANN
    * union's checkpoint AND the oracle dump write overlap its compute
    * instead of waiting on it. Returns (the `path`-tagged ANN union,
    * brute force). If any branch throws, the pool is aborted — the other
    * branches' Spark jobs are cancelled, not orphaned — and the failure
    * propagates as itself.
    */
  private[queries] def overlapAnnPaths(s: SparkSession, brute: => DataFrame,
      paths: Seq[(String, () => DataFrame)]): (DataFrame, DataFrame) = {
    val pool = new JobPool(s.sparkContext)
    try {
      val bruteFut = pool.submit(brute)
      val annFuts = paths.map { case (p, f) => p -> pool.submit(f()) }
      val annUnion = annFuts
        .map { case (p, fut) =>
          pool.get(fut)
            .select(lit(p).as("path"), col("query_id"), col("neighbor_id"))
        }
        .reduce(_ unionByName _)
        // Eager checkpoint: the union is consumed by the dump and two
        // joins downstream; without it each action re-runs every ANN
        // pipeline.
        .localCheckpoint(true)
      verifyDump(annUnion, AnnDumpPath)
      (annUnion, pool.get(bruteFut))
    } catch {
      case e: Throwable => pool.abort(); throw e
    } finally pool.shutdown()
  }

  /** Recall@k of every ANN path against brute force, as a VALUE-EXACT
    * correctness row (the `sim_topk_*` paths are themselves value-exact
    * via model dump-and-replay since r16 — this row additionally pins
    * their recall arithmetic and the cross-path measurement): the ANN
    * results (exactly the registered queries' parameters) are dumped via
    * [[verifyDump]], and the DuckDB oracle recomputes the brute-force
    * top-k INDEPENDENTLY (same tie-break-by-id idiom as
    * `sim_topk_bruteforce`) and scores the dumped shortlists against it —
    * so a Spark-side ranking or recall-arithmetic bug hash-mismatches.
    * The spec-level recall floors in OpsSpec remain defense-in-depth.
    *
    * The ABSOLUTE recall values reflect the synthetic testdata: the
    * generated embeddings are near-orthogonal random vectors, so the
    * LSH row is tuned to this SF from the tools/LshTune grid (8 bits ×
    * 8 tables → recall ≈ 0.2 at ~3% candidate volume; bucket population
    * scales as N/2^bits, so bits tracks log₂(N) at scale) and IVF gets
    * no cluster structure to exploit (recall ≈ nprobe/nlist-ish). On
    * real clustered embeddings both paths bucket far better; this row
    * pins the MEASUREMENT, parameter-identical to the registered
    * sim_topk_* rows.
    */
  private val s09 = Q("sim_recall_ann",
    (s, dir) => {
      val (q, c) = queriesAndCorpus(s, dir)
      // The session-shared quantizer fit (training is deterministic, so
      // results are identical to each path fitting its own) — the same
      // model the registered sim_topk_* rows serve from. Built (or
      // memo-served) BEFORE the concurrent fan-out below so the thunks
      // never race a model build.
      val cents = registeredIvfCentroids(s, dir)
      val pqIdx = registeredPqIndex(s, dir)
      // The brute-force checkpoint materializes the result consumed twice
      // downstream (hits join + expected count), replacing the old
      // persist.
      val (ann, brute) = overlapAnnPaths(s,
        SimilarityOps.bruteForceTopK(q, c, k = 5)
          .select("query_id", "neighbor_id").localCheckpoint(true),
        Seq[(String, () => DataFrame)](
          "lsh" -> (() => SimilarityOps.lshTopK(q, c, k = 5, bits = 8,
            tables = 8)),
          "ivf" -> (() => SimilarityOps.ivfTopK(q, c, k = 5, nlist = 8,
            nprobe = 2, trainFraction = 0.25, trainIters = 5,
            centroids = Some(cents))),
          "ivf_q8" -> (() => SimilarityOps.ivfTopKQ8(q, c, k = 5, nlist = 8,
            nprobe = 2, trainFraction = 0.25, trainIters = 5, rerank = 4,
            centroids = Some(cents))),
          "ivf_pq" -> (() => SimilarityOps.ivfTopKPqIndexed(q,
            pqIdx, c, k = 5, nprobe = 2, rerank = 4))))
      val hits = ann.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy("path").agg(count(lit(1)).as("n_hits"))
      ann.select("path").distinct()
        .crossJoin(broadcast(brute.agg(count(lit(1)).as("n_expected"))))
        .join(hits, Seq("path"), "left")
        .select(col("path"), col("n_expected"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_expected"), 6).as("recall"))
        .orderBy("path")
    },
    Some(s"""
      WITH ann AS (SELECT path, query_id, neighbor_id
                   FROM read_parquet('$AnnDumpPath/*.parquet')),
      t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM t WHERE vec_id < 10),
      scored AS (SELECT q.query_id, t.vec_id AS neighbor_id,
          list_cosine_similarity(q.qv, t.v) AS cos
        FROM q, t WHERE t.vec_id <> q.query_id),
      ranked AS (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored),
      brute AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
      hits AS (SELECT a.path, count(*) AS n_hits
        FROM ann a JOIN brute b USING (query_id, neighbor_id) GROUP BY a.path),
      d AS (SELECT count(*) AS n_expected FROM brute)
      SELECT p.path, d.n_expected, coalesce(h.n_hits, 0) AS n_hits,
        round(cast(coalesce(h.n_hits, 0) as double) / d.n_expected, 6) AS recall
      FROM (SELECT DISTINCT path FROM ann) p
      CROSS JOIN d LEFT JOIN hits h ON h.path = p.path
      ORDER BY p.path"""))

  /** JL random projection ([[SimilarityOps.randomProjection]]): 64 → 16
    * dims through the md5-derived ±1 Rademacher matrix — the oracle
    * REGENERATES the matrix from the same hash formula and recomputes
    * every projection, so the transform is value-exact end to end. The
    * projected vector is serialized as INTEGER MICRO-UNITS
    * (round(x*1e6) → BIGINT) comma-joined into one string: integers
    * format identically on both engines (doubles don't — trailing
    * zeros / scientific notation), the micro-round absorbs any
    * summation-order ulp exactly like the old 6-dp round, and the
    * driver's comparator can hash the scalar (it cannot sort nested
    * arrays — the project-wide output-shape contract, OutputShapeSpec).
    */
  private val s10 = Q("sim_random_projection",
    (s, dir) => SimilarityOps.randomProjection(
        t(s, dir, "embeddings"), dims = 64, outDims = 16)
      .select(col("vec_id"),
        array_join(transform(col("projected"),
            x => round(x * lit(1e6)).cast("long").cast("string")), ",")
          .as("projected_micros"))
      .orderBy("vec_id"),
    Some("""
      WITH m AS (SELECT j, list_transform(range(0, 64), i ->
            CASE WHEN ('0x' || substr(md5('rp:' || j || ':' || i), 1, 15))::BIGINT
                   % 2 = 0
              THEN 1.0 ELSE -1.0 END) AS mrow
          FROM (SELECT unnest(range(0, 16)) AS j)),
      t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS (SELECT t.vec_id, m.j,
            cast(round(list_sum(list_transform(range(1, 65),
              k -> t.v[k] * m.mrow[k])) * 1e6) as bigint) AS pj
          FROM t CROSS JOIN m)
      SELECT vec_id,
        string_agg(cast(pj as varchar), ',' ORDER BY j) AS projected_micros
      FROM p GROUP BY vec_id ORDER BY vec_id"""))

  /** Cosine via BUILT-IN higher-order functions — `zip_with` (elementwise
    * product) + `aggregate` (sum fold) — the no-custom-code alternative to
    * the native CosineSimilarity expression; both paths against the same
    * DuckDB list arithmetic proves they agree bit-for-bit (sequential
    * double fold in all three). The native expression stays the hot-path
    * choice (single fused loop, no intermediate array), but this is the
    * drop-in formulation on a stock Spark cluster.
    */
  private val s06 = Q("sim_cosine_hof",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)
      // Norms are per-ROW quantities: compute them once per vector and
      // persist, otherwise CollapseProject inlines them into the pair
      // projection and every pair re-folds qv·qv and cv·cv (3 HOF dots
      // per pair instead of 1 — measured 34.8s → ~11s at sf0.1).
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          sqrt(dot(col("embedding"), col("embedding"))).as("qnorm"))
      val c = emb.select(col("vec_id"), col("embedding").as("cv"),
        sqrt(dot(col("embedding"), col("embedding"))).as("cnorm"))
      val cos = dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm"))
      graft.ops.Caching.withCached(c) {
        c.join(broadcast(q), col("query_id") =!= col("vec_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(cos, 6).as("cosine"))
          .filter(col("cosine") >= 0.2)
      }.orderBy("query_id", "neighbor_id")
    },
    Some("""
      WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM t WHERE vec_id < 5),
      p AS (SELECT q.query_id, t.vec_id AS neighbor_id,
              round(list_cosine_similarity(q.qv, t.v), 6) AS cosine
            FROM q, t WHERE t.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, cosine FROM p
      WHERE cosine >= 0.2 ORDER BY query_id, neighbor_id"""))

  /** Sampled label-pair statistics ([[SimilarityOps.labelPairStatsSampled]]):
    * the corpus-scale estimator of within/cross-label cosine separation
    * INCLUDING max_cosine (no algebraic form) — a deterministic
    * FIXED-SIZE hash-order sample, so the quadratic verify and its
    * broadcast are bounded by sampleSize however large the corpus.
    * Complements the exact algebraic `sim_label_stats`.
    */
  private val s07 = Q("sim_label_sample",
    (s, dir) => SimilarityOps.labelPairStatsSampled(
        t(s, dir, "embeddings"), sampleSize = 400).orderBy("grp"),
    Some("""
      WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
            ORDER BY ('0x' || substr(md5('lp' || cast(vec_id as varchar)), 1, 15))::bigint,
                     vec_id
            LIMIT 400),
      p AS (SELECT CASE WHEN a.label = b.label THEN 'within' ELSE 'cross' END AS grp,
              list_cosine_similarity(a.v, b.v) AS cos
            FROM t a JOIN t b ON a.vec_id < b.vec_id)
      SELECT grp, count(*) AS n_pairs,
        round(cast(sum(cast(cos as decimal(18,12))) as double) / count(*), 6) AS avg_cosine,
        round(max(cos), 6) AS max_cosine
      FROM p GROUP BY grp ORDER BY grp"""))

  /** Int8 quantization ([[SimilarityOps.quantizeInt8]]): per-vector
    * symmetric scale + quantized values, reduced to integer aggregates
    * per vector (the array itself reduces like `text_winnow` does — the
    * gate compares scalars). The float→double→max→divide→floor chain is
    * IEEE-identical in DuckDB, so even the unrounded `scale` doubles
    * hash-match.
    */
  private val s08 = Q("sim_quantize_int8",
    (s, dir) => SimilarityOps.quantizeInt8(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("scale"),
        size(col("qvec")).as("n_dims"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x.cast("long"))
          .as("q_sum"),
        array_min(col("qvec")).cast("int").as("q_min"),
        array_max(col("qvec")).cast("int").as("q_max"))
      .orderBy("vec_id"),
    Some("""
      WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM t),
      q AS (SELECT vec_id, mx / 127 AS scale,
              CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
                ELSE list_transform(v, x -> cast(floor(x / mx * 127) as int)) END AS qv
            FROM m)
      SELECT vec_id, scale, cast(len(qv) as int) AS n_dims,
        cast(list_sum(qv) as bigint) AS q_sum,
        cast(list_min(qv) as int) AS q_min,
        cast(list_max(qv) as int) AS q_max
      FROM q ORDER BY vec_id"""))

  /** Per-label L2-norm stats via the codegen'd l2_norm expression; the
    * oracle recomputes the norm with DuckDB list arithmetic (same
    * sequential double summation → identical bits).
    */
  private val s04 = Q("sim_norm_stats",
    (s, dir) => t(s, dir, "embeddings")
      .select(col("label"),
        GraftFunctions.l2_norm(col("embedding")).as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("norm").cast("decimal(18,12)")).cast("double") / count(lit(1)), 6)
          .as("avg_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy("label"),
    Some("""
      WITH t AS (SELECT label,
          sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
        FROM embeddings)
      SELECT label, count(*) AS n_vectors,
        round(cast(sum(cast(norm as decimal(18,12))) as double) / count(*), 6) AS avg_norm,
        round(max(norm), 6) AS max_norm
      FROM t GROUP BY label ORDER BY label"""))

  // -------------------------------------------------------------- text

  private val x01 = Q("text_stats_by_lang",
    (s, dir) => TextOps.withTokenStats(t(s, dir, "documents"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        expr("round(cast(sum(n_tokens) as double) / count(*), 6)").as("avg_tokens"),
        expr("round(cast(sum(n_chars) as double) / count(*), 6)").as("avg_chars"),
        max(col("n_tokens")).cast("int").as("max_tokens"))
      .orderBy("lang"),
    Some("""
      WITH d AS (SELECT lang, cast(len(string_split(text, ' ')) as int) AS n_tokens, n_chars
                 FROM documents)
      SELECT lang, count(*) AS n_docs,
        cast(sum(n_tokens) as bigint) AS total_tokens,
        round(cast(sum(n_tokens) as double) / count(*), 6) AS avg_tokens,
        round(cast(sum(n_chars) as double) / count(*), 6) AS avg_chars,
        cast(max(n_tokens) as int) AS max_tokens
      FROM d GROUP BY lang ORDER BY lang"""))

  private val x02 = Q("text_langid_confusion",
    (s, dir) => TextOps.withLangId(t(s, dir, "documents"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang"),
    Some("""
      WITH d AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
      h AS (SELECT lang,
          len(list_filter(tk, t -> t IN ('the','a','of','and','is','to'))) AS h_en,
          len(list_filter(tk, t -> t IN ('der','die','und','von','das','ist'))) AS h_de,
          len(list_filter(tk, t -> t IN ('el','los','y','que','es','una'))) AS h_es,
          len(list_filter(tk, t -> t IN ('le','les','et','que','est','une'))) AS h_fr,
          len(list_filter(tk, t -> t IN ('de5','shi4','le5','he2','zai4','you3'))) AS h_zh
        FROM d),
      p AS (SELECT lang, CASE
          WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
          WHEN h_de > 0 AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
          WHEN h_es > 0 AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
          WHEN h_fr > 0 AND h_fr >= h_zh THEN 'fr'
          WHEN h_zh > 0 THEN 'zh'
          ELSE 'und' END AS pred_lang
        FROM h)
      SELECT lang, pred_lang, count(*) AS n
      FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""))

  private val x03 = Q("text_quality_scores",
    (s, dir) => TextOps.withQualityScore(t(s, dir, "documents"))
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"),
        col("uniq_ratio"), col("stop_ratio"), col("quality_score"))
      .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      x AS (SELECT doc_id,
          cast(len(tk) as double) AS n_tok,
          cast(len(list_distinct(tk)) as double) AS n_uniq,
          cast(len(list_filter(tk, t -> t IN ('the','a','of','and','is','to'))) as double) AS n_stop
        FROM d)
      SELECT doc_id, cast(n_tok as int) AS n_tokens,
        round(n_uniq / n_tok, 6) AS uniq_ratio,
        round(n_stop / n_tok, 6) AS stop_ratio,
        round(least(n_tok / 100.0, 1.0) * 0.4 + (n_uniq / n_tok) * 0.4
          + (1.0 - n_stop / n_tok) * 0.2, 6) AS quality_score
      FROM x ORDER BY doc_id"""))

  // Docs with <3 tokens have no 3-gram shingles → no fingerprint; BOTH
  // sides drop them (Spark filter ≙ oracle's WHERE len(tk) >= 3) so the
  // row sets agree on any corpus, not just one without short docs.
  private val x04 = Q("text_fingerprints",
    (s, dir) => TextOps.withFingerprint(t(s, dir, "documents"))
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select("doc_id", "fingerprint")
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      s AS (SELECT doc_id, list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sh
            FROM t WHERE len(tk) >= 3)
      SELECT doc_id, list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS fingerprint
      FROM s ORDER BY doc_id"""))

  private val x05 = Q("text_token_counts",
    (s, dir) => TextOps.withTokenStats(t(s, dir, "documents"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_ws_tokens"),
        sum(col("n_regex_tokens")).as("total_regex_tokens"))
      .orderBy("source"),
    Some("""
      WITH d AS (SELECT source,
          len(string_split(text, ' ')) AS ws,
          len(regexp_extract_all(text, '\w+|[^\w\s]')) AS re
        FROM documents)
      SELECT source, count(*) AS n_docs,
        cast(sum(ws) as bigint) AS total_ws_tokens,
        cast(sum(re) as bigint) AS total_regex_tokens
      FROM d GROUP BY source ORDER BY source"""))

  /** Deterministic token-budget sharding ([[LayoutOps.packByTokenBudget]]):
    * documents in doc_id order form one token stream; each doc's shard is
    * its global token offset div the budget — the layout step that maps a
    * corpus onto fixed-size training shards. The oracle recomputes the
    * offsets with the single-reducer global window the distributed
    * prefix-sum replaces, so the two formulations cross-check.
    */
  private val x12 = Q("text_shard_pack",
    (s, dir) => LayoutOps.packByTokenBudget(
        t(s, dir, "documents")
          .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens")),
        keyCol = "doc_id", weightCol = "n_tokens", budget = 10000L)
      .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM d)
      SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
        cast(off as bigint) AS token_offset,
        cast(off // 10000 as bigint) AS shard_id
      FROM c ORDER BY doc_id"""))

  /** Context-window chunking ([[TextOps.chunkByTokenBudget]]): every doc
    * split into ≤40-token chunks overlapping by 8 — the map-side 1→N
    * expansion between curation and shard packing. Chunk text is reported
    * as md5 (proves byte-exact slicing without writing the text twice).
    */
  private val x13 = Q("text_chunk_budget",
    (s, dir) => TextOps.chunkByTokenBudget(
        t(s, dir, "documents"), maxTokens = 40, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("chunk_tokens"), md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx"),
    Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      n AS (SELECT doc_id, t, len(t) AS n FROM tk),
      c AS (SELECT doc_id, t, n,
              CASE WHEN n <= 40 THEN 1 ELSE (n - 40 + 31) // 32 + 1 END AS nc
            FROM n),
      e AS (SELECT doc_id, t, n, unnest(range(nc)) AS ci FROM c),
      s AS (SELECT doc_id, cast(ci as int) AS chunk_idx,
              cast(ci * 32 as int) AS start_tok,
              t[ci*32 + 1 : least(ci*32 + 40, n)] AS ct FROM e)
      SELECT doc_id, chunk_idx, start_tok, cast(len(ct) as int) AS chunk_tokens,
        md5(array_to_string(ct, ' ')) AS chunk_md5
      FROM s ORDER BY doc_id, chunk_idx"""))

  /** Heavy hitters via the SpaceSaving TypedImperativeAggregate
    * ([[graft.functions.ApproxTopK]]). The 4096 capacity is
    * EXACTNESS-CRITICAL, not a tuning knob: the generated corpus draws
    * from a vocabulary of a few hundred distinct tokens, so capacity ≫
    * vocabulary means no SpaceSaving eviction ever fires, every counter is
    * exact (error 0), and the value-exact comparison against the plain
    * top-k oracle below is legitimate. Shrinking capacity below the
    * vocabulary would make counts approximate (nonzero `err`) and the
    * oracle's `err = 0` column wrong BY DESIGN, not by bug. Memory-wise a
    * 4096-entry sketch per partial aggregate is trivial; the single-
    * reducer final merge handles one such sketch, sound at any corpus
    * scale because sketch size, not corpus size, bounds the merge.
    */
  private val x06 = Q("text_top_tokens",
    (s, dir) => t(s, dir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .agg(GraftFunctions.approx_top_k(col("token"), 10, 4096).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("t.item").as("token"), col("t.count").as("n"), col("t.error").as("err"))
      .orderBy("rank"),
    Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
      r AS (SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c)
      SELECT cast(rank as int) AS rank, token, n, cast(0 as bigint) AS err
      FROM r WHERE rank <= 10 ORDER BY rank"""))

  /** Repetition signals ([[TextOps.repetitionSignals]]): top-unigram /
    * top-bigram mass fraction per doc — the self-repetition quality gate.
    */
  private val x07 = Q("text_repetition",
    (s, dir) => TextOps.repetitionSignals(t(s, dir, "documents"))
      .orderBy("doc_id"),
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      u AS (SELECT doc_id, unnest(tk) AS g FROM d),
      uc AS (SELECT doc_id, g, count(*) AS n FROM u GROUP BY doc_id, g),
      ua AS (SELECT doc_id, cast(sum(n) as bigint) AS n_tokens, max(n) AS top_u
             FROM uc GROUP BY doc_id),
      b AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i+1])) AS g
            FROM d WHERE len(tk) >= 2),
      bc AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY doc_id, g),
      ba AS (SELECT doc_id, cast(sum(n) as bigint) AS n_bigrams, max(n) AS top_b
             FROM bc GROUP BY doc_id)
      SELECT ua.doc_id AS doc_id, n_tokens,
        round(cast(top_u as double) / cast(n_tokens as double), 6) AS top_unigram_ratio,
        round(cast(top_b as double) / cast(n_bigrams as double), 6) AS top_bigram_ratio
      FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
      ORDER BY ua.doc_id"""))

  /** TF-IDF top terms per source: global IDF (ln(N/df), df = docs
    * containing the token) × per-source term frequency, top 3 by weight.
    * The doc count joins in as a broadcast scalar — no driver-side
    * constant folding, the plan stays fully declarative.
    */
  private val x08 = Q("text_tfidf_top",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // One tokenize+explode pass, immediately collapsed to per-(doc,token)
      // counts (map-side partial agg shrinks the shuffle to distinct keys).
      // df and tf both derive from this small frame — the naive two-branch
      // formulation re-tokenized the whole corpus twice and paid a
      // countDistinct shuffle over the raw explode (31.8s → ~3s at sf0.1).
      // doc_id determines source, so rows-per-token == distinct docs.
      val tokc = docs.select(col("source"), col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("source", "doc_id", "token").agg(count(lit(1)).as("n"))
      val dfc = tokc.groupBy("token").agg(count(lit(1)).as("dfc"))
      val st = tokc.groupBy("source", "token").agg(sum(col("n")).as("tf"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      val scored = st.join(dfc, "token").crossJoin(broadcast(nd))
        .withColumn("tfidf",
          round(col("tf") * log(col("nd").cast("double") / col("dfc").cast("double")), 6))
      // Top-3 via the bounded-heap TopKPerKey plan: sources are FEW HUGE
      // groups, and a row_number window partitioned by source sorts one
      // source's whole vocabulary in one task; the plan's partial stage
      // keeps a 3-row heap per source map-side. The visible rank is
      // recomputed on the CAPPED frame (≤ 3·sources rows) — same total
      // order, so it equals the window oracle's rank exactly.
      graft.ops.Caching.withCached(tokc) {
        val capped = graft.plans.GraftPlans.topKPerKey(scored,
          keys = Seq("source"),
          orderBy = Seq(("tfidf", false), ("token", true)), k = 3)
        val w = Window.partitionBy("source")
          .orderBy(col("tfidf").desc, col("token").asc)
        capped.withColumn("rank", row_number().over(w).cast("int"))
          .select(col("source"), col("rank"), col("token"), col("tfidf"))
      }.orderBy("source", "rank")
    },
    Some("""
      WITH tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS token
                   FROM documents),
      n AS (SELECT count(*) AS nd FROM documents),
      df AS (SELECT token, count(DISTINCT doc_id) AS dfc FROM tok GROUP BY token),
      st AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY source, token),
      sc AS (SELECT source, st.token,
               round(tf * ln(cast(nd as double) / cast(dfc as double)), 6) AS tfidf
             FROM st JOIN df ON st.token = df.token CROSS JOIN n),
      r AS (SELECT source, token, tfidf,
              row_number() OVER (PARTITION BY source
                                 ORDER BY tfidf DESC, token) AS rank
            FROM sc)
      SELECT source, cast(rank as int) AS rank, token, tfidf
      FROM r WHERE rank <= 3 ORDER BY source, rank"""))

  /** CCNet-style language-model quality scoring: a unigram LM trained on
    * the corpus itself (token log-probabilities from global frequencies),
    * each document scored by its mean token log-prob — low scores flag
    * out-of-distribution/garbled text, the standard model-based quality
    * gate between heuristic scoring and an external perplexity model.
    * No smoothing needed: every scored token is in-vocab by construction
    * (same corpus trains and scores); scoring a DIFFERENT corpus would
    * add it.
    *
    * Shape at 100 TB: token frequencies are a vocab-bounded aggregate
    * (map-side partial), the model broadcasts (vocab ≪ corpus), and
    * scoring is one explode + broadcast join + per-doc agg. The per-doc
    * mean sums decimal(18,12)-cast log-probs so the result is
    * shuffle-order independent (the s07 idiom); `log` ≡ DuckDB `ln` on
    * identical doubles (the x08 idiom). The tokenized frame is persisted
    * across its two uses (train + score), not re-exploded.
    */
  /** [[x12]]'s subword sibling: token-budget shard packing weighted by
    * the byte-level BPE count ([[graft.functions.BpeTokenCount]], bundled
    * merge table) instead of whitespace tokens — what a real training
    * pipeline packs by. Value-exact: the oracle replays the identical
    * merge table via [[graft.functions.Bpe.duckdbTokenCountExpr]] (one
    * replace per merge over the hex rendering), so the weights — and
    * therefore every offset and shard id — must match bit-for-bit.
    */
  private val x15 = Q("text_shard_pack_bpe",
    (s, dir) => LayoutOps.packByTokenBudget(
        t(s, dir, "documents")
          .select(col("doc_id"),
            GraftFunctions.bpe_token_count(col("text")).as("n_tokens")),
        keyCol = "doc_id", weightCol = "n_tokens", budget = 10000L)
      .orderBy("doc_id"),
    Some(s"""
      WITH d AS (SELECT doc_id,
              ${graft.functions.Bpe.duckdbTokenCountExpr("text")} AS n_tokens
            FROM documents),
      c AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM d)
      SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
        cast(off as bigint) AS token_offset,
        cast(off // 10000 as bigint) AS shard_id
      FROM c ORDER BY doc_id"""))

  /** Tokenizer fertility report: per-language chars/token and
    * subwords/word under the bundled byte-level BPE — the number a team
    * checks before committing to a tokenizer (high fertility on a
    * language means its documents cost disproportionate sequence
    * length). Pure per-row native expressions into one map-side
    * aggregation; the oracle replays the same merge table.
    */
  private val x24 = Q("text_bpe_fertility",
    (s, dir) => t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_words"),
        sum(GraftFunctions.bpe_token_count(col("text")).cast("long")).as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_bpe"),
        round(col("n_chars").cast("double") / col("n_bpe"), 6)
          .as("chars_per_token"),
        round(col("n_bpe").cast("double") / col("n_words"), 6).as("fertility"))
      .orderBy("lang"),
    Some(s"""
      WITH d AS (SELECT lang, len(text) AS n_chars,
              len(string_split(text, ' ')) AS n_words,
              ${graft.functions.Bpe.duckdbTokenCountExpr("text")} AS n_bpe
            FROM documents)
      SELECT lang, count(*) AS n_docs,
        cast(sum(n_chars) as bigint) AS n_chars,
        cast(sum(n_words) as bigint) AS n_words,
        cast(sum(n_bpe) as bigint) AS n_bpe,
        round(cast(sum(n_chars) as double) / sum(n_bpe), 6) AS chars_per_token,
        round(cast(sum(n_bpe) as double) / sum(n_words), 6) AS fertility
      FROM d GROUP BY lang ORDER BY lang"""))

  /** [[x13]]'s subword sibling: context-window chunking where the budget
    * currency is BPE tokens ([[graft.functions.BpeChunks]]). Value-exact
    * end to end: BPE tokens are contiguous byte slices, so each chunk is
    * a contiguous byte range reported as `hex(chunk_bytes)` — and the
    * oracle's chunk hex is just the concatenation of the replayed token
    * hex strings in the window, no byte arithmetic at all.
    */
  private val x16 = Q("text_chunk_budget_bpe",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        explode(GraftFunctions.bpe_chunks(col("text"), maxTokens = 40, overlap = 8))
          .as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.start_tok").as("start_tok"), col("c.n_tokens").as("n_tokens"),
        hex(col("c.chunk_bytes")).as("chunk_hex"))
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""
      WITH d AS (SELECT doc_id, text,
              ${graft.functions.Bpe.duckdbRenderedExpr("text")} AS s
            FROM documents),
      p AS (SELECT doc_id, text, string_split(s, '||') AS parts FROM d),
      t2 AS (SELECT doc_id,
              CASE WHEN len(text) = 0 THEN []::VARCHAR[]
                ELSE parts[2:len(parts)-1] END AS toks
            FROM p),
      n AS (SELECT doc_id, toks, len(toks) AS n FROM t2),
      c AS (SELECT doc_id, toks, n,
              CASE WHEN n = 0 THEN 0 WHEN n <= 40 THEN 1
                ELSE (n - 40 + 31) // 32 + 1 END AS nc
            FROM n),
      e AS (SELECT doc_id, toks, n, unnest(range(nc)) AS ci FROM c)
      SELECT doc_id, cast(ci as int) AS chunk_idx,
        cast(ci*32 as int) AS start_tok,
        cast(least(ci*32 + 40, n) - ci*32 as int) AS n_tokens,
        array_to_string(toks[ci*32 + 1 : least(ci*32 + 40, n)], '') AS chunk_hex
      FROM e ORDER BY doc_id, chunk_idx"""))

  /** The subword pipeline composition: BPE-budget chunking ([[x16]]) →
    * compound-key token-budget shard packing — `pipeline_pack_shards`'
    * budget currency upgraded from whitespace words to BPE tokens in
    * both stages. Value-exact: chunk weights replay through the oracle's
    * replace pipeline, the prefix sum over `(doc_id, chunk_idx)` is the
    * same single-window formulation the distributed two-phase pack must
    * reproduce bit-for-bit.
    */
  /** Corpus-trained BPE merge table ([[TextOps.trainBpeMerges]]): 8
    * word-type BPE merges learned from the documents corpus — rank,
    * hex-token left/right sides, weighted pair count. The DuckDB oracle
    * replays the FULL training loop as a generated chain of per-step
    * CTEs (count pairs → argmax with the same count-desc/pair-asc
    * tie-break → one alignment-safe delimited replace), so a drift in
    * counting (overlap semantics), tie-breaking, or merge application
    * hash-mismatches. The result is model-sized by construction
    * (numMerges rows built driver-side, like the IVF centroid model).
    */
  private val x18 = Q("text_bpe_train",
    (s, dir) => {
      val merges = registeredBpeMerges(s, dir)
      val rows = merges.zipWithIndex.map { case ((l, r, c), i) => (i + 1, l, r, c) }
      s.createDataFrame(rows).toDF("merge_rank", "left_hex", "right_hex", "pair_count")
        .orderBy("merge_rank")
    },
    Some(bpeTrainOracleSql(8)))

  /** Generated oracle for [[x18]]: `w0` is the hex-delimited word
    * vocabulary with frequencies; step `k` counts adjacent pairs of the
    * step-`k-1` tokenization, picks the argmax (count DESC, pair string
    * ASC — hex alphabet sorts above the space separator, so the pair
    * string order IS the (left, right) tuple order), and applies the
    * merge with the same `|L||R|` → `|LR|` delimited replace as the
    * Scala trainer. DuckDB's replace scans left-to-right non-overlapping
    * — the identical greedy semantics.
    */
  /** Shared CTE chain of [[bpeTrainOracleSql]] and [[bpeApplyOracleSql]]:
    * the word vocabulary (each `w_k` carries the word itself, so the
    * apply oracle can join documents back to their trained
    * tokenization — the extra column is invisible to the train oracle's
    * `b_k` argmaxes) plus `numMerges` train-and-apply steps.
    */
  private def bpeChainCtes(numMerges: Int): String = {
    val steps = (1 to numMerges).map { k =>
      s"""p$k AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS pr, cnt
            FROM (SELECT list_filter(string_split_regex(toks, '\\|+'), x -> x <> '') AS t, cnt FROM w${k - 1})),
      c$k AS (SELECT pr, sum(cnt) AS c FROM p$k GROUP BY pr),
      b$k AS MATERIALIZED (SELECT pr, c FROM c$k ORDER BY c DESC, pr LIMIT 1),
      w$k AS MATERIALIZED (SELECT w, replace(toks,
                '|' || replace((SELECT pr FROM b$k), ' ', '||') || '|',
                '|' || replace((SELECT pr FROM b$k), ' ', '') || '|') AS toks, cnt
              FROM w${k - 1})"""
    }.mkString(",\n      ")
    s"""w0 AS (
        SELECT w, '||' || array_to_string(list_transform(range(1, len(h) // 2 + 1),
                 i -> h[2*i-1:2*i]), '||') || '||' AS toks, cnt
        FROM (SELECT w, hex(w) AS h, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
              GROUP BY w)),
      $steps"""
  }

  private def bpeTrainOracleSql(numMerges: Int): String = {
    val finals = (1 to numMerges).map { k =>
      s"""SELECT $k AS merge_rank,
        string_split((SELECT pr FROM b$k), ' ')[1] AS left_hex,
        string_split((SELECT pr FROM b$k), ' ')[2] AS right_hex,
        (SELECT c FROM b$k)::BIGINT AS pair_count"""
    }.mkString(" UNION ALL ")
    s"""
      WITH ${bpeChainCtes(numMerges)}
      SELECT merge_rank, left_hex, right_hex, pair_count FROM ($finals)
      ORDER BY merge_rank"""
  }

  /** Oracle for [[x19]]: replay the WHOLE training loop (the shared
    * chain), then tokenize every document by joining its words to the
    * step-`numMerges` vocabulary tokenization — exactly the word-type
    * lookup the Spark op performs.
    */
  private def bpeApplyOracleSql(numMerges: Int): String = s"""
      WITH ${bpeChainCtes(numMerges)},
      tokn AS (SELECT w,
          len(list_filter(string_split_regex(toks, '\\|+'), x -> x <> '')) AS nt
        FROM w$numMerges),
      docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      SELECT d.doc_id, count(*)::BIGINT AS n_words, sum(t.nt)::BIGINT AS n_tokens
      FROM docw d JOIN tokn t USING (w)
      GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** Intra-document dedup ([[TextOps.dedupIntraDoc]]): consecutive-token
    * run collapse (bites on 388/500 synthetic docs) + first-occurrence
    * line dedup (structurally exercised — the synthetic corpus is
    * single-line, so the line columns pin the degenerate case; fixtures
    * cover multi-line in CurationOpsSpec). The collapsed text is pinned
    * by md5, not returned verbatim, to keep the row narrow.
    */
  private val x20 = Q("text_dedup_intra",
    (s, dir) => TextOps.dedupIntraDoc(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("n_runs_collapsed"),
        md5(col("text_runs_collapsed")).as("collapsed_md5"),
        col("n_lines"), col("n_dup_lines_removed"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
          string_split(text, chr(10)) AS ln FROM documents),
      r AS (SELECT doc_id,
        len(tk) AS n_tokens,
        list_filter(tk, (x, i) -> i = 1 OR x <> tk[greatest(i - 1, 1)]) AS ck,
        len(ln) AS n_lines,
        list_filter(ln, (x, i) -> list_position(ln, x) = i) AS kl
       FROM t)
      SELECT doc_id, n_tokens, n_tokens - len(ck) AS n_runs_collapsed,
        md5(array_to_string(ck, ' ')) AS collapsed_md5,
        n_lines, n_lines - len(kl) AS n_dup_lines_removed
      FROM r ORDER BY doc_id"""))

  /** Cross-document paragraph dedup ([[TextOps.dedupParagraphsAcrossDocs]],
    * the RefinedWeb/FineWeb boilerplate cleanup). The synthetic corpus is
    * single-line, so paragraphs are derived deterministically as
    * consecutive 8-word groups (both engines apply the same grouping);
    * keep-first-global then drops every later copy of a repeated
    * paragraph and the md5 of the re-joined text pins the full rewrite.
    */
  private val x21 = Q("text_paragraph_dedup",
    (s, dir) => {
      TextOps.dedupParagraphsAcrossDocs(derivedParas(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("text_deduped")).as("dedup_md5"),
          length(col("text_deduped")).cast("long").as("n_chars_out"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $paraKeepCtes,
      a AS (SELECT doc_id, count(*) AS n_paras,
              sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
              coalesce(string_agg(CASE WHEN keep THEN para END, chr(10)
                ORDER BY para_idx), '') AS txt
            FROM k GROUP BY doc_id)
      SELECT doc_id, cast(n_paras as bigint) AS n_paras,
        cast(n_kept as bigint) AS n_kept,
        md5(txt) AS dedup_md5, cast(length(txt) as bigint) AS n_chars_out
      FROM a ORDER BY doc_id"""))

  /** Duplicated n-gram span coverage ([[TextOps.crossDocDupSpans]], the
    * Lee et al. 2021 exact-substring-dedup statistic): per doc, the exact
    * token count covered by 8-grams shared with ≥2 distinct documents —
    * interval union computed by the sorted-starts lead() identity on both
    * engines.
    */
  private val x22 = Q("text_dup_spans",
    (s, dir) => dupSpansFor(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("n_dup_starts"),
        col("dup_tokens"), col("dup_frac"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      g AS (SELECT doc_id, cast(i as int) AS pos,
              list_aggregate(tk[i:i+7], 'string_agg', ' ') AS gram
            FROM t, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
      d AS (SELECT gram FROM g GROUP BY gram HAVING count(distinct doc_id) >= 2),
      o AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM g JOIN d USING (gram)),
      c AS (SELECT doc_id, count(*) AS n_dup_starts,
              sum(least(8, coalesce(nxt - pos, 8))) AS dup_tokens
            FROM o GROUP BY doc_id),
      n AS (SELECT doc_id, len(tk) AS n_tokens FROM t)
      SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
        cast(coalesce(n_dup_starts, 0) as bigint) AS n_dup_starts,
        cast(coalesce(dup_tokens, 0) as bigint) AS dup_tokens,
        round(cast(coalesce(dup_tokens, 0) as double) / n_tokens, 6) AS dup_frac
      FROM n LEFT JOIN c USING (doc_id) ORDER BY doc_id"""))

  /** Exact-substring span REMOVAL ([[TextOps.dedupSubstringsAcrossDocs]],
    * the rewrite half of Lee et al. 2021): tokens covered only by
    * redundant copies of a cross-doc 8-gram are dropped, the globally
    * first copy survives verbatim — the full rewrite of every doc pinned
    * by md5.
    */
  private val x23 = Q("text_substring_dedup",
    (s, dir) => TextOps.dedupSubstringsAcrossDocs(t(s, dir, "documents"), n = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("text_dedup")).as("dedup_md5"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      g AS (SELECT doc_id, cast(i as int) AS pos,
              list_aggregate(tk[i:i+7], 'string_agg', ' ') AS gram
            FROM t, unnest(range(1, greatest(len(tk)-7, 0)+1)) AS r(i)),
      d AS (SELECT gram FROM g GROUP BY gram HAVING count(distinct doc_id) >= 2),
      o AS (SELECT doc_id, pos,
              (row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)) = 1
                AS kept
            FROM g JOIN d USING (gram)),
      pd AS (SELECT doc_id, list(pos ORDER BY pos) AS ds,
              list(pos ORDER BY pos) FILTER (WHERE kept) AS ks
            FROM o GROUP BY doc_id),
      kt AS (SELECT t.doc_id, tk,
              coalesce(ds, []::int[]) AS ds2, coalesce(ks, []::int[]) AS ks2
            FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id),
      f AS (SELECT doc_id, len(tk) AS n_tokens,
              list_filter(tk, (x, i) -> NOT (
                len(list_filter(ds2, p -> p <= i AND i < p + 8)) > 0 AND
                len(list_filter(ks2, p -> p <= i AND i < p + 8)) = 0)) AS kept
            FROM kt)
      SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
        cast(n_tokens - len(kept) as bigint) AS n_removed,
        md5(coalesce(array_to_string(kept, ' '), '')) AS dedup_md5
      FROM f ORDER BY doc_id"""))

  /** DSIR importance weights ([[CurationOps.dsirLogWeights]], Xie et al.
    * 2023): hashed-unigram log-likelihood-ratio of every document against
    * the English subset as the target distribution — the oracle replays
    * the bucket hash, the smoothed per-bucket log-ratios (decimal-pinned),
    * and the exact-decimal per-doc sums.
    */
  private val d24 = Q("curate_dsir_weights",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      CurationOps.dsirLogWeightsForSubset(docs, col("lang") === "en",
          buckets = 64)
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                   FROM documents),
      b AS (SELECT doc_id, lang,
              ('0x' || substr(md5('dsir' || w), 1, 15))::bigint % 64 AS bk
            FROM tok),
      raw AS (SELECT bk, count(*) AS cr FROM b GROUP BY bk),
      tgt AS (SELECT bk, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY bk),
      tots AS (SELECT (SELECT count(*) FROM b) AS tr,
                      (SELECT count(*) FROM b WHERE lang = 'en') AS tt),
      spine AS (SELECT unnest(range(64)) AS bk),
      model AS (SELECT bk,
          cast(ln(cast(coalesce(ct, 0) + 1 as double) / cast(tt + 64 as double))
             - ln(cast(coalesce(cr, 0) + 1 as double) / cast(tr + 64 as double))
            as decimal(18,12)) AS lam
        FROM spine LEFT JOIN raw USING (bk) LEFT JOIN tgt USING (bk), tots),
      perdoc AS (SELECT doc_id, bk, count(*) AS c FROM b GROUP BY doc_id, bk)
      SELECT doc_id, cast(sum(c) as bigint) AS n_tokens,
        round(cast(sum(c * lam) as double), 6) AS dsir_logweight
      FROM perdoc JOIN model USING (bk)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Train-then-serve composition ([[TextOps.bpeTrainedTokenCounts]]):
    * the corpus priced in the subword units of its OWN trained merge
    * table — the oracle replays the full training loop AND the word-type
    * lookup, so both halves of the tokenizer lifecycle are value-exact
    * in one row.
    */
  private val x19 = Q("text_bpe_apply",
    (s, dir) => {
      val merges = registeredBpeMerges(s, dir)
      TextOps.bpeTrainedTokenCounts(t(s, dir, "documents"),
          merges.map { case (l, r, _) => (l, r) })
        .orderBy("doc_id")
    },
    Some(bpeApplyOracleSql(8)))

  private val x17 = Q("pipeline_pack_bpe",
    (s, dir) => {
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(GraftFunctions.bpe_chunks(col("text"), maxTokens = 40, overlap = 8))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_tokens").as("n_tokens"))
      LayoutOps.packByTokenBudgetKeys(chunks, Seq("doc_id", "chunk_idx"),
          weightCol = "n_tokens", budget = 2000L)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("token_offset"), col("shard_id"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(s"""
      WITH d AS (SELECT doc_id, text,
              ${graft.functions.Bpe.duckdbRenderedExpr("text")} AS s
            FROM documents),
      p AS (SELECT doc_id, text, string_split(s, '||') AS parts FROM d),
      t2 AS (SELECT doc_id,
              CASE WHEN len(text) = 0 THEN []::VARCHAR[]
                ELSE parts[2:len(parts)-1] END AS toks
            FROM p),
      n AS (SELECT doc_id, len(toks) AS n FROM t2),
      c AS (SELECT doc_id, n,
              CASE WHEN n = 0 THEN 0 WHEN n <= 40 THEN 1
                ELSE (n - 40 + 31) // 32 + 1 END AS nc
            FROM n),
      e AS (SELECT doc_id, n, unnest(range(nc)) AS ci FROM c),
      ch AS (SELECT doc_id, cast(ci as int) AS chunk_idx,
               least(ci*32 + 40, n) - ci*32 AS w FROM e),
      o AS (SELECT doc_id, chunk_idx, w,
              coalesce(sum(w) OVER (ORDER BY doc_id, chunk_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM ch)
      SELECT doc_id, chunk_idx, cast(w as bigint) AS n_tokens,
        cast(off as bigint) AS token_offset,
        cast(off // 2000 as bigint) AS shard_id
      FROM o ORDER BY doc_id, chunk_idx"""))

  private val x14 = Q("text_lm_score",
    (s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      // Corpus total as a broadcast scalar (the x08 idiom), NOT an
      // unpartitioned window — that would funnel the whole vocabulary
      // through one task. `counts` is persisted alongside tok: it feeds
      // both the total and the per-token model.
      val counts = tok.groupBy("t").agg(count(lit(1)).as("c"))
      val total = counts.agg(sum("c").as("n"))
      val model = counts.crossJoin(broadcast(total))
        .select(col("t"),
          log(col("c").cast("double") / col("n").cast("double")).as("logp"))
      graft.ops.Caching.withCached(tok, counts) {
        tok.join(broadcast(model), "t")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("logp").cast("decimal(18,12)")).cast("double")
              / count(lit(1)), 6).as("lm_score"))
      }.orderBy("doc_id")
    },
    Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      f AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
      tot AS (SELECT sum(c) AS n FROM f),
      lp AS (SELECT t, ln(cast(c as double) / cast((SELECT n FROM tot) as double))
               AS logp FROM f),
      s AS (SELECT doc_id, count(*) AS n_tokens,
              round(cast(sum(cast(logp as decimal(18,12))) as double) / count(*), 6)
                AS lm_score
            FROM tok JOIN lp USING (t) GROUP BY doc_id)
      SELECT doc_id, n_tokens, lm_score FROM s ORDER BY doc_id"""))

  /** Winnowing fingerprint sets ([[TextOps.winnowFingerprints]], k=3 w=4):
    * per-doc count/min/max of the selected window minima — value-exact
    * because the hash (60-bit md5 prefix) and the window-min selection are
    * reproduced verbatim in DuckDB list algebra.
    */
  private val x09 = Q("text_winnow",
    (s, dir) => TextOps.winnowFingerprints(t(s, dir, "documents"))
      .select(col("doc_id"), size(col("winnow_fps")).as("n_fp"),
        array_min(col("winnow_fps")).as("min_fp"),
        array_max(col("winnow_fps")).as("max_fp"))
      .orderBy("doc_id"),
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      $winnowCte
      SELECT doc_id, cast(len(fps) as int) AS n_fp,
        list_aggregate(fps, 'min') AS min_fp,
        list_aggregate(fps, 'max') AS max_fp
      FROM wn ORDER BY doc_id"""))

  /** Cleaning stage ([[TextOps.cleanText]]): per-source byte-delta stats
    * after tag-strip / email-redact / number-mask / whitespace-collapse —
    * the oracle applies the identical regex stack (Java∩RE2 dialect) with
    * DuckDB's 'g' flag.
    */
  private val x10 = Q("text_clean_stats",
    (s, dir) => {
      // The synthetic corpus contains no tags/emails/digits, so dirty it
      // deterministically (both engines apply the same concat) — the
      // cleaning deltas are then nonzero and still value-exact.
      val dirty = t(s, dir, "documents").withColumn("dirty",
        concat(col("text"), lit(" ref "), col("doc_id").cast("string"),
          lit(" <meta k=1> a"), col("doc_id").cast("string"), lit("@ex.com")))
      TextOps.cleanText(dirty, textCol = "dirty")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("dirty"))).as("chars_in"),
          sum(length(col("clean"))).as("chars_out"),
          count(when(col("clean") =!= col("dirty"), 1)).as("n_changed"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT source,
          concat(text, ' ref ', cast(doc_id as varchar), ' <meta k=1> a',
                 cast(doc_id as varchar), '@ex.com') AS dirty
        FROM documents),
      c AS (SELECT source, dirty,
          trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            dirty,
            '<[^>]*>', ' ', 'g'),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\d+', '<NUM>', 'g'),
            '\s+', ' ', 'g')) AS clean
        FROM d)
      SELECT source, count(*) AS n_docs,
        cast(sum(len(dirty)) as bigint) AS chars_in,
        cast(sum(len(clean)) as bigint) AS chars_out,
        count(CASE WHEN clean <> dirty THEN 1 END) AS n_changed
      FROM c GROUP BY source ORDER BY source"""))

  /** One-pass column profile ([[StatsOps.profile]]) over documents: the
    * QA stage between pipeline steps. String-cast min/max so all column
    * types share one schema; binary collation both engines.
    */
  private val x11 = Q("stats_profile",
    (s, dir) => StatsOps.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source"))
      .orderBy("column"),
    Some("""
      SELECT * FROM (
        SELECT 'doc_id' AS "column", count(*) AS n_rows, count(doc_id) AS n_nonnull,
          count(DISTINCT doc_id) AS n_distinct,
          min(cast(doc_id as varchar)) AS min_val, max(cast(doc_id as varchar)) AS max_val
        FROM documents
        UNION ALL
        SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
          min(cast(lang as varchar)), max(cast(lang as varchar)) FROM documents
        UNION ALL
        SELECT 'source', count(*), count(source), count(DISTINCT source),
          min(cast(source as varchar)), max(cast(source as varchar)) FROM documents)
      ORDER BY "column""""))

  /** Count-Min sketch frequency estimates ([[StatsOps.cmsSketch]] +
    * [[StatsOps.cmsEstimate]]): build a 4×1024 CMS over every token of
    * the corpus, then read estimates for the exact top-20 tokens (by true
    * count, ties to the lexicographically smaller) next to their true
    * counts. The oracle REPLAYS the sketch — same md5-prefix buckets,
    * same per-(row, bucket) counting, same min-over-rows read — so the
    * comparison is value-exact even where the sketch overestimates: both
    * engines must overestimate identically. At 100 TB the sketch is the
    * point: per-task aggregate state is capped at depth×width counters
    * regardless of vocabulary, where the exact groupBy's state is
    * vocabulary-sized.
    */
  private val x27 = Q("stats_cms_freq",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_true"))
      // ONE corpus tokenization (r21): the exact count frame the probes
      // need already holds every token's count, so the sketch is built
      // from it ([[StatsOps.cmsSketchFromCounts]] — identical counters
      // by algebra) instead of re-tokenizing the corpus and re-hashing
      // per occurrence; the vocab-sized truth frame is cached for its
      // three consumers (probes, sketch, final join).
      Caching.withCached(truth) {
        val probes = truth.orderBy(col("n_true").desc, col("token")).limit(20)
        Caching.withCached(probes) {
          val sketch = StatsOps.cmsSketchFromCounts(truth, depth = 4,
            width = 1024, countCol = "n_true")
          StatsOps.cmsEstimate(sketch, probes, depth = 4, width = 1024)
            .join(probes, "token")
            .select(col("token"), col("n_true"), col("n_est"))
            .orderBy("token")
        }
      }
    },
    Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      tc AS (SELECT token, count(*) AS n_true FROM tok GROUP BY 1),
      probes AS (SELECT token, n_true FROM tc ORDER BY n_true DESC, token LIMIT 20),
      r AS (SELECT unnest([0, 1, 2, 3]) AS j),
      cms AS (SELECT j,
                ('0x' || substr(md5(cast(j as varchar) || '|' || token), 1, 15))::bigint
                  % 1024 AS bucket,
                count(*) AS cnt
              FROM tok CROSS JOIN r GROUP BY 1, 2),
      est AS (SELECT p.token, p.n_true, min(coalesce(c.cnt, 0)) AS n_est
              FROM probes p CROSS JOIN r
              LEFT JOIN cms c ON c.j = r.j AND c.bucket =
                ('0x' || substr(md5(cast(r.j as varchar) || '|' || p.token), 1, 15))::bigint
                  % 1024
              GROUP BY 1, 2)
      SELECT token, n_true, n_est FROM est ORDER BY token"""))

  /** BM25 top-k retrieval ([[TextOps.bm25TopK]]) for three fixed probe
    * queries over the corpus vocabulary — k=5 best documents each. The
    * oracle replays the full scoring chain (Lucene idf, tf saturation,
    * decimal-cast contributions summed order-independently, round(,6),
    * ranking by (score desc, doc_id)); the Spark side's top-k is the
    * bounded-heap TopKPerKey plan, the oracle's is the row_number window
    * it is spec-proven equivalent to.
    */
  private val x28 = Q("text_bm25_topk",
    (s, dir) => {
      val capped = TextOps.bm25TopK(t(s, dir, "documents"),
        queries = Seq(1 -> "spark stream batch", 2 -> "join filter merge",
          3 -> "customer order window"),
        k = 5)
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id").asc)
      capped.withColumn("rank", row_number().over(w).cast("int"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q(query_id, term) AS (VALUES
        (1, 'spark'), (1, 'stream'), (1, 'batch'),
        (2, 'join'), (2, 'filter'), (2, 'merge'),
        (3, 'customer'), (3, 'order'), (3, 'window')),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      stats AS (SELECT count(*) AS nd,
                  avg(len(string_split(text, ' '))) AS avgdl FROM documents),
      dfq AS (SELECT term, count(*) AS dfc FROM tf
              WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
      sc AS (SELECT q.query_id, tf.doc_id,
               round(cast(sum(cast(
                 ln(1 + (nd - dfc + 0.5) / (dfc + 0.5)) *
                   (tf.tf * (1.2 + 1)) /
                   (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / avgdl))
                 as decimal(38,12))) as double), 6) AS score
             FROM q JOIN tf ON tf.term = q.term
                    JOIN dfq ON dfq.term = q.term
                    JOIN dl ON dl.doc_id = tf.doc_id
                    CROSS JOIN stats
             GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS rank
            FROM sc)
      SELECT query_id, cast(rank as int) AS rank, doc_id, score
      FROM r WHERE rank <= 5 ORDER BY query_id, rank"""))

  // ----------------------------------------------------------- sampling

  /** Deterministic sampling ([[SamplingOps]]): per language, a ~10%
    * md5-hash sample plus a 30-doc stratified cap — id-sums prove the
    * SELECTIONS (not just the counts) are identical across engines.
    */
  /** One-query corpus report — the pipeline dashboard end-cap: per
    * language (plus the 'all' rollup row), document and token volume,
    * exact-duplicate rate from md5 text fingerprints, and the quality
    * mean under the order-independent decimal-sum idiom. The judge of a
    * curation run reads THIS before any per-doc output.
    */
  private val sm4 = Q("stats_corpus_report",
    (s, dir) => {
      val tk = TextOps.tokens(col("text"))
      val base = t(s, dir, "documents")
        .withColumn("n_tok", size(tk))
        .withColumn("fp", md5(col("text")))
      val q = TextOps.withQualityScore(base)
      q.rollup(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("n_tokens"),
          countDistinct(col("fp")).as("n_distinct_texts"),
          round(lit(1.0) - countDistinct(col("fp")).cast("double")
            / count(lit(1)).cast("double"), 6).as("exact_dup_rate"),
          round(sum(col("quality_score").cast("decimal(38,12)")).cast("double")
            / count(lit(1)).cast("double"), 6).as("avg_quality"))
        .select(coalesce(col("lang"), lit("all")).as("lang"),
          col("n_docs"), col("n_tokens"), col("n_distinct_texts"),
          col("exact_dup_rate"), col("avg_quality"))
        .orderBy("lang")
    },
    Some("""
      WITH base AS (SELECT lang, text, len(string_split(text, ' ')) AS n_tok,
              md5(text) AS fp,
              string_split(text, ' ') AS tk
            FROM documents),
      q AS (SELECT lang, n_tok, fp,
              round(least(len(tk) / 100.0, 1.0) * 0.4
                + (len(list_distinct(tk))::DOUBLE / len(tk)) * 0.4
                + (1.0 - len(list_filter(tk, x -> list_contains(
                    ['the','a','of','and','is','to'], x)))::DOUBLE / len(tk)) * 0.2,
                6) AS quality_score
            FROM base),
      g AS (SELECT lang, count(*) AS n_docs,
              cast(sum(n_tok) as bigint) AS n_tokens,
              count(DISTINCT fp) AS n_distinct_texts,
              round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 6) AS exact_dup_rate,
              round(cast(sum(cast(quality_score AS decimal(38,12))) AS DOUBLE)
                / count(*), 6) AS avg_quality
            FROM q GROUP BY ROLLUP (lang))
      SELECT coalesce(lang, 'all') AS lang, n_docs, n_tokens,
        n_distinct_texts, exact_dup_rate, avg_quality
      FROM g ORDER BY lang"""))

  private val sm1 = Q("sample_deterministic",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val flagged = docs.withColumn("in_sample",
        SamplingOps.hashSampleFlag(col("doc_id"), modulus = 10, keep = 1))
      val capped = SamplingOps.stratifiedCap(docs, Seq("lang"), cap = 30,
          key = col("doc_id"))
        .groupBy("lang").agg(sum(col("doc_id")).as("capped_id_sum"))
      flagged.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("in_sample"), 1)).as("n_hash_sample"),
          sum(when(col("in_sample"), col("doc_id"))).as("sample_id_sum"))
        .join(capped, Seq("lang"))
        .orderBy("lang")
    },
    Some("""
      WITH d AS (SELECT lang, doc_id,
          (('0x' || substr(md5('s' || cast(doc_id as varchar)), 1, 15))::bigint % 10 < 1)
            AS in_sample,
          row_number() OVER (PARTITION BY lang
            ORDER BY ('0x' || substr(md5('c' || cast(doc_id as varchar)), 1, 15))::bigint,
                     doc_id) AS rk
        FROM documents)
      SELECT lang, count(*) AS n_docs,
        count(CASE WHEN in_sample THEN 1 END) AS n_hash_sample,
        cast(sum(CASE WHEN in_sample THEN doc_id END) as bigint) AS sample_id_sum,
        cast(sum(CASE WHEN rk <= 30 THEN doc_id END) as bigint) AS capped_id_sum
      FROM d GROUP BY lang ORDER BY lang"""))

  /** Mixture sampling ([[SamplingOps.mixtureSample]]): resample the
    * corpus to a 5/2/2/1 en/fr/de/es language mix (zh unweighted ⇒
    * dropped) — the data-mixing step, as a pure-hash broadcast filter
    * with integer thresholds the oracle reproduces bit-exactly. Row-level
    * output so the gate checks MEMBERSHIP, not just per-group counts.
    */
  /** Named train/val/test split ([[SamplingOps.withHashSplit]]): 8/1/1
    * by exact-integer hash ranges — row-level output so the gate checks
    * MEMBERSHIP (which doc landed in which split), not just counts.
    */
  private val sm3 = Q("sample_split",
    (s, dir) => SamplingOps.withHashSplit(
        t(s, dir, "documents").select("doc_id"),
        splits = Seq("train" -> 8, "val" -> 1, "test" -> 1),
        key = col("doc_id"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        CASE
          WHEN ('0x' || substr(md5('split' || cast(doc_id as varchar)), 1, 15))::bigint
               % 10 < 8 THEN 'train'
          WHEN ('0x' || substr(md5('split' || cast(doc_id as varchar)), 1, 15))::bigint
               % 10 < 9 THEN 'val'
          ELSE 'test'
        END AS split
      FROM documents ORDER BY doc_id"""))

  private val sm2 = Q("sample_mixture",
    (s, dir) => SamplingOps.mixtureSample(
        t(s, dir, "documents"), groupCol = "lang",
        weights = Seq("en" -> 5L, "fr" -> 2L, "de" -> 2L, "es" -> 1L),
        key = col("doc_id"),
        dropUnweightedGroups = true) // zh deliberately excluded from the mix
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      w AS (SELECT * FROM (VALUES ('en', 5), ('fr', 2), ('de', 2), ('es', 1))
            t(lang, wt)),
      j AS (SELECT c.lang, n, wt FROM c JOIN w USING (lang)),
      tt AS (SELECT min(n * 10 // wt) AS t FROM j),
      r AS (SELECT lang, n * 10 AS den, wt * (SELECT t FROM tt) AS num FROM j)
      SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5('mix' || cast(d.doc_id as varchar)), 1, 15))::bigint
              % den < num
      ORDER BY d.doc_id"""))

  /** Temperature-balanced mixture ([[SamplingOps.temperatureSample]],
    * α = 0.5): proportions follow √n per language — the multilingual
    * rebalance with DATA-DERIVED integer weights (max(1, floor(√n)));
    * IEEE-correctly-rounded sqrt keeps floor(√n) engine-identical, so
    * the oracle replays the weights, the min-scale fold, and the hash
    * threshold bit-exactly. Row-level output: the gate checks
    * MEMBERSHIP, like sample_mixture.
    */
  private val sm7 = Q("sample_temperature",
    (s, dir) => SamplingOps.temperatureSample(
        t(s, dir, "documents"), groupCol = "lang", key = col("doc_id"))
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      w AS (SELECT lang, n,
              greatest(cast(floor(sqrt(n)) as bigint), 1) AS wt FROM c),
      sw AS (SELECT cast(sum(wt) as bigint) AS s FROM w),
      d0 AS (SELECT lang, n, wt, n * (SELECT s FROM sw) AS den FROM w),
      tt AS (SELECT min(den // wt) AS t FROM d0),
      r AS (SELECT lang, den, wt * (SELECT t FROM tt) AS num FROM d0)
      SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      WHERE ('0x' || substr(md5('temp' || cast(d.doc_id as varchar)), 1, 15))::bigint
              % den < num
      ORDER BY d.doc_id"""))

  // -------------------------------------------------------- multimodal

  private val m01 = Q("mm_decode_stats",
    (s, dir) => MultimodalOps.decodeAll(s,
        MultimodalOps.toMediaRecords(t(s, dir, "documents")))
      .toDF()
      .select("doc_id", "n_bytes", "format", "fake_width", "fake_height",
        "fake_frames", "content_md5")
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        cast(octet_length(encode(text)) as int) AS n_bytes,
        'utf8-text' AS format,
        cast(octet_length(encode(text)) % 64 as int) AS fake_width,
        cast((octet_length(encode(text)) // 64) % 64 as int) AS fake_height,
        cast(octet_length(encode(text)) // 256 as bigint) AS fake_frames,
        md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""))

  /** Frame sampling ([[MultimodalOps.sampleFrames]]): every 2nd frame of
    * each decoded media record, per-frame ids + stub content hashes — the
    * map-side 1→N expansion feeding a vision feature extractor.
    */
  private val m02 = Q("mm_frame_sample",
    (s, dir) => MultimodalOps.sampleFrames(
        MultimodalOps.decodeAll(s,
          MultimodalOps.toMediaRecords(t(s, dir, "documents"))).toDF(),
        step = 2)
      .orderBy("doc_id", "frame_idx"),
    Some("""
      WITH m AS (SELECT doc_id, md5(text) AS cmd5,
          octet_length(encode(text)) // 256 AS nf
        FROM documents),
      f AS (SELECT doc_id, cmd5, unnest(range(0, nf, 2)) AS frame_idx
            FROM m WHERE nf > 0)
      SELECT doc_id, frame_idx,
        md5(cmd5 || ':' || cast(frame_idx as varchar)) AS frame_md5
      FROM f ORDER BY doc_id, frame_idx"""))

  /** Feature-extract → ANN, end to end on the multimodal path: decode
    * (stub) → deterministic fake embedding ([[MultimodalOps.embedStub]],
    * dim 8, float) → broadcast cosine scoring → top-5 per query through
    * the custom TopKPerKey operator. The oracle recomputes the embedding
    * from scratch in DuckDB (hex-parse ≡ Spark `conv`, float round-trip
    * ≡ `cast as float`, `list_cosine_similarity(::DOUBLE[])` ≡ the
    * codegen'd CosineSimilarity — all bit-exact patterns proven by the
    * other queries).
    */
  private val m03 = Q("mm_embed_topk",
    (s, dir) => {
      val emb = MultimodalOps.embedStub(
        MultimodalOps.decodeAll(s,
          MultimodalOps.toMediaRecords(t(s, dir, "documents"))).toDF(),
        dim = 8)
      val q = emb.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("embedding").as("qv"))
      val c = emb.select(col("doc_id").as("neighbor_id"), col("embedding").as("cv"))
      val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          GraftFunctions.cosine_sim(col("qv"), col("cv")).as("cos_raw"))
      graft.plans.GraftPlans.topKPerKey(scored, Seq("query_id"),
          Seq(("cos_raw", false), ("neighbor_id", true)), 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos_raw"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    },
    Some("""
      WITH m AS (SELECT doc_id, md5(text) AS cmd5 FROM documents),
      e AS (SELECT doc_id, list_transform(range(0, 8), i ->
              cast(('0x' || substr(md5(cmd5 || ':' || cast(i as varchar)), 1, 15))::bigint
                   % 1000000 / 1000000.0 as float)) AS emb
            FROM m),
      q AS (SELECT doc_id AS query_id, emb::DOUBLE[] AS qv FROM e WHERE doc_id < 3),
      sc AS (SELECT q.query_id, e.doc_id AS neighbor_id,
              list_cosine_similarity(q.qv, e.emb::DOUBLE[]) AS cos
            FROM q, e WHERE e.doc_id <> q.query_id),
      r AS (SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS rn
            FROM sc)
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine
      FROM r WHERE rn <= 5 ORDER BY query_id, neighbor_id"""))

  /** Resize stage ([[MultimodalOps.resizeStub]]): fit into a 32-px box,
    * aspect-preserving, integer `div` arithmetic — bit-identical oracle.
    */
  private val m04 = Q("mm_resize_dims",
    (s, dir) => MultimodalOps.resizeStub(
        MultimodalOps.decodeAll(s,
          MultimodalOps.toMediaRecords(t(s, dir, "documents"))).toDF(),
        target = 32)
      .orderBy("doc_id"),
    Some("""
      WITH m AS (SELECT doc_id,
          cast(octet_length(encode(text)) % 64 as int) AS fake_width,
          cast((octet_length(encode(text)) // 64) % 64 as int) AS fake_height
        FROM documents)
      SELECT doc_id, fake_width, fake_height,
        cast((fake_width * 32) // greatest(fake_width, fake_height, 32) as int) AS out_w,
        cast((fake_height * 32) // greatest(fake_width, fake_height, 32) as int) AS out_h
      FROM m ORDER BY doc_id"""))

  // ------------------------------------------------------ mq connector

  // The reference demo (streaming WordCount, README.md:74-124) as a batch
  // read over the deterministic generated backend. No DuckDB table backs
  // the MQ source, so the Verify run dumps the generated rows
  // ([[verifyDump]] — the backend is deterministic, the dump IS the
  // planned offset range) and the oracle wordcounts the dump: the
  // groupBy/count aggregation gets real rows/schema/hash columns instead
  // of the old rows-only check. Streaming exactness remains covered by
  // GraftMqStreamSpec.
  private val mq1 = Q("mq_wordcount",
    (s, _) => {
      val raw = s.read.format("graft-mq")
        .option("backend", "generated").option("numPartitions", "8")
        .option("rowsPerBatch", "125000").option("seed", "42") // 1M rows: source-throughput probe
        .load()
        .select(col("value").cast("string").as("value"))
      verifyDump(raw, MqDumpPath)
      raw.select(explode(split(col("value"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    },
    Some(s"""
      WITH w AS (SELECT unnest(string_split(value, ' ')) AS word
                 FROM read_parquet('$MqDumpPath/*.parquet'))
      SELECT word, count(*) AS n FROM w GROUP BY word ORDER BY word"""))

  // ---------------------------------------------------------- layout

  private val PackRoundtripPath = "/tmp/graft_pack_roundtrip"

  /** Training-sequence manifest ([[LayoutOps.packSequences]]): one row
    * per 2048-token sequence with ordered doc ids and sequence-local
    * boundary offsets, value-compared against the oracle's
    * single-reducer replay. The id/boundary ARRAYS are serialized to
    * canonical comma-joined strings on BOTH engines — the driver's
    * comparator hashes scalars, not nested values (the project-wide
    * output-shape contract; OutputShapeSpec pins it) — which preserves
    * value-exactness: any reordered, dropped, or altered element
    * changes the joined string.
    */
  private val ly3 = Q("layout_sequences",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      LayoutOps.packSequences(docs, "doc_id", "n_tok", seqLen = 2048L)
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          array_join(transform(col("doc_ids"), x => x.cast("string")), ",")
            .as("doc_ids"),
          array_join(transform(col("boundaries"), x => x.cast("string")), ",")
            .as("boundaries"))
        .orderBy("seq_id")
    },
    Some("""
      WITH n AS (SELECT doc_id,
              cast(len(string_split(text, ' ')) as bigint) AS n_tok
            FROM documents),
      o AS (SELECT doc_id, n_tok,
              coalesce(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM n),
      s AS (SELECT doc_id, n_tok, cast(off as bigint) AS off,
              cast(off // 2048 as bigint) AS seq_id FROM o)
      SELECT seq_id, count(*) AS n_docs,
        cast(sum(n_tok) as bigint) AS n_tokens,
        string_agg(cast(doc_id as varchar), ',' ORDER BY doc_id) AS doc_ids,
        string_agg(cast(off - seq_id * 2048 as varchar), ',' ORDER BY doc_id)
          AS boundaries
      FROM s GROUP BY seq_id ORDER BY seq_id"""))

  /** Packed-shard WRITE round-trip ([[LayoutOps.writePackedShards]]):
    * documents pack under a token budget, land hive-partitioned by
    * `shard_id=`, and the returned manifest is recomputed from the
    * written FILES — the oracle reads the same parquet (hive partition
    * column included) and rebuilds the manifest independently, so the
    * storage layout itself is value-checked, not just the pack
    * arithmetic (that is text_shard_pack's job).
    */
  private val ly2 = Q("layout_pack_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      val manifest =
        if (sys.props.contains("graft.verify.dump") ||
            !java.nio.file.Files.exists(java.nio.file.Paths.get(PackRoundtripPath)))
          LayoutOps.writePackedShards(docs, PackRoundtripPath,
            Seq("doc_id"), "n_tok", budget = 3000L)
        else LayoutOps.readShardManifest(s, PackRoundtripPath, "n_tok", "doc_id")
      manifest.orderBy("shard_id")
    },
    Some(s"""
      WITH f AS (SELECT doc_id, n_tok, shard_id
                 FROM read_parquet('$PackRoundtripPath/*/*.parquet',
                   hive_partitioning=true))
      SELECT shard_id::BIGINT AS shard_id, count(*) AS n_rows,
        sum(n_tok)::BIGINT AS weight_sum,
        bit_xor(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT) AS id_hash
      FROM f GROUP BY shard_id ORDER BY shard_id"""))

  /** Z-order layout roundtrip ([[LayoutOps.writeZOrdered]]) as a
    * correctness row: write documents z-ordered on (doc_id, n_chars),
    * read the files back, and aggregate row identity + per-file min/max
    * rectangle stats. The oracle recomputes row identity (n_rows,
    * bit_xor of the md5-prefix id hash) INDEPENDENTLY from the
    * `documents` table — a dropped or altered row hash-mismatches — and
    * the file-level stats (n_files, span sums) from the same written
    * files via `read_parquet(..., filename=true)`. The write runs during
    * Verify (or when the artifact is absent); locality/pruning
    * guarantees stay spec-asserted in LayoutOpsSpec.
    */
  /** Shuffle-then-shard ([[SamplingOps.withShuffleKey]] →
    * [[LayoutOps.packByTokenBudgetKeys]]): the pack keyed by the
    * deterministic shuffle hash instead of doc order, so shards are IID
    * samples of the corpus rather than crawl-ordered runs — the layout
    * every pretraining dataloader actually wants. The oracle reproduces
    * the permutation from the same md5 hash and replays the prefix sum
    * in (shuffle_key, doc_id) order.
    */
  private val ly5 = Q("layout_pack_shuffled",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      LayoutOps.packByTokenBudgetKeys(
          SamplingOps.withShuffleKey(docs, col("doc_id")),
          Seq("shuffle_key", "doc_id"), weightCol = "n_tok", budget = 2000L)
        .select(col("doc_id"), col("shuffle_key"), col("n_tok"),
          col("token_offset"), col("shard_id"))
        .orderBy("shuffle_key", "doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id,
              cast(len(string_split(text, ' ')) as bigint) AS n_tok,
              ('0x' || substr(md5('shuffle' || cast(doc_id as varchar)), 1, 15))::bigint
                AS shuffle_key
            FROM documents),
      o AS (SELECT doc_id, shuffle_key, n_tok,
              coalesce(sum(n_tok) OVER (ORDER BY shuffle_key, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM d)
      SELECT doc_id, shuffle_key, n_tok, cast(off as bigint) AS token_offset,
        cast(off // 2000 as bigint) AS shard_id
      FROM o ORDER BY shuffle_key, doc_id"""))

  private val CompactRoundtripPath = "/tmp/graft_compact_roundtrip"

  /** Compaction roundtrip ([[LayoutOps.compactParquet]]): a deliberately
    * fragmented 64-file write compacts under a byte target with
    * `sortCol = doc_id`, and the read-back aggregates file count, row
    * identity (recomputed INDEPENDENTLY from the `documents` table by
    * the oracle — a dropped or altered row hash-mismatches), and the
    * per-file id-span sum (the range-prunability evidence: compaction
    * must not smear key ranges across files).
    */
  private val ly4 = Q("layout_compact_roundtrip",
    (s, dir) => {
      val frag = s"$CompactRoundtripPath/frag"
      val out = s"$CompactRoundtripPath/out"
      if (sys.props.contains("graft.verify.dump") ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(out))) {
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .repartition(64) // the small-files storm under test
          .write.mode("overwrite").parquet(frag)
        LayoutOps.compactParquet(s, frag, out, targetBytes = 64L * 1024,
          sortCol = Some("doc_id"))
      }
      val back = s.read.parquet(out)
        .select(input_file_name().as("f"), col("doc_id"), col("n_chars"))
      val perFile = back.groupBy("f").agg(count(lit(1)).as("rows"),
        min("doc_id").as("lo"), max("doc_id").as("hi"))
      perFile.agg(count(lit(1)).as("n_files"), sum("rows").as("n_rows"),
          sum(col("hi") - col("lo")).as("span_id_sum"))
        .crossJoin(back.agg(
          expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15)" +
            ", 16, 10) as bigint))").as("id_hash"),
          sum(col("n_chars")).as("chars_sum")))
        .select("n_files", "n_rows", "id_hash", "chars_sum", "span_id_sum")
    },
    Some(s"""
      WITH f AS (SELECT filename, doc_id, n_chars
                 FROM read_parquet('$CompactRoundtripPath/out/*.parquet', filename=true)),
      per AS (SELECT filename, count(*) AS rows_, min(doc_id) AS lo,
                max(doc_id) AS hi
              FROM f GROUP BY filename),
      agg AS (SELECT count(*) AS n_files,
                cast(sum(hi - lo) as bigint) AS span_id_sum FROM per),
      ident AS (SELECT count(*) AS n_rows,
                  bit_xor(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint)
                    AS id_hash
                FROM documents),
      chars AS (SELECT cast(sum(n_chars) as bigint) AS chars_sum FROM f)
      SELECT agg.n_files, ident.n_rows, ident.id_hash, chars.chars_sum,
        agg.span_id_sum
      FROM agg, ident, chars"""))

  private val ly1 = Q("layout_zorder_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      if (sys.props.contains("graft.verify.dump") ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(ZOrderRoundtripPath)))
        LayoutOps.writeZOrdered(docs, ZOrderRoundtripPath,
          Seq("doc_id", "n_chars"), shards = 8, bitsPerDim = 12)
      val back = s.read.parquet(ZOrderRoundtripPath)
        .select(input_file_name().as("f"), col("doc_id"), col("n_chars"))
      val perFile = back.groupBy("f").agg(
        count(lit(1)).as("rows"),
        (max("n_chars") - min("n_chars")).as("span_c"),
        (max("doc_id") - min("doc_id")).as("span_i"))
      perFile.agg(
          count(lit(1)).as("n_files"),
          sum(col("rows")).as("n_rows"),
          sum(col("span_c")).as("span_chars_sum"),
          sum(col("span_i")).as("span_id_sum"))
        .crossJoin(back.agg(
          expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), 1, 15)" +
            ", 16, 10) as bigint))").as("id_hash"),
          sum(col("n_chars")).as("chars_sum")))
        .select("n_files", "n_rows", "id_hash", "chars_sum",
          "span_chars_sum", "span_id_sum")
    },
    Some(s"""
      WITH f AS (SELECT filename, doc_id, n_chars
                 FROM read_parquet('$ZOrderRoundtripPath/*.parquet', filename=true)),
      per AS (SELECT filename, count(*) AS rows_,
                max(n_chars) - min(n_chars) AS span_c,
                max(doc_id) - min(doc_id) AS span_i
              FROM f GROUP BY filename),
      agg AS (SELECT count(*) AS n_files,
                cast(sum(span_c) as bigint) AS span_chars_sum,
                cast(sum(span_i) as bigint) AS span_id_sum
              FROM per),
      ident AS (SELECT count(*) AS n_rows,
                  bit_xor(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint)
                    AS id_hash
                FROM documents),
      chars AS (SELECT cast(sum(n_chars) as bigint) AS chars_sum FROM f)
      SELECT agg.n_files, ident.n_rows, ident.id_hash, chars.chars_sum,
        agg.span_chars_sum, agg.span_id_sum
      FROM agg, ident, chars"""))

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23,
    q24, q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24, d25, d26, d27, d28, d29, d30, d31, d32, d33,
    s01, s02, s03, s04, s05, s05b, s05c, s06, s07, s08, s09, s10,
    x01, x02, x03, x04, x05, x06, x07, x08, x09, x10, x11, x12, x13, x14, x15, x16, x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28,
    sm1, sm2, sm3, sm4, sm5, sm6, sm7, m01, m02, m03, m04, mq1, ly1, ly2, ly3, ly4, ly5)

  // A duplicated name would silently last-win in the .toMap below and
  // shrink the correctness gate by one query with no error anywhere.
  require(all.map(_.name).distinct.size == all.size,
    s"duplicate query names: ${all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin.trim)).toMap

  /** Flagship: the multiway star join (SURVEY.md §2.3) on the smoke SF. */
  def flagship(spark: SparkSession): DataFrame =
    q05.fn(spark, "/root/testdata/sf0.001")
}
