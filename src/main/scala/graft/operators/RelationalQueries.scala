package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SQLContext,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Q, StoreFixture, Tables}
import graft.functions.Portable.{exactSumDbl, exactSumDec}
import graft.streaming.{EventStreams, IvmStore}
import graft.streaming.EventStreams.{CdcViewChange, Event}

/** The reference's relational operator inventory (SURVEY.md §2) re-expressed
  * as Spark DataFrame programs over the driver's test tables, each with a
  * DuckDB oracle.
  *
  * Mapping notes (reference file:line cited per query):
  *  - Aggregated floats go through exact DECIMAL sums and are cast to DOUBLE
  *    at the end, so the result is bit-identical regardless of partition /
  *    aggregation order — a must at 1000-executor scale, and what makes the
  *    DuckDB hash-compare stable. Since r18 the exact sum runs as a
  *    scaled-LONG aggregate unscaled once per group
  *    (Portable.exactSumDbl/Dec — bit-identical, 2.3× faster; equivalence
  *    argument and overflow bounds at the helper).
  *  - Every query ends in a total ORDER BY over a unique key.
  *  - Dimension-side joins are explicitly `broadcast(...)`; fact-fact joins
  *    are left to Catalyst/AQE (sort-merge w/ shuffle on the join key).
  */
object RelationalQueries {

  val registry: Seq[Q] = Seq(

    // A1 (management.py:105-120): group-by count + HAVING range band.
    Q("q01_groupby_having",
      "per-customer order count restricted to an admission band",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders").groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders").between(2, 50))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey, count(*) AS n_orders
             |FROM orders GROUP BY o_custkey
             |HAVING count(*) BETWEEN 2 AND 50 ORDER BY custkey""".stripMargin)),

    // A2 (management.py:133-149): two COUNT(DISTINCT) summary metrics.
    Q("q02_count_distinct",
      "compendium-summary style distinct counts (exact, map-side partials)",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("lineitem").agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"))
      },
      Some("SELECT count(DISTINCT l_orderkey) AS n_orders, count(DISTINCT l_partkey) AS n_parts FROM lineitem")),

    // A3 (management.py:151-156): group-by distinct-count, sorted report.
    Q("q03_group_distinct_sort",
      "status-report style: distinct customers per order status, sorted",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders").groupBy(col("o_orderstatus").as("status"))
          .agg(countDistinct(col("o_custkey")).as("n_customers"))
          .orderBy(desc("n_customers"), asc("status"))
      },
      Some("""SELECT o_orderstatus AS status, count(DISTINCT o_custkey) AS n_customers
             |FROM orders GROUP BY 1 ORDER BY n_customers DESC, status""".stripMargin)),

    // A4 (db.py:220, 484): DISTINCT projection.
    Q("q04_distinct",
      "distinct projection of a low-cardinality column",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("customer").select(col("c_mktsegment").as("mktsegment"))
          .distinct().orderBy("mktsegment")
      },
      Some("SELECT DISTINCT c_mktsegment AS mktsegment FROM customer ORDER BY mktsegment")),

    // P2+P8 (projects.py:67-73): conjunctive filter + IN-list + projection.
    // Filters/pruning reach the parquet scan (PushedFilters in .explain).
    Q("q05_filter_in",
      "conjunctive predicate with IN-list, pushed down to the scan",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .filter(col("o_orderstatus").isin("O", "F") &&
            col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |WHERE o_orderstatus IN ('O','F') AND o_orderpriority = '1-URGENT'
             |ORDER BY o_orderkey""".stripMargin)),

    // P3 (management.py:17-20): NOT IN list predicate.
    Q("q06_not_in",
      "non-terminal-state style NOT IN filter",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .filter(!col("o_orderstatus").isin("F", "P"))
          .select("o_orderkey", "o_orderstatus")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE o_orderstatus NOT IN ('F','P') ORDER BY o_orderkey""".stripMargin)),

    // J2+P4 (db.py:483-491): LEFT OUTER JOIN + IS NULL — literal reference
    // semantics (kept as outer+filter; Catalyst rewrites to anti-join).
    Q("q07_outer_join_null",
      "left outer join with IS NULL filter (reference J2 literal form)",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val c = t("customer")
        val o = t("orders").filter(col("o_orderstatus") === "P")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .filter(col("o_orderkey").isNull)
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
             |ON c_custkey = o_custkey
             |WHERE o_orderkey IS NULL ORDER BY c_custkey""".stripMargin)),

    // J1/J6 (db.py:215-221; management.py:95-125 intent): anti-join dedup.
    Q("q08_anti_join",
      "left anti join: customers with no urgent open order",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val c = t("customer")
        val o = t("orders").filter(
          col("o_orderstatus") === "O" && col("o_orderpriority") === "1-URGENT")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
             |    AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // membership / EXISTS (db.py:243 `in recognized_samples` intent).
    Q("q09_semi_join",
      "left semi join: customers having a pending order",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val c = t("customer")
        val o = t("orders").filter(col("o_orderstatus") === "P")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // J3 (projects.py:447-477): dimension joins — explicitly broadcast; the
    // customer-side agg is partial/map-side combined before the shuffle.
    Q("q10_join_agg",
      "customer ⋈ broadcast(nation) ⋈ broadcast(region) rollup",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("customer")
          .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"))
          .agg(count(lit(1)).as("n_customers"),
            exactSumDbl(col("c_acctbal"), 2).as("total_acctbal"))
          .orderBy("region")
      },
      Some("""SELECT r_name AS region, count(*) AS n_customers,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY region""".stripMargin)),

    // J4 (projects.py:499-523): deterministic surrogate ids via window
    // row_number — stable across re-runs because ordering is pinned.
    Q("q11_window_surrogate",
      "per-group surrogate id assignment (row_number over pinned order)",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val w = Window.partitionBy(col("p_brand")).orderBy(col("p_name"), col("p_partkey"))
        t("part")
          .select(col("p_brand").as("brand"), col("p_partkey").as("partkey"),
            row_number().over(w).as("part_rank"))
          .orderBy("brand", "part_rank")
      },
      Some("""SELECT p_brand AS brand, p_partkey AS partkey,
             |  row_number() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS part_rank
             |FROM part ORDER BY brand, part_rank""".stripMargin)),

    // S4/T4+P6 (projects.py:425-439): wide→long unpivot with sparse filter.
    Q("q12_unpivot",
      "unpivot wide metrics to triplets, dropping zeros (sparse-matrix form)",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("lineitem").selectExpr(
          "l_orderkey", "l_linenumber",
          "stack(3, 'discount', l_discount, 'quantity', l_quantity, 'tax', l_tax) AS (metric, val)")
          .filter(col("val") =!= 0.0)
          .orderBy("l_orderkey", "l_linenumber", "metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
             |  SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS val FROM lineitem
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'quantity', l_quantity FROM lineitem
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem) u
             |WHERE val <> 0 ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // A5+A6 (projects.py:233-311): boolean-fraction rollup + threshold
    // decision — the reference's QC shape. One pass, map-side partials;
    // avg of 0/1 is exact (integer sum / count).
    Q("q13_qc_rollup",
      "per-order flag fractions with re_run/discard threshold decisions",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("lineitem").groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_items"),
            avg(when(col("l_discount") > 0.05, 1.0).otherwise(0.0)).as("disc_warn_frac"),
            avg(when(col("l_discount") > 0.08, 1.0).otherwise(0.0)).as("disc_error_frac"),
            avg(when(col("l_tax") > 0.05, 1.0).otherwise(0.0)).as("tax_warn_frac"))
          .withColumn("discard",
            col("disc_error_frac") > 0.2 || col("disc_warn_frac") > 0.7)
          .withColumn("re_run", !col("discard") && col("tax_warn_frac") > 0.4)
          .orderBy("l_orderkey")
      },
      Some("""SELECT *,
             |  (disc_error_frac > 0.2 OR disc_warn_frac > 0.7) AS discard,
             |  (NOT (disc_error_frac > 0.2 OR disc_warn_frac > 0.7) AND tax_warn_frac > 0.4) AS re_run
             |FROM (
             |  SELECT l_orderkey, count(*) AS n_items,
             |    avg(CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END) AS disc_warn_frac,
             |    avg(CASE WHEN l_discount > 0.08 THEN 1.0 ELSE 0.0 END) AS disc_error_frac,
             |    avg(CASE WHEN l_tax > 0.05 THEN 1.0 ELSE 0.0 END) AS tax_warn_frac
             |  FROM lineitem GROUP BY l_orderkey) a
             |ORDER BY l_orderkey""".stripMargin)),

    // P7+F4 (helpers.py:8-14): substring keep/toss classifier — pure column
    // expressions, no UDF.
    Q("q14_keep_toss",
      "substring-containment keep/toss filter over documents",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val keep = Seq("join", "window").map(col("text").contains(_)).reduce(_ || _)
        val toss = Seq("stream", "vector").map(col("text").contains(_)).reduce(_ || _)
        t("documents").filter(keep && !toss)
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source FROM documents
             |WHERE (text LIKE '%join%' OR text LIKE '%window%')
             |  AND NOT (text LIKE '%stream%' OR text LIKE '%vector%')
             |ORDER BY doc_id""".stripMargin)),

    // F3+A9 (db.py:421-431 multi-run ';'.join): order-pinned string agg.
    // collect_list order is nondeterministic, so sort structs then join —
    // deterministic on any cluster.
    Q("q15_string_agg",
      "per-user event-type sequence joined with ';' in (ts, event_id) order",
      (s, d) => {
        Tables.events(s, d).groupBy(col("user_id"))
          .agg(expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type), ';')")
            .as("type_seq"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, string_agg(event_type, ';' ORDER BY ts, event_id) AS type_seq
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // O1 (db.py:281-282): ORDER BY RANDOM() LIMIT n → portable deterministic
    // Knuth-hash sample (same pick in any engine; documented divergence).
    // At 100 TB this is a TakeOrdered (no full sort materialization).
    // The key reduces mod 2^31 BEFORE the multiply (t27/q44's overflow
    // rule: keep every product under 2^63 — the r11 registry-wide sf1
    // sweep caught the unreduced form overflowing ANSI long multiply
    // once keys pass 2^63/2654435761 ≈ 3.5e9, i.e. on any real key
    // space; for keys below 2^31 the reduced hash is bit-identical).
    Q("q16_hash_sample",
      "deterministic pseudo-random work sample: hash-order LIMIT",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .withColumn("h",
            expr("((o_orderkey % 2147483648) * 2654435761) % 4294967296"))
          .orderBy("h", "o_orderkey")
          .limit(100)
          .select("o_orderkey", "h")
      },
      Some("""SELECT o_orderkey, ((o_orderkey % 2147483648) * 2654435761) % 4294967296 AS h
             |FROM orders ORDER BY h, o_orderkey LIMIT 100""".stripMargin)),

    // O2/O3 (db.py:217; management.py:155): top-k — TakeOrderedAndProject.
    Q("q17_topk",
      "top-10 customers by balance (ties broken by key)",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("customer")
          .select("c_custkey", "c_acctbal")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
          .limit(10)
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin)),

    // F1/F2/F3/F4/F6/F7 (db.py:252; projects.py:581; helpers.py:14): scalar
    // function battery — all codegen'd builtins, no UDFs.
    Q("q18_scalar_funcs",
      "scalar string/cast/format functions over documents",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("documents").selectExpr(
          "doc_id",
          "lower(source) AS source_lower",
          "substr(text, 1, 20) AS prefix",
          "substr(text, 1, greatest(length(text) - 8, 0)) AS trimmed",
          "text LIKE '%join%' AS has_join",
          "concat_ws(';', lang, source) AS lang_source",
          "cast(n_chars AS INT) AS n_chars_int",
          "format_string('%d%%', cast(floor(n_chars / 10) AS BIGINT)) AS pct_label")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lower(source) AS source_lower,
             |  substr(text, 1, 20) AS prefix,
             |  substr(text, 1, greatest(length(text) - 8, 0)) AS trimmed,
             |  text LIKE '%join%' AS has_join,
             |  concat_ws(';', lang, source) AS lang_source,
             |  CAST(n_chars AS INT) AS n_chars_int,
             |  printf('%d%%', CAST(floor(n_chars / 10) AS BIGINT)) AS pct_label
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // F8 (projects.py:131): date bucketing + exact-decimal revenue rollup.
    Q("q19_month_agg",
      "orders per month with exact-decimal revenue",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"),
            exactSumDbl(col("o_totalprice"), 2).as("revenue"))
          .orderBy("month")
      },
      Some("""SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // F5 (projects.py:605-625): guarded ratio of aggregates — div-by-zero
    // yields NULL (documented divergence: reference raises on one path).
    Q("q20_ratio_guarded",
      "discount-weighted price ratio per order, zero-denominator guarded",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("lineitem").groupBy(col("l_orderkey"))
          .agg(
            exactSumDbl(col("l_discount") * col("l_extendedprice"), 4)
              .as("disc_amount"),
            exactSumDbl(col("l_extendedprice"), 2).as("total_price"))
          .withColumn("disc_ratio",
            when(col("total_price") === 0.0, lit(null).cast("double"))
              .otherwise(col("disc_amount") / col("total_price")))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, disc_amount, total_price,
             |  CASE WHEN total_price = 0 THEN NULL ELSE disc_amount / total_price END AS disc_ratio
             |FROM (
             |  SELECT l_orderkey,
             |    CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS disc_amount,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |  FROM lineitem GROUP BY l_orderkey) a
             |ORDER BY l_orderkey""".stripMargin)),

    // Streaming-equivalent batch shape (§2.9): hourly windowed agg over the
    // events table — the Structured Streaming job in graft.streaming uses
    // the same plan with a watermark.
    Q("q21_events_hourly",
      "tumbling-hour event rollup (batch twin of the streaming job)",
      (s, d) => {
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            exactSumDbl(col("value"), 4).as("total_value"))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Batch sessionization (gaps-and-islands): the batch twin of
    // graft.streaming.EventStreams.sessionize — same 30-minute inactivity
    // gap, same session shape; a spec asserts the two agree on real data.
    // Two windows over one shuffle on user_id (lag then running sum share
    // the partitioning); session totals go through exact decimal sums.
    Q("q22_sessionize_batch",
      "per-user session windows by 30-min inactivity gap (lag + running sum)",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1L)
              .otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
            exactSumDbl(col("value"), 4).as("total_value"))
          .orderBy("user_id", "session_idx")
      },
      Some("""WITH w AS (SELECT user_id, ts, event_id, value,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |flags AS (SELECT *,
             |    CASE WHEN prev_ts IS NULL
             |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
             |    THEN 1 ELSE 0 END AS new_session FROM w),
             |sess AS (SELECT *,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
             |  FROM flags)
             |SELECT user_id, session_idx::BIGINT AS session_idx,
             |  min(ts) AS session_start, max(ts) AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM sess GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)),

    // Rolling window aggregates: per-user 3-event trailing sum and
    // previous-event delta (lag). One shuffle on user_id serves both
    // frames; sums stay in exact decimals for cross-engine equality.
    Q("q23_rolling_window",
      "per-user trailing 3-event value sum and inter-event gap seconds",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("ts"), col("value"),
          sum(col("value").cast("decimal(18,4)"))
            .over(w.rowsBetween(-2, Window.currentRow))
            .cast("double").as("trailing3_sum"),
          (unix_millis(col("ts")) -
            unix_millis(lag(col("ts"), 1).over(w))).as("gap_ms"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT user_id, event_id, ts, value,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3_sum,
             |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
             |FROM events ORDER BY user_id, ts, event_id""".stripMargin)),

    // Hierarchical rollup (beyond the reference's flat GROUP BYs): region →
    // nation → grand total in one pass with grouping-set expansion; the
    // aggregate stays map-side partial per grouping set.
    Q("q24_rollup",
      "customer counts and balances rolled up region → nation → total",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("customer")
          .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_customers"),
            exactSumDbl(col("c_acctbal"), 2).as("total_acctbal"),
            grouping_id().cast("long").as("gid"))
          .orderBy(asc_nulls_first("region"), asc_nulls_first("nation"))
      },
      Some("""SELECT r_name AS region, n_name AS nation, count(*) AS n_customers,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
             |  (GROUPING(r_name) * 2 + GROUPING(n_name))::BIGINT AS gid
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin)),

    // Exact order statistics per group. PERCENTILE_DISC (not _CONT): the
    // discrete variant SELECTS an element instead of interpolating, so the
    // result is bit-exact across engines with no float-arithmetic pinning.
    // Exact percentiles need the whole group sorted — at 100 TB switch to
    // approx_percentile (t-digest, mergeable map-side sketches); kept exact
    // here because the gate hash-compares values.
    Q("q25_quantiles",
      "exact per-type value percentiles (PERCENTILE_DISC) over events",
      (s, d) => {
        Tables.events(s, d).groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            min(col("value")).as("min_value"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("median_value"),
            expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95_value"),
            max(col("value")).as("max_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  min(value) AS min_value,
             |  quantile_disc(value, 0.5) AS median_value,
             |  quantile_disc(value, 0.95) AS p95_value,
             |  max(value) AS max_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Set operators (§2.7: none in the reference — engine surface). Each
    // branch is a distinct-projection set op; Spark plans them as
    // hash-aggregates over a single shuffle per branch.
    Q("q26_setops",
      "INTERSECT / EXCEPT / UNION over customers-with-orders vs all customers",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val cust = t("customer").select(col("c_custkey").as("key"))
        val withOrders = t("orders").select(col("o_custkey").as("key"))
        val both = cust.intersect(withOrders).withColumn("tag", lit("has_orders"))
        val none = cust.except(withOrders).withColumn("tag", lit("no_orders"))
        both.union(none).select("tag", "key").orderBy("tag", "key")
      },
      Some("""SELECT 'has_orders' AS tag, key FROM (
             |  SELECT c_custkey AS key FROM customer
             |  INTERSECT SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT 'no_orders' AS tag, key FROM (
             |  SELECT c_custkey AS key FROM customer
             |  EXCEPT SELECT o_custkey FROM orders)
             |ORDER BY tag, key""".stripMargin)),

    // Long→wide pivot — the inverse of q12's unpivot (the export shape the
    // reference's wide counts matrix arrives in, S4). The pivot column
    // domain is declared explicitly: Spark then plans a single map-side
    // pivot aggregate with no distinct-values discovery job, which is also
    // the only shape that scales (an undeclared domain collects distinct
    // values to the driver).
    Q("q27_pivot",
      "monthly event counts pivoted wide by event type (declared domain)",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = Tables.events(s, d)
          .withColumn("month", date_trunc("month", col("ts")))
          .groupBy("month").pivot("event_type", types).count()
        types.foldLeft(p)((df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L))))
          .orderBy("month")
      },
      Some("""SELECT date_trunc('month', ts) AS month,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'error') AS error,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY month""".stripMargin)),

    // As-of join — an operator Spark lacks natively (DuckDB: ASOF JOIN).
    // Composed from existing ops per the preference order: union the two
    // event roles, one window pass per user carries the latest view time
    // forward (last_value ignoreNulls), and purchases read it — O(n log n)
    // in the partition, no range self-join blowup. Ties: views sort before
    // purchases at equal ts (kind 0 < 1), matching ASOF's v.ts <= p.ts.
    // At 100 TB this shuffles once by user_id — the same partitioning the
    // sessionization and rolling-window queries reuse.
    Q("q28_asof_join",
      "for each purchase, the latest view at or before it (as-of join)",
      (s, d) => {
        val ev = Tables.events(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
            lit(null).cast("long").as("event_id"), col("ts").as("vts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("timestamp").as("vts"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("kind").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        views.union(purchases)
          .withColumn("view_ts", last(col("vts"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1 && col("view_ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"), col("view_ts"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view')
             |SELECT p.event_id, p.user_id, p.ts, v.view_ts
             |FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.view_ts <= p.ts
             |ORDER BY event_id""".stripMargin)),

    // Semi-structured props: JSON path extraction stays a per-row scalar
    // (codegen'd, no shuffle added) feeding a regular aggregate. At scale
    // prefer parsing ONCE into a struct column at ingest (from_json with a
    // declared schema) over repeated path extraction per query.
    Q("q29_json_props",
      "extract a JSON field from event props and aggregate per type",
      (s, d) => {
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"),
            countDistinct(col("k")).as("distinct_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
             |  min(json_extract(props, '$.k')::BIGINT) AS min_k,
             |  max(json_extract(props, '$.k')::BIGINT) AS max_k,
             |  count(DISTINCT json_extract(props, '$.k')::BIGINT) AS distinct_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Skew-salted large-x-large join (operators/Skew.scala): the fact side
    // of each key spreads across 8 salt partitions, the dim side
    // replicates 8x, and the aggregate rolls the salt back up — the
    // oracle is the PLAIN join+group, proving salting is
    // semantics-preserving. For a truly dimension-sized side you'd
    // broadcast instead (q10); salting is for two large inputs whose hot
    // keys a single reducer can't hold. AQE skew-split is the runtime
    // alternative for SMJ plans.
    Q("q30_salted_join",
      "orders ⋈ customer via explicit 8-way salting, revenue per nation",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        val orders = t("orders").select(col("o_custkey").as("c_custkey"),
          col("o_totalprice"))
        val cust = t("customer").select(col("c_custkey"), col("c_nationkey"))
        Skew.saltedJoin(orders, cust, "c_custkey", salts = 8)
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            exactSumDbl(col("o_totalprice"), 2).as("revenue"))
          .orderBy("nationkey")
      },
      Some("""SELECT c_nationkey AS nationkey, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY nationkey""".stripMargin)),

    // HLL++ approximate distinct count — the mergeable-sketch path.
    // count(DISTINCT) at 100 TB forces a full expand+shuffle of the
    // distinct keys; approx_count_distinct keeps one constant-size HLL
    // register set per group that merges map-side (partial aggregation),
    // so the shuffle volume is O(groups), independent of cardinality.
    // HLL estimates are not bit-portable across engines, so the oracle
    // pins the exact count and a deterministic error-envelope check: the
    // estimate (rsd=0.05) must land within max(15 %, ±4) of exact. The
    // flag is computed from the Spark estimate — a real HLL regression
    // (or a broken merge) fails the hash gate.
    Q("q31_approx_distinct",
      "HLL approx distinct customers per month, error-bounded vs exact",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(
            countDistinct(col("o_custkey")).as("n_cust_exact"),
            approx_count_distinct(col("o_custkey"), rsd = 0.05).as("__approx"))
          .select(col("month"), col("n_cust_exact"),
            (abs(col("__approx") - col("n_cust_exact")).cast("double") <=
              greatest(col("n_cust_exact") * lit(0.15), lit(4.0)))
              .as("approx_ok"))
          .orderBy("month")
      },
      Some("""SELECT date_trunc('month', o_orderdate) AS month,
             |  count(DISTINCT o_custkey) AS n_cust_exact,
             |  TRUE AS approx_ok
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // CUBE / grouping sets: all four (nation × month) rollup strata in ONE
    // aggregation pass — Spark expands the grouping sets before the
    // exchange, so partial aggregation still combines map-side and the
    // shuffle carries ~4× group rows, not 4× input rows (vs running four
    // separate groupBys over the fact table). The stratum marker is
    // derived with CASE WHEN ... IS NULL (portable) rather than
    // grouping_id(), whose bit order is engine-defined; sorting by it
    // keeps every stratum's null pattern constant, so null-ordering
    // defaults (Spark NULLS FIRST vs DuckDB NULLS LAST) never see a mixed
    // column.
    Q("q32_cube",
      "orders ⋈ customer revenue by CUBE(nation, month): 4 strata, one pass",
      (s, d) => {
        def t(n: String): DataFrame = Tables.load(s, d, n)
        t("orders")
          .join(broadcast(t("customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nationkey"),
            date_trunc("month", col("o_orderdate")).as("month"),
            col("o_totalprice"))
          .cube(col("nationkey"), col("month"))
          .agg(count(lit(1)).as("n_orders"),
            exactSumDbl(col("o_totalprice"), 2).as("revenue"))
          .withColumn("stratum",
            when(col("nationkey").isNull, lit(2)).otherwise(lit(0)) +
              when(col("month").isNull, lit(1)).otherwise(lit(0)))
          .select(col("stratum"), col("nationkey"), col("month"),
            col("n_orders"), col("revenue"))
          .orderBy("stratum", "nationkey", "month")
      },
      Some("""SELECT
             |  (CASE WHEN c_nationkey IS NULL THEN 2 ELSE 0 END
             |    + CASE WHEN date_trunc('month', o_orderdate) IS NULL THEN 1 ELSE 0 END) AS stratum,
             |  c_nationkey AS nationkey,
             |  date_trunc('month', o_orderdate) AS month,
             |  count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY CUBE (c_nationkey, date_trunc('month', o_orderdate))
             |ORDER BY stratum, nationkey, month""".stripMargin)),

    // Interval / range join, bin-bucketed (the operator Spark has no
    // native physical strategy for — a naive formulation plans
    // BroadcastNestedLoopJoin, which dies when neither side broadcasts).
    // Windows here are data-derived "incident windows": hot hours (count
    // above 1.2× the event type's hourly mean) padded to [hour−30 min,
    // hour+90 min). The scale technique: explode each bounded-length
    // interval into the hour BINS it overlaps (≤3), hash-join events on
    // (type, hour-bin) — a plain shuffled equi-join — and apply the exact
    // range predicate as a residual filter. Cost is |events| + 3×|windows|
    // shuffled, never |events|×|windows|. The oracle is the NAIVE
    // BETWEEN join, proving the binning is semantics-preserving (an event
    // inside two overlapping padded windows counts in both, same as the
    // naive join). Bins work because the interval length is bounded by
    // construction — unbounded intervals take the sort-based
    // interval-tree path instead.
    Q("q33_range_join",
      "events ⋈ padded hot-hour windows via hour-bin equi-join + residual",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("ts"), col("event_type"), col("value"))
        val hourly = ev
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val stats = hourly.groupBy("event_type")
          .agg(avg(col("n")).as("avg_n"))
        val hot = hourly.join(broadcast(stats), Seq("event_type"))
          .filter(col("n") > col("avg_n") * lit(1.2))
          .select(col("event_type"),
            (col("hour") - expr("INTERVAL 30 MINUTES")).as("w_start"),
            (col("hour") + expr("INTERVAL 90 MINUTES")).as("w_end"))
        val bins = hot.withColumn("bin",
          explode(sequence(
            date_trunc("hour", col("w_start")),
            date_trunc("hour", col("w_end") - expr("INTERVAL 1 MICROSECOND")),
            expr("INTERVAL 1 HOUR"))))
        ev.withColumn("bin", date_trunc("hour", col("ts")))
          .join(bins, Seq("event_type", "bin"))
          .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .groupBy("event_type", "w_start")
          .agg(count(lit(1)).as("n_events"),
            exactSumDbl(col("value"), 4).as("total_value"))
          .orderBy("event_type", "w_start")
      },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |stats AS (SELECT event_type, avg(n) AS avg_n FROM hourly GROUP BY 1),
             |hot AS (
             |  SELECT h.event_type,
             |    h.hour - INTERVAL 30 MINUTE AS w_start,
             |    h.hour + INTERVAL 90 MINUTE AS w_end
             |  FROM hourly h JOIN stats s USING (event_type)
             |  WHERE h.n > s.avg_n * 1.2)
             |SELECT e.event_type AS event_type, hot.w_start, count(*) AS n_events,
             |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM events e JOIN hot
             |  ON e.event_type = hot.event_type
             |  AND e.ts >= hot.w_start AND e.ts < hot.w_end
             |GROUP BY 1, 2 ORDER BY event_type, w_start""".stripMargin)),

    // Time-bounded self-join (purchase attribution): each purchase pairs
    // with the same user's clicks in the preceding hour. Unlike q33 the
    // equi-key (user_id) is already selective, so NO binning is needed:
    // the hash join on user_id carries the work and the time bound is a
    // residual predicate — per-user event counts bound each match group,
    // so the join is output-bound at any corpus size. This is also the
    // batch twin of EventStreams.purchaseAttribution (stream-stream
    // interval join); a spec asserts they agree. The oracle casts the
    // nanosecond timestamps to microseconds (both engines floor) because
    // the interval arithmetic here compares RAW event times — sub-µs
    // precision the Spark reader truncates would otherwise flip boundary
    // comparisons.
    Q("q34_event_attribution",
      "purchases ⋈ same-user clicks within the preceding hour (time-bounded self-join)",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"), col("value"))
        purchases.join(clicks, Seq("user_id"))
          .filter(col("click_ts") <= col("purchase_ts") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
            col("click_id"), col("click_ts"), col("value"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
             |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value FROM ev WHERE event_type = 'purchase')
             |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts, value
             |FROM p JOIN c ON p.user_id = c.user_id
             |  AND click_ts <= purchase_ts
             |  AND click_ts >= purchase_ts - INTERVAL 1 HOUR
             |ORDER BY purchase_id, click_id""".stripMargin)),

    // Ranking-function battery: rank / dense_rank / percent_rank /
    // cume_dist / ntile over one window — all five share a single sort
    // within one shuffle by the partition key (WindowExec evaluates the
    // whole frame list per partition). The ORDER BY includes the unique
    // key (c_custkey) so tie-dependent outputs (ntile, percent_rank) are
    // deterministic and engine-portable; percent_rank's
    // (rank−1)/(rows−1) double is the same arithmetic in both engines.
    Q("q35_rank_battery",
      "per-nation customer balance ranks: rank/dense/percent/cume_dist/ntile(4)",
      (s, d) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        Tables.load(s, d, "customer")
          .select(col("c_nationkey").as("nationkey"),
            col("c_custkey").as("custkey"),
            col("c_acctbal").as("acctbal"),
            rank().over(w).as("bal_rank"),
            dense_rank().over(w).as("bal_dense_rank"),
            percent_rank().over(w).as("bal_pct_rank"),
            cume_dist().over(w).as("bal_cume_dist"),
            ntile(4).over(w).as("bal_quartile"))
          .orderBy("nationkey", "bal_rank")
      },
      Some("""SELECT c_nationkey AS nationkey, c_custkey AS custkey,
             |  c_acctbal AS acctbal,
             |  rank() OVER w AS bal_rank,
             |  dense_rank() OVER w AS bal_dense_rank,
             |  percent_rank() OVER w AS bal_pct_rank,
             |  cume_dist() OVER w AS bal_cume_dist,
             |  ntile(4) OVER w AS bal_quartile
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
             |ORDER BY nationkey, bal_rank""".stripMargin)),

    // Mergeable quantile sketch — q31's story for percentiles: exact
    // percentile_disc must hold every group's values (a sort-based
    // aggregate whose state grows with the data), while approx_percentile
    // keeps a constant-size Greenwald-Khanna summary per group that
    // merges map-side, so the shuffle is O(groups) at any scale. GK's
    // guarantee is on RANK error (≤ n/accuracy), so the gate bounds the
    // estimate between exact neighbors ±2% of rank around each target
    // percentile; the flags are computed from the Spark estimate — a
    // sketch regression fails the hash gate — and the oracle pins the
    // exact values plus TRUE flags (q31 pattern).
    Q("q36_approx_quantiles",
      "GK-sketch approximate p50/p95 per type, rank-error-bounded vs exact",
      (s, d) => {
        Tables.events(s, d).groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50_exact"),
            expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95_exact"),
            expr("percentile_disc(0.48) WITHIN GROUP (ORDER BY value)").as("__p50_lo"),
            expr("percentile_disc(0.52) WITHIN GROUP (ORDER BY value)").as("__p50_hi"),
            expr("percentile_disc(0.93) WITHIN GROUP (ORDER BY value)").as("__p95_lo"),
            expr("percentile_disc(0.97) WITHIN GROUP (ORDER BY value)").as("__p95_hi"),
            expr("approx_percentile(value, 0.5, 100)").as("__a50"),
            expr("approx_percentile(value, 0.95, 100)").as("__a95"))
          .select(col("event_type"), col("n"),
            col("p50_exact"), col("p95_exact"),
            (col("__a50") >= col("__p50_lo") && col("__a50") <= col("__p50_hi"))
              .as("p50_ok"),
            (col("__a95") >= col("__p95_lo") && col("__a95") <= col("__p95_hi"))
              .as("p95_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  quantile_disc(value, 0.5) AS p50_exact,
             |  quantile_disc(value, 0.95) AS p95_exact,
             |  TRUE AS p50_ok,
             |  TRUE AS p95_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Statistical-moments battery computed ORDER-INDEPENDENTLY: built-in
    // stddev/var/corr accumulate doubles in partition order, so their last
    // bits change with executor count — fine for analytics, fatal for a
    // reproducibility gate (and for any diff-based regression check at
    // 100 TB). Here every power sum (Σx, Σx², Σy, Σy², Σxy) aggregates as
    // exact DECIMAL(38,18) — commutative, map-side-partial, identical at
    // any partitioning — and the moments derive from the sums in one
    // final double expression whose shape both engines share. The per-row
    // products (x·x, x·y) are single IEEE ops, portable by definition.
    // Same results every run, every cluster size, both engines — the
    // exactMeanVec discipline extended to second moments.
    Q("q37_moment_battery",
      "order-independent mean/var/stddev/corr per type from exact decimal power sums",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"),
          col("value").as("x"), hour(col("ts")).cast("double").as("y"))
        val g = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,18)")).as("_sx"),
          sum((col("x") * col("x")).cast("decimal(38,18)")).as("_sx2"),
          sum(col("y").cast("decimal(38,18)")).as("_sy"),
          sum((col("y") * col("y")).cast("decimal(38,18)")).as("_sy2"),
          sum((col("x") * col("y")).cast("decimal(38,18)")).as("_sxy"))
        val n = col("n")
        val sx = col("_sx").cast("double")
        val sx2 = col("_sx2").cast("double")
        val sy = col("_sy").cast("double")
        val sy2 = col("_sy2").cast("double")
        val sxy = col("_sxy").cast("double")
        // degenerate-group guards, mirrored in the oracle: a singleton
        // group's (n-1) divisor is a 0/0 (NULL in Spark's non-ANSI
        // divide, NaN in DuckDB — a silent cross-engine divergence), and
        // a zero-variance side zeroes corr's denominator the same way;
        // both become explicit NULLs in both engines. Each variance
        // factor is guarded INDEPENDENTLY (not their product): float
        // cancellation can nudge both zero-variance factors slightly
        // negative, and a positive product would then admit a
        // meaningless corr in both engines at once
        g.select(col("event_type"), n,
            (sx / n).as("mean_value"),
            when(n > 1, (sx2 - sx * sx / n) / (n - lit(1))).as("var_value"),
            when(n > 1, sqrt((sx2 - sx * sx / n) / (n - lit(1))))
              .as("stddev_value"),
            when((n * sx2 - sx * sx) > 0 && (n * sy2 - sy * sy) > 0,
              (n * sxy - sx * sy) /
                sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)))
              .as("corr_value_hour"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, value AS x,
             |    CAST(hour(ts) AS DOUBLE) AS y FROM events),
             |g AS (SELECT event_type, count(*)::BIGINT AS n,
             |  CAST(CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sx,
             |  CAST(CAST(sum(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sx2,
             |  CAST(CAST(sum(CAST(CAST(y AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sy,
             |  CAST(CAST(sum(CAST(CAST(y * y AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sy2,
             |  CAST(CAST(sum(CAST(CAST(x * y AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxy
             |  FROM e GROUP BY 1)
             |SELECT event_type, n,
             |  sx / n AS mean_value,
             |  CASE WHEN n > 1 THEN (sx2 - sx * sx / n) / (n - 1) END AS var_value,
             |  CASE WHEN n > 1 THEN sqrt((sx2 - sx * sx / n) / (n - 1)) END AS stddev_value,
             |  CASE WHEN (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0 THEN
             |    (n * sxy - sx * sy) /
             |      sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
             |  END AS corr_value_hour
             |FROM g ORDER BY event_type""".stripMargin)),

    // Type-2 slowly-changing-dimension build — the canonical warehouse
    // dimension-history derivation: compress each user's event_type
    // sequence into validity intervals [valid_from, valid_to) with a
    // version number and a current-row flag. Change detection (lag),
    // versioning (row_number) and interval close (lead) all share ONE
    // window spec, and the filter between them preserves both the hash
    // distribution and the sort order — so the whole query is a single
    // shuffle on user_id and a single sort, however many users. Ordering
    // includes event_id so same-timestamp ties version deterministically
    // in both engines.
    Q("q38_scd2_build",
      "SCD2 dimension history: per-user event_type validity intervals with version + current flag",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"))
          .withColumn("version", row_number().over(w))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .select(col("user_id"), col("version"), col("event_type"),
            col("ts").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type FROM events),
             |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM ev),
             |ch AS (SELECT user_id, ts, event_id, event_type FROM c
             |  WHERE prev_type IS NULL OR prev_type <> event_type),
             |v AS (SELECT user_id, event_type, ts AS valid_from,
             |    row_number() OVER w AS version,
             |    lead(ts) OVER w AS valid_to
             |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, version, event_type, valid_from, valid_to,
             |  valid_to IS NULL AS is_current
             |FROM v ORDER BY user_id, version""".stripMargin)),

    // Explicit GROUPING SETS — the surface between GROUP BY and CUBE:
    // exactly the strata the report needs ((flag, status), (flag), ())
    // in ONE pass, where q32's cube always pays all 2^n. Strata are
    // identified by grouping() markers, not IS NULL probes — the textbook
    // reason grouping() exists (a real NULL group value would alias the
    // subtotal rows). gid leads the ORDER BY so nulled-out dimensions are
    // constant within each sort group and the engines' NULLS FIRST/LAST
    // divergence can never reorder rows.
    //
    // Shape (round 10): PRE-AGGREGATE THEN EXPAND. The naive formulation
    // runs Expand×3 over the full lineitem scan — a 3× replicated
    // shuffle, the registry's priciest pure-relational stage (2.0-2.3 s
    // at sf0.1, and 3× the corpus at 100 TB). Every aggregate here is
    // ALGEBRAIC (counts and decimal sums re-aggregate losslessly:
    // decimal addition is associative, count folds by sum — the §7.4
    // rule-9 sufficient-statistics argument), so the corpus pass is a
    // plain (flag, status) grid rollup — map-side partial, ONE unreplicated
    // shuffle to ~|flags|×|status| rows — and the GROUPING SETS Expand
    // runs over the TINY grid. Same answer bit-for-bit: the outer sums
    // fold the inner decimal partials exactly, and the final double cast
    // happens once at the end as before. The oracle keeps the canonical
    // single-pass GROUPING SETS SQL — which is also the semantic spec
    // the reformulation must (and does) hash-match.
    Q("q39_grouping_sets",
      "lineitem rollup over explicit GROUPING SETS with grouping() stratum markers (pre-aggregated grid)",
      (s, d) => {
        val grid = Tables.load(s, d, "lineitem")
          .select(col("l_returnflag").as("returnflag"),
            col("l_linestatus").as("linestatus"),
            col("l_quantity"), col("l_extendedprice"))
          .groupBy("returnflag", "linestatus")
          .agg(count(lit(1)).as("pn"),
            exactSumDec(col("l_quantity"), 2).as("pq"),
            exactSumDec(col("l_extendedprice"), 2).as("pp"))
        grid
          .groupingSets(
            Seq(Seq(col("returnflag"), col("linestatus")),
              Seq(col("returnflag")), Seq.empty),
            col("returnflag"), col("linestatus"))
          .agg(
            (grouping(col("returnflag")) * 2 + grouping(col("linestatus")))
              .cast("long").as("gid"),
            sum(col("pn")).as("n"),
            sum(col("pq")).cast("double").as("sum_qty"),
            sum(col("pp")).cast("double").as("sum_price"))
          .orderBy("gid", "returnflag", "linestatus")
      },
      Some("""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
             |  (GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus))::BIGINT AS gid,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY gid, returnflag, linestatus""".stripMargin)),

    // Cohort retention — the product-analytics matrix (users cohorted by
    // first-active month, distinct actives per (cohort, month offset)).
    // Three exchanges, each one the semantics' floor: (1) distinct
    // user-months — the raw event stream collapses map-side-partial to at
    // most |users|×|months| rows before anything else runs; (2) the
    // per-user window attaching the cohort month (min over the user's
    // months — a window, not a groupBy+self-join, so the user's rows are
    // touched once and there is no join to mis-plan); (3) the final
    // (cohort, offset) rollup with a partial-aggregated distinct count.
    // All keys are high-cardinality (user_id, then cohort×offset), so no
    // reducer inherits the corpus: at 100 TB the distinct-user-month
    // frame — the only corpus-scale intermediate — is bounded by
    // users × months, orders below raw events. The offset is
    // integer-exact month arithmetic (never months_between's float
    // days-division), so both engines agree bit-for-bit.
    Q("q40_cohort_retention",
      "user cohorts by first-active month: distinct active users per (cohort, month offset)",
      (s, d) => {
        val um = Tables.events(s, d)
          .select(col("user_id"),
            date_trunc("month", col("ts")).as("m"))
          .distinct()
        val w = Window.partitionBy(col("user_id"))
        um.withColumn("cohort_month", min(col("m")).over(w))
          .groupBy(col("cohort_month"),
            ((year(col("m")) - year(col("cohort_month"))) * 12 +
              (month(col("m")) - month(col("cohort_month"))))
              .cast("long").as("month_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
          .orderBy("cohort_month", "month_offset")
      },
      Some("""WITH um AS (
             |  SELECT DISTINCT user_id, date_trunc('month', ts) AS m
             |  FROM events),
             |c AS (SELECT user_id, m,
             |    min(m) OVER (PARTITION BY user_id) AS cohort_month
             |  FROM um)
             |SELECT cohort_month,
             |  ((year(m) - year(cohort_month)) * 12
             |    + (month(m) - month(cohort_month)))::BIGINT AS month_offset,
             |  count(DISTINCT user_id)::BIGINT AS n_users
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Ordered-funnel pattern match — MATCH_RECOGNIZE semantics (SQL:2016
    // row-pattern recognition; Spark has no MATCH_RECOGNIZE clause) via
    // the portable reduction: compress each user's (ts, event_id)-ordered
    // event history to a one-char-per-event string, then test the funnel's
    // stages as greedy regex SUBSEQUENCE patterns (signup ⊏ view ⊏ click
    // ⊏ purchase — '.*'-separated, so unrelated events between stages
    // don't break the match, which is exactly what min(ts)-per-type
    // comparisons get wrong: a purchase BEFORE the first signup must not
    // count, and per-type min-ts cascades need one extra shuffled
    // aggregation per stage to express that). ONE exchange total: the
    // per-user groupBy that builds the string (the q15 shape — array_sort
    // of a collect_list buffers a single user's events, bounded by the
    // per-user history, never a corpus-scale buffer); the stage CASE is a
    // map-side projection after it. At 100 TB this is the standard
    // behavioral-analytics funnel over billions of users: high-cardinality
    // key, partial-aggregated list build, no join, no second shuffle.
    Q("q41_funnel_pattern",
      "deepest signup->view->click->purchase funnel stage per user, regex subsequence over the ordered event string",
      (s, d) => {
        // stage letters by EXPLICIT type mapping, never substr(type,1,1):
        // a future regenerated type starting with s/v/c/p ('search',
        // 'checkout') must map to the 'x' filler, not silently alias a
        // funnel stage — and the streaming twin (funnelStream) matches
        // full names, so the two engines must share this exact map
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type") === "signup", "s")
              .when(col("event_type") === "view", "v")
              .when(col("event_type") === "click", "c")
              .when(col("event_type") === "purchase", "p")
              .otherwise("x").as("ini"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            expr("array_join(transform(array_sort(collect_list(struct(ts, event_id, ini))), x -> x.ini), '')")
              .as("seq"))
          .select(col("user_id"), col("n_events"),
            when(col("seq").rlike("s.*v.*c.*p"), lit(4))
              .when(col("seq").rlike("s.*v.*c"), lit(3))
              .when(col("seq").rlike("s.*v"), lit(2))
              .when(col("seq").rlike("s"), lit(1))
              .otherwise(lit(0)).as("funnel_stage"))
          .orderBy("user_id")
      },
      Some("""WITH sq AS (
             |  SELECT user_id, count(*)::BIGINT AS n_events,
             |    string_agg(CASE event_type WHEN 'signup' THEN 's'
             |        WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             |        WHEN 'purchase' THEN 'p' ELSE 'x' END,
             |      '' ORDER BY ts, event_id) AS seq
             |  FROM events GROUP BY user_id)
             |SELECT user_id, n_events,
             |  CASE WHEN regexp_matches(seq, 's.*v.*c.*p') THEN 4
             |       WHEN regexp_matches(seq, 's.*v.*c') THEN 3
             |       WHEN regexp_matches(seq, 's.*v') THEN 2
             |       WHEN regexp_matches(seq, 's') THEN 1
             |       ELSE 0 END AS funnel_stage
             |FROM sq ORDER BY user_id""".stripMargin)),

    // Multi-touch attribution with time decay — q34's last-touch join
    // generalized to the model marketing analytics actually runs: every
    // click in the 24 h before a purchase gets credit that halves per
    // hour of distance. The decay weights are EXACT LONGS by
    // construction — w = 1 << (30 − floor(Δ/1h)), so a purchase's weight
    // total is exact integer arithmetic at ANY join order and the only
    // float op is the final share division + the credited-value product,
    // bit-identical in both engines (no pow(), no float accumulation
    // ordering to diverge). Plan shape: q34's selective user_id hash join
    // with the time bound as a residual predicate (output-bound per-user
    // groups), then ONE purchase-keyed window exchange for the total —
    // at 100 TB both keys are high-cardinality and nothing corpus-sized
    // broadcasts.
    Q("q42_multi_touch",
      "time-decay multi-touch attribution: per-purchase click shares from exact integer halving weights",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("purchase_ts"),
            col("event_id").as("purchase_id"), col("value"))
        val w = Window.partitionBy(col("purchase_id"))
        purchases.join(clicks, Seq("user_id"))
          .filter(col("click_ts") <= col("purchase_ts") &&
            col("click_ts") > col("purchase_ts") - expr("INTERVAL 24 HOURS"))
          .withColumn("hours_before",
            expr("(unix_millis(purchase_ts) - unix_millis(click_ts)) div 3600000"))
          .withColumn("weight", expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - hours_before AS INT))"))
          .withColumn("total_weight", sum(col("weight")).over(w))
          .select(col("user_id"), col("purchase_id"), col("click_id"),
            col("hours_before"), col("weight"),
            (col("weight") * lit(1.0) / col("total_weight")).as("share"),
            (col("value") * (col("weight") * lit(1.0) / col("total_weight")))
              .as("credited_value"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM events),
             |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value FROM ev WHERE event_type = 'purchase'),
             |j AS (SELECT p.user_id, purchase_id, click_id, value,
             |    (epoch_ms(purchase_ts) - epoch_ms(click_ts)) // 3600000 AS hours_before
             |  FROM p JOIN c ON p.user_id = c.user_id
             |    AND click_ts <= purchase_ts
             |    AND click_ts > purchase_ts - INTERVAL 24 HOURS),
             |wts AS (SELECT *, (1::BIGINT << (30 - hours_before))::BIGINT AS weight FROM j),
             |tot AS (SELECT *, sum(weight) OVER (PARTITION BY purchase_id)::BIGINT AS total_weight FROM wts)
             |SELECT user_id, purchase_id, click_id, hours_before, weight,
             |  weight * 1.0 / total_weight AS share,
             |  value * (weight * 1.0 / total_weight) AS credited_value
             |FROM tot ORDER BY purchase_id, click_id""".stripMargin)),

    // Event transition matrix — the Markov next-step counts behind every
    // user-flow / Sankey report (q41's funnel asks "did the ordered
    // chain complete"; this asks "where do users GO from each state").
    // Per user, each event's successor comes from ONE lead() over the
    // (ts, event_id) order — the same single user-keyed exchange as
    // q41/q22 (billions of users = high-cardinality key, per-user window
    // buffers bounded by per-user history). Everything after is
    // grid-sized: the (type, next_type) rollup collapses map-side to at
    // most |types|² cells, and the row-share denominator is a window
    // over those cells — so the transition PROBABILITIES cost nothing
    // beyond the counts. Last events (no successor) aggregate into the
    // 'exit' column rather than dropping: flow reports need the
    // absorbing state, and silently losing rows would understate every
    // out-share. n is exact long; share is one IEEE division, bit-equal
    // in both engines.
    Q("q43_event_transitions",
      "Markov transition matrix: next-event counts and row shares per event type, exits absorbed",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("next_type",
            coalesce(lead(col("event_type"), 1).over(w), lit("exit")))
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("share", col("n") * lit(1.0) /
            sum(col("n")).over(Window.partitionBy(col("event_type"))))
          .orderBy("event_type", "next_type")
      },
      Some("""WITH nx AS (SELECT event_type,
             |    coalesce(lead(event_type, 1) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id), 'exit') AS next_type
             |  FROM events),
             |grid AS (SELECT event_type, next_type, count(*)::BIGINT AS n
             |  FROM nx GROUP BY 1, 2)
             |SELECT event_type, next_type, n,
             |  n * 1.0 / sum(n) OVER (PARTITION BY event_type) AS share
             |FROM grid ORDER BY event_type, next_type""".stripMargin))
  ) ++ Seq(

    // Volume-anomaly flags — the monitoring query every event pipeline
    // pages on (did click volume spike 3σ today?), with the z-score
    // test made ENGINE-EXACT: flagging |x − μ| > 3σ via IEEE mean/std
    // would hinge tie-cases on float rounding that differs with
    // aggregation order, so the test is cross-multiplied into integers
    // — with n days, S = Σx, SS = Σx², the condition |x − S/n| > 3σ
    // squares to (n·x − S)² > 9·(n·SS − S²), every term an exact sum
    // of longs. Products run in decimal(38,0)/HUGEINT (the t27 rule:
    // daily counts at 100 TB overflow long² arithmetic). Population σ
    // over the type's own days — the denominator convention stated
    // here because monitoring dashboards disagree; a 1-day type can
    // never flag (variance 0 and x = S). Shape: the only corpus-scale
    // stage is the (type, day) rollup (map-side partial, one
    // exchange); moments and flags run on the ≤|types|×|days| grid,
    // with the per-type moment attach a broadcast of ≤|types| rows.
    Q("q44_volume_anomaly",
      "per-(event_type, day) volume with an integer-exact 3-sigma anomaly flag",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        val dec = (c: Column) => c.cast("decimal(38,0)")
        val moments = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            sum(col("n_events")).as("s"),
            sum(dec(col("n_events")) * dec(col("n_events"))).as("ss"))
        daily.join(broadcast(moments), Seq("event_type"))
          .withColumn("lhs",
            (dec(col("n_days")) * dec(col("n_events")) - dec(col("s"))) *
              (dec(col("n_days")) * dec(col("n_events")) - dec(col("s"))))
          .withColumn("rhs",
            lit(9) * (dec(col("n_days")) * col("ss") -
              dec(col("s")) * dec(col("s"))))
          .select(col("event_type"), col("day"), col("n_events"),
            col("n_days"), (col("lhs") > col("rhs")).as("is_anomaly"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
             |    count(*)::BIGINT AS n_events
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, count(*)::BIGINT AS n_days,
             |    sum(n_events)::BIGINT AS s,
             |    sum(n_events::HUGEINT * n_events::HUGEINT) AS ss
             |  FROM daily GROUP BY 1)
             |SELECT daily.event_type, day, n_events, n_days,
             |  (n_days::HUGEINT * n_events - s) * (n_days::HUGEINT * n_events - s)
             |    > 9 * (n_days::HUGEINT * ss - s::HUGEINT * s) AS is_anomaly
             |FROM daily JOIN m ON daily.event_type = m.event_type
             |ORDER BY daily.event_type, day""".stripMargin)),

    // KMV distinct-sketch SET ALGEBRA — the capability q31's HLL lacks.
    // count(DISTINCT) across segment PAIRS at 100 TB means co-shuffling
    // raw user ids per pair; a KMV (bottom-k) sketch is a bounded
    // (≤ k longs), MERGEABLE per-group summary (graft_kmv, a
    // TypedImperativeAggregate with map-side partial merge — the
    // exchange carries O(groups·k) regardless of cardinality), and two
    // groups' sketches combine into union / intersection / Jaccard
    // estimates with pure array arithmetic on the sketch grain. Because
    // the sketch keeps md5-derived h60 HASHES (not HLL registers), the
    // DuckDB oracle rebuilds sketches and estimates BIT-EXACTLY — a
    // hash-gated estimator, strictly stronger than q31's envelope
    // check. Estimators (Beyer et al., SIGMOD'07): a sketch holding
    // fewer than k hashes IS the exact distinct set (estimate = size);
    // at k, n̂ = (k-1)·2^60/h_(k) (hashes uniform in [0, 2^60));
    // intersection via the union sketch R = bottom-k(A ∪ B):
    // n̂∩ = |R ∩ A ∩ B|/|R| · n̂∪. All-double arithmetic with pinned
    // operand order, so both engines round identically.
    Q("q45_kmv_distinct_algebra",
      "KMV bottom-64 user sketches per event type; pairwise union/intersection/Jaccard estimates by sketch algebra",
      (s, d) => {
        graft.plans.SketchAggregates.register(s)
        import graft.functions.Portable.{h60, kmvSketch}
        val K = 64
        val sk = Tables.events(s, d)
          .select(col("event_type"),
            h60(concat(lit("kmv_"), col("user_id").cast("string"))).as("h"))
          .groupBy("event_type")
          .agg(kmvSketch(col("h"), K).as("sk"))
        def est(c: Column): Column =
          when(size(c) < K, size(c).cast("double"))
            .otherwise(lit(63.0) * lit(1152921504606846976.0) /
              element_at(c, K).cast("double"))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
        a.join(broadcast(b), col("type_a") < col("type_b"))
          .withColumn("r", slice(array_sort(array_union(col("ska"), col("skb"))), 1, K))
          .withColumn("n_common",
            size(array_intersect(array_intersect(col("r"), col("ska")), col("skb"))))
          .withColumn("est_union", est(col("r")))
          .select(col("type_a"), col("type_b"),
            est(col("ska")).as("est_a"),
            est(col("skb")).as("est_b"),
            col("est_union"),
            (col("n_common").cast("double") / size(col("r")).cast("double") *
              col("est_union")).as("est_intersect"),
            (col("n_common").cast("double") / size(col("r")).cast("double"))
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH h AS (SELECT event_type,
             |    ('0x' || substr(md5('kmv_' || user_id), 1, 15))::BIGINT AS h
             |  FROM events),
             |sk AS (SELECT event_type, list_sort(list(DISTINCT h))[1:64] AS sk
             |  FROM h GROUP BY 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    a.sk AS ska, b.sk AS skb,
             |    list_sort(list_distinct(a.sk || b.sk))[1:64] AS r
             |  FROM sk a JOIN sk b ON a.event_type < b.event_type),
             |c AS (SELECT type_a, type_b, ska, skb, r,
             |    len(list_filter(r, x -> list_contains(ska, x)
             |      AND list_contains(skb, x))) AS n_common,
             |    CASE WHEN len(r) < 64 THEN len(r)::DOUBLE
             |         ELSE 63.0 * 1152921504606846976.0 / r[64] END AS est_union
             |  FROM p)
             |SELECT type_a, type_b,
             |  CASE WHEN len(ska) < 64 THEN len(ska)::DOUBLE
             |       ELSE 63.0 * 1152921504606846976.0 / ska[64] END AS est_a,
             |  CASE WHEN len(skb) < 64 THEN len(skb)::DOUBLE
             |       ELSE 63.0 * 1152921504606846976.0 / skb[64] END AS est_b,
             |  est_union,
             |  n_common::DOUBLE / len(r)::DOUBLE * est_union AS est_intersect,
             |  n_common::DOUBLE / len(r)::DOUBLE AS jaccard
             |FROM c ORDER BY type_a, type_b""".stripMargin)),

    // Z-order data layout + min/max data-skipping audit — the LAKEHOUSE
    // layout decision (Delta OPTIMIZE ZORDER / Iceberg sort orders /
    // Hudi clustering): at 100 TB the scan cost of every box-predicate
    // query is set by how many files the engine can PRUNE from footer
    // min/max stats, which is a property of the write-time row→file
    // layout. Three layouts over orders, same 32-file budget, all by
    // FIXED-GRID assignment (pure projections — a real OPTIMIZE uses a
    // sampled range partition for equal file sizes; fixed z-width cells
    // keep the assignment deterministic for the oracle AND make the
    // resulting file-size skew visible in n_rows, which is itself part
    // of the audit): 'linear' files by insertion-order key (o_orderkey
    // ranges — what you get WITHOUT clustering), 'bykey' by single-dim
    // custkey sort (perfect pruning on custkey, none on date), 'zorder'
    // by 8+8-bit Morton interleave of (custkey, orderdate) rank-buckets
    // — bounded pruning on BOTH dims. Each file carries the stats a
    // parquet footer would (min/max per dim, row count); a planted
    // middle-decile box query (custkey ∈ P45–P55 × orderdate ∈ P45–P55
    // of the value ranges, integer-derived) is then priced per layout:
    // `scanned` = the footer-overlap test, `layout_files_read` = the
    // audit headline. Everything is 64-bit integer arithmetic (bucket
    // quantization, bit interleave, percentile bounds) — bit-exact in
    // both engines. Scale shape: one stats rollup (1 row, broadcast
    // back), one narrow projection computing buckets/z/file ids riding
    // the scan, one groupBy on (layout, file_id) — 96 groups, map-side
    // partial; the window runs on 96 rows. The corpus is never sorted
    // and never reshuffled beyond the 96-group rollup.
    Q("q46_zorder_skipping",
      "z-order vs single-key vs linear layout: per-file min/max stats and data-skipping audit for a planted box query",
      (s, d) => {
        val zExpr = (0 until 8).map(i =>
          s"(shiftleft(shiftright(bck, $i) & 1, ${2 * i + 1}) + " +
            s"shiftleft(shiftright(bdy, $i) & 1, ${2 * i}))").mkString(" + ")
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            datediff(to_date(col("o_orderdate")),
              to_date(lit("1970-01-01"))).cast("long").as("dy"))
        val st = o.agg(
          min("ck").as("lo_ck"), max("ck").as("hi_ck"),
          min("dy").as("lo_dy"), max("dy").as("hi_dy"),
          min("ok").as("lo_ok"), max("ok").as("hi_ok"))
        val b = o.crossJoin(broadcast(st))
          .withColumn("bck", expr("((ck - lo_ck) * 256) div (hi_ck - lo_ck + 1)"))
          .withColumn("bdy", expr("((dy - lo_dy) * 256) div (hi_dy - lo_dy + 1)"))
          .withColumn("bok", expr("((ok - lo_ok) * 32) div (hi_ok - lo_ok + 1)"))
          .withColumn("z", expr(zExpr))
          .withColumn("q_lo_ck", expr("lo_ck + ((hi_ck - lo_ck + 1) * 45) div 100"))
          .withColumn("q_hi_ck", expr("lo_ck + ((hi_ck - lo_ck + 1) * 55) div 100"))
          .withColumn("q_lo_dy", expr("lo_dy + ((hi_dy - lo_dy + 1) * 45) div 100"))
          .withColumn("q_hi_dy", expr("lo_dy + ((hi_dy - lo_dy + 1) * 55) div 100"))
          .withColumn("matched",
            col("ck").between(col("q_lo_ck"), col("q_hi_ck")) &&
              col("dy").between(col("q_lo_dy"), col("q_hi_dy")))
        val files = b
          .select(col("ck"), col("dy"), col("matched"),
            col("q_lo_ck"), col("q_hi_ck"), col("q_lo_dy"), col("q_hi_dy"),
            expr("stack(3, 'zorder', z div 2048, 'bykey', bck div 8, " +
              "'linear', bok) AS (layout, file_id)"))
          .groupBy("layout", "file_id")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("matched"), 1L).otherwise(0L)).as("n_match"),
            min("ck").as("min_ck"), max("ck").as("max_ck"),
            min("dy").as("min_day"), max("dy").as("max_day"),
            max("q_lo_ck").as("q_lo_ck"), max("q_hi_ck").as("q_hi_ck"),
            max("q_lo_dy").as("q_lo_dy"), max("q_hi_dy").as("q_hi_dy"))
          .withColumn("scanned",
            !(col("max_ck") < col("q_lo_ck") || col("min_ck") > col("q_hi_ck") ||
              col("max_day") < col("q_lo_dy") || col("min_day") > col("q_hi_dy")))
          // second planted query: date-range ONLY — the predicate class a
          // single-key custkey sort cannot prune at all, where the
          // interleave earns its keep (z-order's defining trade: bounded
          // pruning on EVERY indexed dim vs perfect on one)
          .withColumn("scanned_day",
            !(col("max_day") < col("q_lo_dy") || col("min_day") > col("q_hi_dy")))
        val wlay = Window.partitionBy(col("layout"))
        files
          .withColumn("layout_files_read",
            sum(when(col("scanned"), 1L).otherwise(0L)).over(wlay))
          .withColumn("layout_files_read_day",
            sum(when(col("scanned_day"), 1L).otherwise(0L)).over(wlay))
          .select(col("layout"), col("file_id"), col("n_rows"), col("n_match"),
            col("min_ck"), col("max_ck"), col("min_day"), col("max_day"),
            col("scanned"), col("scanned_day"),
            col("layout_files_read"), col("layout_files_read_day"))
          .orderBy("layout", "file_id")
      },
      Some {
        val zSql = (0 until 8).map(i =>
          s"((((bck >> $i) & 1) << ${2 * i + 1}) + (((bdy >> $i) & 1) << ${2 * i}))")
          .mkString(" + ")
        s"""WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
           |    (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS dy FROM orders),
           |st AS (SELECT min(ck) AS lo_ck, max(ck) AS hi_ck, min(dy) AS lo_dy,
           |    max(dy) AS hi_dy, min(ok) AS lo_ok, max(ok) AS hi_ok FROM o),
           |b AS (SELECT ok, ck, dy,
           |    ((ck - lo_ck) * 256) // (hi_ck - lo_ck + 1) AS bck,
           |    ((dy - lo_dy) * 256) // (hi_dy - lo_dy + 1) AS bdy,
           |    ((ok - lo_ok) * 32) // (hi_ok - lo_ok + 1) AS bok,
           |    lo_ck + ((hi_ck - lo_ck + 1) * 45) // 100 AS q_lo_ck,
           |    lo_ck + ((hi_ck - lo_ck + 1) * 55) // 100 AS q_hi_ck,
           |    lo_dy + ((hi_dy - lo_dy + 1) * 45) // 100 AS q_lo_dy,
           |    lo_dy + ((hi_dy - lo_dy + 1) * 55) // 100 AS q_hi_dy
           |  FROM o CROSS JOIN st),
           |zz AS (SELECT *, ck BETWEEN q_lo_ck AND q_hi_ck
           |      AND dy BETWEEN q_lo_dy AND q_hi_dy AS matched,
           |    $zSql AS z FROM b),
           |f AS (SELECT 'zorder' AS layout, z // 2048 AS file_id, ck, dy, matched,
           |    q_lo_ck, q_hi_ck, q_lo_dy, q_hi_dy FROM zz
           |  UNION ALL SELECT 'bykey', bck // 8, ck, dy, matched,
           |    q_lo_ck, q_hi_ck, q_lo_dy, q_hi_dy FROM zz
           |  UNION ALL SELECT 'linear', bok, ck, dy, matched,
           |    q_lo_ck, q_hi_ck, q_lo_dy, q_hi_dy FROM zz),
           |g AS (SELECT layout, file_id, count(*)::BIGINT AS n_rows,
           |    sum(CASE WHEN matched THEN 1 ELSE 0 END)::BIGINT AS n_match,
           |    min(ck) AS min_ck, max(ck) AS max_ck,
           |    min(dy) AS min_day, max(dy) AS max_day,
           |    max(q_lo_ck) AS q_lo_ck, max(q_hi_ck) AS q_hi_ck,
           |    max(q_lo_dy) AS q_lo_dy, max(q_hi_dy) AS q_hi_dy
           |  FROM f GROUP BY 1, 2),
           |sc AS (SELECT *, NOT (max_ck < q_lo_ck OR min_ck > q_hi_ck
           |    OR max_day < q_lo_dy OR min_day > q_hi_dy) AS scanned,
           |  NOT (max_day < q_lo_dy OR min_day > q_hi_dy) AS scanned_day FROM g)
           |SELECT layout, file_id, n_rows, n_match, min_ck, max_ck,
           |  min_day, max_day, scanned, scanned_day,
           |  sum(CASE WHEN scanned THEN 1 ELSE 0 END)
           |    OVER (PARTITION BY layout)::BIGINT AS layout_files_read,
           |  sum(CASE WHEN scanned_day THEN 1 ELSE 0 END)
           |    OVER (PARTITION BY layout)::BIGINT AS layout_files_read_day
           |FROM sc ORDER BY layout, file_id""".stripMargin
      }),

    // HDR-histogram quantiles — the BOUNDED-STATE quantile summary the
    // sketch family was missing (HLL q31 / KMV q45 count distincts, CMS
    // t30 counts frequencies; exact quantiles q25 buffer VALUES — a
    // per-group sort at 100 TB). HdrHistogram's shape (Tene; the
    // de-facto latency-quantile summary in production monitoring):
    // values integerize to cents, bucket = log2 octave × 8 linear
    // sub-buckets (≤ 12.5 % relative bucket width; octaves below 8
    // cents are exact), so the histogram is ≤ ~8·40 cells per group
    // REGARDLESS of row count, cells merge by pure addition (the CMS
    // discipline), and a quantile reads off the cumulative grid. Every
    // step is 64-bit integer (floor-to-cents, power-of-two bounds,
    // integer sub-bucket div, ceil-rank (k·n + k') div d) — hash-gated
    // exactly, like every deterministic sketch here. The output carries
    // est bucket [lo, hi) next to the EXACT disc quantile: the audit
    // columns p{50,95,99}_bounded are the histogram's guarantee
    // (lo ≤ exact < hi — true by construction, the t30
    // no_underestimate pattern) and est_err_cents prices the bucket
    // width actually paid. Scale shape: octave assignment is a 40-row
    // broadcast range join riding the scan (BNLJ against power-of-two
    // literals — no log2 float anywhere); the ONE corpus exchange is
    // the (type, cents) frequency rollup, map-side partial; cumulative
    // windows and quantile selection run on the ~640-cell grid; the
    // exact quantiles (audit leg only — production drops them) read
    // the SAME frequency grain via the SQL-standard percentile_disc
    // rule (min value with cumfreq ≥ ceil(p·n)) — integer end-to-end
    // (no DOUBLE-returning percentile_disc agg; round 11's one red
    // row was exactly that float64-vs-int64 drift), and both legs
    // hang off one exchange so events is scanned ONCE — ReuseExchange
    // dedupes the shared (type, cents) rollup, which requires the
    // cents >= 1 domain filter below to sit in the SHARED frame
    // (plan-asserted in PlanShapeSpec).
    Q("q47_hdr_quantiles",
      "log-histogram p50/p95/p99 per event type: bounded-state mergeable cells, integer-exact, with exact-quantile audit",
      (s, d) => {
        // cents >= 1 is the histogram's representable domain (octave lo
        // starts at 1): the pows range join drops sub-half-cent values
        // from the estimate leg anyway, so filtering the SHARED freq
        // frame (a) keeps the exact-audit leg on the same domain —
        // p*_bounded really is true by construction — and (b) gives both
        // legs' scan subtrees identical pushed predicates, so they
        // canonicalize equal and ReuseExchange fires (without it, the
        // estimate leg's BNLJ infers isnotnull(cents) and pushes it into
        // only THAT leg's scan, splitting the subtrees).
        val freq = Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
          .filter(col("cents") >= 1)
          .groupBy("event_type", "cents")
          .agg(count(lit(1)).as("freq"))
        val cells = hdrCellsOfFreq(freq)
        val wcum = Window.partitionBy(col("event_type"))
          .orderBy(col("bucket_lo"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = cells
          .withColumn("cum", sum(col("cnt")).over(wcum))
          .withColumn("n", sum(col("cnt"))
            .over(Window.partitionBy(col("event_type"))))
          .withColumn("bucket_hi", col("bucket_lo") + col("width"))
        def estOf(num: Int, den: Int, tag: String) = Seq(
          min(when(col("cum") >= expr(s"($num * n + ${den - 1}) div $den"),
            col("bucket_lo"))).as(s"est_p${tag}_lo"),
          min(when(col("cum") >= expr(s"($num * n + ${den - 1}) div $den"),
            col("bucket_hi"))).as(s"est_p${tag}_hi"))
        val est = cum.groupBy("event_type")
          .agg(max(col("n")).as("n"),
            (estOf(1, 2, "50") ++ estOf(19, 20, "95") ++
              estOf(99, 100, "99")): _*)
        val wq = Window.partitionBy(col("event_type")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val exact = freq
          .withColumn("cumf", sum(col("freq")).over(wq))
          .withColumn("nf", sum(col("freq"))
            .over(Window.partitionBy(col("event_type"))))
          .groupBy("event_type").agg(
            min(when(col("cumf") >= expr("(1 * nf + 1) div 2"),
              col("cents"))).as("exact_p50"),
            min(when(col("cumf") >= expr("(19 * nf + 19) div 20"),
              col("cents"))).as("exact_p95"),
            min(when(col("cumf") >= expr("(99 * nf + 99) div 100"),
              col("cents"))).as("exact_p99"))
        est.join(broadcast(exact), Seq("event_type"))
          .select(col("event_type"), col("n"),
            col("est_p50_lo"), col("exact_p50"),
            (col("est_p50_lo") <= col("exact_p50") &&
              col("exact_p50") < col("est_p50_hi")).as("p50_bounded"),
            col("est_p95_lo"), col("exact_p95"),
            (col("est_p95_lo") <= col("exact_p95") &&
              col("exact_p95") < col("est_p95_hi")).as("p95_bounded"),
            col("est_p99_lo"), col("exact_p99"),
            (col("est_p99_lo") <= col("exact_p99") &&
              col("exact_p99") < col("est_p99_hi")).as("p99_bounded"),
            (col("exact_p99") - col("est_p99_lo")).as("est_err_cents"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events WHERE value IS NOT NULL
             |    AND CAST(floor(value * 100 + 0.5) AS BIGINT) >= 1),
             |freq AS (SELECT event_type, cents, count(*)::BIGINT AS freq
             |  FROM ev GROUP BY 1, 2),
             |pows AS (SELECT (1::BIGINT << i) AS lo,
             |    CASE WHEN i = 39 THEN 9223372036854775807
             |      ELSE (1::BIGINT << (i + 1)) END AS hi
             |  FROM range(0, 40) t(i)),
             |b AS (SELECT event_type, cents, freq, lo,
             |    CASE WHEN lo >= 8 THEN lo // 8 ELSE 1 END AS width,
             |    CASE WHEN lo >= 8
             |      THEN lo + ((cents - lo) // (lo // 8)) * (lo // 8)
             |      ELSE cents END AS bucket_lo
             |  FROM freq JOIN pows ON cents >= lo AND cents < hi),
             |cells AS (SELECT event_type, bucket_lo, width,
             |    sum(freq)::BIGINT AS cnt
             |  FROM b GROUP BY 1, 2, 3),
             |cum AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type
             |      ORDER BY bucket_lo ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
             |    sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS n,
             |    bucket_lo + width AS bucket_hi
             |  FROM cells),
             |est AS (SELECT event_type, max(n) AS n,
             |    min(CASE WHEN cum >= (1 * n + 1) // 2 THEN bucket_lo END) AS est_p50_lo,
             |    min(CASE WHEN cum >= (1 * n + 1) // 2 THEN bucket_hi END) AS est_p50_hi,
             |    min(CASE WHEN cum >= (19 * n + 19) // 20 THEN bucket_lo END) AS est_p95_lo,
             |    min(CASE WHEN cum >= (19 * n + 19) // 20 THEN bucket_hi END) AS est_p95_hi,
             |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket_lo END) AS est_p99_lo,
             |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket_hi END) AS est_p99_hi
             |  FROM cum GROUP BY event_type),
             |fq AS (SELECT event_type, cents,
             |    sum(freq) OVER (PARTITION BY event_type ORDER BY cents
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cumf,
             |    sum(freq) OVER (PARTITION BY event_type)::BIGINT AS nf
             |  FROM freq),
             |ex AS (SELECT event_type,
             |    min(CASE WHEN cumf >= (1 * nf + 1) // 2 THEN cents END) AS exact_p50,
             |    min(CASE WHEN cumf >= (19 * nf + 19) // 20 THEN cents END) AS exact_p95,
             |    min(CASE WHEN cumf >= (99 * nf + 99) // 100 THEN cents END) AS exact_p99
             |  FROM fq GROUP BY event_type)
             |SELECT est.event_type, n,
             |  est_p50_lo, exact_p50,
             |  est_p50_lo <= exact_p50 AND exact_p50 < est_p50_hi AS p50_bounded,
             |  est_p95_lo, exact_p95,
             |  est_p95_lo <= exact_p95 AND exact_p95 < est_p95_hi AS p95_bounded,
             |  est_p99_lo, exact_p99,
             |  est_p99_lo <= exact_p99 AND exact_p99 < est_p99_hi AS p99_bounded,
             |  exact_p99 - est_p99_lo AS est_err_cents
             |FROM est JOIN ex ON est.event_type = ex.event_type
             |ORDER BY est.event_type""".stripMargin)),

    // CDC MERGE — the lakehouse change-apply operator (Delta MERGE
    // INTO / Iceberg upsert / Hudi CoW): resolve an out-of-order change
    // batch of (key, seq, op ∈ {I,U,D}, payload) against a base
    // snapshot. Semantics pinned exactly: per key the LAST op by seq
    // wins (row_number over the change batch — the batch is
    // change-sized, never the snapshot); D tombstones, I/U both upsert
    // (I on an existing key updates, U on a missing key inserts — the
    // WHEN (NOT) MATCHED symmetry real MERGE statements spell out); an
    // untouched key keeps its base row. Output is CHANGED-KEY grain
    // (old/new cents, liveness, op audit trail) — bound by the batch,
    // not the snapshot. The change batch is md5-derived from a ~1/7 key
    // sample (ops, 100k-cent prices, and a second out-of-order change
    // for ~1/3 of keys all integer-exact), standing in for a CDC feed.
    // Scale shape: one PK-keyed shuffle join of snapshot × resolved
    // batch — the copy-on-write merge cost; bucketing both sides on
    // the key co-locates them and the exchange disappears, the
    // production lever. Money stays integer cents
    // (floor(x·100+0.5), the q47 idiom) so both engines agree exactly.
    Q("q49_cdc_merge",
      "CDC change-batch merge onto the orders snapshot: last-op-wins resolution, tombstones, upserts, changed-key audit",
      (s, d) => {
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            expr("cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("old_cents"))
        val resolved = cdcResolved(base)
        resolved.join(base, Seq("k"), "left")
          .select(col("k").as("o_orderkey"),
            col("old_cents").isNotNull.as("had_base"),
            col("last_op"), col("n_ops"),
            (col("last_op") =!= "D").as("alive"),
            col("old_cents"),
            when(col("last_op") =!= "D", col("new_cents")).as("new_cents"))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS old_cents
             |  FROM orders),
             |$sqlCdcResolved
             |SELECT r.k AS o_orderkey,
             |  (b.old_cents IS NOT NULL) AS had_base,
             |  r.last_op, r.n_ops,
             |  (r.last_op <> 'D') AS alive,
             |  b.old_cents,
             |  CASE WHEN r.last_op <> 'D' THEN r.new_cents END AS new_cents
             |FROM resolved r LEFT JOIN base b ON r.k = b.k
             |ORDER BY o_orderkey""".stripMargin)),

    // INCREMENTAL VIEW MAINTENANCE — the Materialize/DBSP/Delta-MV
    // shape: a per-customer (count, sum) aggregate view maintained
    // under q49's CDC batch WITHOUT recomputing the view. The Spark
    // side is the incremental plan: each resolved change becomes a
    // signed delta row (+new on fresh insert, new−old on upsert, −old
    // on delete, 0 on a no-op tombstone), deltas roll up at customer
    // grain, and the new view rows are old + delta — the only base
    // touch is the point-read of AFFECTED customers' old rows (a semi
    // join here; a keyed store lookup in production). The oracle
    // recomputes the view FROM SCRATCH on the applied snapshot —
    // the hash gate IS the IVM theorem for this view: incremental
    // maintenance ≡ full recompute, including the delta columns
    // (oracle derives them as new−old; Spark sums signed deltas). At
    // 100 TB the recompute touches every order ever written; the
    // incremental plan touches the change batch + one keyed read.
    Q("q51_ivm_delta",
      "incremental view maintenance of the per-customer (n, cents) aggregate under the CDC batch: signed deltas + point-read, hash-equal to full recompute",
      (s, d) => {
        import graft.functions.Portable.h60
        val base = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            expr("cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("old_cents"))
        val eff = cdcResolved(base.select("k", "old_cents"))
          .join(base, Seq("k"), "left")
          .select(
            coalesce(col("ck"),
              h60(concat(lit("nc_"), col("k").cast("string"))) % 1000 + 1)
              .as("ck"),
            when(col("last_op") === "D",
              when(col("old_cents").isNotNull, -col("old_cents"))
                .otherwise(lit(0L)))
              .otherwise(when(col("old_cents").isNotNull,
                col("new_cents") - col("old_cents"))
                .otherwise(col("new_cents"))).as("d_cents"),
            when(col("last_op") === "D",
              when(col("old_cents").isNotNull, lit(-1L)).otherwise(lit(0L)))
              .otherwise(when(col("old_cents").isNotNull, lit(0L))
                .otherwise(lit(1L))).as("d_n"))
        val delta = eff.groupBy("ck")
          .agg(sum("d_cents").as("delta_cents"), sum("d_n").as("delta_n"))
        val oldView = base.join(delta.select("ck"), Seq("ck"), "left_semi")
          .groupBy("ck").agg(sum("old_cents").as("old_cents_total"),
            count(lit(1)).as("old_n"))
        delta.join(oldView, Seq("ck"), "left")
          .select(col("ck").as("o_custkey"),
            coalesce(col("old_cents_total"), lit(0L)).as("old_cents_total"),
            coalesce(col("old_n"), lit(0L)).as("old_n"),
            col("delta_cents"), col("delta_n"),
            (coalesce(col("old_cents_total"), lit(0L)) + col("delta_cents"))
              .as("new_cents_total"),
            (coalesce(col("old_n"), lit(0L)) + col("delta_n")).as("new_n"))
          .orderBy("o_custkey")
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS old_cents
             |  FROM orders),
             |$sqlCdcResolved,
             |rck AS (SELECT r.k, r.last_op, r.new_cents,
             |    coalesce(b.ck,
             |      ('0x' || substr(md5('nc_' || r.k), 1, 15))::BIGINT % 1000 + 1) AS ck
             |  FROM resolved r LEFT JOIN base b ON r.k = b.k),
             |affected AS (SELECT DISTINCT ck FROM rck),
             |applied AS (
             |  SELECT b.k, b.ck, b.old_cents AS cents FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM rck r WHERE r.k = b.k)
             |  UNION ALL
             |  SELECT k, ck, new_cents AS cents FROM rck WHERE last_op <> 'D'),
             |oldv AS (SELECT ck, sum(old_cents)::BIGINT AS old_cents_total,
             |    count(*)::BIGINT AS old_n
             |  FROM base WHERE ck IN (SELECT ck FROM affected) GROUP BY 1),
             |newv AS (SELECT ck, sum(cents)::BIGINT AS new_cents_total,
             |    count(*)::BIGINT AS new_n
             |  FROM applied WHERE ck IN (SELECT ck FROM affected) GROUP BY 1)
             |SELECT a.ck AS o_custkey,
             |  coalesce(o.old_cents_total, 0)::BIGINT AS old_cents_total,
             |  coalesce(o.old_n, 0)::BIGINT AS old_n,
             |  (coalesce(n.new_cents_total, 0) - coalesce(o.old_cents_total, 0))::BIGINT AS delta_cents,
             |  (coalesce(n.new_n, 0) - coalesce(o.old_n, 0))::BIGINT AS delta_n,
             |  coalesce(n.new_cents_total, 0)::BIGINT AS new_cents_total,
             |  coalesce(n.new_n, 0)::BIGINT AS new_n
             |FROM affected a LEFT JOIN oldv o USING (ck) LEFT JOIN newv n USING (ck)
             |ORDER BY o_custkey""".stripMargin)),

    // STREAMING correctness at the DRIVER's own gate — the one registry
    // row whose Spark side executes a genuine Structured Streaming
    // query, not a batch twin: q49/q51's md5-derived CDC feed replays
    // through MemoryStream → ivmStream (foreachBatch: shared last-op
    // resolution, signed-delta view maintenance, (queryId, epoch)
    // replay marker, rename-swap commits) in three micro-batches keyed
    // k mod 3 — a key's whole change history lands in ONE batch, so
    // sequential apply ≡ global resolution — and the query returns the
    // STORE read back. DuckDB recomputes the maintained view from
    // scratch (base + resolved feed → applied snapshot → groupBy), so
    // the hash gate IS the stream≡batch IVM theorem, graded by the
    // driver instead of only spec-pinned (the d30 store-audit pattern
    // pointed at a stream producer). The driver-fed MemoryStream stands
    // in for the Kafka feed; everything downstream of the source is the
    // production path. Scale: the feed is change-sized (~|orders|·1.6/7
    // rows collected once); per batch the warehouse rewrite is the
    // documented non-transactional dim-scale trade (partitioned or
    // transactional storage turns it into keyed writes).
    Q("c12_stream_replay",
      "q51's per-customer view maintained by a REAL streaming query (MemoryStream → foreachBatch IVM) over a 3-micro-batch CDC replay, hash-equal to DuckDB's from-scratch fold",
      (s, d) => {
        import s.implicits._
        // the Debezium-shape feed (ck from the base row, md5-derived for
        // new keys) is byte-identical to c15/c23's — ONE cached collect
        // (feedCdcCk) serves the family; the feed is harness content
        val feed = feedCdcCk(s, d)
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c12_stream"))
        wh.replace("c12_base", ordersCkBase(s, d))
        // NOT down-sized like c13's state store: c12 is stateless
        // (foreachBatch only) and its per-epoch cost is the two
        // snapshot-sized store rewrites, which WANT the session's write
        // parallelism (measured: 8 partitions = 6.6 s, 32 = 5.8 s at
        // sf0.1 quiet).
        ivmReplay(s, IvmStore.Warehouse(wh, "c12_base", "c12_view"),
          (0L until 3L).map(b => feed.filter(_.k % 3 == b).toSeq))
      },
      Some(sqlCkViewOracle),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // The SECOND driver-gradeable streaming row — c12 grades the IVM
    // delta algebra; this grades the other production ingest layering,
    // watermarked stream dedup (at-least-once sources) feeding the
    // keyed warehouse upsert. The fixture is a deterministic events
    // slice (event_id ≡ 3 mod 97) replayed through MemoryStream →
    // dedupedIngest → foreachBatch upsert in three EVENT-TIME-ordered
    // micro-batches, with the tail of each batch REDELIVERED in the
    // next (inside the 2 h watermark horizon — the Kafka-redelivery
    // shape; time-ordered batching keeps genuinely-new rows ahead of
    // the watermark, so nothing new is late-dropped). The layered
    // idempotence contract says the store ends at exactly the distinct
    // slice whatever the redeliveries: dedup absorbs them inside the
    // horizon, the event_id-keyed upsert absorbs anything beyond it.
    // DuckDB recomputes the distinct slice directly — the hash gate IS
    // that contract.
    Q("c13_stream_ingest_replay",
      "watermarked stream dedup + keyed upsert replayed over 3 micro-batches with planted redeliveries: store equals the distinct slice",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val batches = thirds(eventSlice(s, d, 97, 3)
          .sortBy(e => (e.ts.getTime, e.event_id)).toSeq)
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c13_stream"))
        // redeliveries FIRST (the retry arrives with the next poll): each
        // batch after the first opens with the previous batch's last 50
        // rows, which sit just behind its start, well inside the 2 h
        // horizon, so the dedup state still holds them
        val redelivered = (Seq.empty[Event] +: batches.map(_.takeRight(50)))
          .zip(batches).map { case (r, b) => r ++ b }
        replayStateful(s, redelivered)(
          EventStreams.warehouseIngest(_, wh, "c13_events").start())
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType)))
        wh.readOrEmpty("c13_events", schema)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value
             |FROM events WHERE event_id % 97 = 3
             |ORDER BY event_id""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE"))),

    // q49's merge through the PARTITION-GRANULAR copy-on-write path —
    // Warehouse.applyCdcPartitioned driver-graded: the orders snapshot
    // loads partitioned by pk = k mod 16, the same md5-derived change
    // feed applies touching only its keys' partitions (pruned read +
    // dynamic partition overwrite + emptied-partition sweep), and the
    // query returns the whole snapshot read back. DuckDB recomputes the
    // applied snapshot from scratch, so the hash gate pins
    // partitioned-CoW ≡ flat merge ≡ recompute — the third corner of
    // the triangle whose first two edges q49 (flat, changed-key audit)
    // and the WarehouseCdcPartitionedSpec (byte-stability of untouched
    // partitions) already hold. At 100 TB this path IS the documented
    // production lever: the batch's partitions rewrite, the lake
    // doesn't.
    Q("c14_cdc_partitioned",
      "q49's CDC merge through partition-granular copy-on-write: full snapshot read-back, hash-equal to the from-scratch apply",
      (s, d) => {
        val base = ordersCkBase(s, d)
        // the initial load (the epoch-0 all-inserts batch, same
        // partitioned apply) is the SEED a producer would have left —
        // template per JVM, private copy per run (SeededStore; its
        // create path stays covered by the template build itself)
        val root = seededC14Store(s, d)
        val wh = new graft.compendium.Warehouse(s, root)
        def partOf(c: org.apache.spark.sql.Column) = pmod(c, lit(16L))
        wh.applyCdcPartitioned("c14_snap",
          cdcChanges(base.select(col("k")))
            .select(col("k"), col("seq"), col("op"),
              col("new_cents").as("cents")),
          "k", "seq", "op", "pk", partOf)
        // empty corpora never create the table (all-empty batches are
        // no-ops by design) — surface an empty frame, not a read error
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c14_snap", StructType(Seq(
            StructField("k", LongType), StructField("cents", LongType),
            StructField("pk", LongType))))
          .select(col("k"), col("pk").cast("long").as("pk"), col("cents"))
          .orderBy("k")
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |$sqlCdcResolved,
             |applied AS (
             |  SELECT b.k, b.cents FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM resolved r WHERE r.k = b.k)
             |  UNION ALL
             |  SELECT k, new_cents AS cents FROM resolved WHERE last_op <> 'D')
             |SELECT k, k % 16 AS pk, cents FROM applied
             |ORDER BY k""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, pk BIGINT, cents BIGINT"))),

    // c12's CONTINUOUS IVM replay re-run over PARTITION-GRANULAR stores —
    // the round that closes the registry's one graded scale-killer: the
    // flat store rewrites the whole base+view snapshot every epoch; a
    // 16-bucket store writes only the partitions each batch touches
    // (base: pk = k mod 16 through a pruned read +
    // dynamic overwrite + emptied-dir sweep; view: the same
    // overwrite-and-sweep at pck = ck mod 16 grain). The fixture, feed,
    // batching, and DuckDB oracle are c12's VERBATIM, so the hash gate
    // pins a three-way equivalence: partitioned continuous apply ≡ flat
    // continuous apply ≡ from-scratch recompute. The FS-level claim —
    // an epoch touching k buckets rewrites only those k, untouched
    // files byte-stable — is spec-pinned (IvmPartitionedSpec), and the
    // per-epoch write volume is now proportional to the batch, not the
    // store: the 100 TB continuous path.
    Q("c15_stream_replay_partitioned",
      "c12's 3-micro-batch CDC replay through partition-granular base+view stores: epoch writes touch only the batch's partitions, view hash-equal to DuckDB's from-scratch fold",
      (s, d) => {
        // seed + feed are harness (SeededStore/FeedCache via the shared
        // builder defs): the template base store builds once per JVM
        // and file-copies per run; the collected CDC slice memoizes
        // (c23 replays the same feed). The base loads PARTITIONED
        // through the same epoch-0 all-inserts discipline as c14 — the
        // store the stream maintains is partition-granular from birth,
        // never converted
        val feed = feedCdcCk(s, d)
        val wh = new graft.compendium.Warehouse(s,
          seededCkWarehouse(s, d, "c15", "c15_base"))
        ivmReplay(s, IvmStore.Warehouse(wh, "c15_base", "c15_view", 16),
          (0L until 3L).map(b => feed.filter(_.k % 3 == b).toSeq))
      },
      Some(sqlCkViewOracle),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // The FIRST stateful-operator streaming oracle row — c12/c13/c15
    // grade foreachBatch ingest layers (stateless operators feeding
    // driver-side applies); this row's Spark side executes
    // mapGroupsWithState (funnelStream), the flatMapGroupsWithState
    // family's gate. The fixture is a deterministic events slice
    // (event_id ≡ 5 mod 97) delivered in three DELIBERATELY SHUFFLED
    // micro-batches (md5-hash batching scatters each user's events
    // across batches in non-time order) — exactly the disorder
    // funnelStream's monotone-depth algebra claims exactness under, with
    // no watermark to hide behind (NoTimeout, arbitrary lateness). The
    // sink keeps each user's LAST update-mode emission, which by the
    // monotone argument is the depth over the user's full slice; DuckDB
    // recomputes q41's regex-subsequence depth on the time-ordered
    // slice, so the hash gate IS the stream≡batch funnel theorem under
    // shuffled replay, graded by the driver instead of only spec-pinned.
    Q("c16_stream_funnel_stateful",
      "q41's funnel depth from a REAL stateful streaming query (mapGroupsWithState) over 3 hash-shuffled micro-batches, hash-equal to the batch recompute",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        import graft.streaming.EventStreams.FunnelDepth
        val slice = eventSlice(s, d, 97, 5)
        // hash batching: a user's events land in DIFFERENT batches in
        // non-time order — the adversarial delivery the operator's
        // monotone-depth algebra must absorb
        val batches = (0 until 3).map(b =>
          slice.filter(e => md5Bucket("c16", e.event_id, 3) == b).toSeq)
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c16_funnel"))
        replayStateful(s, batches)(
          EventStreams.funnelStream(_).writeStream
            .outputMode("update")
            .foreachBatch { (b: Dataset[FunnelDepth], epoch: Long) =>
              // the "sink keeps the latest" contract, made concrete as
              // a keyed warehouse upsert — each user's newest depth
              // overwrites the previous epoch's row
              wh.upsert("c16_depths", b.toDF(), "user_id")
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c16_depths", StructType(Seq(
            StructField("user_id", LongType),
            StructField("funnel_stage", IntegerType))))
          .select("user_id", "funnel_stage").orderBy("user_id")
      },
      Some("""WITH sq AS (
             |  SELECT user_id,
             |    string_agg(CASE event_type WHEN 'signup' THEN 's'
             |        WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             |        WHEN 'purchase' THEN 'p' ELSE 'x' END,
             |      '' ORDER BY ts, event_id) AS seq
             |  FROM events WHERE event_id % 97 = 5 GROUP BY user_id)
             |SELECT user_id,
             |  CASE WHEN regexp_matches(seq, 's.*v.*c.*p') THEN 4
             |       WHEN regexp_matches(seq, 's.*v.*c') THEN 3
             |       WHEN regexp_matches(seq, 's.*v') THEN 2
             |       WHEN regexp_matches(seq, 's') THEN 1
             |       ELSE 0 END AS funnel_stage
             |FROM sq ORDER BY user_id""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, funnel_stage INT"))),

    // The flatMapGroupsWithState-PROPER streaming oracle row — c16
    // grades mapGroupsWithState's monotone-depth algebra; this grades
    // the OTHER stateful mechanism, WATERMARK-ORDERED EMISSION
    // (transitionStream): per-user consecutive-event transitions have
    // no monotone structure, so correctness comes from buffering
    // arrivals un-emitted until the watermark passes them, then
    // emitting the settled prefix in (ts, event_id) order. The fixture
    // delivers a deterministic events slice (event_id ≡ 7 mod 97) in
    // three md5-shuffled micro-batches — FULL cross-batch disorder, a
    // user's chain scattered arbitrarily (the allowance out-spans the
    // replay, so nothing late-drops; the drop contract is
    // hourlyRollup's) — then two far-future sentinel events advance the
    // watermark and fire the armed timeouts so every tail settles. The
    // appended emissions, rolled up per (user, from, to), must
    // hash-equal DuckDB's lead() recompute over the time-ordered slice
    // (exits excluded — a stream cannot know an event is a user's
    // last): the watermark-ordering theorem at the driver's gate.
    Q("c17_stream_transitions_stateful",
      "per-user event transitions from a REAL flatMapGroupsWithState streaming query under full md5-shuffled 3-batch disorder, hash-equal to the lead() recompute",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val slice = eventSlice(s, d, 97, 7).toSeq
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c17_trans"))
        // the flush rounds settle the buffered tails once the armed
        // timeouts fire (sentinel users emit no pairs)
        replayStateful(s, thirds(slice.sortBy(e => md5Order("c17", e.event_id)))
            ++ flushRounds(slice, 4000, 4001))(
          EventStreams.transitionStream(_, allowance = "3650 days")
            .writeStream.outputMode("append")
            .foreachBatch { (b: Dataset[EventStreams.Transition],
                epoch: Long) =>
              // append-only sink: each settled pair emits exactly
              // once (append mode), so the store is the emission log.
              // One write per batch, no emptiness probe (it would run
              // the stateful stage a second time): an empty batch
              // adds one empty parquet file that carries the schema
              wh.append("c17_transitions", b.toDF())
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c17_transitions", StructType(Seq(
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("next_type", StringType))))
          .filter(col("user_id") >= 0)
          .groupBy("user_id", "event_type", "next_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("user_id", "event_type", "next_type")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type
             |  FROM events WHERE event_id % 97 = 7),
             |p AS (SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_type
             |  FROM e)
             |SELECT user_id, event_type, next_type, count(*)::BIGINT AS n
             |FROM p WHERE next_type IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_type STRING, next_type STRING, n BIGINT"))),

    // The THIRD stateful mechanism at the driver's gate — c16 grades
    // mapGroupsWithState's monotone algebra, c17 watermark-ordered
    // emission; this row grades WATERMARK-TIMEOUT SESSION STATE
    // (EventStreams.sessionize, flatMapGroupsWithState +
    // EventTimeTimeout): a session closes either inline (a same-user
    // event arrives past the 30-min gap) or by TIMEOUT (the watermark
    // passes session_end + gap with no successor — the mechanism the
    // other two rows never exercise). Delivery honors the operator's
    // documented exactness contract (watermark delay = gap): three
    // TIME-CONTIGUOUS micro-batches — cross-batch in event-time order,
    // so sessions spanning a batch boundary merge in state exactly as
    // the batch twin's global sort would — with FULL md5 disorder
    // INSIDE each batch (the per-batch sort absorbs it). Two far-future
    // sentinel users then advance the watermark and fire the armed
    // timeouts (c17's arm-then-fire: timeouts set in batch N fire in a
    // batch processed AFTER the watermark advances), so every
    // still-open session settles. The appended emissions must
    // hash-equal DuckDB's gaps-and-islands recompute (q22's oracle) on
    // the time-ordered slice. total_value is deliberately NOT in the
    // gate: the stream folds it in arrival order (a raw double sum);
    // q22 gates the same sum through the exact-decimal discipline, and
    // the batch≡stream spec covers it on real data. Session IDENTITY —
    // boundaries, membership counts, timeout closure — is what
    // sessionization means, and that is what this row pins.
    Q("c18_stream_sessionize_stateful",
      "per-user 30-min-gap sessions from a REAL watermark-timeout streaming query (flatMapGroupsWithState) over 3 time-contiguous md5-scrambled batches, hash-equal to q22's gaps-and-islands recompute",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        import graft.streaming.EventStreams.Session
        val slice = eventSlice(s, d, 97, 11)
          .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
        // contiguous thirds of the TIME-SORTED slice (the in-order
        // cross-batch contract), each scrambled internally (the
        // operator's per-batch sort must absorb it); then the flush
        // rounds fire every armed timeout (last + gap) — sentinel users'
        // own sessions stay open in state and are filtered on read-back
        val batches = thirds(slice).map(_.sortBy(e => md5Order("c18", e.event_id)))
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c18_sess"))
        replayStateful(s, batches ++ flushRounds(slice, 1, 2))(
          EventStreams.sessionize(_).writeStream
            .outputMode("append")
            .foreachBatch { (b: Dataset[Session], epoch: Long) =>
              // append-only: a session emits exactly once (inline close
              // or timeout)
              wh.append("c18_sessions", b.toDF())
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c18_sessions", StructType(Seq(
            StructField("user_id", LongType),
            StructField("session_start", TimestampType),
            StructField("session_end", TimestampType),
            StructField("n_events", LongType))))
          .filter(col("user_id") >= 0)
          .select("user_id", "session_start", "session_end", "n_events")
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_id % 97 = 11),
             |w AS (SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS prev_ts FROM e),
             |flags AS (SELECT *, CASE WHEN prev_ts IS NULL
             |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
             |    THEN 1 ELSE 0 END AS new_session FROM w),
             |sess AS (SELECT *,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS session_idx FROM flags)
             |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             |  count(*)::BIGINT AS n_events
             |FROM sess GROUP BY user_id, session_idx
             |ORDER BY user_id, session_start""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, " +
          "n_events BIGINT"))),

    // The NATIVE stateful-dedup operator at the driver's gate —
    // c16/c17/c18 grade the three custom-state mechanisms
    // (mapGroupsWithState, flatMapGroupsWithState append,
    // watermark-timeout sessions); this row grades the engine's OWN
    // stateful operator, dropDuplicatesWithinWatermark (dedupedIngest,
    // EventStreams.scala:88) — the shape a 100 TB/day at-least-once
    // ingest actually deploys, because its state holds only keys
    // younger than the watermark: memory tracks the redelivery
    // horizon, not history. The fixture is a deterministic events
    // slice (event_id ≡ 13 mod 97) delivered AT-LEAST-ONCE: each
    // original exactly once across two md5-split batches, then a third
    // batch redelivering every event_id ≡ 0 mod 3 — byte-identical
    // payloads, always in a STRICTLY LATER batch than the original, so
    // suppression can only come from cross-batch state, never from
    // intra-batch distinct. The delay out-spans the replay (no state
    // eviction mid-stream — the eviction caveat, a redelivery AFTER
    // eviction re-emitting, is EventStreamsSpec's TTL twin);
    // dedup is not an aggregation, so append emits each first-seen row
    // in its arrival batch and the store accumulates exactly-once
    // ingest recovered from at-least-once delivery: hash-equal to the
    // slice itself, graded by the driver.
    Q("c19_stream_dedup_native",
      "exactly-once ingest from at-least-once redelivery via the NATIVE dropDuplicatesWithinWatermark operator over 3 batches, hash-equal to the distinct slice",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val slice = eventSlice(s, d, 97, 13).toSeq
        def hx(e: Event) = md5Order("c19", e.event_id)
        // originals md5-split over batches 0|1 (scrambled inside each);
        // batch 2 is pure redelivery — every dupe lands after its original
        val originals = (0 until 2).map(b => slice
          .filter(e => md5Bucket("c19", e.event_id, 2) == b).sortBy(hx))
        val redelivered = slice.filter(_.event_id % 3 == 0).sortBy(hx)
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c19_dedup"))
        replayStateful(s, originals :+ redelivered)(
          EventStreams.dedupedIngest(_, watermark = "3650 days")
            .writeStream.outputMode("append")
            .foreachBatch { (b: Dataset[Event], epoch: Long) =>
              // append-only: a key's first sighting emits exactly once
              wh.append("c19_events", b.toDF())
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c19_events", StructType(Seq(
            StructField("event_id", LongType),
            StructField("ts", TimestampType),
            StructField("user_id", LongType),
            StructField("event_type", StringType),
            StructField("value", DoubleType))))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, ts, user_id, event_type, value
             |FROM events WHERE event_id % 97 = 13
             |ORDER BY event_id""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE"))),

    // The WATERMARK LATE-DROP contract at the driver's gate — the last
    // streaming semantic with no oracle row. Every other c-row replays
    // under "the allowance out-spans the replay", so nothing drops;
    // production watermarks EXIST to drop — bounded state is bought by
    // discarding stragglers older than the allowance, and a row that
    // never exercises the drop would grade only half the operator.
    // hourlyRollup (q21's streaming twin, its shipped 2-hour delay)
    // runs over a deterministic slice (event_id ≡ 17 mod 97) in three
    // TIME-RANGE batches: days [1,10) MINUS the planted stragglers
    // L = {event_id ≡ 1 mod 3 ∧ ts < Jan 8}, then days [10,20) — after
    // which the watermark sits near Jan 20 − 2 h — then days [20,∞)
    // PLUS L, now ~12 days past the allowance: every L row's window
    // closed long before, so the operator MUST drop all of L, and
    // every fresh batch-3 row is ahead of the watermark, so it may
    // drop NOTHING else. Append mode emits each finalized window
    // exactly once (two far-future sentinels flush the tail; the
    // second sentinel's own window never finalizes and the first's is
    // filtered by its event_type). The oracle recomputes q21 over the
    // slice minus L — the hash gate passes iff exactly the planted set
    // and nothing else was dropped. EventStreamsSpec pins non-vacuity:
    // L is nonempty at the gate's sf and the full-slice recompute
    // differs.
    Q("c20_stream_window_latedrop",
      "hourly windowed rollup under a REAL watermark drop: planted 12-days-late stragglers discarded, everything else exact — hash-equal to q21 over the slice minus the late set",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val slice = eventSlice(s, d, 97, 17).toSeq
        // UTC-pinned boundary instants: Timestamp.valueOf would read
        // these in the JVM DEFAULT zone (the one TZ knob the session's
        // spark.sql.session.timeZone=UTC does not control), shifting
        // the batch split against the oracle's naive-UTC literals on a
        // non-UTC driver
        def utc(iso: String): java.sql.Timestamp =
          java.sql.Timestamp.from(java.time.LocalDateTime.parse(iso)
            .toInstant(java.time.ZoneOffset.UTC))
        val day10 = utc("2024-01-10T00:00:00")
        val day20 = utc("2024-01-20T00:00:00")
        def late(e: Event): Boolean = e.event_id % 3 == 1 &&
          e.ts.before(utc("2024-01-08T00:00:00"))
        val batches = Seq(
          slice.filter(e => e.ts.before(day10) && !late(e)),
          slice.filter(e => !e.ts.before(day10) && e.ts.before(day20)),
          slice.filter(e => !e.ts.before(day20)) ++ slice.filter(late))
          .map(_.sortBy(e => md5Order("c20", e.event_id)))
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c20_latedrop"))
        // flush round 1 pushes the watermark past every real window;
        // round 2 pushes it past sentinel 1's OWN window so that one
        // also flushes (and is filtered below by event_type) — sentinel
        // 2's window never finalizes and cannot leak
        replayStateful(s, batches ++ flushRounds(slice, 400, 401))(ds =>
          EventStreams.hourlyRollup(ds.toDF()).writeStream
            .outputMode("append")
            .foreachBatch { (b: DataFrame, epoch: Long) =>
              // append-only: a window emits once, when the watermark
              // passes its end
              wh.append("c20_hourly", b)
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c20_hourly", StructType(Seq(
            StructField("hour", TimestampType),
            StructField("event_type", StringType),
            StructField("n", LongType),
            StructField("total_value", DoubleType))))
          .filter(col("event_type") =!= "flush")
          .select("hour", "event_type", "n", "total_value")
          .orderBy("hour", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM events
             |WHERE event_id % 97 = 17
             |  AND NOT (event_id % 3 = 1 AND ts < TIMESTAMP '2024-01-08')
             |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "hour TIMESTAMP, event_type STRING, n BIGINT, total_value DOUBLE"))),

    // The STREAM-STREAM JOIN at the driver's gate — the last canonical
    // stateful operator family with no oracle row (ingest c12/c13/c15,
    // CDC c14, custom state c16–c18, native dedup c19, windowed agg +
    // late drop c20 — joins were spec-only). purchaseAttribution is
    // q34's continuous twin: each purchase inner-joins the SAME user's
    // clicks in the preceding window, both sides watermarked, the time
    // bound being what lets the engine expire buffered clicks once no
    // future purchase can match them — state tracks the watermark
    // horizon, not history. The fixture slice is event_id ≡ 4 mod 13
    // with a 72-hour window (the 1-hour default finds zero pairs on a
    // 1/13 subsample — thinning a self-join thins pairs quadratically);
    // delivery is three FULLY md5-shuffled batches, so a pair's click
    // and purchase routinely land in different batches in either order
    // and matching can only come from cross-batch join state (the
    // allowance out-spans the replay; expiry is EventStreamsSpec's
    // bounded-state twin, and EventStreamsSpec pins that cross-batch
    // pairs exist at this gate's sf — non-vacuity). Inner join in
    // append mode emits each matched pair exactly once, when its later
    // side arrives — no sentinels needed; the store must hash-equal
    // DuckDB's batch interval join.
    Q("c21_stream_stream_join",
      "purchases ⋈ same-user clicks (72 h window) from a REAL stream-stream interval join over 3 md5-shuffled batches, hash-equal to the batch recompute",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c21_ssjoin"))
        replayStateful(s, thirds(eventSlice(s, d, 13, 4).toSeq
            .sortBy(e => md5Order("c21", e.event_id))))(
          EventStreams.purchaseAttribution(_,
              watermark = "3650 days", windowHours = 72)
            .writeStream.outputMode("append")
            .foreachBatch { (b: DataFrame, epoch: Long) =>
              // append-only: a pair emits once, when its later side
              // arrives
              wh.append("c21_pairs", b)
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c21_pairs", StructType(Seq(
            StructField("user_id", LongType),
            StructField("purchase_id", LongType),
            StructField("purchase_ts", TimestampType),
            StructField("click_id", LongType),
            StructField("click_ts", TimestampType),
            StructField("value", DoubleType))))
          .select("user_id", "purchase_id", "purchase_ts",
            "click_id", "click_ts", "value")
          .orderBy("purchase_id", "click_id")
      },
      Some("""WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value
             |  FROM events WHERE event_id % 13 = 4),
             |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
             |  FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
             |  FROM ev WHERE event_type = 'purchase')
             |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts, value
             |FROM p JOIN c ON p.user_id = c.user_id
             |  AND click_ts <= purchase_ts
             |  AND click_ts >= purchase_ts - INTERVAL 72 HOUR
             |ORDER BY purchase_id, click_id""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, purchase_id BIGINT, purchase_ts TIMESTAMP, " +
          "click_id BIGINT, click_ts TIMESTAMP, value DOUBLE"))),

    // The stream-stream LEFT OUTER interval join — the half of the
    // attribution contract c21's inner gate leaves uncovered: a
    // purchase with NO click in its window must still appear,
    // null-credited (dropping it silently under-reports conversions).
    // The semantics under test is EMISSION TIMING, not just the row
    // set: an unmatched purchase cannot emit on arrival — a matching
    // click may still be in flight, even time-stamped earlier, under
    // the gate's full-md5 disorder — so the engine holds it in join
    // state and emits the null row exactly once, when the click-side
    // watermark closes its 72 h match window (watermark-closed
    // emission, derived automatically from the join's time-bound;
    // EventStreamsSpec pins the before/after timing). The replay
    // watermark out-spans the data (3650 d) so no real event drops
    // mid-replay; two sentinel rounds (a far-future click + purchase
    // pair, negative ids, filtered from output) then push BOTH
    // watermarks past every real window so each held purchase
    // flushes — c20's sentinel-flush discipline applied to join state.
    // Oracle: DuckDB's batch LEFT interval join — matched rows
    // identical to c21's, plus one null-click row per windowless
    // purchase.
    Q("c28_stream_outer_join",
      "purchases ⟕ same-user clicks (72 h window): watermark-closed null emission for unmatched purchases, hash-equal to the batch left interval join",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val slice = eventSlice(s, d, 13, 4).toSeq
        // sentinel round 1 advances both side's watermarks past every
        // real purchase's window (delay 3650 d → watermark lands ~50 d
        // past the data); round 2 re-advances so the eviction batch
        // definitely runs — held purchases flush their null rows, the
        // sentinels themselves are filtered by id below (round 2's
        // purchase never flushes and cannot leak). Negative ids keep
        // them out of the output filter and off real users.
        val flush = if (slice.isEmpty) Nil else {
          val lastTs = slice.map(_.ts.getTime).max
          Seq(3700L, 7400L).map { days =>
            val ts = new java.sql.Timestamp(lastTs + days * 86400000L)
            Seq(Event(-996L - days, ts, -1L, "click", 0.0),
              Event(-998L - days, ts, -1L, "purchase", 0.0))
          }
        }
        val wh = new graft.compendium.Warehouse(s,
          StoreFixture.scratch("c28_outer"))
        replayStateful(s,
          thirds(slice.sortBy(e => md5Order("c28", e.event_id))) ++ flush)(
          EventStreams.purchaseAttribution(_,
              watermark = "3650 days", windowHours = 72,
              joinType = "left_outer")
            .writeStream.outputMode("append")
            .foreachBatch { (b: DataFrame, epoch: Long) =>
              wh.append("c28_pairs", b)
            }
            .start())
        import org.apache.spark.sql.types._
        wh.readOrEmpty("c28_pairs", StructType(Seq(
            StructField("user_id", LongType),
            StructField("purchase_id", LongType),
            StructField("purchase_ts", TimestampType),
            StructField("click_id", LongType),
            StructField("click_ts", TimestampType),
            StructField("value", DoubleType))))
          .filter(col("purchase_id") >= 0)
          .select("user_id", "purchase_id", "purchase_ts",
            "click_id", "click_ts", "value")
          .orderBy("purchase_id", "click_id")
      },
      Some("""WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value
             |  FROM events WHERE event_id % 13 = 4),
             |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
             |  FROM ev WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
             |  FROM ev WHERE event_type = 'purchase')
             |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts, value
             |FROM p LEFT JOIN c ON p.user_id = c.user_id
             |  AND click_ts <= purchase_ts
             |  AND click_ts >= purchase_ts - INTERVAL 72 HOUR
             |ORDER BY purchase_id, click_id""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, purchase_id BIGINT, purchase_ts TIMESTAMP, " +
          "click_id BIGINT, click_ts TIMESTAMP, value DOUBLE"))),

    // CONTINUOUS ERASURE at the driver's gate — the streaming twin of
    // s29 (the c12↔q51 relationship, for deletion): tombstone batches
    // stream through VectorStreams.forgetIngest, each decrementing the
    // centroid store's exact-decimal statistics EXACTLY ONCE — the
    // decrement is the one non-idempotent sidecar fold, so each batch
    // commits (stats, high-water marker) through ONE ManifestCommit
    // flip and redelivered batch ids are refused on entry
    // (VectorStreamsSpec pins the no-op; the mechanism is ivmStream's
    // replay marker applied to a fold that CANNOT tolerate
    // at-least-once). The store seeds from the member statistics
    // (vec_id ≢ 4 mod 5, label-grain — what the fold-in producer would
    // have committed), the s29 forget set (vec_id ≡ 2 mod 7) arrives
    // in two md5-split micro-batches, and because decimal sums form a
    // group, the final streamed state must be BIT-EQUAL to a rebuild
    // over the survivors — so this row shares s29's oracle VERBATIM
    // (the t31/t32 shared-text discipline): continuous ≡ one-shot ≡
    // from-scratch at the hash gate.
    Q("c22_stream_forget_replay",
      "continuous erasure: tombstones replayed through forgetIngest's exactly-once manifest commits, final store hash-equal to the rebuild over survivors (s29's oracle verbatim)",
      (s, d) => {
        import s.implicits._
        import graft.streaming.VectorStreams
        // seed + feed are harness (SeededStore/FeedCache — the
        // c15/c23/c24 discipline): the stored-slice centroid store a
        // producer would have committed templates once per JVM and
        // file-copies per run; the tombstone slice collects once
        val root = c22SeededStore(s, d)
        val gone = c22Tombstones(s, d)
        val batches = (0 until 2).map(b => gone
          .filter(e => md5Bucket("c22", e.vec_id, 2) == b)
          .sortBy(e => md5Order("c22", e.vec_id)).toSeq)
        replayStateful(s, batches)(
          VectorStreams.forgetIngest(_, root)
            .option("checkpointLocation", s"$root/_ckpt").start())
        val mc = new graft.compendium.ManifestCommit(s, root)
        import org.apache.spark.sql.functions.posexplode
        mc.read("centroids")
          .select(col("clabel"), col("cnt").as("upd_cnt"),
            posexplode(array((1 to Similarity.Dim).map(i =>
              col(s"s_$i")): _*)).as(Seq("pos", "f")))
          .select(col("clabel"), (col("pos") + 1).as("dim"),
            col("f").cast("double").as("upd_sum"), col("upd_cnt"),
            (col("f").cast("double") / col("upd_cnt")).as("upd_mean"))
          .orderBy("clabel", "dim")
      },
      Some("""WITH e AS (SELECT vec_id, label::BIGINT AS clabel,
             |    list_transform(embedding, x -> x::DOUBLE) AS v
             |  FROM embeddings),
             |idx AS (SELECT unnest(range(1, 65)) AS dim)
             |SELECT clabel, dim,
             |  CAST(sum(CAST(v[dim] AS VARCHAR)::DECIMAL(18,9))::DECIMAL(30,9) AS DOUBLE) AS upd_sum,
             |  count(*)::BIGINT AS upd_cnt,
             |  CAST(sum(CAST(v[dim] AS VARCHAR)::DECIMAL(18,9))::DECIMAL(30,9) AS DOUBLE) / count(*) AS upd_mean
             |FROM e CROSS JOIN idx
             |WHERE vec_id % 5 <> 4 AND vec_id % 7 <> 2
             |GROUP BY clabel, dim
             |ORDER BY clabel, dim""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "clabel BIGINT, dim INT, upd_sum DOUBLE, upd_cnt BIGINT, " +
          "upd_mean DOUBLE"))),

    // c15 re-run through the TRANSACTIONAL fact-scale path — the round
    // that closes the partitioned form's last visibility gap: c15's
    // per-epoch writes are partition-pruned but land as two independent
    // overwrites (view, then base) plus a marker rename, so a reader
    // interleaved between them can still pair a new view with an old
    // base; the manifest store stages the SAME pruned
    // partition set as versioned directories and flips (base
    // partitions, view partitions, marker) in ONE ManifestCommit
    // manifest create — untouched partition directories carry forward
    // byte-identical (IvmPartitionedCommittedSpec pins the FS claim and
    // the held-snapshot claim), and the commit works on rename-less
    // object stores. Fixture, feed, batching, and DuckDB oracle are
    // c12/c15's VERBATIM, so the hash gate pins the four-way
    // equivalence: committed-partitioned ≡ partitioned ≡ flat ≡
    // from-scratch recompute.
    Q("c23_stream_replay_manifest",
      "c15's partition-pruned CDC replay with every epoch's (base, view, marker) flipped in ONE manifest commit: no torn window, hash-equal to DuckDB's from-scratch fold",
      (s, d) => {
        // same harness bounds as c15: memoized feed (identical slice),
        // once-per-JVM seed template copied per run. The base loads as
        // ONE partition-granular manifest commit — the c15 seed
        // discipline (applyCdcPartitioned there): the initial load is
        // a write, not a CDC epoch, so it must not pay resolveLastOp +
        // delta + view work over the whole snapshot; the view
        // bootstraps from the full base aggregate on the first stream
        // epoch, exactly as the partitioned form does
        val feed = feedCdcCk(s, d)
        val mc = new graft.compendium.ManifestCommit(s,
          seededCkManifest(s, d, "c23", "c23_base"))
        ivmReplay(s, IvmStore.ManifestCommit(mc, "c23_base", "c23_view"),
          (0L until 3L).map(b => feed.filter(_.k % 3 == b).toSeq))
      },
      Some(sqlCkViewOracle),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // JOIN-view IVM — the maintenance problem the aggregate IVM family
    // (c12/c15/c23) does not cover, and the one that separates real
    // view maintenance from enrichment: V = fact ⟕ dim stays correct
    // under CDC arriving on BOTH join sides. The operator's three
    // design decisions (EventStreams.ivmJoinStream): the view buckets
    // by the JOIN key so it serves as its own fact-by-join-key index (a
    // dim change prunes to one view partition — never a fact scan); the
    // view is LEFT-join so a dim insert is a pruned rate fill instead
    // of the unrecoverable inner-join drop; and every epoch's (A, B, V,
    // marker) flip is ONE manifest commit. The fixture exercises every
    // hard case: dim updates and deletes on referenced keys (rate
    // rewrite / null-out), dim INSERTS of keys facts already reference
    // (the null-fill), fact re-keys across view partitions, fact
    // inserts referencing absent dims. Oracle: DuckDB applies both CDC
    // streams from first principles and left-joins — continuous
    // two-sided maintenance ≡ from-scratch recompute at the hash gate.
    Q("c24_stream_join_ivm",
      "LEFT-join view under two-sided CDC (fact re-keys, dim update/delete/insert incl. null-fill), partition-pruned epochs, one manifest flip — hash-equal to the from-scratch join",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        val feed = feedJoinCdc(s, d, c25Variant = false)
        val mc = new graft.compendium.ManifestCommit(s, seededJoinTrio(s, d))
        replay(s, (0L until 3L).map(b => feed.filter(_.key % 3 == b).toSeq))(
          EventStreams.ivmJoinStream(_, mc, "c24_a", "c24_b", "c24_v", 16)
            .start())
        import org.apache.spark.sql.types._
        val snap = mc.current()
        mc.readPartitionPathsAt(snap, "c24_v", "pck",
            mc.partitionValues(snap, "c24_v"),
            Some(StructType.fromDDL(
              "k BIGINT, ck BIGINT, cents BIGINT, rate BIGINT")))
          .getOrElse(s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("k", LongType),
              StructField("ck", LongType), StructField("cents", LongType),
              StructField("rate", LongType)))))
          .select("k", "ck", "cents", "rate").orderBy("k")
      },
      Some(s"""$sqlCkApplied,
             |cust AS (SELECT c_custkey AS ck,
             |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS rate
             |  FROM customer),
             |bfinal AS (
             |  SELECT ck, rate FROM cust
             |    WHERE ck % 50 <> 3 AND ck % 11 <> 5 AND ck % 7 <> 2
             |  UNION ALL
             |  SELECT ck, rate + 1000 FROM cust
             |    WHERE ck % 50 <> 3 AND ck % 11 <> 5 AND ck % 7 = 2
             |  UNION ALL
             |  SELECT ck, ck * 3 FROM cust WHERE ck % 50 = 3)
             |SELECT a.k, a.ck, a.cents, bf.rate
             |FROM applied a LEFT JOIN bfinal bf ON a.ck = bf.ck
             |ORDER BY a.k""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, ck BIGINT, cents BIGINT, rate BIGINT"))),

    // AGGREGATE-over-join IVM — the delta-rule shape c24's flat join
    // view doesn't cover: V(ck) = (count, SUM(cents), SUM(cents×rate))
    // over fact ⟕ dim, maintained under CDC on BOTH sides. The design
    // decision the gate proves (EventStreams.ivmAggJoinStream): the
    // view stores its sufficient statistic (cents_total), so a dim
    // change RE-WEIGHTS the aggregated row as cents_total × rate_new —
    // O(touched groups) arithmetic from the view row alone, with the
    // fact store contributing zero reads and zero writes to a dim-only
    // epoch (IvmAggJoinSpec pins that at manifest and bytes-read
    // grain). c24's two-sided fixture plus a re-key clause — dim
    // updates/deletes/inserts on referenced keys incl. the null-fill,
    // inserts referencing absent dims, and fact re-keys ACROSS groups
    // (U-ops on k % 17 = 4 move one group over: retract-from-old +
    // add-to-new at aggregate grain, exercised by this gate itself) —
    // so every change class lands at aggregate grain; epochs stay
    // partition-pruned with one manifest flip. Oracle: DuckDB folds both CDC streams from
    // first principles, left-joins, and aggregates — continuous
    // maintenance ≡ from-scratch GROUP BY at the hash gate (revenue is
    // NULL exactly where the group's dim is absent: SUM over all-NULL
    // products).
    Q("c25_stream_agg_join_ivm",
      "aggregate-over-join view under two-sided CDC: dim changes re-weight via the stored sufficient statistic (never a fact re-scan), hash-equal to the from-scratch aggregate",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        // the c25 feed variant ([[feedJoinCdc]]): U-ops on k % 17 = 4
        // RE-KEY the fact one group over — cross-group moves (retract
        // from the old group, add to the new) exercised by the GATE
        // itself, not only by IvmAggJoinSpec's curated cases — and the
        // inserted dim's rate is BOUNDED (mod 1e5) so revenue_total
        // stays in long range at the sf1 decade
        val feed = feedJoinCdc(s, d, c25Variant = true)
        val mc = new graft.compendium.ManifestCommit(s,
          seededAggJoinTrio(s, d))
        replay(s, (0L until 3L).map(b => feed.filter(_.key % 3 == b).toSeq))(
          EventStreams.ivmAggJoinStream(_, mc, "c25_a", "c25_b", "c25_v", 16)
            .start())
        import org.apache.spark.sql.types._
        val snap = mc.current()
        mc.readPartitionPathsAt(snap, "c25_v", "pck",
            mc.partitionValues(snap, "c25_v"),
            Some(StructType.fromDDL("ck BIGINT, n BIGINT, " +
              "cents_total BIGINT, rate BIGINT, revenue_total BIGINT")))
          .getOrElse(s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("ck", LongType),
              StructField("n", LongType),
              StructField("cents_total", LongType),
              StructField("rate", LongType),
              StructField("revenue_total", LongType)))))
          .select("ck", "n", "cents_total", "rate", "revenue_total")
          .orderBy("ck")
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |$sqlCdcResolved,
             |rck AS (SELECT r.k, r.last_op, r.new_cents,
             |    coalesce(b.ck,
             |      ('0x' || substr(md5('nc_' || r.k), 1, 15))::BIGINT % 1000 + 1)
             |      + CASE WHEN r.last_op = 'U' AND r.k % 17 = 4
             |             THEN 1 ELSE 0 END AS ck
             |  FROM resolved r LEFT JOIN base b ON r.k = b.k),
             |applied AS (
             |  SELECT b.k, b.ck, b.cents FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM rck r WHERE r.k = b.k)
             |  UNION ALL
             |  SELECT k, ck, new_cents AS cents FROM rck WHERE last_op <> 'D'),
             |cust AS (SELECT c_custkey AS ck,
             |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS rate
             |  FROM customer),
             |bfinal AS (
             |  SELECT ck, rate FROM cust
             |    WHERE ck % 50 <> 3 AND ck % 11 <> 5 AND ck % 7 <> 2
             |  UNION ALL
             |  SELECT ck, rate + 1000 FROM cust
             |    WHERE ck % 50 <> 3 AND ck % 11 <> 5 AND ck % 7 = 2
             |  UNION ALL
             |  SELECT ck, (ck % 100000) * 3 FROM cust WHERE ck % 50 = 3)
             |SELECT a.ck, count(*)::BIGINT AS n,
             |  CAST(sum(a.cents) AS BIGINT) AS cents_total,
             |  bf.rate,
             |  CAST(sum(a.cents * bf.rate) AS BIGINT) AS revenue_total
             |FROM applied a LEFT JOIN bfinal bf ON a.ck = bf.ck
             |GROUP BY a.ck, bf.rate
             |ORDER BY a.ck""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT, rate BIGINT, " +
          "revenue_total BIGINT"))),

    // c15's replay with the feed moved OFF the driver: every other
    // streaming gate's MemoryStream is a test harness that collect()s
    // its feed to the driver first — fine for bounded gate slices, but
    // it leaves the claim "the twins run off a real source" untested.
    // Here the SAME change feed is STAGED as committed parquet by a
    // distributed write (one append per epoch, executor→disk — the
    // driver never holds a row) and the twin reads it through
    // FileStreamSource (spark.readStream.parquet), the executor-side
    // source a production CDC drop-folder uses; this is the reference's
    // autoforward polling loop (main.py:113-134) as a streaming source
    // instead of a driver loop. Epoch slices are disjoint (k mod 3), so
    // the IVM algebra is batching-independent — however the source
    // micro-batches the files, the result folds to the same view, and
    // the oracle is c15's VERBATIM from-scratch fold: the hash gate
    // pins file-source twin ≡ MemoryStream twin ≡ batch recompute.
    // FileSourceTwinSpec additionally pins the running query's source
    // IS FileStreamSource and the per-epoch progress rows came from it.
    Q("c26_stream_file_source",
      "c15's partition-granular CDC replay fed by FileStreamSource over staged parquet (no driver-side feed), hash-equal to the from-scratch fold",
      (s, d) => {
        import s.implicits._
        import graft.streaming.EventStreams
        import graft.streaming.EventStreams.CdcViewChange
        // The three epoch slices as a once-per-JVM FILE template (the
        // SeededStore/FeedCache harness-cost discipline, r17 §9, applied
        // to the feed's FILES): the slices are FEED — content a producer
        // staged before the stream ever saw it — so their derivation
        // (md5 CDC plan + join + three REBALANCE-clustered writes) is
        // fixture build, not the replay leg the gate grades. The
        // template is written by the SAME distributed rebalance-by-k
        // write as before (same file grammar, same same-key-same-file
        // clustering the mid-write-race fix requires), byte-identical
        // input to the stream; per run the driver drops the staged
        // files into the watched folder like any upstream producer.
        val slicesTmpl = c26SliceTemplate(s, d)
        val root = StoreFixture.scratch("c26_stream")
        val srcDir = s"$root/changes_in"
        // FileStreamSource resolves the path at stream start — the
        // watched folder must exist before the first file lands
        new java.io.File(srcDir).mkdirs()
        // seed via the once-per-JVM template (SeededStore): the stream's
        // watched folder and checkpoint stay under this run's root
        val wh = new graft.compendium.Warehouse(s,
          seededCkWarehouse(s, d, "c26", "c26_base"))
        val changes = s.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "k BIGINT, seq BIGINT, op STRING, ck BIGINT, cents BIGINT"))
          .parquet(srcDir)
          .as[CdcViewChange]
        val store = IvmStore.Warehouse(wh, "c26_base", "c26_view", 16)
        val q = EventStreams.ivmStream(changes, store)
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        drain(q, (0L until 3L).iterator) { b =>
          // one producer drop per epoch: the template's staged slice
          // files land in the watched folder. The files are KEYED by
          // the CDC key (the template's REBALANCE on k): the running
          // query's trigger can list the folder MID-DROP and split a
          // slice's files across micro-batches, and the IVM apply —
          // like any CDC consumer — requires a key's changes to
          // arrive in seq order ACROSS batches (within a batch
          // resolveLastOp orders them); key-partitioned files make
          // file-granular batching preserve that contract, the same
          // per-key-ordering guarantee a partitioned CDC topic gives
          // (an unkeyed write measurably split one key's seq-1/seq-2
          // rows across two batches and applied them backwards).
          // Names are uniquified per epoch (b-prefix); the stream's
          // checkpoint is fresh per run, so template-name reuse
          // across runs is invisible to the source's seen-files log.
          val src = new java.io.File(s"$slicesTmpl/b$b")
          src.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).foreach { f =>
              java.nio.file.Files.copy(f.toPath,
                java.nio.file.Paths.get(s"$srcDir/b${b}_${f.getName}")): Unit
            }
        }
        ivmView(s, store)
      },
      Some(sqlCkViewOracle),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // CLUSTERED-change IVM — the measurement closing the family's open
    // claim: c15/c23/c24 argue "per-epoch cost ∝ touched partitions"
    // but their md5-spread feeds touch most buckets every epoch, so at
    // gate scale the pruning never pays. This feed is the reference's
    // status-table point-upsert workload (projects.py:87-106): each
    // entity is its own view group (ck = k), and every epoch's changes
    // are CONFINED to one key bucket (epoch e touches only k ≡ e mod
    // 16), so of the 16 (pk, pck) partition pairs an epoch reads and
    // rewrites exactly ONE — the manifest diff is the proof (one
    // base entry + one view entry + marker flip per epoch;
    // IvmClusteredPruningSpec additionally HIDES the untouched
    // directories during a clustered epoch to prove they are never even
    // listed, and pins write file counts ∝ touched buckets against a
    // same-volume spread epoch). Both stores pre-seed partitioned so no
    // epoch pays the one-off view bootstrap scan. Oracle: from-scratch
    // fold of the clustered change subset — maintenance ≡ recompute at
    // the hash gate, same as the spread siblings.
    Q("c27_stream_clustered_cdc",
      "status-upsert workload: 4 bucket-confined CDC epochs over partition-granular stores — each epoch reads/writes exactly one of 16 partitions, hash-equal to the from-scratch fold",
      (s, d) => {
        // point-group view: every entity its own group (ck = k) — the
        // status-table shape, where an upsert touches one row of one
        // partition
        val feed = feedCdcPoint(s, d)
        val mc = new graft.compendium.ManifestCommit(s,
          seededPointStore(s, d, "c27", "c27_base", "c27_view"))
        // the clustering: epoch e's changes live entirely in bucket e
        ivmReplay(s, IvmStore.ManifestCommit(mc, "c27_base", "c27_view"),
          (0L until 4L).map(e => feed.filter(_.k % 16 == e).toSeq))
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |$sqlCdcResolved,
             |clustered AS (SELECT * FROM resolved WHERE k % 16 IN (0, 1, 2, 3)),
             |applied AS (
             |  SELECT b.k, b.cents FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM clustered r WHERE r.k = b.k)
             |  UNION ALL
             |  SELECT k, new_cents AS cents FROM clustered WHERE last_op <> 'D')
             |SELECT k AS ck, count(*)::BIGINT AS n,
             |  sum(cents)::BIGINT AS cents_total
             |FROM applied GROUP BY k ORDER BY ck""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // TIME-TRAVEL READ — the lakehouse reader contract the
    // transactional layer already pays for (Delta/Iceberg `VERSION AS
    // OF`), turned into a gated row: a manifest VERSION is a complete,
    // immutable multi-table snapshot, so reading "the view as of
    // version v" is the SAME pruned multi-path scan as reading the
    // current view — only the resolution differs (manifestAt(v)
    // instead of current()), and the directories it names are
    // byte-stable forever after their commit (never rewritten, only
    // superseded). The workload is c27's status-upsert replay,
    // SNAPSHOTTED mid-stream: capture currentVersion() after epoch 1,
    // apply epoch 2 on top, then emit the AS-OF-v read — which must
    // hash-equal the oracle's fold of EXACTLY the first two epochs,
    // proving the later epoch is invisible through the pinned manifest
    // even though it committed before the query's read executes.
    // `retain` is the horizon knob (Delta's
    // deletedFileRetentionDuration in versions): the gate holds 8 so
    // the snapshot outlives its supersession; ManifestCommitSpec pins
    // the other side (past the horizon the manifest itself is deleted
    // and a versioned read fails LOUDLY, never silently reads newer
    // data). 100 TB: time travel costs nothing at write time (the
    // versions exist anyway) and a version read prunes identically to
    // a current read — the horizon bounds disk, not read cost.
    Q("c29_time_travel_read",
      "mid-replay snapshot read: the view AS OF a captured manifest version, after a later epoch committed — hash-equal to the fold of exactly the first two epochs",
      (s, d) => {
        import s.implicits._
        val feed = feedCdcPoint(s, d)
        val mc = new graft.compendium.ManifestCommit(s,
          seededPointStore(s, d, "c29", "c29_base", "c29_view"), retain = 8)
        val store = IvmStore.ManifestCommit(mc, "c29_base", "c29_view")
        var vMid = 0L
        // the snapshot: whatever version the store is at once epochs 0
        // and 1 are folded — the replay pulls epoch 2's batch only after
        // draining epoch 1, so epoch 2 commits AFTER it
        replay(s, Iterator(0L, 1L, 2L).map { e =>
          if (e == 2L) vMid = mc.currentVersion().get
          feed.filter(_.k % 16 == e).toSeq
        })(EventStreams.ivmStream(_, store).start())
        // the AS-OF read: resolve the PINNED manifest, not current()
        // — the read path (pruned multi-path scan) is otherwise
        // identical; epoch 2's commit must be invisible through it
        store.readViewAt(vMid).orderBy("ck")
      },
      Some(s"""WITH base AS (SELECT o_orderkey AS k,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |$sqlCdcResolved,
             |clustered AS (SELECT * FROM resolved WHERE k % 16 IN (0, 1)),
             |applied AS (
             |  SELECT b.k, b.cents FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM clustered r WHERE r.k = b.k)
             |  UNION ALL
             |  SELECT k, new_cents AS cents FROM clustered WHERE last_op <> 'D')
             |SELECT k AS ck, count(*)::BIGINT AS n,
             |  sum(cents)::BIGINT AS cents_total
             |FROM applied GROUP BY k ORDER BY ck""".stripMargin),
      staticSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "ck BIGINT, n BIGINT, cents_total BIGINT"))),

    // DATA-QUALITY constraint audit — the pre-publish validation suite
    // (Deequ / Great Expectations / dbt tests): a declared constraint
    // set over a table, each check a violation COUNT with a verdict,
    // emitted as one report the pipeline gates a release on. Scale
    // shape is the point: five of the six checks (PK uniqueness via
    // count-distinct, completeness, two range checks, accepted values)
    // compute in ONE map-side-partial aggregate pass over a 3-column
    // projection of the scan — adding a constraint adds a column to
    // that one pass, not a pass; only referential integrity needs a
    // second frame (orders ⋉̸ customer anti-join on the FK — the
    // dimension-keys side, at 100 TB a shuffle or bloom-semi join).
    // The fixture data makes the report non-vacuous in both
    // directions: four constraints pass, two genuinely fail (status
    // 'P' violates the accepted {O,F} set; ~half the prices exceed the
    // planted 250k cap). All counts are integers; verdicts are
    // count = 0.
    Q("q50_constraint_audit",
      "Deequ-style constraint suite over orders: six checks, violation counts, pass/fail verdicts in one report",
      (s, d) => {
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"))
        val onePass = o.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_pk"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L))
            .as("v_complete"),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
            .as("v_positive"),
          sum(when(col("o_totalprice") > 250000.0, 1L).otherwise(0L))
            .as("v_cap"),
          sum(when(!col("o_orderstatus").isin("O", "F"), 1L).otherwise(0L))
            .as("v_status"))
        val fk = o.join(Tables.load(s, d, "customer").select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("v_fk"))
        onePass.crossJoin(broadcast(fk))
          .selectExpr("n_rows", """stack(6,
            'accepted_status_OF', v_status,
            'complete_orderdate', v_complete,
            'fk_custkey_in_customer', v_fk,
            'pk_unique_orderkey', v_pk,
            'range_price_cap_250k', v_cap,
            'range_price_positive', v_positive)
            AS (check_name, n_violations)""")
          .select(col("check_name"), col("n_rows").as("n_checked"),
            col("n_violations"),
            (col("n_violations") === 0L).as("passed"))
          .orderBy("check_name")
      },
      Some("""WITH o AS (SELECT * FROM orders),
             |one AS (SELECT count(*)::BIGINT AS n_rows,
             |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS v_pk,
             |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_complete,
             |    sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)::BIGINT AS v_positive,
             |    sum(CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END)::BIGINT AS v_cap,
             |    sum(CASE WHEN o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END)::BIGINT AS v_status
             |  FROM o),
             |fk AS (SELECT count(*)::BIGINT AS v_fk FROM o
             |  WHERE NOT EXISTS (SELECT 1 FROM customer c
             |    WHERE c.c_custkey = o.o_custkey)),
             |rep AS (
             |  SELECT 'accepted_status_OF' AS check_name, n_rows, v_status AS n_violations FROM one
             |  UNION ALL SELECT 'complete_orderdate', n_rows, v_complete FROM one
             |  UNION ALL SELECT 'fk_custkey_in_customer', n_rows, v_fk FROM one, fk
             |  UNION ALL SELECT 'pk_unique_orderkey', n_rows, v_pk FROM one
             |  UNION ALL SELECT 'range_price_cap_250k', n_rows, v_cap FROM one
             |  UNION ALL SELECT 'range_price_positive', n_rows, v_positive FROM one)
             |SELECT check_name, n_rows AS n_checked, n_violations,
             |  n_violations = 0 AS passed
             |FROM rep ORDER BY check_name""".stripMargin)),

    // Grouped top-k via a bounded MERGEABLE heap aggregate (graft_topk,
    // plans/TopKPairs) — the scale-correct form of the universal
    // "top k per group" query. The textbook window spelling
    // (row_number() OVER (PARTITION BY g ORDER BY ord) <= k) shuffles
    // and sorts the ENTIRE corpus on the group key; the heap aggregate
    // partial-aggregates map-side, so the exchange carries
    // O(map_tasks · groups · k) fixed-width buffers — at 100 TB the
    // difference between shuffling billions of customer rows and
    // shuffling a few thousand 3-slot heaps. Determinism: (ord DESC,
    // id ASC) ordering inside the aggregate, so the emitted ranks are
    // exactly the oracle's row_number with the same tiebreak.
    // ExtendedQueriesSpec pins heap ≡ window on the Spark side;
    // PlanShapeSpec pins the partial-aggregate plan shape.
    Q("q48_grouped_topk",
      "per-nation top-3 customers by balance: bounded-heap mergeable top-k, map-side combined",
      (s, d) => {
        graft.plans.SketchAggregates.register(s)
        import graft.functions.Portable.topK
        Tables.load(s, d, "customer")
          .select(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(topK(col("c_acctbal"), col("c_custkey"), 3).as("top"))
          .select(col("c_nationkey"), posexplode(col("top")))
          .select(col("c_nationkey"),
            (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("c_custkey"),
            col("col.ord").as("c_acctbal"))
          .orderBy("c_nationkey", "rank")
      },
      Some("""SELECT c_nationkey, rank, c_custkey, c_acctbal FROM (
             |  SELECT c_nationkey,
             |    row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey) AS rank,
             |    c_custkey, c_acctbal
             |  FROM customer) t
             |WHERE rank <= 3
             |ORDER BY c_nationkey, rank""".stripMargin)),

    // STAR JOIN with runtime pruning — the end-to-end anchor for the
    // two fact-scan reducers the engine spec-asserts in isolation
    // (PlanShapeSpec: runtime bloom row-filter, partition pruning):
    // lineitem (fact) ⋈ orders (selective date window) ⋈ customer ⋈
    // nation ⋈ region='ASIA' (TPC-H Q5's shape on the tables TESTDATA
    // ships). Scale design, innermost out: region⋈nation is a 5×25-row
    // product — broadcast, so the region predicate becomes a
    // customer-side row filter for free; customer⋈orders and
    // orders⋈lineitem shuffle on their keys (both sides fact-scale at
    // 100 TB — no broadcast), and the ~15%-selective date predicate
    // pushes INTO the orders parquet scan (PushedFilters) and then
    // row-filters lineitem BEFORE its shuffle via the runtime bloom
    // filter when thresholds arm (InjectRuntimeFilter; q52's
    // PlanShapeSpec test pins might_contain/bloom_filter_agg on the
    // fact side with production thresholds scaled to the fixture).
    // Revenue is integer-exact (cents × discount-percent units), so
    // the group sums hash bit-equal in both engines regardless of
    // parallelism or add order.
    Q("q52_star_revenue",
      "per-nation revenue star: lineitem ⋈ date-filtered orders ⋈ customer ⋈ broadcast(nation ⋈ region='ASIA'), integer-exact sums",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem").select(col("l_orderkey"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          expr("cast(floor(l_discount * 100 + 0.5) AS BIGINT)").as("disc"))
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val c = Tables.load(s, d, "customer")
          .select("c_custkey", "c_nationkey")
        val nr = Tables.load(s, d, "nation")
          .join(broadcast(Tables.load(s, d, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_items"),
            sum(expr("cents * (100 - disc)")).as("revenue_units"))
          .orderBy("n_name")
      },
      Some("""SELECT n.n_name,
             |  count(*)::BIGINT AS n_items,
             |  CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             |    * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
             |    AS revenue_units
             |FROM lineitem l
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = 'ASIA'
             |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n.n_name
             |ORDER BY n.n_name""".stripMargin))
  )

  /** q49/q51's synthetic CDC batch, resolved to one row per changed key:
    * (k, last_op, new_cents, n_ops). Three legs over the snapshot's
    * `k % 7 = 3` keys — two sequenced ops per key (out-of-order
    * arrival), plus a NOT-MATCHED leg landing on keys OUTSIDE the
    * snapshot (`k + 10⁹`: fresh inserts; a D on a missing key
    * tombstones nothing). Last-op-wins via one row_number window over
    * the (tiny, change-sized) batch. The oracle twin is
    * [[sqlCdcResolved]] — the two must stay in lockstep.
    */
  private[graft] def cdcResolved(base: DataFrame): DataFrame = {
    val changes = cdcChanges(base)
    // payload tiebreak after seq — the SAME total order as
    // Warehouse.resolveLastOp (seq DESC, then remaining columns DESC in
    // name order: new_cents, op), so a feed that ever emits duplicate
    // (k, seq) rows resolves identically here, in the streaming apply,
    // and in the oracle twin, instead of partition-layout-dependently
    val wk = Window.partitionBy(col("k"))
      .orderBy(col("seq").desc, col("new_cents").desc, col("op").desc)
    changes
      .withColumn("rn", row_number().over(wk))
      .withColumn("n_ops",
        count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") === 1)
      .select(col("k"), col("op").as("last_op"), col("new_cents"),
        col("n_ops"))
  }

  /** The orders-derived (k, ck, cents) base frame every CDC/IVM gate
    * maintains a store over — one definition so the seed templates and
    * the gates can never drift.
    */
  private def ordersCkBase(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        expr("cast(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))

  /** The deterministic events slice (event_id ≡ r mod m) a MemoryStream
    * replay gate feeds through its harness, memoized once per JVM
    * ([[graft.core.FeedCache]] — the feed is harness content that in
    * production arrives from the bus, not the measured operator; the
    * CDC feeds' discipline). Consumers re-sort into FRESH arrays
    * (sortBy/filter/grouped copy), never mutate the cached one.
    */
  private def eventSlice(s: SparkSession, d: String, mod: Int,
      residue: Int): Array[graft.streaming.EventStreams.Event] = {
    import s.implicits._
    graft.core.FeedCache(s"events_${mod}_$residue", d) {
      Tables.events(s, d)
        .filter(col("event_id") % mod === residue)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.EventStreams.Event].collect()
    }
  }

  /** The bounded replay every MemoryStream gate runs: `start` builds the
    * streaming query over a fresh MemoryStream, then each NON-EMPTY batch
    * becomes one micro-batch, drained before the next is added, and the
    * query stops in a finally. Batches are pulled lazily, so an Iterator
    * may look at the store between two epochs (c29's mid-replay
    * snapshot). The stateless IVM gates come here directly and keep the
    * session's partitioning; stateful ones go through [[replayStateful]].
    * The query checkpoints under a scratch dir of the fixture root:
    * without a location Spark makes `temporary-<uuid>` in the temp dir,
    * which it keeps when the query fails.
    */
  private def replay[T: Encoder](s: SparkSession,
      batches: IterableOnce[Seq[T]])(start: Dataset[T] => StreamingQuery)
      : Unit = {
    implicit val sq: SQLContext = s.sqlContext
    val in = MemoryStream[T]
    val q = graft.core.ScopedConf(s, "spark.sql.streaming.checkpointLocation"
      -> StoreFixture.scratch("ckpt_"))(start(in.toDS()))
    drain(q, batches.iterator.filter(_.nonEmpty))(in.addData(_): Unit)
  }

  /** [[replay]] for the stateful gates, with the bounded-replay conf set
    * around the query's start (the conf is read once there, so the
    * session gets its own values back right after):
    *  - 4 shuffle partitions: a stateful operator creates one state-store
    *    instance per shuffle partition PER MICRO-BATCH (streaming is
    *    exempt from AQE coalescing), and gate state is slice-sized — at
    *    the session's 32 partitions the replay spends its time on state
    *    file churn, not data;
    *  - no-data micro-batches off: every emission in these gates rides a
    *    DATA batch — arrival-time emission for joins/dedup/upserts, and
    *    the sentinel rounds exist precisely to advance the watermark WITH
    *    data where deferred emission is the semantics under test — so
    *    the bookkeeping micro-batch Spark appends after each drain is a
    *    full state-store commit cycle that adds no rows. Production keeps
    *    the default (a live stream wants evictions without waiting for
    *    traffic); a bounded replay does not.
    */
  private def replayStateful[T: Encoder](s: SparkSession,
      batches: IterableOnce[Seq[T]])(start: Dataset[T] => StreamingQuery)
      : Unit =
    replay(s, batches) { ds =>
      graft.core.ScopedConf(s, "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(
        start(ds))
    }

  /** [[replay]] of a CDC feed through one aggregate-IVM stream over
    * `store`, then its view read back through the store ([[ivmView]]).
    */
  private def ivmReplay(s: SparkSession, store: IvmStore,
      batches: Seq[Seq[CdcViewChange]]): DataFrame = {
    import s.implicits._
    replay(s, batches)(EventStreams.ivmStream(_, store).start())
    ivmView(s, store)
  }

  /** The view `store` maintains, ordered by ck. A zero-change corpus
    * (empty or degenerate input) never triggers a micro-batch, so an
    * absent view is bootstrapped here by one empty epoch: the base's
    * aggregate alone.
    */
  private def ivmView(s: SparkSession, store: IvmStore): DataFrame = {
    import s.implicits._
    if (!store.viewExists)
      EventStreams.applyIvmBatch(s.emptyDataset[CdcViewChange].toDF(),
        store, epoch = 0L, queryId = "bootstrap")
    store.readView().orderBy("ck")
  }

  /** Drives `q` over `steps`: `feed` hands the source one step's data,
    * then the query processes everything available; `q` stops in a
    * finally. */
  private def drain[B](q: StreamingQuery, steps: Iterator[B])(
      feed: B => Unit): Unit =
    try steps.foreach { b => feed(b); q.processAllAvailable() }
    finally q.stop()

  /** The md5 batch ordering of the shuffled replays: sorting by
    * `md5Order(gate, id)` scrambles a slice, `md5Bucket` scatters it over
    * `n` batches (floorMod of the digest's leading byte, signed). */
  private def md5Order(gate: String, id: Long): String =
    graft.functions.Portable.md5HexScala(s"${gate}_$id")

  private def md5Bucket(gate: String, id: Long, n: Int): Int =
    math.floorMod(
      Integer.parseInt(md5Order(gate, id).take(2), 16).toByte.toInt, n)

  /** `xs` in three contiguous batches (fewer when it has < 3 rows). */
  private def thirds[T](xs: Seq[T]): Seq[Seq[T]] =
    xs.grouped(math.max((xs.length + 2) / 3, 1)).toSeq

  /** Two far-future flush rounds after `slice` (none for an empty one):
    * sentinel 1, `first` days past the last event, advances the
    * watermark; sentinel 2, `second` days past it, triggers the batch
    * that fires what the first armed. Negative ids and users keep them
    * off real output. */
  private def flushRounds(slice: Seq[Event], first: Long, second: Long)
      : Seq[Seq[Event]] =
    if (slice.isEmpty) Nil
    else {
      val lastTs = slice.map(_.ts.getTime).max
      def at(days: Long) = new java.sql.Timestamp(lastTs + days * 86400000L)
      Seq(Seq(Event(-1L, at(first), -998L, "flush", 0.0)),
        Seq(Event(-2L, at(second), -999L, "flush", 0.0)))
    }

  /** The c22 embedding projection (vec_id, clabel, v) its seed and
    * tombstone feed both derive from.
    */
  private def c22Emb(s: SparkSession, d: String): DataFrame = {
    graft.plans.VectorExpressions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("clabel"),
        graft.functions.Portable.vecD(col("embedding")).as("v"))
  }

  /** A fresh copy of c22's seeded centroid store (what the fold-in
    * producer would have committed) — template per JVM.
    */
  private def c22SeededStore(s: SparkSession, d: String): String =
    graft.core.SeededStore("c22", d) { p =>
      graft.streaming.VectorStreams.seed(s, p, Similarity.centroidStats(
        c22Emb(s, d).filter(col("vec_id") % 5 =!= 4)
          .select("clabel", "v"), "clabel")): Unit
    }

  /** A fresh copy of c14's epoch-0 snapshot store — template per JVM. */
  private def seededC14Store(s: SparkSession, d: String): String =
    graft.core.SeededStore("c14", d) { p =>
      new graft.compendium.Warehouse(s, p).applyCdcPartitioned("c14_snap",
        ordersCkBase(s, d).select(col("k"), lit(0L).as("seq"),
          lit("I").as("op"), col("cents")),
        "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    }

  /** The c22 tombstone slice, memoized per JVM. */
  private def c22Tombstones(s: SparkSession, d: String)
      : Array[graft.streaming.VectorStreams.Tombstone] = {
    import s.implicits._
    graft.core.FeedCache("c22_gone", d) {
      c22Emb(s, d)
        .filter(col("vec_id") % 5 =!= 4 && col("vec_id") % 7 === 2)
        .as[graft.streaming.VectorStreams.Tombstone].collect()
    }
  }

  /** The c12-family CDC feed (k, seq, op, ck, cents), also c24/c25's
    * fact side: ck from the base row, md5-derived for new keys — what
    * [[sqlCkApplied]]'s `rck` CTE recomputes.
    */
  private def cdcCkFeed(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Portable.h60
    val base = ordersCkBase(s, d)
    cdcChanges(base.select(col("k")))
      .join(base.select("k", "ck"), Seq("k"), "left")
      .select(col("k"), col("seq"), col("op"),
        coalesce(col("ck"),
          h60(concat(lit("nc_"), col("k").cast("string"))) % 1000 + 1)
          .as("ck"),
        col("new_cents").as("cents"))
  }

  /** [[cdcCkFeed]] collected for the MemoryStream gates (c12/c15/c23),
    * memoized once per JVM ([[graft.core.FeedCache]]).
    */
  private def feedCdcCk(s: SparkSession, d: String)
      : Array[graft.streaming.EventStreams.CdcViewChange] = {
    import s.implicits._
    graft.core.FeedCache("cdc_ck", d) {
      cdcCkFeed(s, d).as[graft.streaming.EventStreams.CdcViewChange]
        .collect()
    }
  }

  /** c26's three epoch slice files of [[cdcCkFeed]] as a once-per-JVM
    * template (the SeededStore/FeedCache discipline on the FILE feed):
    * one REBALANCE-by-k clustered write per slice — the
    * same-key-same-file contract the mid-write-race fix requires — built
    * once; each gate run drops copies into its watched folder like any
    * upstream producer.
    */
  private def c26SliceTemplate(s: SparkSession, d: String): String =
    graft.core.StoreFixture("c26_slices", d) { p =>
      val feed = cdcCkFeed(s, d).localCheckpoint(true)
      (0L until 3L).foreach { b =>
        feed.filter(col("k") % 3 === b).hint("rebalance", col("k"))
          .write.mode("overwrite").parquet(s"$p/b$b")
      }
      feed.unpersist(blocking = false): Unit
    }

  /** The c27/c29 point-group CDC slice (ck = k), memoized per JVM. */
  private def feedCdcPoint(s: SparkSession, d: String)
      : Array[graft.streaming.EventStreams.CdcViewChange] = {
    import s.implicits._
    graft.core.FeedCache("cdc_point", d) {
      cdcChanges(ordersCkBase(s, d).select(col("k")))
        .select(col("k"), col("seq"), col("op"), col("k").as("ck"),
          col("new_cents").as("cents"))
        .as[graft.streaming.EventStreams.CdcViewChange]
        .collect()
    }
  }

  /** A fresh copy of the partition-granular (k, ck, cents) base store
    * seeded under Warehouse semantics (c15/c26) — template per JVM.
    */
  private def seededCkWarehouse(s: SparkSession, d: String, kind: String,
      table: String): String =
    graft.core.SeededStore(kind, d) { p =>
      new graft.compendium.Warehouse(s, p).applyCdcPartitioned(table,
        ordersCkBase(s, d)
          .select(col("k"), lit(0L).as("seq"), lit("I").as("op"),
            col("ck"), col("cents")),
        "k", "seq", "op", "pk", c => pmod(c, lit(16L)))
    }

  /** A fresh copy of the (k, ck, cents) base store committed as ONE
    * partition-granular manifest version (c23) — template per JVM.
    */
  private def seededCkManifest(s: SparkSession, d: String, kind: String,
      table: String): String =
    graft.core.SeededStore(kind, d) { p =>
      new graft.compendium.ManifestCommit(s, p)
        .commitPartitioned(Map(table -> (("pk",
          ordersCkBase(s, d)
            .select(col("k"), col("ck"), col("cents"))
            .withColumn("pk", pmod(col("k"), lit(16L))),
          (0L until 16L).toSeq)))): Unit
    }

  /** The c24/c25 two-sided fixture frames: the fact base, the customer
    * dim, and the dim SEED (the %50=3 keys held out — their later
    * INSERT is the null-fill case).
    */
  private def joinDimFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = ordersCkBase(s, d)
    val cust = Tables.load(s, d, "customer")
      .select(col("c_custkey").as("ck"),
        expr("cast(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
          .as("rate"))
    (base, cust, cust.filter(col("ck") % 50 =!= 3))
  }

  /** The c24/c25 two-sided CDC feed, memoized per JVM. Fact side:
    * [[cdcCkFeed]]; dim side: %50=3 INSERTs (the null-fill), %11=5 DELETEs,
    * %7=2 re-rates. The c25 variant differs twice: U-ops on k % 17 = 4
    * RE-KEY the fact one group over (cross-group moves exercised by
    * the gate itself), and the inserted dim's rate derives from ck
    * BOUNDED (mod 1e5) — c25's revenue_total = cents_total × rate
    * would overflow long at the sf1 decade with ScaleGen's
    * 1e12-shifted keys where c24's per-row rate does not.
    */
  private def feedJoinCdc(s: SparkSession, d: String, c25Variant: Boolean)
      : Array[graft.streaming.EventStreams.CdcJoinChange] = {
    import s.implicits._
    graft.core.FeedCache(if (c25Variant) "c25" else "c24", d) {
      val (_, cust, _) = joinDimFrames(s, d)
      val feedA = cdcCkFeed(s, d)
        .select(lit("A").as("side"), col("k").as("key"), col("seq"),
          col("op"),
          (if (c25Variant)
            col("ck") + when(col("op") === "U" && col("k") % 17 === 4, 1L)
              .otherwise(0L)
          else col("ck")).as("ck"),
          col("cents").as("amt"))
      val insRate =
        if (c25Variant) (col("ck") % 100000) * 3 else col("ck") * 3
      val feedB = cust
        .select(lit("B").as("side"), col("ck").as("key"),
          lit(1L).as("seq"),
          when(col("ck") % 50 === 3, "I")
            .when(col("ck") % 11 === 5, "D")
            .when(col("ck") % 7 === 2, "U").as("op"),
          col("ck"),
          when(col("ck") % 50 === 3, insRate)
            .when(col("ck") % 11 === 5, lit(0L))
            .otherwise(col("rate") + 1000).as("amt"))
        .filter(col("op").isNotNull)
      feedA.unionByName(feedB)
        .as[graft.streaming.EventStreams.CdcJoinChange].collect()
    }
  }

  /** A fresh copy of the c24 (A, B, V) join-view trio seed. */
  private def seededJoinTrio(s: SparkSession, d: String): String =
    graft.core.SeededStore("c24", d) { p =>
      val (base, _, bSeed) = joinDimFrames(s, d)
      graft.streaming.EventStreams.seedJoinView(
        new graft.compendium.ManifestCommit(s, p),
        base, bSeed, "c24_a", "c24_b", "c24_v", 16)
    }

  /** A fresh copy of the c25 aggregate-over-join trio seed. */
  private def seededAggJoinTrio(s: SparkSession, d: String): String =
    graft.core.SeededStore("c25", d) { p =>
      val (base, _, bSeed) = joinDimFrames(s, d)
      graft.streaming.EventStreams.seedAggJoinView(
        new graft.compendium.ManifestCommit(s, p),
        base, bSeed, "c25_a", "c25_b", "c25_v", 16)
    }

  /** A fresh copy of the c27/c29 point-group (base, view) manifest
    * trio seed — template per JVM.
    */
  private def seededPointStore(s: SparkSession, d: String, kind: String,
      baseTable: String, viewTable: String): String =
    graft.core.SeededStore(kind, d) { p =>
      val base = ordersCkBase(s, d)
      val nb = lit(16L)
      new graft.compendium.ManifestCommit(s, p).commitPartitioned(Map(
        baseTable -> (("pk",
          base.select(col("k"), col("k").as("ck"), col("cents"))
            .withColumn("pk", pmod(col("k"), nb)),
          (0L until 16L).toSeq)),
        viewTable -> (("pck",
          base.select(col("k").as("ck"), col("cents"))
            .groupBy("ck").agg(count(lit(1)).as("n"),
              sum("cents").as("cents_total"))
            .withColumn("pck", pmod(col("ck"), nb)),
          (0L until 16L).toSeq)))): Unit
    }

  /** Pre-build every IVM seed template and feed memo ([[graft.core
    * .SeededStore]]/[[graft.core.FeedCache]]) — Bench warmup calls this
    * like Dedup.warmStores, so best-of-1 sweeps time the epoch replay,
    * not the once-per-JVM harness builds. The gates themselves call the
    * same defs, so warm and consume cannot drift.
    */
  private[graft] def warmSeeds(s: SparkSession, d: String): Unit = {
    feedCdcCk(s, d); feedCdcPoint(s, d)
    feedJoinCdc(s, d, c25Variant = false)
    feedJoinCdc(s, d, c25Variant = true)
    Seq((97, 3), (97, 5), (97, 7), (97, 11), (97, 13), (97, 17), (13, 4))
      .foreach { case (m, r) => eventSlice(s, d, m, r): Unit }
    c22Tombstones(s, d)
    seededCkWarehouse(s, d, "c15", "c15_base")
    seededCkWarehouse(s, d, "c26", "c26_base")
    c26SliceTemplate(s, d)
    seededCkManifest(s, d, "c23", "c23_base")
    seededJoinTrio(s, d); seededAggJoinTrio(s, d)
    seededPointStore(s, d, "c27", "c27_base", "c27_view")
    seededPointStore(s, d, "c29", "c29_base", "c29_view")
    c22SeededStore(s, d); seededC14Store(s, d): Unit
  }

  /** The RAW md5-derived change feed (k, seq, op, new_cents) behind
    * [[cdcResolved]] — exposed unresolved so c12 can replay it through
    * the STREAMING apply (which owns its own last-op-wins resolution,
    * [[graft.compendium.Warehouse.resolveLastOp]]). Keys: ~1/7 of base
    * keys change (c1), ~1/3 of those change twice out of order (c2),
    * and base keys ≡ 0 (mod 3) spawn a brand-new key +1e9 (c3).
    */
  private[graft] def cdcChanges(base: DataFrame): DataFrame = {
    import graft.functions.Portable.h60
    val keys = base.select(col("k")).filter(col("k") % 7 === 3)
    val c1 = keys.select(col("k"), lit(1L).as("seq"),
      element_at(typedlit(Seq("I", "U", "D")),
        (h60(concat(lit("op1_"), col("k").cast("string"))) % 3 + 1)
          .cast("int")).as("op"),
      (h60(concat(lit("p1_"), col("k").cast("string"))) % 100000)
        .as("new_cents"))
    val c2 = keys
      .filter(h60(concat(lit("two_"), col("k").cast("string"))) % 3 === 0)
      .select(col("k"), lit(2L).as("seq"),
        element_at(typedlit(Seq("I", "U", "D")),
          (h60(concat(lit("op2_"), col("k").cast("string"))) % 3 + 1)
            .cast("int")).as("op"),
        (h60(concat(lit("p2_"), col("k").cast("string"))) % 100000)
          .as("new_cents"))
    val c3 = keys.filter(col("k") % 3 === 0)
      .select((col("k") + 1000000000L).as("k"), lit(1L).as("seq"),
        element_at(typedlit(Seq("I", "U", "D")),
          (h60(concat(lit("op3_"), col("k").cast("string"))) % 3 + 1)
            .cast("int")).as("op"),
        (h60(concat(lit("p3_"), col("k").cast("string"))) % 100000)
          .as("new_cents"))
    c1.unionByName(c2).unionByName(c3)
  }

  /** Oracle CTE prefix matching [[cdcResolved]] over `base(k, old_cents)`
    * — ends with CTE `resolved(k, last_op, new_cents, n_ops)`. The
    * `base` CTE itself is supplied by the caller.
    */
  private[graft] def sqlCdcResolved: String =
    """keys AS (SELECT k FROM base WHERE k % 7 = 3),
      |c1 AS (SELECT k, 1::BIGINT AS seq,
      |    ['I','U','D'][(('0x' || substr(md5('op1_' || k), 1, 15))::BIGINT % 3) + 1] AS op,
      |    ('0x' || substr(md5('p1_' || k), 1, 15))::BIGINT % 100000 AS new_cents
      |  FROM keys),
      |c2 AS (SELECT k, 2::BIGINT AS seq,
      |    ['I','U','D'][(('0x' || substr(md5('op2_' || k), 1, 15))::BIGINT % 3) + 1] AS op,
      |    ('0x' || substr(md5('p2_' || k), 1, 15))::BIGINT % 100000 AS new_cents
      |  FROM keys
      |  WHERE ('0x' || substr(md5('two_' || k), 1, 15))::BIGINT % 3 = 0),
      |c3 AS (SELECT keys.k + 1000000000 AS k, 1::BIGINT AS seq,
      |    ['I','U','D'][(('0x' || substr(md5('op3_' || keys.k), 1, 15))::BIGINT % 3) + 1] AS op,
      |    ('0x' || substr(md5('p3_' || keys.k), 1, 15))::BIGINT % 100000 AS new_cents
      |  FROM keys WHERE keys.k % 3 = 0),
      |changes AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
      |  UNION ALL SELECT * FROM c3),
      |resolved AS (SELECT k, op AS last_op, new_cents, n_ops FROM (
      |  SELECT *, row_number() OVER (PARTITION BY k
      |      ORDER BY seq DESC, new_cents DESC, op DESC) AS rn,
      |    count(*) OVER (PARTITION BY k)::BIGINT AS n_ops
      |  FROM changes) WHERE rn = 1)""".stripMargin

  /** Oracle CTE chain of the c12 family: DuckDB's from-scratch apply of
    * [[cdcCkFeed]] to `base(k, ck, cents)` — the resolved feed, `rck`
    * (ck from the base row, md5-derived for new keys) and the `applied`
    * snapshot, which [[sqlCkViewOracle]] folds and c24 joins its dim to.
    */
  private def sqlCkApplied: String =
    s"""WITH base AS (SELECT o_orderkey AS k, o_custkey AS ck,
       |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |$sqlCdcResolved,
       |rck AS (SELECT r.k, r.last_op, r.new_cents,
       |    coalesce(b.ck,
       |      ('0x' || substr(md5('nc_' || r.k), 1, 15))::BIGINT % 1000 + 1) AS ck
       |  FROM resolved r LEFT JOIN base b ON r.k = b.k),
       |applied AS (
       |  SELECT b.k, b.ck, b.cents FROM base b
       |  WHERE NOT EXISTS (SELECT 1 FROM rck r WHERE r.k = b.k)
       |  UNION ALL
       |  SELECT k, ck, new_cents AS cents FROM rck WHERE last_op <> 'D')""".stripMargin

  /** The per-ck view c12, c15, c23 and c26 maintain, recomputed from
    * scratch — one oracle, so the four stream twins are graded against
    * the same fold. */
  private def sqlCkViewOracle: String =
    s"""$sqlCkApplied
       |SELECT ck, count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents_total
       |FROM applied GROUP BY ck ORDER BY ck""".stripMargin

  /** q47's histogram cells over any (event_type, value) frame —
    * (event_type, bucket_lo, width, cnt), shared with the streaming twin
    * [[graft.streaming.EventStreams.hdrCellsStream]] so batch and stream
    * can never disagree on the bucketing. Works on a streaming frame
    * because the octave attach is a stream-static join against the
    * broadcast 40-row power-of-two table and the rollup is a plain
    * keyed count (bounded state: ≤ ~8·40 cells per type by construction,
    * the kmvDistinctStream no-watermark rationale).
    */
  /** Single-aggregation form — kept for the STREAMING twin
    * (EventStreams.hdrCellsStream), where a chained groupBy (the
    * freq-grain shape below) would be an unsupported second streaming
    * aggregation. Batch q47 uses [[hdrCellsOfFreq]] instead so its two
    * legs share one scan.
    */
  private[graft] def hdrCellsOf(events: DataFrame): DataFrame = {
    val ev = events.filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    hdrOctaveAttach(ev)
      .groupBy(col("event_type"), col("bucket_lo"), col("width"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Octave-bucket rollup from the (event_type, cents, freq) frequency
    * grain — the shared upstream of q47's estimate AND exact-audit legs
    * (one events scan, one exchange; ReuseExchange dedupes). */
  private[graft] def hdrCellsOfFreq(freq: DataFrame): DataFrame =
    hdrOctaveAttach(freq)
      .groupBy(col("event_type"), col("bucket_lo"), col("width"))
      .agg(sum(col("freq")).as("cnt"))

  /** The ONE definition of HdrHistogram octave bucketing: the 40-row
    * power-of-two bounds table broadcast as a range join on `cents`,
    * plus the (width, bucket_lo) sub-bucket expressions — shared by
    * [[hdrCellsOf]] (streaming twin) and [[hdrCellsOfFreq]] (batch q47)
    * so the two can never drift. Drops cents < 1 by construction (the
    * lowest octave's lo is 1 and the join is inner). */
  private def hdrOctaveAttach(withCents: DataFrame): DataFrame = {
    val s = withCents.sparkSession
    val pows = broadcast(s.range(0, 40)
      .select(expr("shiftleft(1L, cast(id as int))").as("lo"),
        expr("CASE WHEN id = 39 THEN 9223372036854775807L " +
          "ELSE shiftleft(1L, cast(id as int) + 1) END").as("hi")))
    withCents
      .join(pows, col("cents") >= col("lo") && col("cents") < col("hi"))
      .withColumn("width", expr("CASE WHEN lo >= 8 THEN lo div 8 ELSE 1 END"))
      .withColumn("bucket_lo", expr(
        "CASE WHEN lo >= 8 THEN lo + ((cents - lo) div (lo div 8)) * (lo div 8) ELSE cents END"))
  }
}
