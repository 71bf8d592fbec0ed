package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational / analytics operators over the TPC-H-ish tables.
  *
  * These exercise the host-engine parity side of the unified vector
  * store (metadata analytics next to the vector collection). All are
  * pure DataFrame plans: Catalyst pushes the filters into the parquet
  * scan, prunes columns, and broadcasts the dimension sides of joins.
  */
object Relational {

  /** The window spec of the |days|-row series queries: the frame is a
    * pre-aggregated histogram, so one partition is the intended plan.
    * A constant but non-foldable key (the TextAnalysis.qZipf idiom;
    * `hash` is never null, so every row shares it) keeps that window
    * off WindowExec's unpartitioned path — same rows, same order.
    */
  private def daysWindow = Window.partitionBy(pmod(hash(col("day")), lit(1)))

  /** TPC-H Q1-style pricing summary. Single scan, map-side partial
    * aggregation on low-cardinality keys — shuffles only
    * |flags|×|statuses| partial rows per input partition, so it scales
    * linearly to any input size.
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") < lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style shipping priority: 3-way join, revenue top-10.
    * customer and orders are small relative to lineitem at any SF —
    * Spark's AQE will broadcast them; the explicit broadcast hint on
    * customer makes the intent durable at 100 TB (customer is the
    * smallest side after its segment filter).
    */
  def q3Join(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1995-03-15").cast("timestamp")
    val cust = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, sfDir).filter(col("o_orderdate") < cutoff)
    val li   = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > cutoff)
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Window functions: per-supplier quantity rank and running revenue.
    * One shuffle on l_suppkey serves both window specs (same
    * partitioning), then both functions evaluate in a single Window
    * physical operator.
    */
  def qWindow(spark: SparkSession, sfDir: String): DataFrame = {
    // rebalance on the window's OWN key: the repartition satisfies the
    // window's required distribution, so the planner plans exactly one
    // exchange either way — but the per-group sort then runs on every
    // core instead of the file's 3 splits (measured: a 0.75 s 3-task
    // sort job). On a properly split corpus the guard is false and the
    // plan keeps the map-side WindowGroupLimit before the exchange,
    // which shuffles fewer rows — the right trade at scale.
    val li = Fanout.rebalance(Tables.lineitem(spark, sfDir), col("l_suppkey"))
    val w  = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        round(sum(col("l_extendedprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_rev"))
      .filter(col("rn") <= 5)
  }

  /** Tumbling-window event aggregation (batch twin of the streaming
    * job in graft.streaming): hourly counts and value sums per event
    * type. date_trunc keys aggregate map-side; cardinality is
    * hours×types regardless of input size.
    */
  def qEventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding-window event aggregation: 1-hour windows every 30
    * minutes (each event lands in exactly two windows). Spark's
    * `window(slide)` expands the per-event window list inline —
    * still one scan and a map-side-combinable aggregate whose
    * cardinality is 2× the tumbling case, independent of input size.
    * The streaming twin is the same expression under `readStream`.
    */
  def qEventsSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** JSON extraction over the events.props string column + aggregate.
    * get_json_object is codegen'd; at scale this is a single scan with
    * the aggregation pushed map-side.
    */
  def qJsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** ROLLUP subtotals over lineitem (flag, status) — the OLAP
    * subtotal/grand-total shape (ES would run three requests; SQL
    * engines one ROLLUP). One scan, partial-aggregated per grouping
    * set; null grouping keys are presented as 'ALL' (the data has no
    * organic nulls).
    */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"), col("sum_price"))
      .orderBy(col("flag"), col("status"))

  /** Exact interpolated percentiles of event value per type —
    * the quantitative profile behind the sketch variant
    * (q_sketch_stats); percentile() sorts per group, fine at
    * per-group scale, while the KLL sketch is the 100 TB path.
    */
  def qPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(graft.functions.pctl.of(spark, col("value"), array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .select(col("event_type"),
        round(col("p")(0), 6).as("p50"),
        round(col("p")(1), 6).as("p90"),
        round(col("p")(2), 6).as("p99"))
      .orderBy(col("event_type"))

  /** Fixed-interval numeric histogram (ES `histogram` aggregation):
    * doc length in 100-char buckets with count and mean. The bucket
    * key is a per-row expression, the aggregate map-side combinable,
    * output cardinality = |buckets| — scan-dominated at any scale.
    */
  def qHistogramNumeric(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
      .orderBy(col("bucket"))

  /** Calendar-day histogram with a terms sub-aggregation (ES
    * `date_histogram` + `terms` + `cardinality`): per (day, type)
    * counts, distinct users, and value sum. One scan; count-distinct
    * adds the usual two-phase aggregate.
    */
  def qDateHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  /** ES `rate` aggregation: per calendar-month bucket, the per-DAY
    * rate of documents and of the value sum — the bucket total
    * normalized by the bucket's calendar length (ES
    * `rate { unit: day }` inside a monthly date_histogram). The sum
    * is rounded BEFORE the division so both engines divide the same
    * grid point; one combinable aggregate, |months| output rows.
    */
  def qRate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("month"),
        round(col("n").cast("double") / dayofmonth(last_day(col("month"))), 6)
          .as("doc_rate"),
        round(col("sv") / dayofmonth(last_day(col("month"))), 6)
          .as("value_rate"))
      .orderBy(col("month"))

  /** Extended statistical profile per event type (ES `extended_stats`
    * aggregation): count, min/max, sum, mean, population variance and
    * stddev, plus the ±2σ bounds ES reports. The moments are computed
    * from raw sums (Σv, Σv²) so Spark and the oracle evaluate the
    * SAME closed formula — engine-internal variance algorithms
    * (Welford vs two-pass) differ below the rounding threshold but
    * the explicit form removes even that. Sum/sum-of-squares are
    * map-side combinable: one scan, |types| output rows at any SF.
    */
  def qExtendedStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"),
        sum(col("value")).as("s1"),
        sum(col("value") * col("value")).as("s2"))
      .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
        round(col("s1"), 2).as("sum_v"),
        round(col("s1") / col("n"), 6).as("avg_v"),
        round(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")), 6).as("var_v"),
        round(sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))), 6).as("std_v"))
      .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
        col("sum_v"), col("avg_v"), col("var_v"), col("std_v"),
        round(col("avg_v") + lit(2) * col("std_v"), 6).as("upper_2sd"),
        round(col("avg_v") - lit(2) * col("std_v"), 6).as("lower_2sd"))
      .orderBy(col("event_type"))

  /** The named filters of the adjacency-matrix aggregation — shared
    * with the oracle SQL so both sides count the same predicates.
    */
  val AdjFilters: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "a" -> col("event_type").isin("click", "view"),
    "b" -> (col("value") >= 100),
    "c" -> (col("user_id") % 2 === 0))

  /** Adjacency matrix (ES `adjacency_matrix` aggregation): named
    * filters a/b/c → document counts for each filter and each
    * pairwise intersection, in ONE scan. Every bucket is a
    * conditional count (`sum(when(...))`), so the whole matrix is a
    * single map-side-combinable aggregate producing one row, then
    * unpivoted to (key, doc_count) rows — no per-filter rescans, the
    * property that makes the agg viable at 100 TB where ES would run
    * the filters against an index.
    */
  def qAdjacencyMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val singles = AdjFilters.map { case (n, c) =>
      sum(when(c, 1L).otherwise(0L)).as(n) }
    val pairs = AdjFilters.combinations(2).map { case Seq((n1, c1), (n2, c2)) =>
      sum(when(c1 && c2, 1L).otherwise(0L)).as(s"$n1&$n2") }.toSeq
    val one = Tables.events(spark, sfDir).agg((singles ++ pairs).head, (singles ++ pairs).tail: _*)
    val keys = one.columns.toIndexedSeq
    one.select(explode(map(
        keys.flatMap(k => Seq(lit(k), col(s"`$k`"))): _*)).as(Seq("key", "doc_count")))
      .orderBy(col("key"))
  }

  /** Top metrics (ES `top_metrics`): per event type, the payload of
    * the LATEST event — the argmax shape (metric of the top-sorted
    * row, not the top metric). A rank window with the deterministic
    * (ts desc, event_id desc) order; WindowGroupLimit pre-limits
    * per-partition, so the shuffle carries one candidate row per
    * (partition, type).
    */
  def qTopMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("event_id"), col("ts").as("latest_ts"),
        round(col("value"), 6).as("latest_value"))
      .orderBy(col("event_type"))
  }

  /** Diversified sampler (ES `diversified_sampler` + sub-agg): a
    * deterministic per-user cap (max 3 events per user, chosen by
    * the md5-bucket shuffle order) feeds the value aggregate, so no
    * single hot user dominates the statistic. The cap is one rank
    * window on the dedup key; everything after is a plain
    * map-side-combinable aggregate over the sample.
    */
  def qDiversifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val order = graft.functions.hashes.md5Bucket(
      col("event_id").cast("string"), 1000000L)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(order, col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        round(avg(col("value")), 6).as("avg_value"))
      .orderBy(col("event_type"))
  }

  /** Weighted average (ES `weighted_avg`): value weighted by the
    * JSON payload's `k` property per event type — Σ(v·w)/Σw from two
    * combinable sums in one scan, the JSON extraction codegen'd
    * per-row.
    */
  def qWeightedAvg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("w"))
      .groupBy(col("event_type"))
      .agg(sum(col("w")).as("sum_w"),
        round(sum(col("value") * col("w")) / sum(col("w").cast("double")), 6)
          .as("weighted_avg"))
      .orderBy(col("event_type"))

  /** Median absolute deviation (ES `median_absolute_deviation`):
    * the robust dispersion measure — median of |v − median| per
    * event type. Genuinely two-pass (the second median depends on
    * the first), expressed as: per-group medians (tiny frame)
    * broadcast back onto the scan, then the deviation median. ES
    * approximates with TDigest; exact interpolated percentiles are
    * the Spark-native form at per-group scale, with the sketch
    * variant (q_sketch_stats) as the 100 TB path.
    */
  def qMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(graft.functions.pctl.of(spark, col("value"), lit(0.5)).as("med"))
    ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("dev"), col("med"))
      .groupBy(col("event_type"))
      .agg(round(min(col("med")), 6).as("median"),
        round(graft.functions.pctl.of(spark, col("dev"), lit(0.5)), 6).as("mad"))
      .orderBy(col("event_type"))
  }

  /** Welch's t-test (ES `t_test` aggregation, `heteroscedastic`):
    * does the 'click' value distribution differ from 'view'? Both
    * groups' moments (n, Σv, Σv²) come out of ONE conditional-sum
    * scan — no per-group pass — and the statistic is closed-form
    * arithmetic on the single moment row, mirrored exactly in the
    * oracle. Sample variance (n−1), like ES.
    */
  def qTTest(spark: SparkSession, sfDir: String): DataFrame = {
    def grp(t: String, suffix: String) = Seq(
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n$suffix"),
      sum(when(col("event_type") === t, col("value")).otherwise(0.0)).as(s"s$suffix"),
      sum(when(col("event_type") === t, col("value") * col("value")).otherwise(0.0))
        .as(s"q$suffix"))
    val aggs = grp("click", "1") ++ grp("view", "2")
    val m = Tables.events(spark, sfDir).agg(aggs.head, aggs.tail: _*)
    def mean(s: String, n: String) = col(s) / col(n)
    def svar(q: String, s: String, n: String) =
      (col(q) - mean(s, n) * mean(s, n) * col(n)) / (col(n) - 1)
    m.select(
        col("n1"), col("n2"),
        round(mean("s1", "n1"), 6).as("mean_click"),
        round(mean("s2", "n2"), 6).as("mean_view"),
        round((mean("s1", "n1") - mean("s2", "n2")) /
          sqrt(svar("q1", "s1", "n1") / col("n1") + svar("q2", "s2", "n2") / col("n2")), 6)
          .as("t_stat"))
  }

  /** Matrix stats (ES `matrix_stats` aggregation): pairwise
    * covariance and correlation across numeric fields (quantity,
    * price, discount), computed from raw co-moments (n, Σx, Σxy) so
    * Spark and the oracle evaluate the same closed formula — one
    * scan, ten map-side-combinable sums, a 3-row unpivoted matrix.
    * The co-moment trick is what makes the agg mergeable (ES ships
    * per-shard moment sketches for exactly this reason).
    */
  def qMatrixStats(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.lineitem(spark, sfDir)
      .select(col("l_quantity").as("q"), col("l_extendedprice").as("e"),
        col("l_discount").as("d"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("e")).as("se"), sum(col("d")).as("sd"),
        sum(col("q") * col("q")).as("sqq"), sum(col("e") * col("e")).as("see"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("q") * col("e")).as("sqe"), sum(col("q") * col("d")).as("sqd"),
        sum(col("e") * col("d")).as("sed"))
    def cov(sab: String, sa: String, sb: String) =
      col(sab) / col("n") - (col(sa) / col("n")) * (col(sb) / col("n"))
    def corr(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      cov(sab, sa, sb) / sqrt(cov(saa, sa, sa) * cov(sbb, sb, sb))
    s.select(
        round(cov("sqe", "sq", "se"), 6).as("cov_qe"),
        round(corr("sqe", "sq", "se", "sqq", "see"), 6).as("corr_qe"),
        round(cov("sqd", "sq", "sd"), 6).as("cov_qd"),
        round(corr("sqd", "sq", "sd", "sqq", "sdd"), 6).as("corr_qd"),
        round(cov("sed", "se", "sd"), 6).as("cov_ed"),
        round(corr("sed", "se", "sd", "see", "sdd"), 6).as("corr_ed"))
      .select(expr("stack(3, " +
        "'price_discount', cov_ed, corr_ed, " +
        "'quantity_discount', cov_qd, corr_qd, " +
        "'quantity_price', cov_qe, corr_qe) AS (pair, covar, corr)"))
      .orderBy(col("pair"))
  }

  /** Terms aggregation ordered by a sub-aggregation metric (ES
    * `terms` with `order: {sum_value: desc}`): top 20 users by total
    * event value. ES documents this as its least-exact agg (per-shard
    * top buckets merge approximately); the Spark plan is EXACT at the
    * same cost shape — partial map-side aggregation, one shuffle on
    * the term, then TakeOrderedAndProject (a per-partition top-k
    * merge on the driver, never a full sort).
    */
  def qTermsByMetric(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("sum_value").desc, col("user_id"))
      .limit(20)

  /** Composite aggregation page (ES `composite` agg with `after`):
    * the next 20 (day, event_type) buckets after a cursor key, in
    * bucket-key order. The keyset predicate composes into the
    * aggregate's output the same way `search_after` composes into a
    * scan: page N costs the same one aggregation as page 1, never an
    * offset-skip — the property that makes paging over millions of
    * buckets viable. (The predicate filters post-aggregation on the
    * grouped keys; the groupBy itself stays map-side combinable.)
    */
  def qCompositeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (afterDay, afterType) = ("2024-01-10", "error")
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .filter(col("day") > lit(afterDay).cast("timestamp") ||
        (col("day") === lit(afterDay).cast("timestamp") && col("event_type") > afterType))
      .orderBy(col("day"), col("event_type"))
      .limit(20)
  }

  /** Date-histogram pipeline aggregations (ES `moving_fn` /
    * `derivative` / `cumulative_sum`): daily order revenue with a
    * 7-day moving average, day-over-day delta, and running total.
    * The window input is the PRE-AGGREGATED daily frame (|days|
    * rows, ~2.4k here), so the one-partition window is a driver-safe
    * post-processing step at any input scale — the scan-side work is
    * one map-side-combinable groupBy. Windows run over the rounded
    * daily revenue so the sequential arithmetic is identical on both
    * sides; the first bucket's delta is 0 (ES omits it).
    */
  def qMovingAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
    val w = daysWindow.orderBy(col("day"))
    daily.select(col("day"), col("n_orders"), col("revenue"),
        round(avg(col("revenue")).over(w.rowsBetween(-6, 0)), 6).as("ma7"),
        round(col("revenue") - coalesce(lag(col("revenue"), 1).over(w), col("revenue")), 2).as("delta"),
        round(sum(col("revenue")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("cum_rev"))
      .orderBy(col("day"))
  }

  /** Bucket selector + bucket sort (ES `bucket_selector` /
    * `bucket_sort` pipeline aggs): daily order buckets are kept only
    * when their revenue exceeds 1.1× the all-days average — a
    * selector whose parameter is a SIBLING-bucket metric, not a
    * constant HAVING — then sorted by revenue and truncated to 10.
    * The daily frame is |days|-sized, so the sibling average is a
    * one-row broadcast back onto it; nothing corpus-sized happens
    * after the first aggregate.
    */
  def qBucketSelector(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("rev"))
    val avgRev = daily.agg(avg(col("rev")).as("avg_rev"))
    daily.crossJoin(broadcast(avgRev))
      .filter(col("rev") > lit(1.1) * col("avg_rev"))
      .select(col("day"), col("n_orders"),
        round(col("rev"), 2).as("revenue"),
        round(col("rev") / col("avg_rev"), 6).as("lift"))
      .orderBy(col("revenue").desc, col("day"))
      .limit(10)
  }

  /** Target bucket count for [[qAutoDateHistogram]]. */
  val AutoHistTarget = 40

  /** Auto-interval date histogram (ES `auto_date_histogram`): the
    * calendar interval is not given but CHOSEN — the smallest unit
    * from the day/week/month/quarter/year ladder whose bucket count
    * stays within the target — from the data's own min/max span. The
    * span probe is a 2-value aggregate broadcast back onto the scan;
    * the histogram itself is the usual map-side-combinable
    * date_trunc groupBy, so the auto variant costs one extra tiny
    * pass over column statistics (at 100 TB the min/max come from
    * parquet footers via the same scan pushdown).
    */
  def qAutoDateHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val t = AutoHistTarget
    val span = orders.agg(
      (datediff(max(col("o_orderdate")), min(col("o_orderdate"))) + 1).as("span"))
    val unit = when(ceil(col("span") / lit(1.0)) <= t, "day")
      .when(ceil(col("span") / lit(7.0)) <= t, "week")
      .when(ceil(col("span") / lit(30.0)) <= t, "month")
      .when(ceil(col("span") / lit(91.0)) <= t, "quarter")
      .otherwise("year")
    val bucket = when(col("unit") === "day", date_trunc("day", col("o_orderdate")))
      .when(col("unit") === "week", date_trunc("week", col("o_orderdate")))
      .when(col("unit") === "month", date_trunc("month", col("o_orderdate")))
      .when(col("unit") === "quarter", date_trunc("quarter", col("o_orderdate")))
      .otherwise(date_trunc("year", col("o_orderdate")))
    orders.crossJoin(broadcast(span.select(unit.as("unit"))))
      .groupBy(col("unit"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("bucket"))
  }

  /** Percentile-rank thresholds for [[qPercentileRanks]]. */
  val RankThresholds: Seq[Double] = Seq(10.0, 50.0, 200.0)

  /** Percentile ranks (ES `percentile_ranks` — the inverse of
    * [[qPercentiles]]): per event type, the percentage of values at
    * or below each fixed threshold — the exact empirical CDF, three
    * conditional counts fused into one map-side-combinable scan
    * (where ES's TDigest answers approximately).
    */
  def qPercentileRanks(spark: SparkSession, sfDir: String): DataFrame = {
    def rank(t: Double) =
      round(lit(100.0) * sum(when(col("value") <= t, 1L).otherwise(0L)) / count(lit(1)), 6)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(rank(RankThresholds(0)).as("r10"),
        rank(RankThresholds(1)).as("r50"),
        rank(RankThresholds(2)).as("r200"))
      .orderBy(col("event_type"))
  }

  /** Named-filters aggregation (ES `filters` agg): three independent
    * named predicates — a value band, an event type, a JSON-payload
    * condition — each with its count and mean, computed as ONE
    * conditional-aggregate scan and unpivoted to (bucket, metrics)
    * rows. The sibling of [[qAdjacencyMatrix]] (which adds the
    * pairwise intersections); neither runs more than one pass.
    */
  def qFiltersAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    def bucket(name: String, cond: org.apache.spark.sql.Column) = struct(
      lit(name).as("bucket"),
      sum(when(cond, 1L).otherwise(0L)).as("n_events"),
      round(avg(when(cond, col("value"))), 6).as("avg_value"))
    ev.agg(bucket("high_value", col("value") > 100).as("b1"),
        bucket("clicks", col("event_type") === "click").as("b2"),
        bucket("big_k", col("k") >= 50).as("b3"))
      .select(explode(array(col("b1"), col("b2"), col("b3"))).as("b"))
      .select(col("b.bucket").as("bucket"), col("b.n_events").as("n_events"),
        col("b.avg_value").as("avg_value"))
      .orderBy(col("bucket"))
  }

  /** Boxplot / five-number summary (ES `boxplot` agg): per return
    * flag — min, q1, median, q3, max and the IQR of l_quantity,
    * linear-interpolated exactly like [[qPercentiles]] (ES reports
    * TDigest approximations; at Spark scale the exact sort-based
    * percentile is affordable per group).
    */
  def qBoxplot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(min(col("l_quantity")), 6).as("min_q"),
        graft.functions.pctl.of(spark, col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75))).as("p"),
        round(max(col("l_quantity")), 6).as("max_q"))
      .select(col("l_returnflag"), col("min_q"),
        round(col("p")(0), 6).as("q1"),
        round(col("p")(1), 6).as("median"),
        round(col("p")(2), 6).as("q3"),
        round(col("p")(2) - col("p")(0), 6).as("iqr"),
        col("max_q"))
      .orderBy(col("l_returnflag"))

  /** Range aggregation (ES `range` agg): contiguous named length
    * bands over documents.n_chars, each with doc count, mean length
    * and distinct-language cardinality. Because the bands are
    * contiguous, the bucket key is a per-row expression and the whole
    * agg is one map-side-combinable groupBy — no conditional-sum
    * unpivot needed (that shape, [[qFiltersAgg]], is reserved for
    * genuinely overlapping predicates). Scales as a single scan with
    * |bands| output rows.
    */
  def qRangeAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket",
        when(col("n_chars") < 200, "short")
          .when(col("n_chars") < 350, "medium")
          .when(col("n_chars") < 500, "long")
          .otherwise("xlong"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        count_distinct(col("lang")).as("n_langs"))
      .orderBy(col("bucket"))

  /** Bucket-script pipeline agg (ES `bucket_script`): per event day,
    * metrics derived from sibling sub-aggregates of the same bucket —
    * click-through rate (clicks/views) and mean value per event. The
    * derived columns are plain projections over the one-scan daily
    * conditional aggregate; nothing is recomputed per script.
    */
  def qBucketScript(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("day"), col("n_clicks"), col("n_views"),
        round(col("n_clicks") / col("n_views"), 6).as("ctr"),
        round(col("sum_value") / col("n_events"), 6).as("value_per_event"))
      .orderBy(col("day"))

  /** Sibling stats over buckets (ES `stats_bucket`): daily order
    * revenue buckets reduced to one row of bucket-level stats. The
    * inner date-histogram partial-aggregates map-side to |days| rows;
    * the outer stats run over that tiny frame — the second "pipeline"
    * pass costs nothing at any scale.
    */
  def qStatsBucket(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("rev"))
      .agg(count(lit(1)).as("n_buckets"),
        round(min(col("rev")), 2).as("min_rev"),
        round(max(col("rev")), 2).as("max_rev"),
        round(avg(col("rev")), 6).as("avg_rev"),
        round(sum(col("rev")), 2).as("sum_rev"))

  /** Sibling percentiles over buckets (ES `percentiles_bucket`):
    * exact interpolated quartiles of the per-day revenue metric. Like
    * [[qStatsBucket]], the inner histogram partial-aggregates to
    * |days| rows and the percentile runs over that tiny frame — the
    * pipeline agg is free at any scale.
    */
  def qPercentilesBucket(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("rev"))
      .agg(count(lit(1)).as("n_buckets"),
        graft.functions.pctl.of(spark, col("rev"), array(lit(0.25), lit(0.5), lit(0.75))).as("p"))
      .select(col("n_buckets"),
        round(col("p")(0), 2).as("p25"),
        round(col("p")(1), 2).as("p50"),
        round(col("p")(2), 2).as("p75"))

  /** Cumulative cardinality (ES `cumulative_cardinality` pipeline
    * agg): distinct users seen up to and including each event day.
    * Computed exactly WITHOUT rescanning the prefix per day: each
    * user contributes only its first-seen day (one groupBy on
    * user_id), daily first-seen counts roll up with a running sum
    * over the |days|-sized frame, and days with no new users still
    * appear via the daily-activity left join. Two narrow aggregates +
    * one tiny window — linear in users, constant in days².
    */
  def qCumulativeCardinality(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(to_date(col("ts")).as("day"), col("user_id"))
    val days = ev.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = daysWindow.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firstSeen, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select(col("day"), col("n_events"), col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  /** Normalize pipeline agg (ES `normalize`, method
    * `percent_of_sum`): each daily bucket's share of the total. The
    * total is a one-row broadcast over the |days|-sized histogram —
    * the second pass is free, the corpus is scanned once.
    */
  def qNormalizeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    daily.crossJoin(broadcast(daily.agg(sum(col("n_events")).as("n_total"))))
      .select(col("day"), col("n_events"),
        round(lit(100.0) * col("n_events") / col("n_total"), 6).as("pct_of_total"))
      .orderBy(col("day"))
  }

  /** Serial differencing (ES `serial_diff`, lag 7): the week-over-week
    * delta of the daily event count — the seasonality-removing
    * sibling of [[qMovingAgg]]'s lag-1 derivative. The lag window
    * runs over the |days|-row histogram, so like every pipeline agg
    * here the second pass is free.
    */
  def qSerialDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val w = daysWindow.orderBy(col("day"))
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("lag7", lag(col("n_events"), 7).over(w))
      .select(col("day"), col("n_events"),
        (col("n_events") - col("lag7")).as("wow_diff"))
      .orderBy(col("day"))
  }

  /** Change-point detection (ES `change_point` agg): find the day
    * where the daily-revenue series' mean shifts most — the split
    * maximizing |mean(before) − mean(after)|, the exact two-sample
    * form of ES's step-change detector. The series is the |days|-row
    * date histogram; candidate splits are evaluated with running
    * sums over that tiny frame (no per-split rescan), so detection
    * costs nothing beyond the one-scan inner histogram at any input
    * size.
    */
  def qChangePoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val totals = daily.agg(
      count(lit(1)).as("n_all"), sum(col("rev")).as("sum_all"))
    val wBefore = daysWindow.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    daily.crossJoin(broadcast(totals))
      .withColumn("n_before", count(lit(1)).over(wBefore))
      .withColumn("sum_before", sum(col("rev")).over(wBefore))
      .filter(col("n_before") >= 1)
      // means round to CENTS, not 1e-6: near the series tail the
      // after-sum is a cancellation of two ~1e9 running sums, whose
      // engine-dependent accumulation order leaves ~5e-7 noise —
      // above the 1e-6 grid, far below the 0.01 one. delta then
      // derives from identical rounded inputs on both engines.
      .withColumn("mean_before", round(col("sum_before") / col("n_before"), 2))
      .withColumn("mean_after", round(
        (col("sum_all") - col("sum_before")) / (col("n_all") - col("n_before")), 2))
      .withColumn("delta", abs(col("mean_after") - col("mean_before")))
      .orderBy(col("delta").desc, col("day"))
      .limit(1)
      .select(col("day").as("change_day"), col("mean_before"), col("mean_after"),
        round(col("delta"), 2).as("delta"))
  }

  /** Has-parent query (ES `has_parent`, the reverse of [[qNestedMatch]]'s
    * child-condition direction): return CHILD documents whose parent
    * matches — orders belonging to BUILDING-segment customers,
    * counted per priority. The parent side shrinks at its scan
    * (segment filter pushed down) and broadcasts into the child scan
    * as a semi-join; the only shuffle is the final tiny aggregate.
    */
  def qHasParent(spark: SparkSession, sfDir: String): DataFrame = {
    val parents = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables.orders(spark, sfDir)
      .join(broadcast(parents), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** `has_child` (ES join-field, the inverse of [[qHasParent]]):
    * parents with at least one child matching — customers with any
    * urgent order over 200k, reported per market segment with the
    * matched-parent count and their child-order total. The child side
    * shrinks at its scan (both predicates pushed down) and
    * pre-aggregates to one row per parent key BEFORE the join, so the
    * join input is |matching parents|, not |matching orders|.
    */
  def qHasChild(spark: SparkSession, sfDir: String): DataFrame = {
    val kids = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_child"), sum(col("o_totalprice")).as("child_price"))
    Tables.customer(spark, sfDir)
      .join(kids, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_child")).as("n_orders"),
        round(sum(col("child_price")), 2).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Nested-object query (ES `nested` query + `inner_hits`): parents
    * whose SAME child satisfies every branch of the inner bool —
    * customers with at least one order that is both high-value AND
    * urgent. The semantic point of `nested` vs a flattened mapping:
    * both predicates must hold on one child row, not one-each across
    * different children. Planned as filter-then-aggregate on the
    * child side (orders shrinks before it moves) and a join to the
    * parent; the child agg is the only shuffle and carries just
    * (custkey, count, max).
    */
  def qNestedMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val innerHits = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 250000 && col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_inner_hits"),
        round(max(col("o_totalprice")), 2).as("best_price"))
    Tables.customer(spark, sfDir)
      .join(innerHits, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_inner_hits"), col("best_price"))
      .orderBy(col("c_custkey"))
  }

  /** Star-join revenue rollup (TPC-H Q5 shape — the OLAP star query
    * every host engine next to a vector store runs): lineitem fact ×
    * part/supplier/nation/region dimension chain, PROMO-part slice,
    * revenue per (region, nation). Every dimension broadcasts — the
    * fact table never shuffles before the final combinable aggregate,
    * and the part-type filter pushes into the dimension scan so the
    * fact join is against the pre-filtered broadcast. The 100 TB
    * shape: one fact scan, four broadcast hash joins, one tiny
    * aggregate.
    */
  def qStarJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  /** Event-sequence matching (ES EQL `sequence by user_id with
    * maxspan=7d [view] [click] [purchase]` — the SIEM/funnel query
    * class): per user, count the ordered (view < click < purchase)
    * event triples whose whole span fits in 7 days, with the earliest
    * sequence start.
    *
    * Plan shape: three filtered projections of one events scan,
    * equi-joined on `user_id` (shuffle-hash on the sequence key —
    * exactly how a distributed EQL engine shards), with the temporal
    * predicates as post-join filters. The maxspan bound is ALSO
    * applied to the first (view, click) join, so the intermediate
    * pair frame is span-bounded rather than all-history — at 100 TB
    * the per-user block product is what explodes; the redundant bound
    * is the standard guard.
    */
  def qEqlSequence(spark: SparkSession, sfDir: String): DataFrame = {
    // (a Fanout.rebalance(ev, user_id) was tried and REVERTED: the
    // stage joins resolve to BROADCAST at bench scale, so the three
    // repartitions were pure added exchanges — measured 0.75 → 0.98 s;
    // the single-task join work here is under the ~0.3 s line where a
    // repair exchange pays for itself)
    val ev = Tables.events(spark, sfDir)
    def stage(t: String, a: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("ts").as(a))
    val span = expr("INTERVAL 7 DAYS")
    stage("view", "ts_v")
      .join(stage("click", "ts_c"), Seq("user_id"))
      .filter(col("ts_c") > col("ts_v") && col("ts_c") < col("ts_v") + span)
      .join(stage("purchase", "ts_p"), Seq("user_id"))
      .filter(col("ts_p") > col("ts_c") && col("ts_p") <= col("ts_v") + span)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sequences"), min(col("ts_v")).as("first_start"))
      .orderBy(col("user_id"))
  }

  /** Variable-width histogram (ES `variable_width_histogram`):
    * buckets whose bounds come from the DATA, not a fixed interval —
    * the data-driven sibling of `q_histogram_numeric` the way
    * `q_auto_date_histogram` is of `q_date_histogram`. ES clusters
    * values with an online sketch (approximate, order-dependent); the
    * deterministic variant here is single-linkage on the value axis:
    * sort the per-day revenue metric, start a new bucket wherever the
    * gap to the previous value exceeds 2× the mean spacing
    * (max−min)/n. Per bucket: size, bounds, centroid.
    *
    * Scale shape: the clustered frame is the PRE-AGGREGATED daily
    * histogram (|days| rows — one combinable shuffle at any corpus
    * size), so the sort window and the running bucket-id sum run over
    * a tiny frame; this "cluster the aggregate, not the corpus" split
    * is the only shape where a global sorted window survives 100 TB.
    */
  def qVarWidthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val thr = daily.agg(
      (lit(2.0) * (max(col("rev")) - min(col("rev"))) / count(lit(1))).as("thr"))
    val w = daysWindow.orderBy(col("rev"), col("day"))
    daily.crossJoin(broadcast(thr))
      .withColumn("gap", col("rev") - lag(col("rev"), 1).over(w))
      .withColumn("bucket_id",
        sum(when(col("gap").isNull || col("gap") <= col("thr"), 0L).otherwise(1L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("bucket_id"))
      .agg(count(lit(1)).as("n_days"),
        round(min(col("rev")), 2).as("min_rev"),
        round(max(col("rev")), 2).as("max_rev"),
        round(avg(col("rev")), 6).as("centroid"))
      .orderBy(col("bucket_id"))
  }

  /** ES `missing` + `value_count` aggregations: per language, how
    * many docs LACK an optional field entirely vs carry a value, and
    * the mean over the present values. The field here is genuinely
    * optional — the first integer literal in the text (absent for
    * digit-free docs) — because the synthetic tables carry no null
    * columns; the null arrives exactly where ES's would, at field
    * extraction. One combinable groupBy over per-row expressions;
    * conditional counts, no second scan for the missing bucket.
    */
  def qMissingAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        nullif(regexp_extract(col("text"), "[0-9]+", 0), lit(""))
          .cast("long").as("v"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - count(col("v"))).as("n_missing"),
        count(col("v")).as("n_values"),
        round(avg(col("v")), 6).as("avg_value"))
      .orderBy(col("lang"))

  /** ES `reverse_nested` aggregation: bucket by a CHILD field (order
    * priority), then jump back to the PARENT document for the
    * bucket's metrics — distinct customers and their mean account
    * balance, where each parent counts once per bucket no matter how
    * many of its children landed there (the whole point of
    * reverse_nested vs aggregating the join directly). The per-bucket
    * parent set is deduped with a combinable (priority, custkey)
    * distinct BEFORE the parent join, so the join input is |distinct
    * pairs|, not |orders|; the child-side count rides a separate
    * tiny aggregate joined back at |buckets| rows.
    */
  def qReverseNested(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val childCounts = orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    val parents = orders.select(col("o_orderpriority"), col("o_custkey")).distinct()
      .join(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("c_acctbal")), 6).as("avg_acctbal"))
    parents.join(childCounts, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_orders"),
        col("n_customers"), col("avg_acctbal"))
      .orderBy(col("o_orderpriority"))
  }

  /** ES `moving_percentiles` pipeline agg: for every day, the exact
    * p50/p95 of event values over the trailing 7 calendar days — the
    * sliding percentile ES computes by merging the window's TDigest
    * sketches, here exact (linear-interpolation percentile, the same
    * definition as DuckDB's quantile_cont).
    *
    * Scale shape: each event explodes into the ≤7 trailing-window
    * days it contributes to — the same bounded expansion as the
    * sliding event windows (q_events_sliding) — then one equi-groupBy
    * per day; compare-cost is 7 generated rows per event regardless
    * of how many distinct days exist (a banded broadcast-join
    * formulation would compare every event against every day). A
    * final |days|-row semi-join drops generated days with no events
    * of their own. Percentile state is per-day and combinable; no
    * global window over raw events anywhere, and no
    * BroadcastNestedLoopJoin in the plan (pinned in PlanSpec).
    */
  def qMovingPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("eday"), col("value"))
    val days = ev.select(col("eday").as("day")).distinct()
    ev.select(explode(sequence(col("eday"), date_add(col("eday"), 6))).as("day"),
        col("value"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        round(graft.functions.pctl.of(spark, col("value"), lit(0.5)), 6).as("p50"),
        round(graft.functions.pctl.of(spark, col("value"), lit(0.95)), 6).as("p95"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .orderBy(col("day"))
  }

  /** ES `scripted_metric` agg, re-expressed as combinable expressions
    * (the Spark-first answer to "arbitrary map/combine/reduce
    * scripts"): the numerically-stable log-sum-exp of event values
    * per event type — the softmax normalizing constant a sampling
    * pipeline needs (cf. q_temperature_sample), computed as
    * mx + ln(Σ exp(v − mx)) so large values can't overflow the sum.
    * Two combinable passes (max, then shifted exp-sum with the
    * per-group max broadcast back); both shuffles carry |types| rows.
    * A custom Aggregator could fuse the passes, but would leave
    * whole-stage codegen for zero shuffle savings.
    */
  def qLogSumExp(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val mx = ev.groupBy(col("event_type")).agg(max(col("value")).as("mx"))
    ev.join(broadcast(mx), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(first(col("mx")) + log(sum(exp(col("value") - col("mx")))), 6)
          .as("logsumexp"))
      .orderBy(col("event_type"))
  }
}
