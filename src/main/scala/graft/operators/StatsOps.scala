package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Statistical integrity audits over large tables — the distributional
  * checks a pipeline runs beside the structural gates (q40 constraints,
  * q37 profile): digit-law conformance, concentration/skew, and
  * time-series anomaly flags. Reference scope: the reference exposes raw
  * per-record callbacks (`/root/reference/src/Kinesis/Kinesis.hs:42-176`)
  * and leaves statistics to the consumer; these are the consumer-side
  * audits re-expressed as engine operators.
  *
  * All three are ONE-scan shapes: a conditional/grouped aggregation whose
  * post-processing runs on metadata-scale frames (9 digits, |users| totals,
  * |types × days| cells) — nothing here re-shuffles the fact table twice.
  */
object StatsOps {

  /** q59 — Benford first-digit conformance (Newcomb 1881, Benford 1938):
    * the observed first-significant-digit distribution of a positive
    * numeric column against log10(1 + 1/d), with per-digit chi-square
    * terms. The canonical cheap fraud/synthetic-data detector: organic
    * multiplicative quantities (prices, populations) follow the law;
    * fabricated or truncated ones pile up on low or repeated digits. Σ of
    * `chi2_term` against the chi-square(8) critical value is the gate.
    *
    * First digit via explicit floor + string head — NOT
    * floor(x/10^floor(log10 x)), whose log10 sits a ulp below an integer
    * at exact powers of ten and flips the digit per engine; and NOT a
    * bare CAST to integer, which truncates in Spark but ROUNDS in DuckDB
    * (8999.7 → 8999 vs 9000 — a digit flip at every .5 boundary). Values
    * < 1 are excluded (their leading digit needs the log path;
    * prices/counts don't need it).
    *
    * Plan: one conditional scan → 9-row frame; the digit frame is joined
    * so digits with zero observations still emit their expected share
    * (the q43/q52 fixed-frame posture). */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val obs = df.filter(col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val frame = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val w = Window.orderBy(col("digit")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    frame.join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("_tot", sum(col("n")).over(w))
      .withColumn("_pexp", log(10.0, lit(1.0) + lit(1.0) / col("digit")))
      .withColumn("_e", col("_tot") * col("_pexp"))
      .select(col("digit"), col("n"),
        round(col("n") / col("_tot") + lit(1e-9), 4).as("p_obs"),
        round(col("_pexp") + lit(1e-9), 4).as("p_benford"),
        round(pow(col("n") - col("_e"), 2) / col("_e") + lit(1e-9), 4)
          .as("chi2_term"))
      .orderBy("digit")
  }

  /** q59 registry entry: order totals — an organically multiplicative
    * price column, the textbook Benford subject. */
  def ordersBenford(orders: DataFrame): DataFrame =
    benfordDigits(orders, "o_totalprice")

  val q59BenfordSql: String =
    """WITH o AS (
      |  SELECT CAST(substring(
      |      CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |      1, 1) AS INT) AS digit, count(*) AS n
      |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      |f AS (SELECT f.digit, coalesce(o.n, 0) AS n
      |  FROM (SELECT unnest(generate_series(1, 9)) AS digit) f
      |  LEFT JOIN o ON f.digit = o.digit),
      |t AS (SELECT sum(n) AS tot FROM f)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  round(n / tot + 1e-9, 4) AS p_obs,
      |  round(log10(1.0 + 1.0 / digit) + 1e-9, 4) AS p_benford,
      |  round(pow(n - tot * log10(1.0 + 1.0 / digit), 2)
      |    / (tot * log10(1.0 + 1.0 / digit)) + 1e-9, 4) AS chi2_term
      |FROM f, t ORDER BY digit""".stripMargin

  /** q60 — Gini concentration of activity over a key: cohorts the fact
    * table into per-key totals and computes the Gini coefficient by the
    * rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending totals
    * (Lerman & Yitzhaki 1984's covariance form, specialized to ranks).
    * The source-domination audit of a training mix: G→0 means uniform
    * contribution, G→1 means a handful of users/domains own the corpus —
    * the number a mixture rebalance (q34) is trying to push down.
    *
    * Scale shape: one fact shuffle to per-key totals; the rank over
    * |keys| rows uses the q35 distributed order-stats machinery (range
    * partition + linear local pass + broadcast offset patch), NEVER an
    * Exchange SinglePartition — at 10⁹ keys the rank stays parallel. The
    * rank×total products then collapse to one row. Ties on the total
    * break by key id, so ranks — and therefore G to the last ulp — are
    * deterministic across engines. */
  def giniByKey(df: DataFrame, keyCol: String): DataFrame = {
    val totals = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    // rank×count products are summed as DOUBLE, not LONG: at the 10⁹-key
    // scale the Long sum can silently wrap (ANSI off) while DuckDB's
    // HUGEINT does not — a cross-engine divergence exactly where this op
    // claims correctness. Double is exact to 2⁵³ and beyond that the
    // relative error (~1e-16) vanishes under the 4-dp round.
    GlobalWindows.withGlobalOrderStats(totals,
        Seq(("n_rows", true), (keyCol, true)), stats = Set("row_number"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_rows")).as("total_rows"),
        sum(col("gw_row_number").cast("double") * col("n_rows")).as("_s"))
      .select(col("n_keys"), col("total_rows"),
        round(lit(2.0) * col("_s")
            / (col("n_keys").cast("double") * col("total_rows"))
          - (col("n_keys") + lit(1.0)) / col("n_keys") + lit(1e-9), 4)
          .as("gini"))
  }

  /** q60 registry entry: per-user event concentration. */
  def eventsGini(events: DataFrame): DataFrame = giniByKey(events, "user_id")

  val q60GiniSql: String =
    """WITH a AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
      |r AS (SELECT n_rows,
      |    row_number() OVER (ORDER BY n_rows, user_id) AS rn FROM a)
      |SELECT count(*) AS n_keys,
      |  CAST(sum(n_rows) AS BIGINT) AS total_rows,
      |  round(2.0 * sum(rn * n_rows)
      |      / (count(*) * CAST(sum(n_rows) AS DOUBLE))
      |    - (count(*) + 1.0) / count(*) + 1e-9, 4) AS gini
      |FROM r""".stripMargin

  /** q62 — trailing-window volume anomalies: per (event_type, day) counts
    * z-scored against the mean/stddev of the strictly-preceding 7
    * observations (ROWS frame — yesterday leaks nothing of today). The
    * ops-side drift gate: a traffic cliff or a duplicate-ingest spike
    * shows up as |z| ≥ 3 the day it happens, per stream, without
    * thresholds tuned per type. Rows without a full 7-day history (or
    * with a degenerate zero-variance history) are not scored.
    *
    * Scale shape: the fact table collapses map-side into |types × days|
    * cells — the only exchange the raw events pay; the trailing window
    * partitions by type over that metadata-scale frame. At 100 TB the
    * cells frame for a year of 1000 event types is 365 k rows. */
  def volumeAnomalies(events: DataFrame, lookback: Int = 7,
      zThreshold: Double = 3.0): DataFrame =
    scoreDailyCounts(
      events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")),
      lookback, zThreshold)

  /** The z-scoring half of [[volumeAnomalies]], split out so the
    * streaming twin scores its watermark-finalized daily-count store
    * with the IDENTICAL window arithmetic (the psiFromCounts
    * architecture: the stream owns exact counts, the shared batch
    * assembly owns the math — batch≡stream by construction, not by
    * re-implementation). `daily` must carry (event_type, day, n). */
  def scoreDailyCounts(daily: DataFrame, lookback: Int = 7,
      zThreshold: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-lookback, -1)
    daily
      .withColumn("_nh", count(col("n")).over(w))
      .withColumn("_m", avg(col("n")).over(w))
      .withColumn("_sd", stddev_samp(col("n")).over(w))
      .filter(col("_nh") === lookback && col("_sd") > 0)
      .withColumn("_z", (col("n") - col("_m")) / col("_sd"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("_m") + lit(1e-9), 4).as("mean7"),
        round(col("_z") + lit(1e-9), 4).as("z"),
        (abs(col("_z")) >= zThreshold).cast("int").as("anomaly"))
      .orderBy("event_type", "day")
  }

  val q62AnomalySql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, n,
      |    count(n) OVER tw AS nh, avg(n) OVER tw AS m,
      |    stddev_samp(n) OVER tw AS sd
      |  FROM d WINDOW tw AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, CAST(n AS BIGINT) AS n,
      |  round(m + 1e-9, 4) AS mean7,
      |  round((n - m) / sd + 1e-9, 4) AS z,
      |  CAST(abs((n - m) / sd) >= 3.0 AS INT) AS anomaly
      |FROM w WHERE nh = 7 AND sd > 0
      |ORDER BY event_type, day""".stripMargin

  type QFn = (SparkSession, String) => DataFrame

  /** q80 — join/partition-key skew audit: the table you read BEFORE
    * choosing a shuffle strategy on a key (salt? AQE skew-join? broadcast
    * the other side?). Per candidate key: the top-N heaviest values with
    * their row share, plus two whole-distribution skew scalars repeated
    * on every row — max-over-average (how much heavier the hottest
    * partition would run than the mean; > ~5 says salt or skew-join) and
    * p99/p50 of per-key counts (is the tail systemic or one hot key).
    *
    * Scale shape: ONE fact shuffle to the per-key count table; everything
    * after runs on |keys| rows. The scalars ride in-plan as a broadcast
    * (the q17 pattern); the top-N is TakeOrderedAndProject (per-partition
    * heaps). Exact `percentile` over the count table pins the DuckDB
    * oracle (quantile_cont — same interpolation law); at 10⁹ distinct
    * keys swap `percentile_approx`, the q44 knob. */
  def keySkewAudit(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      sum(col("cnt")).cast("double").as("_total"),
      count(lit(1)).as("_n_keys"),
      max(col("cnt")).as("_max_cnt"),
      expr("percentile(cnt, 0.5)").as("_p50"),
      expr("percentile(cnt, 0.99)").as("_p99"))
    val top = counts
      .orderBy(col("cnt").desc, col(keyCol)).limit(topN)
    top.crossJoin(broadcast(stats))
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col(keyCol))).as("rank"),
        col(keyCol), col("cnt"),
        round(col("cnt") / col("_total") + lit(1e-9), 4).as("share"),
        round(col("_max_cnt") * col("_n_keys") / col("_total") + lit(1e-9), 4)
          .as("max_over_avg"),
        round(col("_p99") / col("_p50") + lit(1e-9), 4).as("p99_over_p50"))
      .orderBy("rank")
  }

  val q80SkewSql: String =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
      |  WHERE user_id IS NOT NULL GROUP BY 1),
      |st AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total, count(*) AS n_keys,
      |    max(cnt) AS max_cnt, quantile_cont(cnt, 0.5) AS p50,
      |    quantile_cont(cnt, 0.99) AS p99 FROM c),
      |t AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS INT)
      |    AS rank,
      |  user_id, CAST(cnt AS BIGINT) AS cnt,
      |  round(cnt / st.total + 1e-9, 4) AS share,
      |  round(max_cnt * n_keys / st.total + 1e-9, 4) AS max_over_avg,
      |  round(p99 / p50 + 1e-9, 4) AS p99_over_p50
      |FROM t, st ORDER BY rank""".stripMargin

  /** q83 — join-cardinality pre-flight: the exact output size and skew
    * profile of an equi-join, computed WITHOUT running the join — the
    * other half of the q80 decision table (q80 profiles one side's key
    * distribution; this predicts what the join of two sides produces).
    * |A ⋈ B| = Σ_k cntA(k)·cntB(k) over the per-key count tables, with
    * the hottest key's contribution and an output-to-input amplification
    * ratio: join_rows ≫ inputs means a fan-out join (plan for the
    * output's shuffle, or pre-aggregate); max_key_contrib ≈ join_rows
    * means one key produces the join (salt exactly that key).
    *
    * Scale shape: one count-table shuffle per side (the fact tables
    * collapse map-side), then a |keys|-row join; side totals ride
    * in-plan as broadcast scalars. ONE summary row out — nothing about
    * the would-be join output is ever materialized. */
  def joinCardinality(a: DataFrame, b: DataFrame, keyA: String,
      keyB: String): DataFrame = {
    val ca = a.filter(col(keyA).isNotNull)
      .groupBy(col(keyA).as("k")).agg(count(lit(1)).as("ca"))
    val cb = b.filter(col(keyB).isNotNull)
      .groupBy(col(keyB).as("k")).agg(count(lit(1)).as("cb"))
    val sa = broadcast(ca.agg(sum(col("ca")).as("n_a"),
      count(lit(1)).as("keys_a")))
    val sb = broadcast(cb.agg(sum(col("cb")).as("n_b"),
      count(lit(1)).as("keys_b")))
    ca.join(cb, "k")
      .agg(count(lit(1)).as("keys_common"),
        sum(col("ca") * col("cb")).as("join_rows"),
        max(col("ca") * col("cb")).as("max_key_contrib"))
      .crossJoin(sa).crossJoin(sb)
      .select(col("n_a"), col("keys_a"), col("n_b"), col("keys_b"),
        col("keys_common"), col("join_rows"), col("max_key_contrib"),
        round(col("join_rows") / (col("n_a") + col("n_b")) + lit(1e-9), 4)
          .as("amplification"))
  }

  val q83JoinCardSql: String =
    """WITH ca AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders
      |  WHERE o_orderkey IS NOT NULL GROUP BY 1),
      |cb AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem
      |  WHERE l_orderkey IS NOT NULL GROUP BY 1),
      |sa AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
      |    CAST(count(*) AS BIGINT) AS keys_a FROM ca),
      |sb AS (SELECT CAST(sum(cb) AS BIGINT) AS n_b,
      |    CAST(count(*) AS BIGINT) AS keys_b FROM cb),
      |j AS (SELECT CAST(count(*) AS BIGINT) AS keys_common,
      |    CAST(sum(ca * cb) AS BIGINT) AS join_rows,
      |    CAST(max(ca * cb) AS BIGINT) AS max_key_contrib
      |  FROM ca JOIN cb USING (k))
      |SELECT n_a, keys_a, n_b, keys_b, keys_common, join_rows,
      |  max_key_contrib,
      |  round(join_rows / (n_a + n_b) + 1e-9, 4) AS amplification
      |FROM j, sa, sb""".stripMargin

  /** q84 — per-group ordinary-least-squares fit (slope, intercept, R²,
    * n) of y on x via the SQL:2023 `regr_*` aggregates — the trend
    * detector behind "is this metric drifting with time/load" questions,
    * at whatever group granularity the caller passes. Spark and DuckDB
    * implement the same textbook sum formulas, so the oracle pins the
    * rounded coefficients directly.
    *
    * Scale shape: ONE hash aggregate over one scan — the regression
    * state is five running sums per group, exactly as cheap as a
    * count/avg rollup at any scale. Rounded +1e-9 (the q25 epsilon
    * idiom): partial-aggregation order can move the sums by an ulp. */
  def linearFit(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame =
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(
        round(regr_slope(col(yCol), col(xCol)) + lit(1e-9), 4).as("slope"),
        round(regr_intercept(col(yCol), col(xCol)) + lit(1e-9), 4)
          .as("intercept"),
        round(regr_r2(col(yCol), col(xCol)) + lit(1e-9), 4).as("r2"),
        regr_count(col(yCol), col(xCol)).as("n"))
      .orderBy(groupCol)

  /** q84 registry fixture: per event type, value regressed on hour of
    * day (does the metric trend across the day?). */
  def eventsLinearFit(events: DataFrame): DataFrame =
    linearFit(
      events.withColumn("hour", hour(col("ts")).cast("double")),
      "event_type", "hour", "value")

  val q84LinearFitSql: String =
    """SELECT event_type,
      |  round(regr_slope(value, hour) + 1e-9, 4) AS slope,
      |  round(regr_intercept(value, hour) + 1e-9, 4) AS intercept,
      |  round(regr_r2(value, hour) + 1e-9, 4) AS r2,
      |  CAST(regr_count(value, hour) AS BIGINT) AS n
      |FROM (SELECT event_type, CAST(hour(ts) AS DOUBLE) AS hour, value
      |  FROM events)
      |WHERE hour IS NOT NULL AND value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q106 — stream-disorder audit: how out-of-order the stream's event
    * time is relative to its ARRIVAL order (event_id), the number every
    * watermark / allowed-lateness knob should be calibrated from rather
    * than guessed. An event is "late" when some earlier-arriving event
    * already carried a later event time; its lateness is the gap to the
    * running event-time high-water mark. Per event_type: late share,
    * mean lateness over late events, and the max — `withWatermark`
    * delay below the observed tail silently drops those events.
    *
    * Scale shape: the global running max over arrival order CANNOT be a
    * single-partition window (the q35 anti-pattern). It distributes as
    * two phases: slice the arrival axis into `buckets` DETERMINISTIC
    * event_id-range buckets (bounds ride in-plan as a broadcast scalar —
    * value-derived, NOT spark_partition_id over a sampled range
    * exchange, whose independently-sampled boundaries disagree between
    * the two consumers and produced false lateness in this operator's
    * first capture), per-bucket running max via an ordinary
    * partition-local window, then a ≤ `buckets`-row prefix-max table
    * broadcasts back and `greatest` patches local into global — max is
    * associative, so GlobalWindows' offset-patch trick applies verbatim.
    * Skewed event_id ranges skew the buckets (acceptable for an audit;
    * the sum/rank family's RunningStats operator handles the general
    * case).
    *
    * On the fixture stream event time is monotone in arrival order, so
    * every late count is 0 — which is itself the assertion (the q43
    * ≈-0-drift posture): a nonzero here means reordering. The disorder
    * math is exercised on genuinely shuffled data in Round12bOpsSpec. */
  def disorderAudit(events: DataFrame, buckets: Int = 32): DataFrame = {
    val raw = events
      .filter(col("ts").isNotNull && col("event_id").isNotNull)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("_us"))
    val bounds = raw.agg(min(col("event_id")).as("_lo"),
      max(col("event_id")).as("_hi"))
    // divide-before-multiply: (event_id - lo) * buckets overflows Long
    // once the id span passes ~2^58 (sparse/snowflake-style ids), and a
    // wrapped negative bucket would silently break the bucket-order
    // prefix-max patch. Per-bucket width = span/buckets + 1 keeps every
    // intermediate within the span itself; floor(span/width) < buckets
    // by construction (the least() is belt-and-braces).
    val base = raw.crossJoin(broadcast(bounds))
      .withColumn("_w", expr(s"(_hi - _lo) DIV ${buckets}L + 1L"))
      .withColumn("_bkt", least(lit(buckets - 1),
        expr("(event_id - _lo) DIV _w").cast("int")))
      .drop("_w")
    val wLocal = Window.partitionBy(col("_bkt")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn("_lmax", max(col("_us")).over(wLocal))
    val wPrefix = Window.orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ `buckets` rows — the one legitimately tiny global window
    val prefix = base.groupBy(col("_bkt")).agg(max(col("_us")).as("_bmax"))
      .withColumn("_prevmax", max(col("_bmax")).over(wPrefix))
      .select(col("_bkt"), col("_prevmax"))
    local.join(broadcast(prefix), "_bkt")
      .withColumn("_gmax", greatest(col("_lmax"), col("_prevmax")))
      .withColumn("_late_us",
        when(col("_gmax") > col("_us"), col("_gmax") - col("_us"))
          .otherwise(lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("_late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        round(sum(when(col("_late_us") > 0, 1L).otherwise(0L))
          / count(lit(1)) + lit(1e-9), 4).as("late_share"),
        round(avg(when(col("_late_us") > 0, col("_late_us")) / 1e6)
          + lit(1e-9), 2).as("avg_late_s"),
        round(max(col("_late_us")) / lit(1e6) + lit(1e-9), 2)
          .as("max_late_s"))
      .orderBy("event_type")
  }
  val q106DisorderSql: String =
    """WITH b AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS us,
      |    max(epoch_us(ts)) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gmax
      |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
      |l AS (SELECT event_type,
      |    CASE WHEN gmax > us THEN gmax - us ELSE 0 END AS late_us
      |  FROM b)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
      |    / count(*) + 1e-9, 4) AS late_share,
      |  round(avg(CASE WHEN late_us > 0 THEN late_us END) / 1e6
      |    + 1e-9, 2) AS avg_late_s,
      |  round(max(late_us) / 1e6 + 1e-9, 2) AS max_late_s
      |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q59_benford",
      (s: SparkSession, d: String) => ordersBenford(Tables.orders(s, d)),
      Some(q59BenfordSql)),
    ("q60_gini",
      (s: SparkSession, d: String) => eventsGini(Tables.events(s, d)),
      Some(q60GiniSql)),
    ("q62_volume_anomaly",
      (s: SparkSession, d: String) => volumeAnomalies(Tables.events(s, d)),
      Some(q62AnomalySql)),
    ("q80_key_skew",
      (s: SparkSession, d: String) =>
        keySkewAudit(Tables.events(s, d), "user_id"),
      Some(q80SkewSql)),
    ("q83_join_cardinality",
      (s: SparkSession, d: String) =>
        joinCardinality(Tables.orders(s, d), Tables.lineitem(s, d),
          "o_orderkey", "l_orderkey"),
      Some(q83JoinCardSql)),
    ("q84_linear_fit",
      (s: SparkSession, d: String) => eventsLinearFit(Tables.events(s, d)),
      Some(q84LinearFitSql)),
    ("q106_disorder_audit",
      (s: SparkSession, d: String) => disorderAudit(Tables.events(s, d)),
      Some(q106DisorderSql)))
}
