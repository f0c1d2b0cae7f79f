package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Column profiling — SURVEY.md §2b Q37: per-column row count, null count,
  * exact distinct count, min/max/mean — the first pass a pipeline runs
  * over any new table (schema sanity, null-rate regression gates,
  * join-key cardinality estimates).
  *
  * Plan shape: ONE scan of the table, a `stack` unpivot into narrow
  * (column, value) pairs, then a single grouped aggregation with ONE
  * distinct aggregate. With exactly one distinct column Spark plans the
  * NDV WITHOUT the Expand it needs for per-column distincts (the N-wide
  * form multiplies every row N+1 times through a wide-keyed hash
  * aggregate — measured 2.4× slower at sf0.1): the map side dedupes
  * (column, value) pairs while folding the plain stats, so only the
  * distinct pair set shuffles — low-cardinality columns collapse to
  * almost nothing. Swap `countDistinct` for `approx_count_distinct` when
  * an estimate suffices (the q18 pattern) and the pair dedup disappears
  * entirely. */
object ProfileOps {

  /** Profile `cols` (numeric, cast to double) of `df`: one row per column
    * with (n, nulls, ndv, min, max, mean), rounded for cross-engine
    * equality. */
  // caller-supplied column names get spliced into expression text —
  // quote the label and backquote the reference so a name with spaces,
  // quotes, or dots can't break parsing or resolve to the wrong column
  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
  private def sqlId(s: String): String =
    "`" + s.replace("`", "``") + "`"

  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // one narrow global aggregate PER column, unioned — not a stack
    // unpivot into one grouped distinct aggregate: the unpivot pushes
    // k× the scan rows through a (column, value) distinct shuffle,
    // while each branch here scans exactly its own column (columnar
    // pruning) with single-column distinct state, and the branches run
    // concurrently (the q88 narrow-state lesson; each branch's scan is
    // the cheap side)
    cols.map { c =>
      val v = col(c).cast("double")
      df.select(v.as("value"))
        .agg(count(lit(1)).as("n"),
          (count(lit(1)) - count(col("value"))).as("nulls"),
          countDistinct(col("value")).as("ndv"),
          round(min(col("value")), 4).as("min"),
          round(max(col("value")), 4).as("max"),
          round(avg(col("value")), 4).as("mean"))
        .select(lit(c).as("column"), col("n"), col("nulls"), col("ndv"),
          col("min"), col("max"), col("mean"))
    }.reduce(_.unionByName(_)).orderBy("column")
  }

  /** Distribution drift between two snapshots of the same column —
    * Population Stability Index over fixed-width buckets (the standard
    * pre-train drift gate; PSI > 0.2 is the conventional "investigate"
    * line, credit-scoring canon). Fixed edges, not quantiles, keep the
    * bucketing deterministic and engine-independent; counts are
    * Laplace-smoothed so empty buckets contribute finitely.
    *
    * Plan shape: `ref` and `cur` are usually two filters of one scan
    * (conditional counts below keep it ONE pass); k buckets aggregate to
    * a k-row frame, shares and contributions are metadata-scale windows
    * over those k rows. */
  def psiDrift(df: DataFrame, valueCol: String, refPred: Column,
      curPred: Column, lo: Double, hi: Double, k: Int): DataFrame = {
    require(k > 0 && hi > lo, "psiDrift needs a positive bucket count and range")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(when(refPred, 1)).as("n_ref"),
        count(when(curPred, 1)).as("n_cur"))
    psiFromCounts(counts, k)
  }

  /** The fixed-width PSI bucket id for a value — shared by the batch
    * drift queries, the persisted reference profile, and the streaming
    * running-count twin, so all three bucket IDENTICALLY by construction.
    * Values outside [lo, hi) clamp into the edge buckets. */
  def psiBucket(value: Column, lo: Double, hi: Double, k: Int): Column = {
    val width = (hi - lo) / k
    least(greatest(floor((value - lo) / width), lit(0)), lit(k - 1))
      .cast("int")
  }

  /** The k-row PSI assembly over a (bucket, n_ref, n_cur) count frame —
    * the metadata-scale half every PSI form shares. Public because it is
    * the join point for the STREAMING monitor: feed it the latest
    * [[graft.streaming.StreamQueries.psiCountsStream]] emission per
    * bucket joined to a stored reference profile and it yields the same
    * k rows the batch queries produce (StreamingSpec asserts equality). */
  def psiFromCounts(counts: DataFrame, k: Int): DataFrame =
    smoothedCounts(counts, k)
      .withColumn("psi_term", psiTerm)
      .select(col("bucket"), col("n_ref"), col("n_cur"), col("psi_term"))
      .orderBy("bucket")

  /** The smoothing half shared by every PSI/JSD assembly: the k-row
    * bucket frame with (+0.5)-smoothed `p_ref`/`p_cur` shares. */
  private def smoothedCounts(counts: DataFrame, k: Int): DataFrame = {
    // right-join against the full 0..k-1 bucket frame: a bucket empty in
    // BOTH snapshots still owes its (smoothed, nonzero when totals
    // differ) divergence term, and the output is always exactly k rows
    val frame = counts.sparkSession.range(k.toLong)
      .select(col("id").cast("int").as("bucket"))
    val w = Window.orderBy(col("bucket")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    frame.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("_tr", sum(col("n_ref")).over(w))
      .withColumn("_tc", sum(col("n_cur")).over(w))
      .withColumn("p_ref",
        (col("n_ref") + lit(0.5)) / (col("_tr") + lit(0.5 * k)))
      .withColumn("p_cur",
        (col("n_cur") + lit(0.5)) / (col("_tc") + lit(0.5 * k)))
  }

  private val psiTerm: Column = round(
    (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")), 8)

  private val jsTerm: Column = {
    val m = (col("p_ref") + col("p_cur")) / 2
    round(lit(0.5) * col("p_ref") * log(col("p_ref") / m)
      + lit(0.5) * col("p_cur") * log(col("p_cur") / m), 8)
  }

  /** The persistable reference half of a drift gate: per-bucket counts of
    * `valueCol` under the PSI bucketing — compute once on the blessed
    * snapshot, store k rows, hand to [[divergenceAgainstRef]] forever
    * after. */
  def refBucketCounts(df: DataFrame, valueCol: String,
      lo: Double, hi: Double, k: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(lit(1)).as("n_ref"))

  /** Total PSI and JSD of `cur` against one STORED [[refBucketCounts]]
    * profile as ONE row `(psi, js)` — the form a per-batch ingest gate
    * uses: the reference never rescans, the current side is one
    * conditional-count pass over the batch joined to the profile, and
    * both divergences assemble from that one k-row frame, so a gate armed
    * with both lines pays one job, not two. Each total is the sum of the
    * same rounded per-bucket terms [[psiDrift]] and [[jsDrift]] emit
    * (shared smoothing and term expressions), so thresholds transfer
    * unchanged (StreamingSpec asserts the sums agree). */
  def divergenceAgainstRef(cur: DataFrame, valueCol: String, ref: DataFrame,
      lo: Double, hi: Double, k: Int): DataFrame = {
    require(k > 0 && hi > lo,
      "divergenceAgainstRef needs a positive bucket count and range")
    smoothedCounts(refJoinedCounts(cur, valueCol, ref, lo, hi, k), k)
      .agg(sum(psiTerm).as("psi"), sum(jsTerm).as("js"))
  }

  private def refJoinedCounts(cur: DataFrame, valueCol: String,
      ref: DataFrame, lo: Double, hi: Double, k: Int): DataFrame = {
    val curCounts = cur.filter(col(valueCol).isNotNull)
      .groupBy(psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(lit(1)).as("n_cur"))
    ref.select(col("bucket"), col("n_ref"))
      .join(curCounts, Seq("bucket"), "full")
  }

  /** Jensen–Shannon divergence drift over the same fixed-bucket frame as
    * [[psiDrift]] — the bounded complement: JSD = ½KL(P‖M) + ½KL(Q‖M)
    * with M = (P+Q)/2 lands in [0, ln 2] regardless of how disjoint the
    * snapshots are, where PSI diverges to ∞ as any bucket empties (Lin
    * '91, "Divergence measures based on the Shannon entropy"). A drift
    * gate wants both: PSI for the credit-scoring-canon thresholds, JSD
    * for a comparable-across-columns normalized score. Identical plan
    * shape: ONE conditional-count scan → k-row frame → metadata-scale
    * windows; per-bucket terms sum to the divergence. */
  def jsDrift(df: DataFrame, valueCol: String, refPred: Column,
      curPred: Column, lo: Double, hi: Double, k: Int): DataFrame = {
    require(k > 0 && hi > lo, "jsDrift needs a positive bucket count and range")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(when(refPred, 1)).as("n_ref"),
        count(when(curPred, 1)).as("n_cur"))
    jsFromCounts(counts, k)
  }

  /** The k-row JSD assembly over a (bucket, n_ref, n_cur) count frame —
    * same join point as [[psiFromCounts]], so a streaming monitor serves
    * BOTH divergences from the SAME
    * [[graft.streaming.StreamQueries.psiCountsStream]] state joined to
    * one stored [[refBucketCounts]] profile. */
  def jsFromCounts(counts: DataFrame, k: Int): DataFrame =
    smoothedCounts(counts, k)
      .withColumn("js_term", jsTerm)
      .select(col("bucket"), col("n_ref"), col("n_cur"), col("js_term"))
      .orderBy("bucket")

  /** Welch's unequal-variance t-test between two row populations of one
    * column — the A/B mean-shift decision (did the new crawl source /
    * filter change mean document quality?): t = (x̄₁−x̄₂)/√(s₁²/n₁+s₂²/n₂)
    * with Welch–Satterthwaite degrees of freedom (Welch '47). Decision at
    * the z critical value 1.96 (α=0.05 two-sided) — exact for the df ≫ 30
    * populations a data pipeline compares; documented approximation, not
    * a t-table lookup. ONE conditional wide aggregation over ONE scan
    * (the q37/q40 shape); one row out. */
  def welchTTest(df: DataFrame, valueCol: String, predA: Column,
      predB: Column): DataFrame = {
    val v = col(valueCol)
    val a = when(predA, v)
    val b = when(predB, v)
    df.agg(
        count(a).as("n_a"), count(b).as("n_b"),
        avg(a).as("_ma"), avg(b).as("_mb"),
        var_samp(a).as("_va"), var_samp(b).as("_vb"))
      .withColumn("_sea", col("_va") / col("n_a"))
      .withColumn("_seb", col("_vb") / col("n_b"))
      .withColumn("_t",
        (col("_ma") - col("_mb")) / sqrt(col("_sea") + col("_seb")))
      .withColumn("_df",
        pow(col("_sea") + col("_seb"), 2)
          / (pow(col("_sea"), 2) / (col("n_a") - 1)
            + pow(col("_seb"), 2) / (col("n_b") - 1)))
      .select(col("n_a"), col("n_b"),
        round(col("_ma") + lit(1e-9), 4).as("mean_a"),
        round(col("_mb") + lit(1e-9), 4).as("mean_b"),
        round(col("_t") + lit(1e-9), 4).as("t_stat"),
        round(col("_df") + lit(1e-9), 2).as("df_w"),
        (abs(col("_t")) > lit(1.96)).cast("int").as("significant"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift — the nonparametric
    * complement to [[psiDrift]] (no bucket choice; sensitive anywhere the
    * CDFs separate): D = max over pooled values x of
    * |F_ref(x) − F_cur(x)|, with the asymptotic α=0.05 decision
    * D > 1.358·√((n_ref+n_cur)/(n_ref·n_cur)) (Smirnov, public canon).
    *
    * Scale shape: ONE groupBy collapses the data to per-distinct-value
    * conditional counts, the cumulative counts ride
    * [[GlobalWindows.withGlobalRunningSum]] (range partition + local
    * pass + broadcast offset patch — the q35 machinery, so a high-NDV
    * column never funnels through Exchange SinglePartition), and the
    * max-|diff| is a plain aggregate. One row out: n_ref, n_cur, ks_d,
    * drifted.
    *
    * Streaming posture (a DECISION, not an omission): the PSI and JS
    * monitors stream because their state is k fixed buckets; exact KS
    * state is the full distinct-value CDF — unbounded, growing with the
    * stream — so a faithful streaming KS does not exist at fixed memory.
    * Bucketizing KS to make it streamable just reproduces a fixed-frame
    * divergence, i.e. the PSI/JS gate that already runs
    * ([[divergenceAgainstRef]] in IngestDedupApp). Run exact
    * KS per batch/epoch against a persisted reference SAMPLE instead. */
  def ksDrift(df: DataFrame, valueCol: String, refPred: Column,
      curPred: Column): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("_v"))
      .agg(count(when(refPred, 1)).as("_nr"),
        count(when(curPred, 1)).as("_nc"))
    val cum = GlobalWindows.withGlobalRunningSum(counts,
      Seq("_v" -> true), Seq("_nr" -> "_cr", "_nc" -> "_cc"))
    val tot = counts.agg(sum(col("_nr")).as("_tr"), sum(col("_nc")).as("_tc"))
    cum.crossJoin(broadcast(tot))
      .withColumn("_diff", abs(
        col("_cr").cast("double") / col("_tr")
          - col("_cc").cast("double") / col("_tc")))
      .agg(max(col("_tr")).as("n_ref"), max(col("_tc")).as("n_cur"),
        round(max(col("_diff")) + lit(1e-9), 6).as("ks_d"),
        max((col("_diff") > lit(1.358) * sqrt(
          (col("_tr") + col("_tc")).cast("double")
            / (col("_tr") * col("_tc")))).cast("int")).as("drifted"))
  }

  /** q93 — exact 1-Wasserstein (earth mover's) distance between the
    * ref- and cur-side empirical distributions of a numeric column:
    * W₁ = ∫|F_ref − F_cur| dx over the observed support (Vallender 1974
    * for the 1-D identity; Ramdas et al. 2017 for its use as a
    * two-sample statistic). Completes the drift family: PSI/JS see
    * bucket-mass moves but are blind to WHERE mass moved; KS sees the
    * worst single gap; W₁ integrates gap × distance — the only one of
    * the four that scales with how FAR the distribution shifted, which
    * is what a downstream model actually feels.
    *
    * Scale shape (the q47 KS chassis): one conditional-count scan
    * collapses the data to per-distinct-value counts; CDFs are
    * distributed running sums over that NDV-bounded table
    * ([[GlobalWindows.withGlobalRunningSum]] — range partition, never
    * Exchange SinglePartition on data); the running count doubles as a
    * global row index, so the segment width (next distinct value − this
    * one) is an equi-join on index, not a single-partition lead();
    * totals ride in-plan as a broadcast scalar. */
  def wassersteinDrift(df: DataFrame, valueCol: String, refPred: Column,
      curPred: Column): DataFrame = {
    // cached: four consumers (running-sum local pass, its offsets, the
    // totals broadcast, and the segment self-join) would otherwise each
    // replay the fact scan + NDV shuffle
    val counts = graft.core.CacheOnce.swap("w1-counts",
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).cast("double").as("_v"))
        .agg(count(when(refPred, 1)).as("_nr"),
          count(when(curPred, 1)).as("_nc"))
        .withColumn("_one", lit(1L)))
    val cum = GlobalWindows.withGlobalRunningSum(counts,
      Seq("_v" -> true),
      Seq("_nr" -> "_cr", "_nc" -> "_cc", "_one" -> "_rn"))
    val tot = counts.agg(sum(col("_nr")).as("_tr"),
      sum(col("_nc")).as("_tc"), min(col("_v")).as("_lo"),
      max(col("_v")).as("_hi"))
    val nxt = cum.select((col("_rn") - 1).as("_rn"), col("_v").as("_vn"))
    cum.join(nxt, "_rn") // inner: the last value owns no segment
      .crossJoin(broadcast(tot))
      .withColumn("_seg",
        abs(col("_cr").cast("double") / col("_tr")
          - col("_cc").cast("double") / col("_tc"))
          * (col("_vn") - col("_v")))
      .agg(max(col("_tr")).as("n_ref"), max(col("_tc")).as("n_cur"),
        round(sum(col("_seg")) + lit(1e-9), 4).as("w1"),
        round(sum(col("_seg")) / (max(col("_hi")) - max(col("_lo")))
          + lit(1e-9), 6).as("w1_norm"))
  }

  /** q93 registry entry: W₁ between the even- and odd-keyed halves of
    * orders on value — the q43/q47/q52 split, so all four drift gates
    * read the same two snapshots (≈ 0 expected; the regression-gate
    * assertion). */
  def ordersWassersteinDrift(orders: DataFrame): DataFrame =
    wassersteinDrift(orders, "o_totalprice",
      refPred = col("o_orderkey") % 2 === 0,
      curPred = col("o_orderkey") % 2 === 1)

  val q93WassersteinSql: String =
    """WITH c AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS v,
      |    count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS nr,
      |    count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS nc
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |w AS (SELECT v, sum(nr) OVER o AS cr, sum(nc) OVER o AS cc,
      |    lead(v) OVER o AS vn
      |  FROM c WINDOW o AS (ORDER BY v)),
      |t AS (SELECT sum(nr) AS tr, sum(nc) AS tc,
      |    min(v) AS lo, max(v) AS hi FROM c)
      |SELECT CAST(t.tr AS BIGINT) AS n_ref, CAST(t.tc AS BIGINT) AS n_cur,
      |  round(sum(abs(w.cr / CAST(t.tr AS DOUBLE)
      |    - w.cc / CAST(t.tc AS DOUBLE)) * (w.vn - w.v)) + 1e-9, 4) AS w1,
      |  round(sum(abs(w.cr / CAST(t.tr AS DOUBLE)
      |    - w.cc / CAST(t.tc AS DOUBLE)) * (w.vn - w.v))
      |    / (t.hi - t.lo) + 1e-9, 6) AS w1_norm
      |FROM w, t WHERE w.vn IS NOT NULL
      |GROUP BY t.tr, t.tc, t.lo, t.hi""".stripMargin

  /** One-scan pairwise Pearson correlation profile of `cols` — the
    * feature-redundancy / leakage sweep before training on tabular
    * columns. All C(n,2) `corr` aggregates evaluate in a SINGLE wide
    * aggregation row over one scan (the q37/q40 shape), then unpivot to
    * (col_x, col_y, corr). The +1e-9-before-round guard is the
    * FIXTURES.md §3 idiom: corr is a multi-term co-moment sum, so the
    * last ulp is engine/order dependent. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlation matrix needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      corr(col(a), col(b)).as(s"_c_${a}_$b") }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs
      .map { case (a, b) => s"'$a', '$b', `_c_${a}_$b`" }.mkString(", ")
    wide.select(expr(
        s"stack(${pairs.size}, $stackArgs) AS (col_x, col_y, _corr)"))
      .select(col("col_x"), col("col_y"),
        round(col("_corr") + lit(1e-9), 4).as("corr"))
      .orderBy("col_x", "col_y")
  }

  private val LineitemCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Deliberately NOT routed through `Tables.fanout`: measured at sf0.1,
    * fanning the rows out before the profile costs MORE than the
    * one-row-group scan-parallelism it buys back (1.14 s vs 0.89 s),
    * because the fanout exchange ships every raw row where the scan-stage
    * partial aggregation (incl. the distinct-pair dedup) would have
    * collapsed them map-side first. Fanout pays when per-row compute
    * dominates a row copy (tokenization, shingling — the TextOps uses);
    * plain min/max/count does not. The bench-vs-DuckDB gap on the sf0.1
    * fixture is therefore the documented single-row-group artifact, not a
    * plan defect — real multi-row-group data scans parallel. */
  def lineitemProfile(lineitem: DataFrame): DataFrame =
    numericProfile(lineitem, LineitemCols)

  val q37ProfileSql: String = LineitemCols.map { c =>
    s"""SELECT '$c' AS "column", count(*) AS n,
       |  count(*) - count($c) AS nulls,
       |  count(DISTINCT $c) AS ndv,
       |  round(min($c), 4) AS min, round(max($c), 4) AS max,
       |  round(avg($c), 4) AS mean
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** q71 — equal-frequency feature binning of N numeric columns: the
    * quantile-bucketing step of feature engineering (decile bins for
    * monotonic models, drift bucketing, score calibration). Output:
    * (feature, bin, n, lo, hi) — SQL-ntile-identical by construction.
    * `n` per bin comes from the ntile law alone (the first total%n bins
    * hold total/n+1 rows); `lo`/`hi` are the values at the bin's first
    * and last global sort position — so the whole dictionary reduces to
    * EXACT SELECTION at 2n positions per feature, solved by classic
    * histogram refinement (the iterative-bucket exact-quantile scheme of
    * Munro–Paterson-style selection, one refinement level):
    *
    *  1. histogram: ONE scan collapses map-side onto a DATA-INDEPENDENT
    *     monotone bucket key — `shiftright(double_sort_bits(val), s)`,
    *     the order-preserving IEEE bit image ([[graft.functions
    *     .DoubleSortBits]]) truncated to its top bits — so no bounds
    *     pre-pass exists and no outlier can degrade the bucketing (the
    *     classic equi-width failure: one 1e300 row collapses a
    *     min/max-scaled histogram's useful range to one bucket).
    *     Resolution is RELATIVE — 2^(52-s) buckets per binary octave
    *     (s = 44 → 256, ~0.4% relative) — and the key space is hard-capped
    *     at 2^(64-s) with occupied buckets further bounded by NDV and by
    *     the octaves the data actually spans (thousands, in practice);
    *  2. locate: a metadata-scale cumulative window (the PSI/q43
    *     fixed-frame pattern; coalesce(1) lets SinglePartition satisfy
    *     the window so no second exchange follows the groupBy) turns the
    *     histogram into a bucket CDF, derives the per-feature totals and
    *     law columns from the SAME frame (no separate bounds subtree to
    *     re-run a scan), and binds each law position to the one bucket
    *     whose cumulative range contains it;
    *  3. refine: a second scan keeps ONLY rows falling in those ≤ 2n
    *     boundary buckets (ONE broadcast of `located` is both the
    *     scan-side prune and the rank lookup), collapses them map-side
    *     to per-value counts, and a per-position cumulative window
    *     selects the exact value at each position's residual rank.
    *
    * Versus ranking formulations: a global sort moves every row; the
    * weighted-CDF form (see [[exactPercentiles]]) moves every DISTINCT
    * value through a range exchange — NDV-linear, which for continuous
    * features is the data again. This moves an octave-bounded histogram
    * plus one bucket's worth of distinct values per boundary, at the
    * price of two column-pruned scans — the right trade at 100 TB, where
    * the scan is cheap (3 doubles of the fact table) and the shuffle is
    * the bottleneck. NaN/±Inf order exactly as both engines sort them
    * (-Inf first, NaN last); -0.0 is normalized to 0.0 before keying.
    * Degenerate case: data clustered inside one bucket's relative width
    * sends its NDV through the single refinement window — lower `shift`
    * for finer buckets if a feature needs it. Per-row ASSIGNMENT against
    * the dictionary, when needed, is the grouped
    * [[GlobalWindows.withGlobalNtile]] — the two stay law-identical. */
  def featureBins(df: DataFrame, cols: Seq[String], n: Int,
      bucketShift: Int = 44): DataFrame = {
    require(cols.nonEmpty, "featureBins needs at least one column")
    require(bucketShift >= 32 && bucketShift <= 56,
      "bucketShift outside [32, 56] gives degenerate buckets")
    // +0.0 normalizes -0.0 so the bucket key can never split a value
    // that groupBy/equality treats as one
    val stackArgs = cols
      .map(c => s"${sqlStr(c)}, cast(${sqlId(c)} as double) + 0.0d")
      .mkString(", ")
    def unpivot = df
      .select(expr(s"stack(${cols.size}, $stackArgs)")
        .as(Seq("feature", "val")))
      .filter(col("val").isNotNull)
    // identical codegen'd key expression in both passes
    def bucketOf: Column =
      expr(s"shiftright(double_sort_bits(val), $bucketShift)")

    // pass 1: bucket histogram (map-side collapse; ≤ occupied-bucket
    // rows shuffle) → one-task CDF + law frame
    val hist = unpivot
      .withColumn("_b", bucketOf)
      .groupBy(col("feature"), col("_b")).agg(count(lit(1)).as("cnt"))
      .coalesce(1)
    val wB = Window.partitionBy(col("feature")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy(col("feature"))
    val histCum = hist.withColumn("cum", sum(col("cnt")).over(wB))
      .withColumn("_t", sum(col("cnt")).over(wT))
      .withColumn("_size", expr(s"_t div $n"))
      .withColumn("_rem", col("_t") % n)
    // bind each ntile-law position to the bucket whose cumulative range
    // contains it: positions are GENERATED per histogram row and
    // filtered to the in-range ones — ≤ 2n·|buckets| rows through a
    // codegen'd generate+filter, no shuffle, no extra subtree. size = 0
    // empty bins (fewer rows than bins) drop via endp < startp,
    // mirroring ntile.
    val located = histCum
      .select(col("feature"), col("_b"), col("cnt"), col("cum"),
        col("_size"), col("_rem"),
        explode(sequence(lit(1L), lit(n.toLong))).as("bin"))
      .withColumn("_startp", (col("bin") - 1) * col("_size")
        + least(col("bin") - 1, col("_rem")) + 1)
      .withColumn("_endp",
        col("bin") * col("_size") + least(col("bin"), col("_rem")))
      .filter(col("_endp") >= col("_startp"))
      .select(col("feature"), col("_b"), col("cnt"), col("cum"), col("bin"),
        col("_size"), col("_rem"),
        explode(map(lit("lo"), col("_startp"), lit("hi"), col("_endp")))
          .as(Seq("kind", "p")))
      .filter(col("p") > col("cum") - col("cnt") && col("p") <= col("cum"))
      .select(col("feature"), col("bin"), col("kind"), col("_b"),
        (col("p") - (col("cum") - col("cnt"))).as("resid"),
        col("_size"), col("_rem"))

    // pass 3: refine inside the ≤ 2n·|features| boundary buckets only.
    // ONE broadcast of `located` serves as both the scan-side prune and
    // the rank lookup: the inner join multiplies each surviving row by
    // the (≤ 2) positions probing its bucket, and the per-POSITION
    // cumulative window selects the value at that position's residual
    // rank — a semi-join + second-join shape would broadcast the
    // histogram arm twice (column pruning forks the exchange).
    // located carries _size/_rem so no later join needs the law frame.
    val bvals = unpivot
      .withColumn("_b", bucketOf)
      .join(broadcast(located), Seq("feature", "_b"))
      .groupBy(col("feature"), col("_b"), col("bin"), col("kind"),
        col("resid"), col("_size"), col("_rem"), col("val"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1) // ≤ one bucket's NDV per boundary — same fixed-frame move
    val wV = Window
      .partitionBy(col("feature"), col("_b"), col("bin"), col("kind"))
      .orderBy(col("val"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atPos = bvals.withColumn("vcum", sum(col("cnt")).over(wV))
      .filter(col("resid") > col("vcum") - col("cnt")
        && col("resid") <= col("vcum"))
      .select(col("feature"), col("bin"), col("kind"), col("val"),
        col("_size"), col("_rem"))

    // ≤ 2n·|features| rows remain: coalesce to one partition so the
    // closing groupBy and ORDER BY are satisfied by SinglePartition —
    // two exchanges and a range-sampling job gone from the tail
    atPos.coalesce(1).groupBy(col("feature"), col("bin"))
      .agg(min(when(col("kind") === "lo", col("val"))).as("lo_v"),
        max(when(col("kind") === "hi", col("val"))).as("hi_v"),
        first(col("_size")).as("_size"), first(col("_rem")).as("_rem"))
      .select(col("feature"), col("bin").cast("long").as("bin"),
        (col("_size") + when(col("bin") <= col("_rem"), 1L).otherwise(0L))
          .as("n"),
        round(col("lo_v"), 4).as("lo"), round(col("hi_v"), 4).as("hi"))
      .orderBy("feature", "bin")
  }

  private val BinCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** q71 registry entry: decile bins of three lineitem measures. */
  def lineitemFeatureBins(lineitem: DataFrame): DataFrame =
    featureBins(lineitem, BinCols, n = 10)

  /** q72 — EXACT grouped percentiles at scale (`percentile_disc`
    * semantics: the smallest stored value whose cumulative count reaches
    * ⌈p·n⌉) via the same weighted-CDF shape as [[featureBins]]: one
    * map-side collapse to per-(group, value) counts, one grouped
    * running-sum pass, and a |groups × percentiles|-row broadcast
    * boundary lookup. The 100 TB story: exact p99s per key WITHOUT
    * `percentile` buffers (which hold every distinct value per group in
    * one aggregation buffer) and WITHOUT a per-group sort funneling
    * through `Window.partitionBy` reducers — cost is NDV-linear and all
    * groups share one range shuffle. `percentile_approx` remains the
    * one-pass estimate; this is the exact twin for when the number IS
    * the contract (SLO reporting, billing cuts). */
  def exactPercentiles(df: DataFrame, valueCol: String, groupCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      "percentiles must lie in (0, 1]")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = GlobalWindows.withGlobalRunningSum(counts,
      Seq("_v" -> true), Seq("cnt" -> "cum"), groups = Seq("_g"))
    val bounds = counts.groupBy(col("_g")).agg(sum(col("cnt")).as("_n"))
      .select(col("_g"), col("_n"), explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("pos", greatest(ceil(col("p") * col("_n")), lit(1L)))
      .select(col("_g"), col("p"), col("pos"))
    cum.alias("c").join(broadcast(bounds.alias("b")),
        expr("c._g = b._g AND b.pos > c.cum - c.cnt AND b.pos <= c.cum"))
      .selectExpr("b._g AS grp", "b.p AS p", "c._v AS value")
      .orderBy("grp", "p")
  }

  val q71FeatureBinsSql: String = {
    val arms = BinCols.map { c =>
      s"""SELECT '$c' AS feature, CAST($c AS DOUBLE) AS val,
         |  l_orderkey * 10 + l_linenumber AS rid FROM lineitem
         |  WHERE $c IS NOT NULL""".stripMargin
    }.mkString("(", "\nUNION ALL\n", ")")
    s"""WITH u AS $arms,
       |b AS (SELECT feature, val,
       |    ntile(10) OVER (PARTITION BY feature ORDER BY val, rid) AS bin
       |  FROM u)
       |SELECT feature, bin, count(*) AS n,
       |  round(min(val), 4) AS lo, round(max(val), 4) AS hi
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** q72 registry entry: exact p50/p90/p99 of event value per type. */
  def eventValuePercentiles(events: DataFrame): DataFrame =
    exactPercentiles(events, "value", "event_type", Seq(0.5, 0.9, 0.99))
      .withColumnRenamed("grp", "event_type")

  val q72PercentilesSql: String = {
    val arms = Seq(0.5, 0.9, 0.99).map { p =>
      s"""SELECT event_type, CAST($p AS DOUBLE) AS p,
         |  percentile_disc($p) WITHIN GROUP (ORDER BY value) AS value
         |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$arms\nORDER BY event_type, p"
  }

  /** q43 registry entry: PSI drift of order value between the even- and
    * odd-keyed halves of orders (two interleaved snapshots of one
    * process — drift should be ≈ 0, which is itself the assertion a
    * pipeline regression gate makes). */
  def ordersDrift(orders: DataFrame): DataFrame =
    psiDrift(orders, "o_totalprice",
      refPred = col("o_orderkey") % 2 === 0,
      curPred = col("o_orderkey") % 2 === 1,
      lo = 0.0, hi = 600000.0, k = 10)

  val q43DriftSql: String =
    """WITH b AS (
      |  SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS INT),
      |      0), 9) AS bucket,
      |    count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_ref,
      |    count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_cur
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |fb AS (
      |  SELECT f.bucket, coalesce(b.n_ref, 0) AS n_ref,
      |    coalesce(b.n_cur, 0) AS n_cur
      |  FROM (SELECT unnest(generate_series(0, 9)) AS bucket) f
      |  LEFT JOIN b ON f.bucket = b.bucket),
      |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM fb)
      |SELECT bucket, n_ref, n_cur,
      |  round(((n_cur + 0.5) / (tc + 5.0) - (n_ref + 0.5) / (tr + 5.0))
      |    * ln(((n_cur + 0.5) / (tc + 5.0))
      |        / ((n_ref + 0.5) / (tr + 5.0))), 8) AS psi_term
      |FROM fb, t ORDER BY bucket""".stripMargin

  /** q47 registry entry: KS drift between the even- and odd-keyed halves
    * of orders on value — the same split as q43, so the two drift gates
    * cross-check each other (both should sit at "no drift"). */
  def ordersKsDrift(orders: DataFrame): DataFrame =
    ksDrift(orders, "o_totalprice",
      refPred = col("o_orderkey") % 2 === 0,
      curPred = col("o_orderkey") % 2 === 1)

  val q47KsSql: String =
    """WITH c AS (SELECT o_totalprice AS v,
      |    count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS nr,
      |    count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS nc
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr,
      |    CAST(sum(nc) AS BIGINT) AS tc FROM c),
      |s AS (SELECT
      |    CAST(sum(nr) OVER (ORDER BY v) AS BIGINT) AS cr,
      |    CAST(sum(nc) OVER (ORDER BY v) AS BIGINT) AS cc FROM c),
      |d AS (SELECT abs(CAST(cr AS DOUBLE) / tr
      |    - CAST(cc AS DOUBLE) / tc) AS diff FROM s, t)
      |SELECT max(tr) AS n_ref, max(tc) AS n_cur,
      |  round(max(diff) + 1e-9, 6) AS ks_d,
      |  max(CAST(diff > 1.358 * sqrt(CAST(tr + tc AS DOUBLE)
      |    / (tr * tc)) AS INT)) AS drifted
      |FROM d, t""".stripMargin

  /** q52 registry entry: JS drift on the q43 split — the two bucketed
    * drift gates run the same frame, so their "no drift" verdicts
    * cross-check. */
  def ordersJsDrift(orders: DataFrame): DataFrame =
    jsDrift(orders, "o_totalprice",
      refPred = col("o_orderkey") % 2 === 0,
      curPred = col("o_orderkey") % 2 === 1,
      lo = 0.0, hi = 600000.0, k = 10)

  val q52JsSql: String =
    """WITH b AS (
      |  SELECT least(greatest(CAST(floor(o_totalprice / 60000.0) AS INT),
      |      0), 9) AS bucket,
      |    count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_ref,
      |    count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_cur
      |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |fb AS (
      |  SELECT f.bucket, coalesce(b.n_ref, 0) AS n_ref,
      |    coalesce(b.n_cur, 0) AS n_cur
      |  FROM (SELECT unnest(generate_series(0, 9)) AS bucket) f
      |  LEFT JOIN b ON f.bucket = b.bucket),
      |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM fb),
      |p AS (SELECT bucket, n_ref, n_cur,
      |    (n_ref + 0.5) / (tr + 5.0) AS pr,
      |    (n_cur + 0.5) / (tc + 5.0) AS pc
      |  FROM fb, t)
      |SELECT bucket, n_ref, n_cur,
      |  round(0.5 * pr * ln(pr / ((pr + pc) / 2))
      |    + 0.5 * pc * ln(pc / ((pr + pc) / 2)), 8) AS js_term
      |FROM p ORDER BY bucket""".stripMargin

  /** q53 registry entry: Welch t-test on event value, click vs view —
    * the canonical "did engagement value shift between the two arms"
    * question asked of the events stream. */
  def eventsWelch(events: DataFrame): DataFrame =
    welchTTest(events, "value",
      predA = col("event_type") === "click",
      predB = col("event_type") === "view")

  val q53WelchSql: String =
    """WITH s AS (SELECT
      |    count(CASE WHEN event_type = 'click' THEN value END) AS n_a,
      |    count(CASE WHEN event_type = 'view' THEN value END) AS n_b,
      |    avg(CASE WHEN event_type = 'click' THEN value END) AS ma,
      |    avg(CASE WHEN event_type = 'view' THEN value END) AS mb,
      |    var_samp(CASE WHEN event_type = 'click' THEN value END) AS va,
      |    var_samp(CASE WHEN event_type = 'view' THEN value END) AS vb
      |  FROM events),
      |d AS (SELECT *, va / n_a AS sea, vb / n_b AS seb FROM s)
      |SELECT n_a, n_b,
      |  round(ma + 1e-9, 4) AS mean_a, round(mb + 1e-9, 4) AS mean_b,
      |  round((ma - mb) / sqrt(sea + seb) + 1e-9, 4) AS t_stat,
      |  round(pow(sea + seb, 2) / (pow(sea, 2) / (n_a - 1)
      |    + pow(seb, 2) / (n_b - 1)) + 1e-9, 2) AS df_w,
      |  CAST(abs((ma - mb) / sqrt(sea + seb)) > 1.96 AS INT) AS significant
      |FROM d""".stripMargin

  /** q48 registry entry: the lineitem numeric-column correlation sweep. */
  def lineitemCorrMatrix(lineitem: DataFrame): DataFrame =
    corrMatrix(lineitem, LineitemCols)

  val q48CorrSql: String = {
    val pairs = for {
      i <- LineitemCols.indices; j <- (i + 1) until LineitemCols.size
    } yield (LineitemCols(i), LineitemCols(j))
    pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
         |  round(corr($a, $b) + 1e-9, 4) AS corr FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_x, col_y")
  }

  type QFn = (SparkSession, String) => DataFrame
  /** q103 — segmented PSI drift: the q43 population-stability gate run
    * PER SEGMENT in one scan, one summary row per segment. The aggregate
    * PSI monitors hide exactly the failures segmentation finds: a whole-
    * population PSI near 0 can mask one segment drifting hard against
    * another drifting back (mix-shift cancellation) — the per-segment
    * sweep is what a model on segmented traffic actually gates on.
    * Same bucketing ([[psiBucket]]), same +0.5 smoothing, same stored-
    * reference compatibility as q43 — thresholds transfer unchanged.
    *
    * Plan shape: ONE conditional-count scan to a (segment × k)-row
    * frame; the full per-segment bucket frame comes from a
    * broadcast(distinct segments) × range(k) cross (metadata-scale), the
    * smoothing windows partition by segment over k-row groups, and the
    * final rollup is |segments| rows. Nothing re-scans the fact table. */
  def segmentedDrift(df: DataFrame, valueCol: String, segCol: String,
      refPred: Column, curPred: Column, lo: Double, hi: Double,
      k: Int): DataFrame = {
    require(k > 0 && hi > lo,
      "segmentedDrift needs a positive bucket count and range")
    val counts = df
      .filter(col(valueCol).isNotNull && col(segCol).isNotNull)
      .groupBy(col(segCol).as("segment"),
        psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(when(refPred, 1)).as("n_ref"),
        count(when(curPred, 1)).as("n_cur"))
    segmentedPsiFromCounts(counts, k)
  }

  /** The per-segment PSI assembly over a (segment, bucket, n_ref, n_cur)
    * count frame — the shared metadata-scale half (the
    * [[psiFromCounts]] of the segmented family). Public because it is
    * the join point for the STREAMING monitor: feed it a stored
    * [[segmentedRefCounts]] profile full-joined to the latest
    * [[graft.streaming.StreamQueries.segmentedPsiCountsStream]] emission
    * and it yields the same |segments|-row sweep the batch query
    * produces (StreamingSpec asserts equality). */
  def segmentedPsiFromCounts(counts: DataFrame, k: Int): DataFrame = {
    val spark = counts.sparkSession
    val frame = counts.select("segment").distinct()
      .crossJoin(spark.range(k.toLong)
        .select(col("id").cast("int").as("bucket")))
    val w = Window.partitionBy(col("segment"))
    frame.join(counts, Seq("segment", "bucket"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .withColumn("_tr", sum(col("n_ref")).over(w))
      .withColumn("_tc", sum(col("n_cur")).over(w))
      .withColumn("_pr",
        (col("n_ref") + lit(0.5)) / (col("_tr") + lit(0.5 * k)))
      .withColumn("_pc",
        (col("n_cur") + lit(0.5)) / (col("_tc") + lit(0.5 * k)))
      .withColumn("_term",
        (col("_pc") - col("_pr")) * log(col("_pc") / col("_pr")))
      .groupBy(col("segment"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
        round(sum(col("_term")) + lit(1e-9), 6).as("psi"))
      .orderBy("segment")
  }

  /** The persistable reference half of the segmented gate: per-
    * (segment, bucket) counts under the shared bucketing — the
    * [[refBucketCounts]] of the segmented family. */
  def segmentedRefCounts(df: DataFrame, valueCol: String, segCol: String,
      lo: Double, hi: Double, k: Int): DataFrame =
    df.filter(col(valueCol).isNotNull && col(segCol).isNotNull)
      .groupBy(col(segCol).as("segment"),
        psiBucket(col(valueCol), lo, hi, k).as("bucket"))
      .agg(count(lit(1)).as("n_ref"))

  /** q103 registry entry: per-event-type PSI of `value`, first calendar
    * week of the stream as reference vs everything after — the
    * "did any traffic segment shift after the deploy" sweep. */
  def eventsSegmentedDrift(events: DataFrame): DataFrame =
    segmentedDrift(events, "value", "event_type",
      refPred = col("ts") < to_timestamp(lit("2024-01-08")),
      curPred = col("ts") >= to_timestamp(lit("2024-01-08")),
      lo = 0.0, hi = 500.0, k = 10)

  val q103SegmentedDriftSql: String =
    """WITH b AS (
      |  SELECT event_type AS segment,
      |    least(greatest(CAST(floor(value / 50.0) AS INT), 0), 9)
      |      AS bucket,
      |    count(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 END)
      |      AS n_ref,
      |    count(CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN 1 END)
      |      AS n_cur
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      |  GROUP BY 1, 2),
      |fb AS (
      |  SELECT s.segment, f.bucket, coalesce(b.n_ref, 0) AS n_ref,
      |    coalesce(b.n_cur, 0) AS n_cur
      |  FROM (SELECT DISTINCT segment FROM b) s
      |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) f
      |  LEFT JOIN b ON b.segment = s.segment AND b.bucket = f.bucket),
      |t AS (SELECT segment, sum(n_ref) AS tr, sum(n_cur) AS tc
      |  FROM fb GROUP BY segment)
      |SELECT fb.segment,
      |  CAST(sum(fb.n_ref) AS BIGINT) AS n_ref,
      |  CAST(sum(fb.n_cur) AS BIGINT) AS n_cur,
      |  round(sum(((fb.n_cur + 0.5) / (t.tc + 5.0)
      |      - (fb.n_ref + 0.5) / (t.tr + 5.0))
      |    * ln(((fb.n_cur + 0.5) / (t.tc + 5.0))
      |        / ((fb.n_ref + 0.5) / (t.tr + 5.0)))) + 1e-9, 6) AS psi
      |FROM fb JOIN t ON t.segment = fb.segment
      |GROUP BY fb.segment ORDER BY fb.segment""".stripMargin

  val all: Seq[(String, QFn, Option[String])] = Seq(
    ("q37_profile",
      (s: SparkSession, d: String) => lineitemProfile(Tables.lineitem(s, d)),
      Some(q37ProfileSql)),
    ("q43_drift",
      (s: SparkSession, d: String) => ordersDrift(Tables.orders(s, d)),
      Some(q43DriftSql)),
    ("q71_feature_bins",
      (s: SparkSession, d: String) => lineitemFeatureBins(Tables.lineitem(s, d)),
      Some(q71FeatureBinsSql)),
    ("q72_exact_percentiles",
      (s: SparkSession, d: String) => eventValuePercentiles(Tables.events(s, d)),
      Some(q72PercentilesSql)),
    ("q47_ks_drift",
      (s: SparkSession, d: String) => ordersKsDrift(Tables.orders(s, d)),
      Some(q47KsSql)),
    ("q48_corr_matrix",
      (s: SparkSession, d: String) => lineitemCorrMatrix(Tables.lineitem(s, d)),
      Some(q48CorrSql)),
    ("q52_js_drift",
      (s: SparkSession, d: String) => ordersJsDrift(Tables.orders(s, d)),
      Some(q52JsSql)),
    ("q53_welch_ttest",
      (s: SparkSession, d: String) => eventsWelch(Tables.events(s, d)),
      Some(q53WelchSql)),
    ("q93_wasserstein_drift",
      (s: SparkSession, d: String) =>
        ordersWassersteinDrift(Tables.orders(s, d)),
      Some(q93WassersteinSql)),
    ("q103_segmented_drift",
      (s: SparkSession, d: String) =>
        eventsSegmentedDrift(Tables.events(s, d)),
      Some(q103SegmentedDriftSql)))
}
