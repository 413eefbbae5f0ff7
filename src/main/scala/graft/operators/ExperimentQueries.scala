package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Round-5 experimentation & growth analytics: the measurement layer a
  * product/data team runs on the engine — DAU growth accounting
  * (new / retained / resurrected / churned), difference-in-differences
  * treatment estimation, and a deterministic Poisson-bootstrap
  * confidence interval.
  *
  * Scale shapes: growth accounting does ONE per-user window pass (high
  * cardinality — millions of partitions is exactly what WindowExec
  * wants) and collapses to the bounded day grid before anything else;
  * DiD is one conditional-aggregate scan; the bootstrap is the
  * single-pass Poisson formulation — per-row replicate weights from a
  * hash, map-side partial aggregation into B tiny groups — not the
  * textbook B-fold resample, which at 100 TB would be B full shuffles
  * of the fact table.
  */
object ExperimentQueries {

  /** DAU growth accounting: every active (user, day) classified as
    * new (first day), retained (active yesterday too), or resurrected
    * (gap > 1 day), plus churned (active yesterday, gone today) —
    * the standard decomposition of DAU change. One distinct pass to
    * (user, day) grain, one per-user LAG/LEAD window (both functions
    * share one window spec → one sort), then bounded day-grid rollups.
    * Churn is only counted through the last observed day (beyond it,
    * absence is end-of-data, not churn). */
  val qGrowthAccounting: QDef = QDef(
    "q_growth_accounting",
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |s AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next
      |  FROM a),
      |stat AS (
      |  SELECT day,
      |    COUNT(*) FILTER (WHERE prev IS NULL) AS n_new,
      |    COUNT(*) FILTER (WHERE day - prev = 1) AS n_retained,
      |    COUNT(*) FILTER (WHERE prev IS NOT NULL AND day - prev > 1)
      |      AS n_resurrected
      |  FROM s GROUP BY day),
      |mx AS (SELECT MAX(day) AS maxd FROM a),
      |churn AS (
      |  SELECT day + 1 AS day, COUNT(*) AS n_churned
      |  FROM s CROSS JOIN mx
      |  WHERE (next IS NULL OR next - day > 1) AND day < maxd
      |  GROUP BY 1)
      |SELECT COALESCE(stat.day, churn.day) AS day,
      |  COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM stat FULL OUTER JOIN churn USING (day)
      |ORDER BY day""".stripMargin) { (s, d) =>
    growthAccounting(events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct())
  }

  /** The parameterized core of q_growth_accounting over any DISTINCT
    * (user_id, day) actives frame (exposed for reuse and property
    * testing). */
  def growthAccounting(a: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val t = a.select(
      col("day"),
      lag(col("day"), 1).over(wU).as("prev"),
      lead(col("day"), 1).over(wU).as("next"))
    val stat = t.groupBy(col("day"))
      .agg(
        count_if(col("prev").isNull).as("n_new"),
        count_if(datediff(col("day"), col("prev")) === 1)
          .as("n_retained"),
        count_if(col("prev").isNotNull &&
          datediff(col("day"), col("prev")) > 1).as("n_resurrected"))
    val mx = a.agg(max(col("day")).as("maxd"))
    val churn = t.crossJoin(broadcast(mx))
      .where((col("next").isNull ||
        datediff(col("next"), col("day")) > 1) &&
        col("day") < col("maxd"))
      .groupBy(date_add(col("day"), 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    stat.withColumnRenamed("day", "sday")
      .join(churn.withColumnRenamed("day", "cday"),
        col("sday") === col("cday"), "full_outer")
      .select(
        coalesce(col("sday"), col("cday")).as("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** Difference-in-differences estimate of the month-half "treatment"
    * on purchase value for the hash-assigned treatment group (even
    * user_id): the four cell means and DiD = (T₂−T₁) − (C₂−C₁), all
    * in ONE conditional-aggregate scan. Values accumulate as exact
    * integer micro-units so every mean is a ratio of exact integers —
    * double-sum order nondeterminism never reaches the output. */
  val qDidEffect: QDef = QDef(
    "q_did_effect",
    """WITH p AS (
      |  SELECT user_id % 2 = 0 AS treated,
      |    date_part('day', ts) > 15 AS post,
      |    CAST(ROUND(value * 1e6) AS BIGINT) AS micro
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT
      |    CAST(SUM(micro) FILTER (WHERE treated AND NOT post)
      |      AS DOUBLE) / COUNT(*) FILTER (WHERE treated AND NOT post)
      |      / 1e6 AS t_pre,
      |    CAST(SUM(micro) FILTER (WHERE treated AND post)
      |      AS DOUBLE) / COUNT(*) FILTER (WHERE treated AND post)
      |      / 1e6 AS t_post,
      |    CAST(SUM(micro) FILTER (WHERE NOT treated AND NOT post)
      |      AS DOUBLE) / COUNT(*) FILTER (WHERE NOT treated AND NOT post)
      |      / 1e6 AS c_pre,
      |    CAST(SUM(micro) FILTER (WHERE NOT treated AND post)
      |      AS DOUBLE) / COUNT(*) FILTER (WHERE NOT treated AND post)
      |      / 1e6 AS c_post
      |  FROM p)
      |SELECT ROUND(t_pre, 6) AS treated_pre,
      |  ROUND(t_post, 6) AS treated_post,
      |  ROUND(c_pre, 6) AS control_pre,
      |  ROUND(c_post, 6) AS control_post,
      |  ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did
      |FROM c""".stripMargin) { (s, d) =>
    val p = events(s, d)
      .where(col("event_type") === "purchase")
      .select(
        (col("user_id") % 2 === 0).as("treated"),
        (dayofmonth(col("ts")) > 15).as("post"),
        round(col("value") * 1e6).cast("bigint").as("micro"))
    def cellMean(t: Boolean, po: Boolean) = {
      val cond = col("treated") === t && col("post") === po
      sum(when(cond, col("micro"))).cast("double") /
        count_if(cond) / 1e6
    }
    p.agg(
        cellMean(t = true, po = false).as("t_pre"),
        cellMean(t = true, po = true).as("t_post"),
        cellMean(t = false, po = false).as("c_pre"),
        cellMean(t = false, po = true).as("c_post"))
      .select(
        round(col("t_pre"), 6).as("treated_pre"),
        round(col("t_post"), 6).as("treated_post"),
        round(col("c_pre"), 6).as("control_pre"),
        round(col("c_post"), 6).as("control_post"),
        round((col("t_post") - col("t_pre")) -
          (col("c_post") - col("c_pre")), 6).as("did"))
  }

  /** Sample-ratio-mismatch check for the hash-assigned experiment
    * split — the sanity gate run BEFORE reading any experiment
    * result: if the observed treated/control user counts are
    * incompatible with the designed 50/50 assignment (one-cell χ² =
    * z²), the assignment itself is broken and q_did_effect's estimate
    * is void. Distinct users first (assignment is per-user, events
    * per user vary), then a two-cell rollup; χ² and the SRM verdict
    * at α = 0.001 (χ²₁ > 10.828) are exact-integer-derived. */
  val qSrmCheck: QDef = QDef(
    "q_srm_check",
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |c AS (
      |  SELECT
      |    COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_t,
      |    COUNT(*) FILTER (WHERE user_id % 2 <> 0) AS n_c
      |  FROM u)
      |SELECT n_t AS n_treated, n_c AS n_control,
      |  ROUND(CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE) / (n_t + n_c),
      |    6) AS chi2,
      |  CAST((n_t - n_c) * (n_t - n_c) AS DOUBLE) / (n_t + n_c)
      |    > 10.828 AS srm_detected
      |FROM c""".stripMargin) { (s, d) =>
    events(s, d)
      .select(col("user_id")).distinct()
      .agg(
        count_if(col("user_id") % 2 === 0).as("n_t"),
        count_if(col("user_id") % 2 =!= 0).as("n_c"))
      .select(
        col("n_t").as("n_treated"),
        col("n_c").as("n_control"),
        round((col("n_t") - col("n_c")) * (col("n_t") - col("n_c"))
          .cast("double") / (col("n_t") + col("n_c")), 6).as("chi2"),
        (((col("n_t") - col("n_c")) * (col("n_t") - col("n_c")))
          .cast("double") / (col("n_t") + col("n_c")) > 10.828)
          .as("srm_detected"))
  }

  /** CUPED variance-reduced treatment effect: each user's pre-period
    * mean event value (days 1-15) is the control covariate for their
    * post-period mean (days 16+); θ = cov(pre, post)/var(pre) is fit
    * on ALL users (assignment-independent, so it introduces no bias),
    * and the effect is the treated-vs-control difference of
    * Y_adj = post − θ·(pre − mean(pre)) — the industry-standard
    * experiment-sensitivity lever. Shape: one groupBy(user) builds
    * both period means (exact integer micro-sums), the θ and mean(pre)
    * scalars broadcast back, and the final contrast is a 2-row
    * conditional aggregate. Output also reports the UNadjusted effect
    * and the variance-reduction ratio so the lever's value is
    * visible. */
  val qCupedEffect: QDef = QDef(
    "q_cuped_effect",
    """WITH per_user AS (
      |  SELECT user_id, user_id % 2 = 0 AS treated,
      |    CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT))
      |      FILTER (WHERE date_part('day', ts) <= 15) AS DOUBLE) /
      |      COUNT(*) FILTER (WHERE date_part('day', ts) <= 15) / 1e6
      |      AS pre,
      |    CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT))
      |      FILTER (WHERE date_part('day', ts) > 15) AS DOUBLE) /
      |      COUNT(*) FILTER (WHERE date_part('day', ts) > 15) / 1e6
      |      AS post
      |  FROM events GROUP BY user_id
      |  HAVING COUNT(*) FILTER (WHERE date_part('day', ts) <= 15) > 0
      |     AND COUNT(*) FILTER (WHERE date_part('day', ts) > 15) > 0),
      |th AS (
      |  SELECT COVAR_POP(pre, post) / VAR_POP(pre) AS theta,
      |    AVG(pre) AS mpre
      |  FROM per_user),
      |adj AS (
      |  SELECT treated, post,
      |    post - th.theta * (pre - th.mpre) AS y_adj
      |  FROM per_user CROSS JOIN th),
      |c AS (
      |  SELECT
      |    AVG(CASE WHEN treated THEN y_adj END) -
      |      AVG(CASE WHEN NOT treated THEN y_adj END) AS eff_cuped,
      |    AVG(CASE WHEN treated THEN post END) -
      |      AVG(CASE WHEN NOT treated THEN post END) AS eff_raw,
      |    VAR_POP(y_adj) / VAR_POP(post) AS var_ratio,
      |    COUNT(*) AS n_users
      |  FROM adj)
      |SELECT CAST(n_users AS BIGINT) AS n_users,
      |  ROUND(eff_raw, 6) AS effect_raw,
      |  ROUND(eff_cuped, 6) AS effect_cuped,
      |  ROUND(var_ratio, 6) AS var_ratio
      |FROM c""".stripMargin) { (s, d) =>
    val micro = round(col("value") * 1e6).cast("bigint")
    val isPre = dayofmonth(col("ts")) <= 15
    val perUser = events(s, d)
      .groupBy(col("user_id"))
      .agg(
        (sum(when(isPre, micro)).cast("double") /
          count_if(isPre) / 1e6).as("pre"),
        (sum(when(!isPre, micro)).cast("double") /
          count_if(!isPre) / 1e6).as("post"),
        count_if(isPre).as("npre"),
        count_if(!isPre).as("npost"))
      .where(col("npre") > 0 && col("npost") > 0)
      .select((col("user_id") % 2 === 0).as("treated"),
        col("pre"), col("post"))
    val th = perUser.agg(
      (covar_pop(col("pre"), col("post")) / var_pop(col("pre")))
        .as("theta"),
      avg(col("pre")).as("mpre"))
    val adj = perUser.crossJoin(broadcast(th))
      .select(col("treated"), col("post"),
        (col("post") - col("theta") * (col("pre") - col("mpre")))
          .as("y_adj"))
    adj.agg(
        (avg(when(col("treated"), col("y_adj"))) -
          avg(when(!col("treated"), col("y_adj")))).as("eff_cuped"),
        (avg(when(col("treated"), col("post"))) -
          avg(when(!col("treated"), col("post")))).as("eff_raw"),
        (var_pop(col("y_adj")) / var_pop(col("post"))).as("var_ratio"),
        count(lit(1)).as("n_users"))
      .select(
        col("n_users"),
        round(col("eff_raw"), 6).as("effect_raw"),
        round(col("eff_cuped"), 6).as("effect_cuped"),
        round(col("var_ratio"), 6).as("var_ratio"))
  }

  /** Exact Poisson-CDF(λ=1) thresholds on the 24-bit hash scale:
    * u < th(k) ⇒ weight k (integer constants, identical both
    * engines). */
  private val poissonTh =
    Seq(6171992L, 12343985L, 15429982L, 16458647L, 16715813L,
      16767247L, 16775819L)

  private val bootReps = 64

  /** 95% bootstrap CI for mean order value via the single-pass POISSON
    * bootstrap: replicate b resamples each order with weight
    * w ~ Poisson(1), derived deterministically from 24 bits of an
    * md5 digest through the exact inverse CDF — no RNG, no
    * per-replicate shuffle of the fact table. Each digest feeds FIVE
    * replicates (30 of its 32 hex chars = 5 independent 24-bit
    * chunks), so 64 replicates cost ⌈64/5⌉ = 13 md5s per row, not 64
    * — the hash is the dominant cost of the whole query (measured
    * 6.9 s → 1.9 s at sf0.1). The 64 replicate means
    * partial-aggregate map-side into 64 groups; the CI is an order
    * statistic over those 64 rows (rank 2 / rank 63 ≈ 2.5th/97.5th
    * percentile). Money moves as exact integer cents; each replicate
    * mean is one double division of exact integers. */
  val qBootstrapCi: QDef = QDef(
    "q_bootstrap_ci",
    s"""WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |dg AS (
      |  SELECT cents, c,
      |    CAST(('0x' || substr(md5(k || '-' || c), 1, 15)) AS BIGINT)
      |      AS x1,
      |    CAST(('0x' || substr(md5(k || '-' || c), 16, 15)) AS BIGINT)
      |      AS x2
      |  FROM base CROSS JOIN range(${(bootReps + 4) / 5}) t(c)),
      |r AS (
      |  SELECT c * 5 + o AS b, cents,
      |    CASE o
      |      WHEN 0 THEN x1 >> 36
      |      WHEN 1 THEN (x1 >> 12) & 16777215
      |      WHEN 2 THEN ((x1 & 4095) << 12) | (x2 >> 48)
      |      WHEN 3 THEN (x2 >> 24) & 16777215
      |      ELSE x2 & 16777215 END AS u
      |  FROM dg CROSS JOIN range(5) t2(o)
      |  WHERE c * 5 + o < $bootReps),
      |w AS (
      |  SELECT b, cents,
      |    CASE ${poissonTh.zipWithIndex
          .map { case (t, k) => s"WHEN u < $t THEN $k" }
          .mkString(" ")} ELSE 7 END AS w
      |  FROM r),
      |m AS (
      |  SELECT b, CAST(SUM(w * cents) AS DOUBLE) /
      |    CAST(SUM(w) AS DOUBLE) AS mb
      |  FROM w GROUP BY b),
      |rk AS (SELECT mb, ROW_NUMBER() OVER (ORDER BY mb) AS rn FROM m),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean FROM base)
      |SELECT s.n AS n_orders,
      |  ROUND(s.mean / 100, 4) AS mean_value,
      |  ROUND(MIN(CASE WHEN rn = 2 THEN mb END) / 100, 4) AS ci_lo,
      |  ROUND(MIN(CASE WHEN rn = ${bootReps - 1} THEN mb END) / 100, 4)
      |    AS ci_hi
      |FROM rk CROSS JOIN s
      |GROUP BY s.n, s.mean""".stripMargin) { (s, d) =>
    val base = orders(s, d)
      .select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    // the heavy side never leaves chunk grain: rows explode only to
    // (order, digest-chunk c) — ⌈64/5⌉ = 13 rows per order — and the
    // five replicate weights of each digest are aggregated as FIVE
    // column pairs in one groupBy(c). The per-replicate table is then
    // a 13×5 stack, not a 9.6M-row explode (measured 6.9 → 3.9 → ~1 s
    // at sf0.1 across the three formulations).
    def wOf(u: org.apache.spark.sql.Column) = poissonTh.zipWithIndex
      .foldLeft(when(lit(false), 0)) { case (acc, (t, k)) =>
        acc.when(u < t, k)
      }
      .otherwise(7)
    val chunks = base
      .select(col("k"), col("cents"),
        explode(sequence(lit(0), lit((bootReps + 4) / 5 - 1))).as("c"))
      // hex→int parsing (conv) was the measured hot spot (1.9 s of the
      // 3.4 s query at sf0.1 — more than the md5 itself); the fused
      // Md5HexSlices expression digests once per chunk row and reads
      // both 15-hex-digit values straight off the digest nibbles —
      // value-identical to conv(substring(md5(h), p, 15), 16, 10)
      // (r14 opt; the five 24-bit chunks still come out of the two
      // 60-bit values with integer shifts/masks)
      .withColumn("xs",
        graft.functions.Md5HexSlices(
          concat(col("k").cast("string"), lit("-"),
            col("c").cast("string")).cast("binary"),
          (1, 15), (16, 15)))
      .withColumn("x1", col("xs").getItem(0))
      .withColumn("x2", col("xs").getItem(1))
    val mask = lit(16777215L)
    val us = Seq(
      shiftright(col("x1"), 36),
      shiftright(col("x1"), 12).bitwiseAND(mask),
      shiftleft(col("x1").bitwiseAND(lit(4095L)), 12)
        .bitwiseOR(shiftright(col("x2"), 48)),
      shiftright(col("x2"), 24).bitwiseAND(mask),
      col("x2").bitwiseAND(mask))
    val perChunk = chunks
      .select(col("c") +: col("cents") +: us.zipWithIndex.map {
        case (u, o) => wOf(u).as(s"w$o")
      }: _*)
      .groupBy(col("c"))
      .agg(
        sum(col("w0") * col("cents")).as("s0"), sum(col("w0")).as("n0"),
        sum(col("w1") * col("cents")).as("s1"), sum(col("w1")).as("n1"),
        sum(col("w2") * col("cents")).as("s2"), sum(col("w2")).as("n2"),
        sum(col("w3") * col("cents")).as("s3"), sum(col("w3")).as("n3"),
        sum(col("w4") * col("cents")).as("s4"), sum(col("w4")).as("n4"))
    val m = perChunk
      .selectExpr("c",
        """stack(5, 0, s0, n0, 1, s1, n1, 2, s2, n2,
          |3, s3, n3, 4, s4, n4) AS (o, sw, ww)""".stripMargin)
      .select((col("c") * 5 + col("o")).as("b"),
        (col("sw").cast("double") / col("ww").cast("double")).as("mb"))
      .where(col("b") < bootReps)
    val rk = m.select(col("mb"),
      row_number().over(Window.orderBy(col("mb"))).as("rn"))
    val st = base.agg(
      count(lit(1)).as("n"),
      (sum(col("cents")).cast("double") / count(lit(1))).as("mean"))
    rk.crossJoin(broadcast(st))
      .groupBy(col("n"), col("mean"))
      .agg(
        round(min(when(col("rn") === 2, col("mb"))) / 100, 4)
          .as("ci_lo"),
        round(min(when(col("rn") === bootReps - 1, col("mb"))) / 100, 4)
          .as("ci_hi"))
      .select(
        col("n").as("n_orders"),
        round(col("mean") / 100, 4).as("mean_value"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Benjamini-Hochberg FDR correction over a 30-test family — the
    * multiple-testing step every experimentation readout needs once it
    * reports more than one metric/segment: per DAY, a two-sample
    * z-test of mean event `value` between the md5 50/50 user arms;
    * then the K p-values are ranked and compared against the BH
    * staircase i·α/K (α = 0.05).
    *
    * Determinism: value accumulates as DECIMAL(18,6) (sums exact,
    * order-independent), means/variances become doubles only after
    * exact accumulation; the normal tail uses the public
    * Abramowitz-Stegun 26.2.17 polynomial with IDENTICAL literals on
    * both engines, and the BH rank orders by the 6dp-ROUNDed p with
    * the day as tie-break (the q_map_at_k idiom: rank keys are
    * rounded so ordering can't flip on cross-engine ULPs). The rank
    * window is unpartitioned over the CALENDAR-bounded 30-row test
    * table (whitelisted in RegistryPlanSpec). */
  val qFdrBh: QDef = QDef(
    "q_fdr_bh",
    """WITH e AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
      |      AS day,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
      |      1, 4)) AS INT) % 100 < 50 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |g AS (
      |  SELECT day, arm, COUNT(*) AS n,
      |    CAST(SUM(v) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv
      |  FROM e GROUP BY 1, 2),
      |w AS (
      |  SELECT day,
      |    MAX(CASE WHEN arm = 'A' THEN n END) AS na,
      |    MAX(CASE WHEN arm = 'A' THEN sv END) AS sva,
      |    MAX(CASE WHEN arm = 'A' THEN svv END) AS svva,
      |    MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
      |    MAX(CASE WHEN arm = 'B' THEN sv END) AS svb,
      |    MAX(CASE WHEN arm = 'B' THEN svv END) AS svvb
      |  FROM g GROUP BY day
      |  HAVING MAX(CASE WHEN arm = 'A' THEN n END) >= 2
      |     AND MAX(CASE WHEN arm = 'B' THEN n END) >= 2),
      |z AS (
      |  SELECT day, na, nb,
      |    (sva / na - svb / nb)
      |      / SQRT(((svva - sva * sva / na) / (na - 1)) / na
      |           + ((svvb - svb * svb / nb) / (nb - 1)) / nb) AS zv
      |  FROM w),
      |p AS (
      |  SELECT day, na, nb, zv,
      |    ROUND(2 * (EXP(-zv * zv / 2) / 2.5066282746310002)
      |      * ((1.0 / (1 + 0.2316419 * ABS(zv)))
      |        * (0.319381530 + (1.0 / (1 + 0.2316419 * ABS(zv)))
      |        * (-0.356563782 + (1.0 / (1 + 0.2316419 * ABS(zv)))
      |        * (1.781477937 + (1.0 / (1 + 0.2316419 * ABS(zv)))
      |        * (-1.821255978 + 1.330274429
      |          * (1.0 / (1 + 0.2316419 * ABS(zv)))))))), 6) AS p6
      |  FROM z),
      |r AS (
      |  SELECT day, na, nb, zv, p6,
      |    ROW_NUMBER() OVER (ORDER BY p6, day) AS rnk,
      |    COUNT(*) OVER () AS k
      |  FROM p),
      |r2 AS (
      |  SELECT *, ROUND(rnk * 0.05 / k, 6) AS thr,
      |    MAX(CASE WHEN p6 <= ROUND(rnk * 0.05 / k, 6) THEN rnk END)
      |      OVER () AS kstar
      |  FROM r)
      |SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND(zv, 4) AS z, p6 AS p_value,
      |  CAST(rnk AS INT) AS p_rank, CAST(k AS INT) AS n_tests,
      |  thr AS bh_threshold,
      |  COALESCE(rnk <= kstar, FALSE) AS significant
      |FROM r2
      |ORDER BY day""".stripMargin) { (s, d) =>
    val arm = when(
      graft.functions.Md5HexSlice(
        col("user_id").cast("string").cast("binary"), 1, 4)
        .cast("int") % 100 < 50, "A").otherwise("B")
    val v = col("value").cast("decimal(18,6)")
    val g = events(s, d)
      .select(to_date(date_trunc("day", col("ts"))).as("day"),
        arm.as("arm"), v.as("v"))
      .groupBy(col("day"), col("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sv"),
        sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double")
          .as("svv"))
    val w = g.groupBy(col("day"))
      .agg(
        max(when(col("arm") === "A", col("n"))).as("na"),
        max(when(col("arm") === "A", col("sv"))).as("sva"),
        max(when(col("arm") === "A", col("svv"))).as("svva"),
        max(when(col("arm") === "B", col("n"))).as("nb"),
        max(when(col("arm") === "B", col("sv"))).as("svb"),
        max(when(col("arm") === "B", col("svv"))).as("svvb"))
      .where(col("na") >= 2 && col("nb") >= 2)
    val zv = (col("sva") / col("na") - col("svb") / col("nb")) /
      sqrt(((col("svva") - col("sva") * col("sva") / col("na"))
          / (col("na") - 1)) / col("na")
        + ((col("svvb") - col("svb") * col("svb") / col("nb"))
          / (col("nb") - 1)) / col("nb"))
    val t = lit(1.0) / (lit(1) + lit(0.2316419) * abs(col("zv")))
    val pTwo = lit(2) * (exp(-col("zv") * col("zv") / 2)
        / lit(2.5066282746310002)) *
      (t * (lit(0.319381530) + t * (lit(-0.356563782) + t
        * (lit(1.781477937) + t * (lit(-1.821255978)
          + lit(1.330274429) * t)))))
    val ranked = w
      .select(col("day"), col("na"), col("nb"), zv.as("zv"))
      .withColumn("p6", round(pTwo, 6))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("p6"), col("day"))))
      .withColumn("k", count(lit(1)).over(
        Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val thr = round(col("rnk") * lit(0.05) / col("k"), 6)
    // BH is a STEP-UP rule: reject ranks 1..k* where k* is the LARGEST
    // rank whose p passes its own staircase step — a low-rank p above
    // its step is still rejected when a higher rank passes (a per-rank
    // check would under-reject exactly there)
    val full = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val kstar = max(when(col("p6") <= thr, col("rnk"))).over(full)
    ranked
      .withColumn("thr", thr)
      .withColumn("kstar", kstar)
      .select(
        col("day"), col("na").as("n_a"), col("nb").as("n_b"),
        round(col("zv"), 4).as("z"), col("p6").as("p_value"),
        col("rnk").as("p_rank"), col("k").cast("int").as("n_tests"),
        col("thr").as("bh_threshold"),
        coalesce(col("rnk") <= col("kstar"), lit(false))
          .as("significant"))
      .orderBy(col("day"))
  }

  /** Power analysis / sample-size planning — the question every
    * experiment DESIGN starts with: per event_type, how many
    * observations per arm does a two-sample test of mean `value` need
    * to detect a 5%-of-mean shift at α = 0.05 (two-sided) with 80%
    * power? n/arm = ⌈2·σ²·(z_{α/2} + z_β)² / δ²⌉ with the standard
    * normal quantile sum as ONE shared literal (2.801585) so the
    * engines cannot disagree on its rounding.
    * Variance from DECIMAL-exact sums (the q_fdr_bh discipline);
    * the ceil runs on a ROUND(…, 6)-quantized operand so an
    * engine-ULP cannot flip an integer boundary. */
  val qPowerMde: QDef = QDef(
    "q_power_mde",
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,6))
      |      * CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12)))
      |      AS DOUBLE) AS svv
      |  FROM events GROUP BY event_type
      |  HAVING COUNT(*) >= 2),
      |s AS (
      |  SELECT event_type, n,
      |    sv / n AS mean,
      |    GREATEST((svv - sv * sv / n) / (n - 1), 0) AS var,
      |    0.05 * sv / n AS mde
      |  FROM g)
      |SELECT event_type, CAST(n AS BIGINT) AS n_observed,
      |  ROUND(mean, 4) AS mean_value,
      |  ROUND(SQRT(var), 4) AS stddev,
      |  ROUND(mde, 4) AS mde_abs,
      |  CAST(CEIL(ROUND(
      |    2 * var * 2.801585 * 2.801585
      |      / (mde * mde), 6)) AS BIGINT) AS n_per_arm
      |FROM s
      |WHERE mde > 0
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val v = col("value").cast("decimal(18,6)")
    val g = events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(v).cast("double").as("sv"),
        sum((v * v).cast("decimal(38,12)")).cast("double").as("svv"))
      .where(col("n") >= 2)
    val mean = col("sv") / col("n")
    // GREATEST(·, 0): an all-equal-value group's cancellation can land
    // at -1e-12, whose SQRT is NaN in Spark but an error in DuckDB;
    // the mde > 0 filter keeps a zero-mean group from dividing by 0.0
    // (Infinity→ceil→overflow diverges between engines)
    val variance = greatest(
      (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1),
      lit(0))
    val mde = lit(0.05) * mean
    val zsum = lit(2.801585) // z_{0.025} + z_{0.20}, single shared literal
    g.where(mde > 0).select(
        col("event_type"), col("n").as("n_observed"),
        round(mean, 4).as("mean_value"),
        round(sqrt(variance), 4).as("stddev"),
        round(mde, 4).as("mde_abs"),
        ceil(round(lit(2) * variance * zsum * zsum / (mde * mde), 6))
          .cast("bigint").as("n_per_arm"))
      .orderBy(col("event_type"))
  }

  /** Off-policy evaluation via inverse propensity scoring — "what
    * would the TARGET policy have earned?" answered from logged data
    * WITHOUT running it (Horvitz–Thompson / IPS, plus the
    * self-normalized SNIPS variant that trades a little bias for much
    * lower variance). Logged policy: the md5 50/50 arm split (known
    * propensity 0.5 per arm — the same assignment q_abtest_ztest /
    * q_fdr_bh analyze). Target policy: a deterministic context rule
    * (arm A before noon, B after — "context" = the event's hour).
    * IPS = Σ 1{logged=target}·v / (0.5·n); SNIPS = Σ_match v / n_match.
    *
    * Determinism: rewards accumulate as DECIMAL(18,6) (exact,
    * order-independent) and become doubles only at the final division;
    * one hash aggregate per event_type, no window, no shuffle beyond
    * the group-by — partition-parallel at any scale. */
  val qIpsPolicyValue: QDef = QDef(
    "q_ips_policy_value",
    """WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
      |      1, 4)) AS INT) % 100 < 50 THEN 'A' ELSE 'B' END AS logged,
      |    CASE WHEN hour(CAST(ts AS TIMESTAMP)) < 12
      |      THEN 'A' ELSE 'B' END AS target,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(*) FILTER (WHERE logged = target) AS BIGINT)
      |      AS n_match,
      |    CAST(SUM(CASE WHEN logged = target THEN v
      |             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
      |      AS sv_match
      |  FROM e GROUP BY event_type)
      |SELECT event_type, n, n_match,
      |  ROUND(n_match * 1.0 / n, 4) AS match_rate,
      |  ROUND(sv_match / 0.5 / n, 6) AS ips_value,
      |  ROUND(sv_match / n_match, 6) AS snips_value
      |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
    val logged = when(
      graft.functions.Md5HexSlice(
        col("user_id").cast("string").cast("binary"), 1, 4)
        .cast("int") % 100 < 50, "A").otherwise("B")
    val target = when(hour(col("ts")) < 12, "A").otherwise("B")
    val g = events(s, d)
      .select(col("event_type"), logged.as("logged"),
        target.as("target"), col("value").cast("decimal(18,6)").as("v"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("logged") === col("target")).as("n_match"),
        sum(when(col("logged") === col("target"), col("v"))
          .otherwise(lit(0).cast("decimal(18,6)")))
          .cast("double").as("sv_match"))
    g.select(col("event_type"), col("n"), col("n_match"),
        round(col("n_match") * lit(1.0) / col("n"), 4).as("match_rate"),
        round(col("sv_match") / 0.5 / col("n"), 6).as("ips_value"),
        round(col("sv_match") / col("n_match"), 6).as("snips_value"))
      .orderBy(col("event_type"))
  }

  /** Doubly-robust off-policy estimate — the production upgrade of
    * q_ips_policy_value: DR = direct-model value + the IPS-weighted
    * correction on matched rows, unbiased if EITHER the reward model
    * OR the propensity is right (here the propensity IS right by
    * construction, and the model absorbs most of the variance). The
    * reward model is the per-(event_type, arm) mean; policies are the
    * same md5-logged / hour-rule-target pair as the IPS query.
    *
    * Determinism: everything reduces to a ≤ 4-row-per-type grouped
    * table (logged × target) with exact counts and DECIMAL reward
    * sums; the per-group double addends (cnt·μ̂ terms) are QUANTIZED
    * to integer micro-units before the cross-group sum, so the final
    * division never sees an order-dependent double accumulation. */
  val qDrPolicyValue: QDef = QDef(
    "q_dr_policy_value",
    """WITH e AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
      |      1, 4)) AS INT) % 100 < 50 THEN 'A' ELSE 'B' END AS logged,
      |    CASE WHEN hour(CAST(ts AS TIMESTAMP)) < 12
      |      THEN 'A' ELSE 'B' END AS target,
      |    CAST(value AS DECIMAL(18,6)) AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type, logged AS arm,
      |    CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu
      |  FROM e GROUP BY event_type, logged),
      |g AS (
      |  SELECT event_type, logged, target,
      |    CAST(COUNT(*) AS BIGINT) AS cnt,
      |    CAST(SUM(v) AS DOUBLE) AS sv
      |  FROM e GROUP BY event_type, logged, target),
      |j AS (
      |  SELECT g.event_type, g.logged, g.target, g.cnt, g.sv,
      |    mt.mu AS mu_t, ml.mu AS mu_l
      |  FROM g
      |  JOIN m mt ON mt.event_type = g.event_type
      |    AND mt.arm = g.target
      |  JOIN m ml ON ml.event_type = g.event_type
      |    AND ml.arm = g.logged),
      |agg AS (
      |  SELECT event_type,
      |    CAST(SUM(cnt) AS BIGINT) AS n,
      |    SUM(CAST(FLOOR(cnt * mu_t * 1e6) AS BIGINT)) AS dm_micro,
      |    SUM(CASE WHEN logged = target
      |      THEN CAST(FLOOR((sv - cnt * mu_l) * 1e6) AS BIGINT)
      |      ELSE 0 END) AS corr_micro
      |  FROM j GROUP BY event_type)
      |SELECT event_type, n,
      |  ROUND(CAST(dm_micro AS DOUBLE) / 1e6 / n, 6) + 0.0 AS dm_value,
      |  ROUND(2 * CAST(corr_micro AS DOUBLE) / 1e6 / n, 6) + 0.0
      |    AS ips_corr,
      |  ROUND((CAST(dm_micro AS DOUBLE)
      |    + 2 * CAST(corr_micro AS DOUBLE)) / 1e6 / n, 6) + 0.0
      |    AS dr_value
      |FROM agg ORDER BY event_type""".stripMargin) { (s, d) =>
    val logged = when(
      graft.functions.Md5HexSlice(
        col("user_id").cast("string").cast("binary"), 1, 4)
        .cast("int") % 100 < 50, "A").otherwise("B")
    val target = when(hour(col("ts")) < 12, "A").otherwise("B")
    val e = events(s, d)
      .select(col("event_type"), logged.as("logged"),
        target.as("target"), col("value").cast("decimal(18,6)").as("v"))
    // ONE scan: the cell table g keeps its reward sums DECIMAL-exact,
    // and the reward model m is DERIVED from g (a decimal sum of
    // per-cell decimal sums is the row-level sum exactly, so
    // mu = Σ_cells sv / Σ_cells cnt is bit-identical to aggregating
    // the raw rows — the oracle keeps the two-aggregate form, same
    // values)
    val g0 = e.groupBy(col("event_type"), col("logged"), col("target"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv_dec"))
      .localCheckpoint()
    val m = g0.groupBy(col("event_type"), col("logged").as("arm"))
      .agg((sum(col("sv_dec")).cast("double") / sum(col("cnt")))
        .as("mu"))
    val g = g0.select(col("event_type"), col("logged"), col("target"),
      col("cnt"), col("sv_dec").cast("double").as("sv"))
    val mt = m.select(col("event_type").as("et_t"), col("arm").as("arm_t"),
      col("mu").as("mu_t"))
    val ml = m.select(col("event_type").as("et_l"), col("arm").as("arm_l"),
      col("mu").as("mu_l"))
    val j = g
      .join(broadcast(mt),
        col("event_type") === col("et_t") && col("target") === col("arm_t"))
      .join(broadcast(ml),
        col("event_type") === col("et_l") && col("logged") === col("arm_l"))
    val agg = j.groupBy(col("event_type"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(floor(col("cnt") * col("mu_t") * 1e6).cast("bigint"))
          .as("dm_micro"),
        sum(when(col("logged") === col("target"),
          floor((col("sv") - col("cnt") * col("mu_l")) * 1e6)
            .cast("bigint")).otherwise(0L)).as("corr_micro"))
    agg.select(col("event_type"), col("n"),
        (round(col("dm_micro").cast("double") / 1e6 / col("n"), 6)
          + 0.0).as("dm_value"),
        (round(lit(2) * col("corr_micro").cast("double") / 1e6
          / col("n"), 6) + 0.0).as("ips_corr"),
        (round((col("dm_micro").cast("double")
          + lit(2) * col("corr_micro").cast("double")) / 1e6
          / col("n"), 6) + 0.0).as("dr_value"))
      .orderBy(col("event_type"))
  }

  val defs: Seq[QDef] =
    Seq(qGrowthAccounting, qDidEffect, qBootstrapCi, qSrmCheck,
      qCupedEffect, qFdrBh, qPowerMde, qIpsPolicyValue, qDrPolicyValue)
}
