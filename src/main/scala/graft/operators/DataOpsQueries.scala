package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Round-5 extensions: the operational layer a production data platform
  * runs around the relational core — referential-integrity audits,
  * rule-based data-quality checks, distribution-drift statistics
  * (PSI / KL), grouped least-squares fits, robust (MAD) outlier
  * flagging, token-budget shard packing for training-data export,
  * int8 embedding quantization, and a feature correlation matrix.
  *
  * Scale shapes: audits are anti-joins (dimension side broadcastable,
  * fact side never collected); drift and MAD run as
  * aggregate → broadcast-join-back → aggregate (never a window over a
  * low-cardinality partition); shard packing uses a two-level prefix
  * sum (per-bucket subtotals + a ≤33-row offset window) instead of the
  * textbook single-partition global cumsum, so the heavy window stays
  * partitioned by bucket.
  */
object DataOpsQueries {

  /** Referential-integrity audit over every FK edge of the star schema
    * in one result: per edge, the count of child rows whose key has no
    * parent (LEFT ANTI join — the dimension build side broadcasts; the
    * fact side streams, so the audit scales to any fact size). NULL
    * child keys count as orphans on both engines (anti-join keeps
    * null-keyed rows; NOT EXISTS finds no match). */
  val qFkOrphans: QDef = QDef(
    "q_fk_orphans",
    """SELECT 'customer->nation' AS edge, COUNT(*) AS n_orphans
      |FROM customer c WHERE NOT EXISTS
      |  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
      |UNION ALL
      |SELECT 'lineitem->orders', COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem->part', COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |UNION ALL
      |SELECT 'lineitem->supplier', COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |  (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      |UNION ALL
      |SELECT 'nation->region', COUNT(*) FROM nation n WHERE NOT EXISTS
      |  (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)
      |UNION ALL
      |SELECT 'orders->customer', COUNT(*) FROM orders o WHERE NOT EXISTS
      |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'supplier->nation', COUNT(*) FROM supplier s WHERE NOT EXISTS
      |  (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
      |ORDER BY edge""".stripMargin) { (s, d) =>
    def orphans(edge: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      child.join(parent, child(ck) === parent(pk), "left_anti")
        .agg(lit(edge).as("edge"), count(lit(1)).as("n_orphans"))
        .select(col("edge"), col("n_orphans"))
    orphans("customer->nation", customer(s, d), "c_nationkey",
        nation(s, d), "n_nationkey")
      .unionAll(orphans("lineitem->orders", lineitem(s, d), "l_orderkey",
        orders(s, d), "o_orderkey"))
      .unionAll(orphans("lineitem->part", lineitem(s, d), "l_partkey",
        part(s, d), "p_partkey"))
      .unionAll(orphans("lineitem->supplier", lineitem(s, d), "l_suppkey",
        supplier(s, d), "s_suppkey"))
      .unionAll(orphans("nation->region", nation(s, d), "n_regionkey",
        region(s, d), "r_regionkey"))
      .unionAll(orphans("orders->customer", orders(s, d), "o_custkey",
        customer(s, d), "c_custkey"))
      .unionAll(orphans("supplier->nation", supplier(s, d), "s_nationkey",
        nation(s, d), "n_nationkey"))
      .orderBy(col("edge"))
  }

  /** Rule-based data-quality report: seven domain rules evaluated in
    * ONE scan of lineitem (conditional counts in a single aggregate,
    * reshaped long with `stack`), vs. the naive one-scan-per-rule
    * audit — at 100 TB the difference is 7 table reads vs 1. */
  val qDqRules: QDef = QDef(
    "q_dq_rules",
    """SELECT 'bad_returnflag' AS rule, COUNT(*) FILTER (
      |    WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS violations
      |  FROM lineitem
      |UNION ALL SELECT 'discount_out_of_range', COUNT(*) FILTER (
      |    WHERE l_discount < 0 OR l_discount > 1) FROM lineitem
      |UNION ALL SELECT 'future_shipdate', COUNT(*) FILTER (
      |    WHERE l_shipdate > TIMESTAMP '2030-01-01') FROM lineitem
      |UNION ALL SELECT 'negative_tax', COUNT(*) FILTER (
      |    WHERE l_tax < 0) FROM lineitem
      |UNION ALL SELECT 'nonpositive_price', COUNT(*) FILTER (
      |    WHERE l_extendedprice <= 0) FROM lineitem
      |UNION ALL SELECT 'nonpositive_qty', COUNT(*) FILTER (
      |    WHERE l_quantity <= 0) FROM lineitem
      |UNION ALL SELECT 'null_orderkey', COUNT(*) FILTER (
      |    WHERE l_orderkey IS NULL) FROM lineitem
      |ORDER BY rule""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .agg(
        count_if(!col("l_returnflag").isin("A", "N", "R")).as("c1"),
        count_if(col("l_discount") < 0 || col("l_discount") > 1).as("c2"),
        count_if(col("l_shipdate") > lit("2030-01-01").cast("timestamp"))
          .as("c3"),
        count_if(col("l_tax") < 0).as("c4"),
        count_if(col("l_extendedprice") <= 0).as("c5"),
        count_if(col("l_quantity") <= 0).as("c6"),
        count_if(col("l_orderkey").isNull).as("c7"))
      .selectExpr(
        """stack(7,
          |  'bad_returnflag', c1,
          |  'discount_out_of_range', c2,
          |  'future_shipdate', c3,
          |  'negative_tax', c4,
          |  'nonpositive_price', c5,
          |  'nonpositive_qty', c6,
          |  'null_orderkey', c7) AS (rule, violations)""".stripMargin)
      .orderBy(col("rule"))
  }

  /** Population Stability Index per event_type between the first and
    * second half of the month — the standard drift monitor between a
    * reference and a live window. Fixed-width value buckets (50-wide,
    * clamped to 10) so edges are data-independent and exact on both
    * engines; 0.5 Laplace smoothing keeps a bucket observed on only
    * ONE side finite (the +5.0 denominator is calibrated to the 10
    * bucket slots, but the sum runs over buckets observed in at least
    * one half — a bucket empty on BOTH sides contributes no term, so
    * this is smoothed-PSI over the observed support, not the full
    * fixed grid). Shape:
    * one (type, bucket) count pass, a 5-row per-type total join, and a
    * ≤50-row final fold — nothing after the first aggregate sees the
    * fact table. */
  val qPsiDrift: QDef = QDef(
    "q_psi_drift",
    """WITH b AS (
      |  SELECT event_type,
      |    LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bucket,
      |    COUNT(*) FILTER (WHERE date_part('day', ts) <= 15) AS ca,
      |    COUNT(*) FILTER (WHERE date_part('day', ts) > 15) AS cb
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, SUM(ca) AS ta, SUM(cb) AS tb
      |  FROM b GROUP BY 1)
      |SELECT b.event_type,
      |  ROUND(SUM(
      |    ((b.ca + 0.5) / (t.ta + 5.0) - (b.cb + 0.5) / (t.tb + 5.0)) *
      |    LN(((b.ca + 0.5) / (t.ta + 5.0)) /
      |       ((b.cb + 0.5) / (t.tb + 5.0)))), 6) AS psi
      |FROM b JOIN t USING (event_type)
      |GROUP BY b.event_type
      |ORDER BY b.event_type""".stripMargin) { (s, d) =>
    val b = events(s, d)
      .groupBy(
        col("event_type"),
        least(floor(col("value") / 50).cast("bigint"), lit(9L))
          .as("bucket"))
      .agg(
        count_if(dayofmonth(col("ts")) <= 15).as("ca"),
        count_if(dayofmonth(col("ts")) > 15).as("cb"))
    val t = b.groupBy(col("event_type"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val p = (col("ca") + 0.5) / (col("ta") + 5.0)
    val q = (col("cb") + 0.5) / (col("tb") + 5.0)
    b.join(t, "event_type")
      .groupBy(col("event_type"))
      .agg(round(sum((p - q) * log(p / q)), 6).as("psi"))
      .orderBy(col("event_type"))
  }

  /** KL divergence of the event-type mix, week 1 vs the rest of the
    * month — categorical drift, reported per category (contribution)
    * so the drifting class is visible, not just the total. Laplace
    * 0.5 smoothing; totals join is 1 row broadcast back to 5. */
  val qKlDrift: QDef = QDef(
    "q_kl_drift",
    """WITH c AS (
      |  SELECT event_type,
      |    COUNT(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-08') AS ca,
      |    COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-08') AS cb
      |  FROM events GROUP BY 1),
      |t AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM c)
      |SELECT c.event_type,
      |  ROUND((c.ca + 0.5) / (t.ta + 2.5), 6) AS p_ref,
      |  ROUND((c.cb + 0.5) / (t.tb + 2.5), 6) AS p_live,
      |  ROUND(((c.ca + 0.5) / (t.ta + 2.5)) *
      |    LN(((c.ca + 0.5) / (t.ta + 2.5)) /
      |       ((c.cb + 0.5) / (t.tb + 2.5))), 6) AS kl_term
      |FROM c CROSS JOIN t
      |ORDER BY c.event_type""".stripMargin) { (s, d) =>
    val cut = lit("2024-01-08").cast("timestamp")
    val c = events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count_if(col("ts") < cut).as("ca"),
        count_if(col("ts") >= cut).as("cb"))
    val t = c.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val p = (col("ca") + 0.5) / (col("ta") + 2.5)
    val q = (col("cb") + 0.5) / (col("tb") + 2.5)
    c.crossJoin(t)
      .select(
        col("event_type"),
        round(p, 6).as("p_ref"),
        round(q, 6).as("p_live"),
        round(p * log(p / q), 6).as("kl_term"))
      .orderBy(col("event_type"))
  }

  /** Grouped least-squares fit: price-on-quantity regression per
    * return flag via the ANSI REGR_* aggregate family (one pass,
    * partial-aggregated moments — never a per-group collect). */
  val qLinregGroup: QDef = QDef(
    "q_linreg_group",
    """SELECT l_returnflag,
      |  ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
      |  ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4)
      |    AS intercept,
      |  ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
      |  CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
          .as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity"))
          .cast("bigint").as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Robust outlier flagging: per event_type median + MAD (median
    * absolute deviation), outlier = |x − med| > 3.5 · 1.4826 · MAD —
    * the modified-z-score rule that, unlike q_anomaly_zscore's 3σ,
    * is not itself dragged by the outliers it hunts. Two exact
    * interpolated-median aggregates with tiny (≤5-row) broadcast
    * joins back; the fact table is scanned, never windowed. */
  val qMadOutlier: QDef = QDef(
    "q_mad_outlier",
    """WITH m AS (
      |  SELECT event_type, MEDIAN(value) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, e.value, m.med,
      |    ABS(e.value - m.med) AS adev
      |  FROM events e JOIN m USING (event_type)),
      |s AS (
      |  SELECT event_type, MEDIAN(adev) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT dev.event_type,
      |  ROUND(MAX(dev.med), 6) AS med,
      |  ROUND(MAX(s.mad), 6) AS mad,
      |  COUNT(*) FILTER (
      |    WHERE ABS(dev.value - dev.med) > 3.5 * 1.4826 * s.mad)
      |    AS n_outliers,
      |  COUNT(*) AS n
      |FROM dev JOIN s USING (event_type)
      |GROUP BY dev.event_type
      |ORDER BY dev.event_type""".stripMargin) { (s, d) =>
    val e = events(s, d).select(col("event_type"), col("value"))
    val m = e.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = e.join(m, "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mads = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(mads, "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        count_if(abs(col("value") - col("med")) >
          lit(3.5) * lit(1.4826) * col("mad")).as("n_outliers"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  private val shardBudget = 5000L

  /** Token-budget shard packing for training-data export: documents in
    * doc_id order are packed into ~5000-token shards; a doc belongs to
    * the shard containing its START offset (exclusive prefix sum div
    * budget), so shard boundaries never split the stable doc order.
    *
    * The oracle states it as the textbook global cumsum window. The
    * engine computes the SAME prefix sum scalably: doc_ids are
    * range-bucketed (33 buckets off max(doc_id), a 1-row broadcast),
    * per-bucket token subtotals get exclusive offsets through a
    * ≤33-row window (bounded cardinality — safe single partition),
    * and the heavy per-doc cumsum window runs PARTITIONED BY bucket.
    * At 100 TB the textbook form serializes the corpus through one
    * task; this form's only global step is 33 rows. */
  /** The parameterized core of q_shard_pack: pack (doc_id, toks) rows
    * into start-offset shards of `budget` tokens via the two-level
    * prefix sum (exposed for reuse and property testing — the QDef
    * below binds it to the documents table with the ws tokenizer). */
  def shardPack(tok: DataFrame, budget: Long): DataFrame = {
    val width = tok.agg(
      (floor(max(col("doc_id")) / 32) + 1).cast("bigint").as("w"))
    val bucketed = tok.crossJoin(broadcast(width))
      .withColumn("bucket", (col("doc_id") / col("w")).cast("bigint"))
    val inner = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(sum(col("toks")).as("btoks"))
      .withColumn(
        "boff",
        coalesce(
          sum(col("btoks")).over(
            Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("boff"))
    bucketed
      .join(broadcast(offsets), "bucket")
      .withColumn(
        "start_off",
        col("boff") + coalesce(sum(col("toks")).over(inner), lit(0L)))
      .groupBy((col("start_off") / budget).cast("bigint").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"))
  }

  val qShardPack: QDef = QDef(
    "q_shard_pack",
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    COALESCE(SUM(toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS start_off
      |  FROM tok)
      |SELECT CAST(FLOOR(start_off / $shardBudget) AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS shard_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c
      |GROUP BY 1
      |ORDER BY shard""".stripMargin) { (s, d) =>
    shardPack(
      documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("toks")),
      shardBudget)
  }

  /** Symmetric int8 quantization of embeddings (the storage/serving
    * format for ANN at corpus scale): per-vector scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [−127, 127]. Emitted as per-vector
    * audit stats (scale + quantized L1/sum + saturation count) rather
    * than 64 columns; both engines derive them over identical IEEE
    * doubles, so the rounded ints match exactly.
    *
    * The oracle states it with list lambdas; the engine POSEXPLODEs to
    * element grain and aggregates — array HOFs are interpreted (no
    * codegen) and Catalyst re-evaluates the shared quantized-array
    * subexpression once per consuming aggregate (4×), measured 3.0 s
    * vs 0.4 s at sf0.1. Element grain keeps every op inside
    * whole-stage codegen; the scale join and the stats aggregate hash
    * on vec_id, and AQE reuses the exchange.
    *
    * Degenerate vectors are excluded EXPLICITLY on both engines
    * (scale > 0): an all-zero embedding would quantize 0/0 (NaN→null
    * bigint in Spark but an error-free 0 path in DuckDB), and an
    * empty embedding has no elements to quantize (the engine's explode
    * drops it; DuckDB's list_max yields NULL, which the guard also
    * removes) — without the shared guard the two engines disagree on
    * exactly these rows. */
  val qEmbedQuantize: QDef = QDef(
    "q_embed_quantize",
    """SELECT vec_id,
      |  ROUND(list_max(list_transform(embedding,
      |    x -> ABS(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale,
      |  CAST(list_sum(list_transform(embedding, x ->
      |    ROUND(CAST(x AS DOUBLE) /
      |      (list_max(list_transform(embedding,
      |         y -> ABS(CAST(y AS DOUBLE)))) / 127.0))))
      |    AS BIGINT) AS q_sum,
      |  CAST(list_sum(list_transform(embedding, x ->
      |    ABS(ROUND(CAST(x AS DOUBLE) /
      |      (list_max(list_transform(embedding,
      |         y -> ABS(CAST(y AS DOUBLE)))) / 127.0)))))
      |    AS BIGINT) AS q_l1,
      |  CAST(len(list_filter(list_transform(embedding, x ->
      |    ABS(ROUND(CAST(x AS DOUBLE) /
      |      (list_max(list_transform(embedding,
      |         y -> ABS(CAST(y AS DOUBLE)))) / 127.0)))),
      |    v -> v >= 127)) AS BIGINT) AS n_sat
      |FROM embeddings
      |WHERE list_max(list_transform(embedding,
      |  x -> ABS(CAST(x AS DOUBLE)))) > 0
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val elems = embeddings(s, d)
      .select(col("vec_id"),
        explode(col("embedding")).as("x"))
      .select(col("vec_id"), col("x").cast("double").as("xd"))
    val scales = elems.groupBy(col("vec_id"))
      .agg((max(abs(col("xd"))) / 127.0).as("sc"))
      .filter(col("sc") > 0)
    elems.join(scales, "vec_id")
      .select(col("vec_id"), col("sc"),
        round(col("xd") / col("sc")).as("qe"))
      .groupBy(col("vec_id"))
      .agg(
        round(max(col("sc")), 9).as("scale"),
        sum(col("qe")).cast("bigint").as("q_sum"),
        sum(abs(col("qe"))).cast("bigint").as("q_l1"),
        count_if(abs(col("qe")) >= 127).as("n_sat"))
      .orderBy(col("vec_id"))
  }

  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * measures — the feature-redundancy screen before model training.
    * All 6 pairs in ONE pass (co-moments partial-aggregate cleanly),
    * reshaped long with `stack`. */
  val qCorrMatrix: QDef = QDef(
    "q_corr_matrix",
    """SELECT * FROM (
      |  SELECT 'discount~tax' AS pair,
      |    ROUND(CORR(l_discount, l_tax), 6) AS r FROM lineitem
      |  UNION ALL SELECT 'quantity~discount',
      |    ROUND(CORR(l_quantity, l_discount), 6) FROM lineitem
      |  UNION ALL SELECT 'quantity~price',
      |    ROUND(CORR(l_quantity, l_extendedprice), 6) FROM lineitem
      |  UNION ALL SELECT 'quantity~tax',
      |    ROUND(CORR(l_quantity, l_tax), 6) FROM lineitem
      |  UNION ALL SELECT 'price~discount',
      |    ROUND(CORR(l_extendedprice, l_discount), 6) FROM lineitem
      |  UNION ALL SELECT 'price~tax',
      |    ROUND(CORR(l_extendedprice, l_tax), 6) FROM lineitem)
      |ORDER BY pair""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .agg(
        round(corr(col("l_discount"), col("l_tax")), 6).as("c1"),
        round(corr(col("l_quantity"), col("l_discount")), 6).as("c2"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("c3"),
        round(corr(col("l_quantity"), col("l_tax")), 6).as("c4"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6).as("c5"),
        round(corr(col("l_extendedprice"), col("l_tax")), 6).as("c6"))
      .selectExpr(
        """stack(6,
          |  'discount~tax', c1,
          |  'quantity~discount', c2,
          |  'quantity~price', c3,
          |  'quantity~tax', c4,
          |  'price~discount', c5,
          |  'price~tax', c6) AS (pair, r)""".stripMargin)
      .orderBy(col("pair"))
  }

  /** k-anonymity audit over the quasi-identifier tuple (nation, market
    * segment, account-balance kilo-bucket): per nation, the number of
    * distinct QI groups, the worst-case group size (the k of
    * k-anonymity), and how many rows sit in groups under the k=5
    * re-identification threshold. Two hash aggregates — group sizes,
    * then the per-nation fold — nothing else touches the table; the QI
    * bucket edges are data-independent constants, so the audit is
    * partition-parallel at any scale. */
  val qKAnonymity: QDef = QDef(
    "q_k_anonymity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
      |    COUNT(*) AS grp_n
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(grp_n) AS BIGINT) AS k_anon,
      |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
      |    AS rows_at_risk,
      |  ROUND(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1.0
      |    / SUM(grp_n), 4) AS risk_share
      |FROM g GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    val g = customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("bigint").as("bal_bucket"))
      .agg(count(lit(1)).as("grp_n"))
    val atRisk = sum(when(col("grp_n") < 5, col("grp_n")).otherwise(0L))
    g.groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_groups"),
        min(col("grp_n")).as("k_anon"),
        atRisk.as("rows_at_risk"),
        round(atRisk * lit(1.0) / sum(col("grp_n")), 4).as("risk_share"))
      .orderBy(col("c_nationkey"))
  }

  /** l-diversity audit — k-anonymity's complement (privacy trio with
    * q_k_anonymity and q_dp_count_noise): a group can be large (k-safe)
    * yet still leak if every member shares the SENSITIVE value. Per
    * quasi-identifier group (nation × account-balance kilo-bucket),
    * count the distinct sensitive values (market segment); report per
    * nation the worst group's l, how many groups sit under l = 3, and
    * the share of ROWS in those groups. Same two-hash-aggregate shape
    * as the k audit — partition-parallel at any scale; the
    * count-distinct inside the first aggregate is exact but bounded
    * (≤ 5 segments), so no expand-explosion. */
  val qLDiversity: QDef = QDef(
    "q_l_diversity",
    """WITH g AS (
      |  SELECT c_nationkey,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
      |    COUNT(DISTINCT c_mktsegment) AS l,
      |    COUNT(*) AS grp_n
      |  FROM customer GROUP BY 1, 2)
      |SELECT c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(l) AS BIGINT) AS min_l,
      |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS groups_below_3,
      |  ROUND(SUM(CASE WHEN l < 3 THEN grp_n ELSE 0 END) * 1.0
      |    / SUM(grp_n), 4) AS rows_at_risk_share
      |FROM g GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    val g = customer(s, d)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("bigint").as("bal_bucket"))
      .agg(
        countDistinct(col("c_mktsegment")).as("l"),
        count(lit(1)).as("grp_n"))
    g.groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_groups"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("groups_below_3"),
        round(
          sum(when(col("l") < 3, col("grp_n")).otherwise(0L)) * lit(1.0)
            / sum(col("grp_n")), 4).as("rows_at_risk_share"))
      .orderBy(col("c_nationkey"))
  }

  /** Differentially-private released counts (the seeded/reproducible
    * variant): per (event_type, day), the true count plus Laplace(1/ε)
    * noise at ε = 1, the noise drawn through the exact inverse CDF
    * from a 24-bit md5 uniform — a pure function of the group key, so
    * the release is identical across engines and re-runs. REAL DP
    * needs fresh randomness per release (a replayable seed leaks the
    * true count to anyone who can recompute it); the seeded form is
    * what a test/CI pipeline uses so the privacy plumbing is
    * hash-gate-checkable, and the doc contract says exactly that.
    * `released` clamps at zero (counts are nonnegative post-processing
    * — allowed under DP). One hash aggregate, per-row noise map:
    * partition-parallel at any scale. Both ROUNDed columns fold
    * negative zero (+ 0.0) — a noisy count CAN land within ±5e-5 of
    * zero. */
  val qDpCountNoise: QDef = QDef(
    "q_dp_count_noise",
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |h AS (
      |  SELECT event_type, day, cnt,
      |    (CAST(('0x' || substr(md5(event_type || '|'
      |        || CAST(day AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
      |      / 16777216.0 AS u
      |  FROM c),
      |z AS (
      |  SELECT event_type, day, cnt,
      |    CASE WHEN u < 0.5 THEN ln(2 * u) ELSE -ln(2 - 2 * u) END
      |      AS noise
      |  FROM h)
      |SELECT event_type, day,
      |  ROUND(cnt + noise, 4) + 0.0 AS noisy_count,
      |  ROUND(GREATEST(cnt + noise, 0.0), 4) + 0.0 AS released
      |FROM z
      |ORDER BY event_type, day""".stripMargin) { (s, d) =>
    val c = events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val u = (graft.functions.Md5HexSlice(
      concat(col("event_type"), lit("|"),
        col("day").cast("string")).cast("binary"), 1, 6)
      + lit(0.5)) / lit(16777216.0)
    val noise = when(u < 0.5, log(lit(2) * u))
      .otherwise(-log(lit(2) - lit(2) * u))
    c.select(col("event_type"), col("day"),
        (col("cnt") + noise).as("nc"))
      .select(col("event_type"), col("day"),
        (round(col("nc"), 4) + 0.0).as("noisy_count"),
        (round(greatest(col("nc"), lit(0.0)), 4) + 0.0).as("released"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Key-skew diagnostics for the shuffle planner: the per-key count
    * distribution of lineitem's supplier key — key cardinality, max and
    * interpolated p50/p99 per-key counts, coefficient of variation from
    * EXACT integer moment sums (never a streaming stddev, whose
    * accumulation order is engine-private), the heaviest key's
    * oversampling factor vs uniform, and the top-10 keys' share. This
    * is the report that decides salting/AQE-skew settings BEFORE a
    * 100 TB join: one hash aggregate over the fact table, then
    * everything runs on the bounded key-count table (top-10 is a
    * TakeOrdered, not a sort). */
  val qSkewMetrics: QDef = QDef(
    "q_skew_metrics",
    """WITH k AS (
      |  SELECT l_suppkey, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY l_suppkey),
      |s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(cnt) AS BIGINT) AS total_rows,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |    quantile_cont(cnt, 0.50) AS p50,
      |    quantile_cont(cnt, 0.99) AS p99,
      |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
      |  FROM k),
      |t AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS top10
      |  FROM (SELECT cnt FROM k ORDER BY cnt DESC, l_suppkey LIMIT 10))
      |SELECT n_keys, total_rows, max_cnt,
      |  ROUND(p50, 2) AS p50_cnt, ROUND(p99, 2) AS p99_cnt,
      |  ROUND(SQRT((n_keys * sxx - total_rows * total_rows) * 1.0
      |      / (n_keys * (n_keys - 1.0)))
      |    / (total_rows * 1.0 / n_keys), 4) AS cv,
      |  ROUND(max_cnt * 1.0 * n_keys / total_rows, 4) AS max_skew,
      |  ROUND(top10 * 1.0 / total_rows, 4) AS top10_share
      |FROM s CROSS JOIN t""".stripMargin) { (s, d) =>
    val k = lineitem(s, d).groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("cnt"))
    val stats = k.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("total_rows"),
      max(col("cnt")).as("max_cnt"),
      percentile(col("cnt"), lit(0.50)).as("p50"),
      percentile(col("cnt"), lit(0.99)).as("p99"),
      sum(col("cnt") * col("cnt")).as("sxx"))
    val top10 = k.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
      .agg(sum(col("cnt")).as("top10"))
    stats.crossJoin(broadcast(top10))
      .select(
        col("n_keys"), col("total_rows"), col("max_cnt"),
        round(col("p50"), 2).as("p50_cnt"),
        round(col("p99"), 2).as("p99_cnt"),
        round(sqrt((col("n_keys") * col("sxx") -
            col("total_rows") * col("total_rows")) * lit(1.0) /
            (col("n_keys") * (col("n_keys") - lit(1.0)))) /
          (col("total_rows") * lit(1.0) / col("n_keys")), 4).as("cv"),
        round(col("max_cnt") * lit(1.0) * col("n_keys") /
          col("total_rows"), 4).as("max_skew"),
        round(col("top10") * lit(1.0) / col("total_rows"), 4)
          .as("top10_share"))
  }

  val defs: Seq[QDef] = Seq(
    qFkOrphans, qDqRules, qPsiDrift, qKlDrift, qLinregGroup,
    qMadOutlier, qShardPack, qEmbedQuantize, qCorrMatrix,
    qKAnonymity, qLDiversity, qDpCountNoise, qSkewMetrics)
}
