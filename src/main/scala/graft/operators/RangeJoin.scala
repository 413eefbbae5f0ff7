package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Binned range join — the scale answer to point-in-interval joins.
  *
  * Spark plans a non-equi `point BETWEEN lo AND hi` join as a
  * broadcast-nested-loop (fine when one side is tiny, quadratic when
  * both sides are large). The binned form turns it into an EQUI join:
  * each interval replicates to the ⌈span/W⌉+1 bins it overlaps, each
  * point maps to exactly ONE bin, the engine hash-joins on the bin,
  * and a residual BETWEEN filter removes same-bin non-matches. Each
  * qualifying (point, interval) pair meets in exactly one bin — the
  * point's — so no dedup step is needed. Replication factor is
  * span/W + 1: pick W near the typical interval span so both the
  * replication and the residual-filter waste stay O(1) per row.
  */
object RangeJoin {

  /** Floor-division bin id, exact on LongType for any sign (pmod is
    * nonnegative, so subtracting it always lands on a multiple of w). */
  private def bin(c: Column, w: Long): Column =
    ((c - pmod(c, lit(w))) / lit(w)).cast("long")

  /** Inner join of `points` to every interval of `intervals` with
    * pointCol ∈ [loCol, hiCol] (inclusive, LongType semantics).
    * Column names must be distinct across the two inputs. */
  def binnedPointInterval(
      points: DataFrame,
      pointCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val binned = intervals.withColumn(
      "__bin",
      explode(sequence(bin(col(loCol), binWidth),
        bin(col(hiCol), binWidth))))
    points
      .withColumn("__bin", bin(col(pointCol), binWidth))
      .join(binned, "__bin")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Overlapping analysis windows via the binned range join: 8-day
    * event windows opening every 5 days over the corpus date span
    * (adjacent windows overlap by 3 days — deliberately NOT
    * expressible as date_trunc bucketing). The oracle states the
    * plain BETWEEN join; the engine runs the binned equi-join, so the
    * driver's hash-compare proves the rewrite output-invisible — the
    * q_join_skew_salted discipline applied to range joins. */
  val qJoinRangeBinned: QDef = QDef(
    "q_join_range_binned",
    """WITH d0 AS (
      |  SELECT MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS base
      |  FROM events),
      |w AS (
      |  SELECT k AS window_id, k * 5 AS lo, k * 5 + 7 AS hi
      |  FROM (SELECT unnest(generate_series(0, 5)) AS k)),
      |p AS (
      |  SELECT datediff('day', base,
      |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day_off, value
      |  FROM events CROSS JOIN d0)
      |SELECT window_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM p JOIN w ON day_off >= lo AND day_off <= hi
      |GROUP BY window_id
      |ORDER BY window_id""".stripMargin) { (s, d) =>
    val base = events(s, d).agg(min(to_date(col("ts"))).as("base"))
    val points = events(s, d).crossJoin(base)
      .select(
        datediff(to_date(col("ts")), col("base")).cast("long")
          .as("day_off"),
        col("value"))
    val windows = s.range(0, 6).toDF("window_id")
      .select(
        col("window_id"),
        (col("window_id") * 5).as("lo"),
        (col("window_id") * 5 + 7).as("hi"))
    binnedPointInterval(points, "day_off", windows, "lo", "hi", 4L)
      .groupBy(col("window_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("window_id"))
  }

  val defs: Seq[QDef] = Seq(qJoinRangeBinned)
}
