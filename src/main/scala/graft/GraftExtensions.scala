package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, SortedIntersectCount}

/** Session extension registering the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT dotp(a, b)")`
  * works alongside the Column API (SURVEY.md §3.3 — one engine, two
  * front ends).
  *
  * Wire up either way:
  * {{{
  *   builder.withExtensions(new GraftExtensions)        // or
  *   --conf spark.sql.extensions=graft.GraftExtensions  // or
  *   GraftExtensions.register(spark)   // on a live session
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(e.injectFunction)
    // conf-gated (spark.graft.rangeJoin.binWidth): a no-op until the
    // user opts in, so injection is always safe
    e.injectOptimizerRule(_ => graft.plans.BinnedRangeJoinRule)
    // fires only on the AsOfJoin logical node graft.plans.AsOfJoinOps
    // builds — inert for every other plan
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "scala_udf")

  private val descriptions: Seq[(
      FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("dotp"),
        info("dotp",
          "dotp(a, b) - dot product of two float arrays as double; " +
            "raises on dimension mismatch"),
        (es: Seq[Expression]) => DotProduct(es(0), es(1))),
      (FunctionIdentifier("sorted_intersect_count"),
        info("sorted_intersect_count",
          "sorted_intersect_count(a, b) - |a ∩ b| of sorted bigint arrays"),
        (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
      (FunctionIdentifier("topk"),
        info("topk",
          "topk(score, id, k) - aggregate: top-k (score, id) pairs per " +
            "group as array<struct<score, id>>, strongest first, total " +
            "(score DESC, id ASC) tie order; bounded-heap partial " +
            "aggregation (<= k rows per group per mapper)"),
        (es: Seq[Expression]) => {
          val k = es(2) match {
            case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"topk: k must be an integer literal, got $other")
          }
          graft.functions.TopKAgg(es(0), es(1), k)
        }),
      (FunctionIdentifier("distinct_upto"),
        info("distinct_upto",
          "distinct_upto(x, cap) - aggregate: sorted distinct bigint " +
            "array when the group has <= cap distinct values, else " +
            "NULL; bounded state (<= cap+1 longs per group at every " +
            "stage) - the scale-safe fused form of the " +
            "dedup -> count -> filter(<= cap) guard pattern"),
        (es: Seq[Expression]) => {
          val cap = es(1) match {
            case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"distinct_upto: cap must be an integer literal, got $other")
          }
          graft.functions.BoundedDistinctAgg(es(0), cap)
        }),
      (FunctionIdentifier("kll_sketch"),
        info("kll_sketch",
          "kll_sketch(x) - aggregate: mergeable KLL quantile sketch " +
            "blob over double x (k=200)"),
        (es: Seq[Expression]) => graft.functions.KllSketchAgg(es(0))),
      (FunctionIdentifier("kll_merge"),
        info("kll_merge",
          "kll_merge(blob) - aggregate: lossless union of KLL sketch " +
            "blobs"),
        (es: Seq[Expression]) => graft.functions.KllMergeAgg(es(0))),
      (FunctionIdentifier("kll_quantiles"),
        info("kll_quantiles",
          "kll_quantiles(blob, ps) - quantile values at ranks ps from " +
            "a KLL sketch blob"),
        (es: Seq[Expression]) =>
          graft.functions.KllQuantiles(es(0), es(1))),
      (FunctionIdentifier("theta_sketch"),
        info("theta_sketch",
          "theta_sketch(x) - aggregate: mergeable theta sketch blob " +
            "over bigint x (distinct-set sample; supports " +
            "union/intersect/difference algebra)"),
        (es: Seq[Expression]) => graft.functions.ThetaSketchAgg(es(0))),
      (FunctionIdentifier("theta_union"),
        info("theta_union",
          "theta_union(blob) - aggregate: lossless union of theta " +
            "sketch blobs"),
        (es: Seq[Expression]) => graft.functions.ThetaUnionAgg(es(0))),
      (FunctionIdentifier("tokenize_bpe"),
        info("tokenize_bpe",
          "tokenize_bpe(text) - byte-level BPE token ids (array<int>) " +
            "under the embedded default vocab; corpus pipelines pass " +
            "their trained BpeVocab via the Column API instead"),
        (es: Seq[Expression]) =>
          graft.functions.TokenizeBpe(es(0), graft.functions.Bpe.default)),
      (FunctionIdentifier("bpe_decode"),
        info("bpe_decode",
          "bpe_decode(ids) - decode byte-level BPE token ids back to " +
            "text (default vocab); lossless within words"),
        (es: Seq[Expression]) =>
          graft.functions.BpeDecode(es(0), graft.functions.Bpe.default)),
      (FunctionIdentifier("jaro_winkler"),
        info("jaro_winkler",
          "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1] " +
            "(prefix boost past the 0.7 threshold; matches DuckDB's " +
            "jaro_winkler_similarity convention)"),
        (es: Seq[Expression]) =>
          graft.functions.JaroWinklerSim(es(0), es(1))),
      (FunctionIdentifier("freq_sketch"),
        info("freq_sketch",
          "freq_sketch(x) - aggregate: mergeable frequent-items " +
            "(heavy-hitters) sketch blob over bigint x"),
        (es: Seq[Expression]) => graft.functions.FreqSketchAgg(es(0))),
      (FunctionIdentifier("freq_merge"),
        info("freq_merge",
          "freq_merge(blob) - aggregate: union of frequent-items " +
            "sketch blobs at the widest input map size (exact while " +
            "no input has purged; bounded-error after)"),
        (es: Seq[Expression]) => graft.functions.FreqMergeAgg(es(0))),
      (FunctionIdentifier("freq_estimate"),
        info("freq_estimate",
          "freq_estimate(blob, item) - struct(est, lb, ub) count " +
            "bounds for item from a frequent-items sketch blob"),
        (es: Seq[Expression]) =>
          graft.functions.FreqEstimate(es(0), es(1))),
      (FunctionIdentifier("jet_weeknum"),
        info("jet_weeknum",
          "jet_weeknum(date, fdow, fwoy) - Access DatePart(\"ww\") " +
            "week-of-year under any documented firstdayofweek (0-7) / " +
            "firstweekofyear (0-3) anchor, including VB's " +
            "within-year numbering for late December (KB 200299)"),
        (es: Seq[Expression]) =>
          graft.functions.JetWeekNum(es(0), es(1), es(2))),
      (FunctionIdentifier("jet_weekstart"),
        info("jet_weekstart",
          "jet_weekstart(date, fdow) - date of the firstdayofweek-" +
            "anchored week start containing the date (Access " +
            "DateDiff(\"ww\") counts these boundaries)"),
        (es: Seq[Expression]) =>
          graft.functions.JetWeekStart(es(0), es(1))))

  /** Register on an already-running session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, i, builder)
    }
}
