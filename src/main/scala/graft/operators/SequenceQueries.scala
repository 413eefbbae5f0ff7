package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Event-sequence and corpus-coverage operators — the
  * behavioral-analytics layer (what ORDER did things happen in?) plus
  * the train/holdout vocabulary-coverage check every tokenizer
  * pipeline needs.
  *
  * Determinism: event paths are built from a TOTALLY ordered
  * per-group sort ((ts, event_id) — event_id is unique, FIXTURES.md),
  * so the concatenated path string is reproducible on both engines;
  * pattern counts are BIGINT; ratios are single double divisions of
  * exact integers, ROUNDed at the rendering seam.
  */
object SequenceQueries {

  /** MATCH_RECOGNIZE-style path analysis: each (user, day) becomes an
    * ordered event-type string (s/c/v/p/e = signup/click/view/
    * purchase/error — first letters are distinct), then ONE aggregate
    * pass scores every regex pattern as a conditional count and an
    * unpivot emits one row per pattern — never a pattern×paths join,
    * and the per-group sort is bounded by a user-day's events.
    *
    * Scale shape: groupBy(user, day) shuffles once on a
    * high-cardinality composite key; path strings are tiny (events
    * per user-day, not per table). The regexes compile once per
    * pattern inside codegen'd RLIKE literals. */
  val qSequenceMatch: QDef = {
    // (name, regex) — identical Java/RE2 semantics for this subset
    val patterns = Seq(
      ("browse_to_buy", "v.*p"),
      ("error_then_buy", "e.*p"),
      ("browse_only", "^[cv]+$"),
      ("repeat_error", "e.*e"))
    val armsSql = patterns.map { case (n, _) =>
      s"SELECT '$n' AS pattern, $n AS n_user_days, total FROM m"
    }.mkString("\n  UNION ALL\n  ")
    val condSql = patterns.map { case (n, re) =>
      s"CAST(COUNT(*) FILTER (WHERE regexp_matches(path, '$re')) AS BIGINT) AS $n"
    }.mkString(",\n    ")
    QDef(
      "q_sequence_match",
      s"""WITH paths AS (
         |  SELECT user_id,
         |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         |    string_agg(substr(event_type, 1, 1), ''
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS path
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         |    $condSql
         |  FROM paths)
         |SELECT pattern, n_user_days,
         |  ROUND(CAST(n_user_days AS DOUBLE) / total, 6) AS share
         |FROM (
         |  $armsSql)
         |ORDER BY pattern""".stripMargin) { (s, d) =>
      val paths = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          struct(col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ch")).as("ev"))
        .groupBy(col("user_id"), col("day"))
        .agg(concat_ws("",
          transform(array_sort(collect_list(col("ev"))),
            x => x.getField("ch"))).as("path"))
      val aggCols = count(lit(1)).as("total") +:
        patterns.map { case (n, re) =>
          count(when(col("path").rlike(re), 1)).as(n)
        }
      val m = paths.agg(aggCols.head, aggCols.tail: _*)
      // unpivot the single aggregate row — one pass over paths, not
      // one re-aggregation per pattern
      val rows = m.select(
        expr(s"stack(${patterns.size}, " +
          patterns.map { case (n, _) => s"'$n', $n" }.mkString(", ") +
          ") AS (pattern, n_user_days)"),
        col("total"))
      rows.select(col("pattern"), col("n_user_days"),
          round(col("n_user_days").cast("double") / col("total"), 6)
            .as("share"))
        .orderBy(col("pattern"))
    }
  }

  /** Monthly new + cumulative distinct customers — the scalable
    * REWRITE of `COUNT(DISTINCT customer) OVER (ORDER BY month)`
    * (which Spark refuses and DuckDB executes by rescanning every
    * prefix): take each customer's FIRST order month (one hash
    * aggregate), count first-touches per month (second, month-grain),
    * then a calendar-bounded running sum. O(n) + O(months) instead of
    * O(n·months); the adoption curve on every growth dashboard. */
  val qCumUsers: QDef = QDef(
    "q_cum_users",
    """WITH f AS (
      |  SELECT o_custkey,
      |    MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS month
      |  FROM orders GROUP BY 1),
      |m AS (SELECT month, COUNT(*) AS new_custs FROM f GROUP BY 1)
      |SELECT month, CAST(new_custs AS BIGINT) AS new_custs,
      |  CAST(SUM(new_custs) OVER (ORDER BY month) AS BIGINT)
      |    AS cum_custs
      |FROM m ORDER BY month""".stripMargin) { (s, d) =>
    val f = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(date_trunc("month", col("o_orderdate")).cast("date"))
        .as("month"))
    val byM = f.groupBy(col("month")).agg(count(lit(1)).as("new_custs"))
    byM.select(col("month"), col("new_custs"),
        sum(col("new_custs")).over(Window.orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_custs"))
      .orderBy(col("month"))
  }

  /** Out-of-vocabulary rate per language: deterministic content-hash
    * split (the q_split_hash convention — md5 prefix mod 100, <90 =
    * train), build the train vocabulary, and measure what fraction of
    * holdout tokens it misses. THE go/no-go gate before freezing a
    * tokenizer or embedding table.
    *
    * Scale shape: the vocab side grows with the corpus, so the join
    * carries NO broadcast hint (the round-1 q_tfidf lesson) — AQE
    * broadcasts at fixture scale and shuffle-joins at corpus scale;
    * both sides partial-aggregate before their shuffles. */
  val qOovRate: QDef = QDef(
    "q_oov_rate",
    """WITH b AS (
      |  SELECT lang, text,
      |    CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 100
      |      AS bucket
      |  FROM documents),
      |vocab AS (
      |  SELECT DISTINCT unnest(string_split(text, ' ')) AS vw
      |  FROM b WHERE bucket < 90),
      |held AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS w
      |  FROM b WHERE bucket >= 90)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) FILTER (WHERE vw IS NULL) AS BIGINT) AS n_oov,
      |  ROUND(CAST(COUNT(*) FILTER (WHERE vw IS NULL) AS DOUBLE)
      |    / COUNT(*), 6) AS oov_rate
      |FROM held LEFT JOIN vocab ON w = vw
      |WHERE w <> ''
      |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val bucket: Column =
      (graft.functions.Md5HexSlice(col("text").cast("binary"), 1, 4)
        .cast("int") % 100).cast("int")
    val b = documents(s, d).select(col("lang"), col("text"),
      bucket.as("bucket"))
    val vocab = b.filter(col("bucket") < 90)
      .select(explode(split(col("text"), " ")).as("vw"))
      .distinct()
    val held = b.filter(col("bucket") >= 90)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    held.join(vocab, col("w") === col("vw"), "left")
      .filter(col("w") =!= "")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("vw").isNull, 1)).as("n_oov"),
        round(count(when(col("vw").isNull, 1)).cast("double") /
          count(lit(1)), 6).as("oov_rate"))
      .orderBy(col("lang"))
  }

  /** PrefixSpan model over per-user event-type sequences, memoized per
    * (session, sfDir) — the fit is setup cost, Bench-warmed like the
    * FP-Growth/IVF/PQ builds. Returns (user count, model output). */
  def prefixSpanPatterns(s: SparkSession, d: String)
      : (Long, DataFrame) =
    graft.sources.SessionCache.getOrElseUpdate(s, ("pspan", d)) {
      val seqs = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("evs"))
        .select(col("user_id"),
          expr("transform(evs, e -> array(e.event_type))").as("sequence"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = seqs.count()
      val minCount = total / 4 + 1 // strictly more than 25% of users
      val ps = new org.apache.spark.ml.fpm.PrefixSpan()
        .setSequenceCol("sequence")
        .setMinSupport((minCount.toDouble - 0.5) / total)
        .setMaxPatternLength(2)
        .setMaxLocalProjDBSize(32000000L)
      (total, ps.findFrequentSequentialPatterns(seqs))
    }

  /** Frequent sequential patterns via Spark ML's PrefixSpan (the
    * public Pei et al. algorithm) — the ORDERED sibling of
    * q_freq_itemsets: which event types follow which, per user, with
    * gaps allowed. PrefixSpan is exact and maxPatternLength=2 bounds
    * the pattern alphabet, so the oracle enumerates the same patterns
    * relationally: a length-2 pattern <a,b> counts users having SOME
    * a-event strictly before ((ts, event_id) order) SOME b-event.
    * Threshold fixed integer-side (minCount = users/4 + 1) with the
    * fractional minSupport set between counts — the FP-Growth idiom,
    * immune to decimal-vs-double ceil disagreement. */
  val qSeqPatterns: QDef = QDef(
    "q_seq_patterns",
    """WITH u AS (SELECT COUNT(DISTINCT user_id) AS total FROM events),
      |p1 AS (
      |  SELECT event_type AS pattern, COUNT(DISTINCT user_id) AS freq
      |  FROM events GROUP BY 1),
      |p2 AS (
      |  SELECT a.event_type || '>' || b.event_type AS pattern,
      |    COUNT(DISTINCT a.user_id) AS freq
      |  FROM events a JOIN events b
      |    ON a.user_id = b.user_id
      |    AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
      |  GROUP BY 1),
      |al AS (
      |  SELECT pattern, freq FROM p1
      |  UNION ALL
      |  SELECT pattern, freq FROM p2)
      |SELECT al.pattern, CAST(al.freq AS BIGINT) AS n_users,
      |  ROUND(CAST(al.freq AS DOUBLE) / u.total, 6) AS support
      |FROM al CROSS JOIN u
      |WHERE al.freq >= u.total // 4 + 1
      |ORDER BY pattern""".stripMargin) { (s, d) =>
    val (total, pats) = prefixSpanPatterns(s, d)
    pats
      .select(
        expr("array_join(transform(sequence, x -> x[0]), '>')")
          .as("pattern"),
        col("freq").as("n_users"),
        round(col("freq").cast("double") / total, 6).as("support"))
      .orderBy(col("pattern"))
  }

  val defs: Seq[QDef] =
    Seq(qSequenceMatch, qCumUsers, qOovRate, qSeqPatterns)
}
