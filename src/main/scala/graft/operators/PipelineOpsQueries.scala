package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Round-9 pipeline operators: bloom-prefiltered semi-joins (the
  * runtime-filter pattern made explicit), leakage-safe dataset splits,
  * PII scrubbing, and deterministic curriculum interleaving.
  *
  * Scale shapes, stated per query in its scaladoc; the common thread
  * is that each either REDUCES data before the expensive exchange
  * (bloom prefilter), keeps corpus work one-scan (scrub, split), or
  * bounds its serial structure by a domain constant (curriculum's
  * |sources| frame).
  */
object PipelineOpsQueries {

  /** Bloom-prefiltered semi-join — the manual form of the runtime
    * filter Spark's own InjectRuntimeFilter applies when statistics
    * let it: customers with at least one urgent high-value order.
    *
    * The small (filtered) side builds a bloom filter in ONE aggregate
    * job (`stat.bloomFilter`, mergeable per-partition sketches, ~180 KB
    * at 1% FPP for 100k keys); the filter broadcasts to every probe
    * task and drops non-matching rows AT THE SCAN, before the
    * semi-join's exchange — at 100 TB this is the difference between
    * shuffling the whole probe table and shuffling the ~selectivity
    * fraction that can possibly match. Correctness never depends on
    * the bloom: no false negatives means nothing real is dropped, and
    * the exact semi-join that follows removes the false positives —
    * which is exactly what makes the query oracle-checkable (the
    * result equals the plain EXISTS, bloom or no bloom). */
  val qBloomPrefilter: QDef = QDef(
    "q_bloom_prefilter",
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_totalprice > 150000
      |    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val hot = orders(s, d)
      .filter(col("o_totalprice") > 150000 &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bloom = hot.stat.bloomFilter("o_custkey", 100000L, 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
    customer(s, d)
      .select(col("c_custkey"), col("c_name"))
      // prefilter at the scan: only bloom-positive rows reach the join
      .filter(mightContain(col("c_custkey").cast("long")))
      // exact semi-join removes the bloom's false positives
      .join(hot, col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy(col("c_custkey"))
  }

  /** Leakage-safe train/val/test split: the split key is the content
    * hash of the DOCUMENT TEXT, so exact duplicates — the rows a naive
    * row-hash split scatters across train AND test, leaking evaluation
    * data into training — land in the same split by construction.
    * `leaked_groups` recomputes the invariant from the data (groups
    * spanning >1 split) instead of asserting it: the artifact carries
    * its own audit. One scan + two hash aggregates; the leak audit is
    * a |groups|-sized aggregate, never a pair join. */
  val qSplitLeakageSafe: QDef = QDef(
    "q_split_leakage_safe",
    """WITH g AS (SELECT doc_id, md5(text) AS h FROM documents),
      |s AS (
      |  SELECT doc_id, h,
      |    CASE
      |      WHEN CAST(('0x' || substr(md5(h), 1, 4)) AS INT) % 100 < 90
      |        THEN 'train'
      |      WHEN CAST(('0x' || substr(md5(h), 1, 4)) AS INT) % 100 < 95
      |        THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM g),
      |l AS (
      |  SELECT COUNT(*) AS leaked_groups FROM (
      |    SELECT h FROM s GROUP BY h
      |    HAVING COUNT(DISTINCT split) > 1))
      |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_groups,
      |  (SELECT leaked_groups FROM l) AS leaked_groups
      |FROM s GROUP BY split
      |ORDER BY split""".stripMargin) { (s, d) =>
    val g = documents(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val bucket =
      (graft.functions.Md5HexSlice(col("h").cast("binary"), 1, 4)
        .cast("int") % 100).cast("int")
    val withSplit = g.select(
      col("doc_id"), col("h"),
      when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test").as("split"))
    val leaked = withSplit.groupBy(col("h"))
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1)
      .agg(count(lit(1)).as("leaked_groups"))
    withSplit.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_groups"))
      .crossJoin(broadcast(leaked))
      .orderBy(col("split"))
  }

  /** PII scrubbing — the redaction pass every shared training corpus
    * needs before release: emails and IPv4 literals replaced by typed
    * placeholder tokens, with per-document match counts as the audit
    * columns. The fixture corpus carries no PII, so each document is
    * deterministically AUGMENTED with a synthetic contact line (built
    * from doc_id/source on both engines identically) — the scrubber
    * is then hash-verified against DuckDB running the same regexes
    * (RE2 and Java agree on this restricted pattern class: character
    * classes, bounded repetition, \b anchors). Pure one-scan map-side
    * work — at 100 TB this runs at I/O speed with zero shuffles
    * (the terminal ORDER BY is presentation, dropped in production). */
  val qPiiScrub: QDef = QDef(
    "q_pii_scrub",
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@' || source ||
      |      '.example.com or 10.' || (doc_id % 256) || '.0.1 now'
      |      AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(raw,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
      |  md5(regexp_replace(regexp_replace(raw,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
      |    'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
      |    AS redacted_md5
      |FROM aug
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    documents(s, d)
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@"), col("source"), lit(".example.com or 10."),
          col("doc_id") % 256, lit(".0.1 now")).as("raw"))
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailPat)).cast("int")
          .as("n_emails"),
        regexp_count(col("raw"), lit(ipPat)).cast("int").as("n_ips"),
        md5(regexp_replace(
          regexp_replace(col("raw"), emailPat, "<EMAIL>"),
          ipPat, "<IP>").cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic curriculum interleave — the training-order builder:
    * rank documents WITHIN each source by quality (n_chars desc, the
    * corpus's stand-in score; doc_id breaks ties), then round-robin
    * the sources so consecutive training examples rotate through all
    * of them: global_pos = (rank−1)·|sources| + source_index. Every
    * batch prefix then contains each source in proportion — the
    * interleaving property data-mixing schedules need — with zero
    * randomness (re-runnable, resumable at any offset).
    *
    * Shape: the per-doc rank window is PARTITIONED by source; the
    * only unpartitioned window assigns source_index over the DISTINCT
    * sources frame — |sources| = 20 rows at every scale factor (a
    * domain constant, whitelisted in the plan audit) — and joins back
    * broadcast. */
  val qCurriculumMix: QDef = QDef(
    "q_curriculum_mix",
    """WITH src AS (
      |  SELECT source,
      |    ROW_NUMBER() OVER (ORDER BY source) AS src_idx,
      |    COUNT(*) OVER () AS n_src
      |  FROM (SELECT DISTINCT source FROM documents)),
      |r AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rank_in_source
      |  FROM documents)
      |SELECT r.doc_id, r.source,
      |  CAST(r.rank_in_source AS INT) AS rank_in_source,
      |  CAST((r.rank_in_source - 1) * s.n_src + s.src_idx AS BIGINT)
      |    AS global_pos
      |FROM r JOIN src s ON r.source = s.source
      |ORDER BY global_pos""".stripMargin) { (s, d) =>
    val srcIdx = documents(s, d).select(col("source")).distinct()
      .select(col("source"),
        row_number().over(Window.orderBy(col("source"))).as("src_idx"),
        count(lit(1)).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
          .as("n_src"))
    val ranked = documents(s, d)
      .select(col("doc_id"), col("source"),
        row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars").desc, col("doc_id")))
          .as("rank_in_source"))
    ranked.join(broadcast(srcIdx), "source")
      .select(col("doc_id"), col("source"),
        col("rank_in_source").cast("int").as("rank_in_source"),
        ((col("rank_in_source") - 1) * col("n_src") + col("src_idx"))
          .cast("bigint").as("global_pos"))
      .orderBy(col("global_pos"))
  }

  /** Temperature-scaled source mixing at α = 0.5 (the multilingual
    * sampling standard between proportional α=1 and uniform α=0;
    * the SOURCE-grain sibling of q_train_mix's α=0.7 lang weights):
    * p_i ∝ √n_i. α is HALF deliberately — √ is correctly rounded in
    * IEEE 754, so both engines compute bit-identical per-source
    * weights where a general pow(x, 0.3) could differ in the last
    * ulp. Each √ is then QUANTIZED to an integer 1e9 grid before the
    * normalizing sum — float summation order across an unordered
    * aggregate is the one remaining nondeterminism, and integer sums
    * are order-free (the engine-pair discipline the selection tier
    * uses everywhere). Corpus work collapses to the |sources|-row
    * count frame before any float math. */
  val qMixTemperature: QDef = QDef(
    "q_mix_temperature",
    """WITH c AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(FLOOR(SQRT(COUNT(*)) * 1000000000) AS BIGINT) AS wq
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT SUM(wq) AS z, SUM(n_docs) AS total FROM c)
      |SELECT c.source, c.n_docs,
      |  ROUND(c.wq * 1.0 / t.z, 6) AS p_sample,
      |  ROUND(c.wq * 1.0 / t.z - c.n_docs * 1.0 / t.total, 6) AS uplift
      |FROM c, t
      |ORDER BY source""".stripMargin) { (s, d) =>
    val c = documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("wq",
        floor(sqrt(col("n_docs")) * lit(1000000000L)).cast("bigint"))
    val z = c.agg(sum(col("wq")).as("z"), sum(col("n_docs")).as("total"))
    c.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"),
        round(col("wq") * lit(1.0) / col("z"), 6).as("p_sample"),
        round(col("wq") * lit(1.0) / col("z")
          - col("n_docs") * lit(1.0) / col("total"), 6).as("uplift"))
      .orderBy(col("source"))
  }

  /** Padding-waste accounting for batched training: documents bucket
    * to the next power-of-two token length (the standard
    * length-bucketing scheme) and each bucket reports how many pad
    * tokens batching at that width costs vs the tokens it carries.
    * The bucket boundary is a CASE chain over the fixed power ladder,
    * NOT 2^⌈log2 n⌉ — float log at exact powers of two is
    * last-ulp-fragile across engines, a documented determinism trap.
    * One scan, one |buckets|-row aggregate. */
  val qPadWaste: QDef = QDef(
    "q_pad_waste",
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_tok,
      |    CASE
      |      WHEN n_tok <= 16 THEN 16
      |      WHEN n_tok <= 32 THEN 32
      |      WHEN n_tok <= 64 THEN 64
      |      WHEN n_tok <= 128 THEN 128
      |      WHEN n_tok <= 256 THEN 256
      |      WHEN n_tok <= 512 THEN 512
      |      ELSE 1024 END AS bucket
      |  FROM t)
      |SELECT CAST(bucket AS INT) AS bucket,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |  CAST(COUNT(*) * bucket - SUM(n_tok) AS BIGINT) AS pad_tok,
      |  ROUND((COUNT(*) * bucket - SUM(n_tok)) * 100.0
      |    / (COUNT(*) * bucket), 4) AS waste_pct
      |FROM b GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val t = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
    val bucket =
      when(col("n_tok") <= 16, 16L)
        .when(col("n_tok") <= 32, 32L)
        .when(col("n_tok") <= 64, 64L)
        .when(col("n_tok") <= 128, 128L)
        .when(col("n_tok") <= 256, 256L)
        .when(col("n_tok") <= 512, 512L)
        .otherwise(1024L)
    t.select(col("n_tok"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
      .select(
        col("bucket").cast("int").as("bucket"),
        col("n_docs"),
        col("sum_tok"),
        (col("n_docs") * col("bucket") - col("sum_tok")).as("pad_tok"),
        round((col("n_docs") * col("bucket") - col("sum_tok"))
          * lit(100.0) / (col("n_docs") * col("bucket")), 4)
          .as("waste_pct"))
      .orderBy(col("bucket"))
  }

  val defs: Seq[QDef] = Seq(
    qBloomPrefilter, qSplitLeakageSafe, qPiiScrub, qCurriculumMix,
    qMixTemperature, qPadWaste)
}
