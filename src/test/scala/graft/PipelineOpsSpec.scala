package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite


/** Round-9 pipeline operators: semantics beyond the driver hash gate
  * — bloom-independence of the prefiltered semi-join, the split's
  * leakage invariant, scrub behavior on adversarial text, and the
  * curriculum interleave property. */
class PipelineOpsSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  import spark.implicits._

  test("q_bloom_prefilter equals the plain exact semi-join " +
    "(false positives removed, no false negatives)") {
    val got = SparkEntry.queries("q_bloom_prefilter")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val hot = graft.sources.TableLoader.orders(spark, sfDir)
      .filter(col("o_totalprice") > 150000 &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val want = graft.sources.TableLoader.customer(spark, sfDir)
      .join(hot, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture must produce at least one hot customer")
  }

  test("q_split_leakage_safe: every doc in exactly one split, zero " +
    "leaked groups, duplicate texts co-located") {
    val rows = SparkEntry.queries("q_split_leakage_safe")(spark, sfDir)
      .collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = graft.sources.TableLoader.documents(spark, sfDir).count()
    assert(total == nDocs)
    rows.foreach(r => assert(r.getAs[Long]("leaked_groups") == 0L))
    // co-location on a constructed duplicate corpus: same text, many
    // doc_ids — one group, one split
    val dup = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "other")).toDF("doc_id", "text")
    val bucket = (conv(substring(md5(
      md5(col("text").cast("binary")).cast("binary")), 1, 4), 16, 10)
      .cast("int") % 100).cast("int")
    val splits = dup.select(
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").as("split"),
      col("text"))
      .where(col("text") === "same text")
      .select(col("split")).distinct().count()
    assert(splits == 1L, "identical texts must land in one split")
  }

  test("q_pii_scrub finds the synthetic email+ip in every doc and " +
    "the redaction removes them") {
    val rows = SparkEntry.queries("q_pii_scrub")(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("n_emails") >= 1, r.toString)
      assert(r.getAs[Int]("n_ips") >= 1, r.toString)
    }
    // behavior on adversarial text: redaction is total (no residual
    // matches) and non-PII text passes through untouched
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val out = Seq(
      "reach a.b+c@mail.example.org and 192.168.0.1 and x@y.io",
      "no pii here, just 2,5 numbers and @ signs @ large")
      .toDF("raw")
      .select(
        regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
          ipPat, "<IP>").as("red"))
      .collect().map(_.getString(0))
    assert(out(0) == "reach <EMAIL> and <IP> and <EMAIL>")
    assert(out(1) == "no pii here, just 2,5 numbers and @ signs @ large")
  }

  test("q_mix_temperature: probabilities normalize, sqrt flattening " +
    "lifts small sources and taxes large ones") {
    val rows = SparkEntry.queries("q_mix_temperature")(spark, sfDir)
      .collect()
    val pSum = rows.map(_.getAs[Double]("p_sample")).sum
    assert(math.abs(pSum - 1.0) < 1e-4, s"p sums to $pSum")
    val byN = rows.sortBy(_.getAs[Long]("n_docs"))
    assert(byN.head.getAs[Double]("uplift") >=
      byN.last.getAs[Double]("uplift"),
      "smallest source must gain at least as much as the largest")
  }

  test("q_pad_waste: bucket sums reconstruct the corpus token total, " +
    "waste within [0, 100)") {
    val rows = SparkEntry.queries("q_pad_waste")(spark, sfDir).collect()
    val sumTok = rows.map(_.getAs[Long]("sum_tok")).sum
    val want = graft.sources.TableLoader.documents(spark, sfDir)
      .select(sum(size(split(col("text"), " "))).cast("long"))
      .collect()(0).getLong(0)
    assert(sumTok == want)
    rows.foreach { r =>
      val w = r.getAs[Double]("waste_pct")
      assert(w >= 0.0 && w < 100.0, r.toString)
      assert(r.getAs[Long]("pad_tok") ==
        r.getAs[Long]("n_docs") * r.getAs[Int]("bucket") -
          r.getAs[Long]("sum_tok"))
    }
  }

  test("q_curriculum_mix: unique dense-ordered positions, first " +
    "|sources| rows cover every source exactly once, ranks " +
    "quality-descending within source") {
    val rows = SparkEntry.queries("q_curriculum_mix")(spark, sfDir)
      .collect()
    val pos = rows.map(_.getAs[Long]("global_pos"))
    assert(pos.distinct.length == pos.length, "positions must be unique")
    assert(pos.toSeq == pos.sorted.toSeq, "output ordered by position")
    val nSrc = graft.sources.TableLoader.documents(spark, sfDir)
      .select(col("source")).distinct().count().toInt
    val firstRound = rows.take(nSrc).map(_.getAs[String]("source"))
    assert(firstRound.distinct.length == nSrc,
      s"first $nSrc rows must rotate through every source once: " +
        firstRound.mkString(","))
    // within-source rank follows n_chars desc
    val lens = graft.sources.TableLoader.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("n_chars").longValue())
      .toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank_in_source"))
        .map(r => lens(r.getAs[Long]("doc_id")))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }
}
