package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-6 operators — properties the
  * oracle hash can't see (it only proves Spark==DuckDB, not that the
  * shared definition means what it claims). */
class RoundSixSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.session

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sfDir).collect()

  test("q_chunk_overlap: stride-48 windows cover every token, chunk " +
    "counts match the closed form, only the tail chunk is short") {
    val rows = run("q_chunk_overlap")
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val byDoc = rows.groupBy(_._1)
    import spark.implicits._
    val nTok = graft.sources.TableLoader.documents(spark, sfDir)
      .select($"doc_id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (doc, cs) =>
      val n = nTok(doc)
      val expected =
        if (n <= 64) 1 else math.ceil((n - 64) / 48.0).toInt + 1
      assert(cs.length == expected, s"doc $doc chunk count")
      val sorted = cs.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx == i && start == 48 * i)
        assert(len == math.min(start + 64, n) - start)
        assert(len > 0)
      }
      // coverage: last chunk reaches the last token; consecutive
      // chunks overlap by exactly 16 (when both are full windows)
      assert(sorted.last._3 + sorted.last._4 == n, s"doc $doc tail")
    }
  }

  test("q_temperature_mix: p_temp sums to ~1 and strictly compresses " +
    "the mix toward uniform") {
    val rows = run("q_temperature_mix")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val pSum = rows.map(_._4).sum
    assert(math.abs(pSum - 1.0) < 1e-3, s"p_temp sums to $pSum")
    // alpha < 1: under-represented sources boosted, head damped
    val (minSrc, maxSrc) =
      (rows.minBy(_._2), rows.maxBy(_._2))
    if (minSrc._2 < maxSrc._2) {
      assert(minSrc._5 >= maxSrc._5,
        "temperature must boost the rarest source at least as much " +
          "as the most common")
    }
  }

  test("q_interpolate_linear: known days pass through untouched; gap " +
    "fills lie within their neighbour envelope") {
    val rows = run("q_interpolate_linear")
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.sliding(3).foreach {
      case Array((_, 1, f), _, _) => assert(f > 0)
      case _ =>
    }
    // every gap fill is bounded by the global envelope of known values
    val known = rows.filter(_._2 == 0).map(_._3)
    val (lo, hi) = (known.min, known.max)
    rows.filter(_._2 == 1).foreach { case (d, _, f) =>
      assert(f >= lo - 0.01 && f <= hi + 0.01, s"gap fill $d=$f escapes")
    }
    assert(rows.count(_._2 == 1) > 0, "mask produced no gaps")
  }

  test("q_kendall_tau agrees with a driver-side brute-force tau-b") {
    val r = run("q_kendall_tau").head
    val (nc, nd) = (r.getLong(0), r.getLong(1))
    val tau = r.getDouble(2)
    import spark.implicits._
    val pts = graft.sources.TableLoader.customer(spark, sfDir)
      .groupBy($"c_nationkey")
      .agg(
        (org.apache.spark.sql.functions.sum(
          $"c_acctbal".cast("decimal(18,2)")).cast("double") /
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1))).as("x"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("y"))
      .as[(Int, Double, Long)].collect()
    var (c2, d2, tx, ty, n0) = (0L, 0L, 0L, 0L, 0L)
    for (i <- pts.indices; j <- pts.indices if pts(i)._1 < pts(j)._1) {
      n0 += 1
      val p = (pts(i)._2 - pts(j)._2) * (pts(i)._3 - pts(j)._3)
      if (p > 0) c2 += 1 else if (p < 0) d2 += 1
      if (pts(i)._2 == pts(j)._2) tx += 1
      if (pts(i)._3 == pts(j)._3) ty += 1
    }
    assert((nc, nd) == (c2, d2))
    val want = (c2 - d2) * 1.0 /
      math.sqrt((n0 - tx) * 1.0 * (n0 - ty))
    assert(math.abs(tau - want) < 1e-4)
  }

  test("q_dedup_url: survivors are exactly the per-URL longest-capture " +
    "min-id docs and every URL appears once") {
    val rows = run("q_dedup_url")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.length == rows.length)
    import spark.implicits._
    val docs = graft.sources.TableLoader.documents(spark, sfDir)
      .select($"doc_id", $"n_chars", $"source", $"lang")
      .as[(Long, Long, String, String)].collect()
      .groupBy(t => s"https://${t._3}.example.com/${t._4}")
    rows.foreach { case (url, nDocs, kept, chars) =>
      val grp = docs(url)
      assert(nDocs == grp.length)
      val best = grp.maxBy(t => (t._2, -t._1))
      assert((kept, chars) == (best._1, best._2), s"wrong survivor for $url")
    }
  }

  test("q_skew_metrics top10_share and max_skew are internally consistent") {
    val r = run("q_skew_metrics").head
    val nKeys = r.getLong(0)
    val total = r.getLong(1)
    val maxCnt = r.getLong(2)
    val maxSkew = r.getDouble(6)
    val top10 = r.getDouble(7)
    assert(maxSkew >= 1.0 - 1e-9) // max is at least the mean
    assert(top10 <= 1.0 + 1e-9 && top10 >= maxCnt * 1.0 / total - 1e-9)
    assert(nKeys > 0 && total >= nKeys)
  }

  test("q_kneser_ney: P(.|w1) sums to 1 over the vocabulary, and the " +
    "corpus KN NLL is >= the MLE NLL (MLE is the train-set optimum)") {
    import org.apache.spark.sql.functions._
    // rebuild the count tables independently, then check the KN
    // normalization identity numerically for every context w1
    val docs = graft.sources.TableLoader.documents(spark, sfDir)
      .select(split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(element_at(l, i) as w1, element_at(l, i + 1) as w2))"))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
    val cb = docs.groupBy("w1", "w2").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val c1 = cb.groupBy(_._1._1).map { case (w, xs) =>
      w -> xs.map(_._2).sum }
    val n1w1 = cb.groupBy(_._1._1).map { case (w, xs) => w -> xs.size }
    val n1w2 = cb.groupBy(_._1._2).map { case (w, xs) => w -> xs.size }
    val tTypes = cb.length.toDouble
    val vocab = (n1w2.keySet ++ n1w1.keySet).toSeq
    val d = 0.75
    val byW1 = cb.groupBy(_._1._1)
    c1.keys.foreach { w1 =>
      val seen = byW1(w1).map { case ((_, _), c12) =>
        math.max(c12 - d, 0.0) / c1(w1)
      }.sum
      val cont = vocab.map(w2 =>
        (d * n1w1(w1) / c1(w1)) *
          (n1w2.getOrElse(w2, 0) / tTypes)).sum
      assert(math.abs(seen + cont - 1.0) < 1e-9,
        s"P(.|$w1) sums to ${seen + cont}")
    }
    // corpus-total optimality: MLE minimizes train NLL among all
    // bigram models, so the smoothed total can only be >=
    val mle = run("q_bigram_perplexity")
      .map(r => r.getLong(1) * r.getDouble(2)).sum
    val kn = run("q_kneser_ney")
      .map(r => r.getLong(1) * r.getDouble(2)).sum
    assert(kn >= mle - 1e-6, s"KN total $kn below MLE total $mle")
  }

  test("q_er_clusters equals an independent union-find replay of the " +
    "same blocked Jaro-Winkler pairs") {
    import org.apache.spark.sql.functions._
    import graft.functions.JaroWinkler
    val out = run("q_er_clusters")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent path: collect the names, rebuild pairs + clusters
    // in plain Scala with union-find
    val names = graft.sources.TableLoader.part(spark, sfDir)
      .groupBy(col("p_brand"), col("p_type"), col("p_name"))
      .agg(min(col("p_partkey")).as("id"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val parent = scala.collection.mutable.Map(
      names.map(x => x._4 -> x._4): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for {
      pair <- names.groupBy(x => (x._1, x._2)).values
        .flatMap(_.combinations(2))
      a = pair(0); b = pair(1)
      if r4(JaroWinkler.similarity(a._3, b._3)) >= 0.92
    } {
      val (ra, rb) = (find(a._4), find(b._4))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = names.groupBy(x => find(x._4))
      .filter(_._2.length >= 2) // run() omits isolated vertices
      .map { case (_, xs) =>
        // cluster label = min node id in the component (CC contract)
        (xs.map(_._4).min, xs.length.toLong, xs.map(_._5).sum)
      }.toSeq.sortBy(_._1)
    assert(out.toSeq == expected,
      s"engine ${out.toSeq} != union-find $expected")

    // path equivalence: the distributed min-label propagation over the
    // SAME edges produces the SAME clusters as the default (driver
    // union-find under the edge budget) path
    val (nodesDf, edgesDf) =
      graft.operators.DedupQueries.erGraph(spark, sfDir)
    val distributed = graft.operators.DedupQueries
      .erClustersFrom(nodesDf, edgesDf, forceDistributed = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(distributed.toSeq == out.toSeq,
      "distributed CC path diverges from the union-find path")
  }
}
