package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.types._

import graft.QDef
import graft.sources.TableLoader._

/** Round-6 retrieval-stack extensions: the operators a RAG / training-
  * data search pipeline runs AFTER the ANN candidate stage already in
  * the registry (qAnnLsh / IVF / PQ):
  *
  *   - hybrid lexical+vector fusion (RRF) — the standard way production
  *     search combines BM25 and embedding retrieval;
  *   - MMR diversified re-ranking over a bounded candidate set;
  *   - Johnson–Lindenstrauss sign random projection (the dimensionality
  *     reducer that makes downstream ANN/dedup cheaper at 100 TB);
  *   - preference-pair construction (chosen/rejected mining for DPO/
  *     RLHF-style training sets).
  *
  * Scale discipline: every global ranking here is TakeOrdered-first
  * (the serial window only ever sees a k-row prefix), the MMR greedy
  * runs over a collected ≤20-row candidate set (same justification as
  * the IVF query vector), and the projection is a pure per-row map.
  */
object RetrievalExtQueries {

  // the shared codegen'd forms (unrolled fixed-dim sums, bit-identical
  // to the sequential HOF fold and to DuckDB's list_sum — and ~6x
  // faster on per-row scan paths, per SimilarityQueries' measurement)
  private def dot(a: Column, b: Column): Column =
    SimilarityQueries.dot(a, b)

  private def l2norm(a: Column): Column = SimilarityQueries.l2norm(a)

  // ---------------------------------------------------------------- RRF

  /** The two lexical query terms of the hybrid demo query. */
  private val rrfTerms = Seq("vector", "stream")
  private val rrfK = 60 // the standard RRF dampening constant
  private val rrfPool = 100 // per-retriever candidate pool

  /** Hybrid retrieval via Reciprocal Rank Fusion: BM25 over the query
    * terms ranks one candidate list, cosine-to-query-vector ranks the
    * other, and documents score `Σ 1/(60 + rank)` over the lists they
    * appear in (Cormack & Clarke's RRF — rank-based, so the two
    * incomparable score scales never need calibration).
    *
    * Scale shape: each retriever is TakeOrdered(100) FIRST (at corpus
    * scale the lexical side is an inverted-index lookup and the vector
    * side is the ANN stage — both already registry operators); the
    * unpartitioned rank windows therefore see exactly 100 rows
    * regardless of corpus size, and the fusion is a 100×100 full outer
    * join on doc_id. Ranks order by ROUND(score, 4) with doc_id
    * tie-break on both engines, so rank boundaries never hinge on a
    * 1-ulp libm divergence. */
  val qHybridRrf: QDef = QDef(
    "q_hybrid_rrf",
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM tok
      |  WHERE w IN (${rrfTerms.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY 1, 2),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
      |       FROM dl),
      |lex AS (
      |  SELECT tf.doc_id,
      |    ROUND(SUM(
      |      ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1) * (tf.tf * 2.2)
      |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
      |      AS s_lex
      |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY tf.doc_id),
      |ltop AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s_lex DESC, doc_id)
      |    AS r_lex
      |  FROM lex ORDER BY s_lex DESC, doc_id LIMIT $rrfPool),
      |n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |      AS v,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |vc AS (
      |  SELECT a.vec_id AS doc_id,
      |    ROUND(list_sum(list_transform(range(1, 65),
      |      i -> a.v[i] * q.v[i])) / (a.nrm * q.nrm), 4) AS s_vec
      |  FROM n a, (SELECT v, nrm FROM n WHERE vec_id = 0) q
      |  WHERE a.vec_id <> 0),
      |vtop AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s_vec DESC, doc_id)
      |    AS r_vec
      |  FROM vc ORDER BY s_vec DESC, doc_id LIMIT $rrfPool)
      |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
      |  CAST(l.r_lex AS BIGINT) AS r_lex,
      |  CAST(v.r_vec AS BIGINT) AS r_vec,
      |  ROUND(COALESCE(CAST(1 AS DOUBLE) / ($rrfK + l.r_lex), 0)
      |      + COALESCE(CAST(1 AS DOUBLE) / ($rrfK + v.r_vec), 0), 6)
      |    AS rrf
      |FROM ltop l FULL OUTER JOIN vtop v USING (doc_id)
      |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    // lexical arm: BM25 restricted to the query terms (df of a term is
    // unchanged by filtering tok first — a doc contributes iff it
    // contains the term), corpus scalars over ALL docs
    val docs = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
    val tok = docs.select(col("doc_id"), explode(col("l")).as("w"))
      .filter(col("w").isin(rrfTerms: _*))
    val tf = tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val dl = docs.select(
      col("doc_id"), size(col("l")).cast("double").as("dl"))
    val st = dl.agg(
      count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val term =
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
        (col("tf") * 2.2) /
        (col("tf") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val lex = tf.join(dfreq, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .groupBy(col("doc_id"))
      .agg(round(sum(term), 4).as("s_lex"))
    val ltop = lex
      .orderBy(col("s_lex").desc, col("doc_id"))
      .limit(rrfPool)
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("s_lex").desc, col("doc_id")))
          .cast("bigint").as("r_lex"))
    // vector arm: exact cosine vs the broadcast query vector (the ANN
    // stage at corpus scale), TakeOrdered(100) then rank; zero-norm
    // guard on BOTH engines (the q_dedup_embedding discipline)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
      .where(col("nrm") > 0)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val vtop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(dot(col("embedding"), col("qv")) /
          (col("nrm") * col("qnrm")), 4).as("s_vec"))
      .orderBy(col("s_vec").desc, col("doc_id"))
      .limit(rrfPool)
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("s_vec").desc, col("doc_id")))
          .cast("bigint").as("r_vec"))
    ltop.join(vtop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("r_vec")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  // ---------------------------------------------------------------- MMR

  private val mmrLambda = 0.7
  private val mmrPool = 20
  private val mmrK = 10

  /** Maximal Marginal Relevance re-rank: greedily pick 10 of the top-20
    * cosine candidates, each step maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — relevance traded against
    * redundancy with what is already selected (Carbonell & Goldstein).
    *
    * The candidate pool is TakeOrdered(20) from the corpus (the ANN
    * stage at scale); the greedy then runs DRIVER-side over the 20
    * collected vectors — the same bounded-state justification as the
    * IVF query vector: MMR is sequential by definition, and 20×64
    * floats is not a distributed problem. All similarity arithmetic is
    * raw-double IEEE (identical fold order both engines); only the
    * emitted columns round. The oracle replays the greedy as a
    * recursive CTE carrying the selected-id list. */
  val qMmrRerank: QDef = QDef(
    "q_mmr_rerank",
    s"""WITH RECURSIVE
      |n AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |      AS v,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |rel AS (
      |  SELECT a.vec_id, list_sum(list_transform(range(1, 65),
      |      i -> a.v[i] * q.v[i])) / (a.nrm * q.nrm) AS r
      |  FROM n a, (SELECT v, nrm FROM n WHERE vec_id = 0) q
      |  WHERE a.vec_id <> 0
      |  ORDER BY r DESC, a.vec_id LIMIT $mmrPool),
      |pairs AS (
      |  SELECT a.vec_id AS c, b.vec_id AS s2,
      |    list_sum(list_transform(range(1, 65),
      |      i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm) AS sim
      |  FROM rel a JOIN rel b ON a.vec_id <> b.vec_id
      |  JOIN n na ON na.vec_id = a.vec_id
      |  JOIN n nb ON nb.vec_id = b.vec_id),
      |sel(step, picked, relv, score, ids) AS (
      |  (SELECT 1, vec_id, r, r, [vec_id]
      |   FROM rel ORDER BY r DESC, vec_id LIMIT 1)
      |  UNION ALL
      |  (SELECT sel.step + 1, nx.c, nx.r, nx.sc,
      |     list_append(sel.ids, nx.c)
      |   FROM sel, LATERAL (
      |     SELECT p.c, rel.r,
      |       $mmrLambda * rel.r - ${1 - mmrLambda} * MAX(p.sim) AS sc
      |     FROM pairs p JOIN rel ON rel.vec_id = p.c
      |     WHERE list_contains(sel.ids, p.s2)
      |       AND NOT list_contains(sel.ids, p.c)
      |     GROUP BY p.c, rel.r
      |     ORDER BY sc DESC, p.c LIMIT 1) nx
      |   WHERE sel.step < $mmrK))
      |SELECT CAST(step AS BIGINT) AS rank, picked AS vec_id,
      |  ROUND(relv, 4) AS relevance, ROUND(score, 4) AS mmr
      |FROM sel ORDER BY rank""".stripMargin) { (s, d) =>
    // zero-norm guards: corpus rows filtered (no defined cosine), the
    // QUERY vector fails fast with a diagnostic (the PQ discipline)
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
      .where(col("nrm") > 0)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    require(!q.isEmpty,
      "q_mmr_rerank: query vector 0 is missing or zero-norm — cosine " +
        "relevance is undefined; pick a nonzero query vector")
    val cands = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        (dot(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("r"))
      .orderBy(col("r").desc, col("vec_id"))
      .limit(mmrPool)
      .collect()
    // driver-side greedy over the bounded pool; same sequential-fold
    // double arithmetic as the Column `dot` so values are bit-identical
    // to the oracle's list_sum
    final case class Cand(id: Long, v: Array[Double], nrm: Double,
        rel: Double)
    val pool = cands.map { row =>
      val v = row.getSeq[Float](1).map(_.toDouble).toArray
      var n2 = 0.0
      var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      Cand(row.getLong(0), v, math.sqrt(n2), row.getDouble(2))
    }
    def sim(a: Cand, b: Cand): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.v.length) { acc += a.v(i) * b.v(i); i += 1 }
      acc / (a.nrm * b.nrm)
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Double, Double)] // (rank, id, rel, score)
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.length < mmrK && remaining.nonEmpty) {
      val chosen =
        if (selected.isEmpty)
          remaining.map(c => (c, c.rel)).minBy { case (c, sc) =>
            (-sc, c.id)
          }
        else
          remaining.map { c =>
            val maxSim = selected.map { case (_, id, _, _) =>
              sim(c, pool.find(_.id == id).get)
            }.max
            (c, mmrLambda * c.rel - (1 - mmrLambda) * maxSim)
          }.minBy { case (c, sc) => (-sc, c.id) }
      selected += ((selected.length + 1L, chosen._1.id,
        chosen._1.rel, chosen._2))
      remaining -= chosen._1
    }
    val schema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("relevance", DoubleType, nullable = false),
      StructField("mmr", DoubleType, nullable = false)))
    s.createDataFrame(
        java.util.Arrays.asList(selected.toSeq.map(t =>
          Row(t._1, t._2, t._3, t._4)): _*),
        schema)
      .select(col("rank"), col("vec_id"),
        round(col("relevance"), 4).as("relevance"),
        round(col("mmr"), 4).as("mmr"))
      .orderBy(col("rank"))
  }

  // -------------------------------------------- random projection (JL)

  private val rpOutDim = 16
  private val rpInDim = 64

  /** md5-derived ±1 sign planes: s(j,i) = +1 iff the first hex digit of
    * md5("j_i") < 8. Pure function of (j, i) — identical on any engine
    * with md5, so the oracle re-derives the very same matrix. */
  private lazy val rpPlanes: Seq[Seq[Double]] = {
    (0 until rpOutDim).map { j =>
      (0 until rpInDim).map { i =>
        val h = MessageDigest.getInstance("MD5")
          .digest(s"${j}_$i".getBytes("UTF-8"))
        if ((h(0) & 0x80) == 0) 1.0 else -1.0
      }
    }
  }

  /** Johnson–Lindenstrauss sign random projection 64-d → 16-d
    * (Achlioptas ±1 planes): proj_j = (Σ_i s_ji·x_i)/√16. Emits each
    * vector's projected norm and the norm-preservation ratio (the JL
    * guarantee under audit — E[ratio] = 1). The plane matrix is an
    * md5-derived constant (seeded, engine-independent), embedded as a
    * literal on the Spark side and re-derived inline by the oracle.
    *
    * Scale: a pure per-row map (no shuffle, no state) — THE standard
    * pre-step that makes downstream ANN/clustering 4× cheaper per
    * vector; the HOF form is fine at fixture scale and the fusion path
    * to a codegen expression is the same one DotProduct took. */
  val qRandomProjection: QDef = QDef(
    "q_random_projection",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |    AS v
      |  FROM embeddings),
      |p AS (
      |  SELECT j, list(CASE WHEN CAST(('0x' || substr(md5(
      |      CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1))
      |      AS INT) < 8
      |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
      |      ORDER BY i) AS s
      |  FROM range(0, 16) t(j) CROSS JOIN range(0, 64) u(i)
      |  GROUP BY j),
      |d AS (
      |  SELECT e.vec_id, p.j,
      |    list_sum(list_transform(range(1, 65), i -> v[i] * s[i])) / 4.0
      |      AS pj
      |  FROM e CROSS JOIN p),
      |agg AS (
      |  SELECT vec_id, list_sum(list(pj * pj ORDER BY j)) AS p2
      |  FROM d GROUP BY vec_id),
      |nr AS (
      |  SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x)))
      |    AS nrm
      |  FROM e)
      |SELECT a.vec_id, ROUND(sqrt(a.p2), 4) AS proj_norm,
      |  CASE WHEN nr.nrm > 0 THEN ROUND(sqrt(a.p2) / nr.nrm, 4) END
      |    AS norm_ratio
      |FROM agg a JOIN nr USING (vec_id)
      |ORDER BY vec_id""".stripMargin) { (s, d) =>
    val planesCol = typedLit(rpPlanes)
    val v = col("embedding")
    // transform preserves plane order (j ascending), aggregate folds
    // i ascending — both sums run in exactly the oracle's order
    val pjs = transform(planesCol, pl =>
      aggregate(
        zip_with(v, pl, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x) / math.sqrt(rpOutDim))
    val p2 = aggregate(pjs, lit(0.0), (acc, p) => acc + p * p)
    embeddings(s, d)
      .select(col("vec_id"), p2.as("p2"), l2norm(v).as("nrm"))
      .select(col("vec_id"),
        round(sqrt(col("p2")), 4).as("proj_norm"),
        // a zero vector keeps its row but has no defined ratio —
        // NULL on both engines instead of a 0/0 NaN rendering seam
        when(col("nrm") > 0, round(sqrt(col("p2")) / col("nrm"), 4))
          .as("norm_ratio"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------- preference pairs

  /** Preference-pair mining (the DPO/RLHF data-prep shape): within each
    * (source, lang) group, pair the highest-quality document (chosen)
    * with the lowest (rejected), quality = lexical diversity (distinct-
    * token ratio, rounded — ties resolve by doc_id on both engines).
    * Groups need ≥ 2 docs and a strictly positive margin (a pair that
    * ties on quality teaches nothing). Both ranking windows are
    * PARTITIONED by the group key — fully parallel at any scale. */
  val qPreferencePairs: QDef = QDef(
    "q_preference_pairs",
    """WITH q AS (
      |  SELECT doc_id, source, lang,
      |    ROUND(CAST(len(list_distinct(string_split(text, ' ')))
      |        AS DOUBLE)
      |      / len(string_split(text, ' ')), 4) AS quality
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, lang, quality,
      |    ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY quality DESC, doc_id) AS rn_top,
      |    ROW_NUMBER() OVER (PARTITION BY source, lang
      |      ORDER BY quality ASC, doc_id) AS rn_bot,
      |    COUNT(*) OVER (PARTITION BY source, lang) AS grp_n
      |  FROM q)
      |SELECT t.source, t.lang,
      |  t.doc_id AS chosen_id, b.doc_id AS rejected_id,
      |  t.quality AS chosen_q, b.quality AS rejected_q,
      |  ROUND(t.quality - b.quality, 4) AS margin
      |FROM (SELECT * FROM r WHERE rn_top = 1 AND grp_n >= 2) t
      |JOIN (SELECT * FROM r WHERE rn_bot = 1) b
      |  USING (source, lang)
      |WHERE t.quality > b.quality
      |ORDER BY source, lang""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    val q = documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"),
        round(
          size(array_distinct(toks)).cast("double") / size(toks),
          4).as("quality"))
    val grp = Window.partitionBy(col("source"), col("lang"))
    val r = q.select(col("doc_id"), col("source"), col("lang"),
      col("quality"),
      row_number().over(grp.orderBy(col("quality").desc, col("doc_id")))
        .as("rn_top"),
      row_number().over(grp.orderBy(col("quality").asc, col("doc_id")))
        .as("rn_bot"),
      count(lit(1)).over(grp).as("grp_n"))
    val top = r.filter(col("rn_top") === 1 && col("grp_n") >= 2)
      .select(col("source"), col("lang"),
        col("doc_id").as("chosen_id"), col("quality").as("chosen_q"))
    val bot = r.filter(col("rn_bot") === 1)
      .select(col("source"), col("lang"),
        col("doc_id").as("rejected_id"),
        col("quality").as("rejected_q"))
    top.join(bot, Seq("source", "lang"))
      .filter(col("chosen_q") > col("rejected_q"))
      .select(col("source"), col("lang"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_q"), col("rejected_q"),
        round(col("chosen_q") - col("rejected_q"), 4).as("margin"))
      .orderBy(col("source"), col("lang"))
  }

  // ------------------------------------------------ hard negatives

  /** Hard-negative mining for contrastive training: for each of the 10
    * probe vectors, the 5 most-similar vectors with a DIFFERENT label —
    * high-cosine wrong-label examples are exactly what embedding-model
    * training needs as negatives (easy random negatives teach nothing).
    *
    * Scale shape: the probe set broadcasts (|probes|·n work, never n²),
    * the rank window is PARTITIONED by probe — fully parallel; ranks
    * order by ROUND(cos, 4) with neg_id tie-break so rank boundaries
    * never hinge on a ULP. At corpus scale the candidate stage is ANN
    * (qAnnLsh/IVF) and this exact pass re-ranks per probe. */
  val qHardNegatives: QDef = QDef(
    "q_hard_negatives",
    """WITH n AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |p AS (SELECT * FROM n WHERE vec_id < 10),
      |sc AS (
      |  SELECT p.vec_id AS probe_id, a.vec_id AS neg_id,
      |    a.label AS neg_label,
      |    ROUND(list_sum(list_transform(range(1, 65),
      |      i -> a.v[i] * p.v[i])) / (a.nrm * p.nrm), 4) AS cos
      |  FROM n a JOIN p ON a.label <> p.label),
      |r AS (
      |  SELECT probe_id, neg_id, neg_label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY cos DESC, neg_id) AS rn
      |  FROM sc)
      |SELECT probe_id, CAST(rn AS BIGINT) AS rank, neg_id, neg_label,
      |  cos
      |FROM r WHERE rn <= 5
      |ORDER BY probe_id, rank""".stripMargin) { (s, d) =>
    // zero-norm guard on BOTH engines, probes and corpus alike
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
      .where(col("nrm") > 0)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"),
        col("label").as("probe_label"),
        col("embedding").as("pv"), col("nrm").as("pnrm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    e.join(broadcast(probes), col("label") =!= col("probe_label"))
      .select(col("probe_id"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        round(dot(col("embedding"), col("pv")) /
          (col("nrm") * col("pnrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("probe_id"), col("rn").cast("bigint").as("rank"),
        col("neg_id"), col("neg_label"), col("cos"))
      .orderBy(col("probe_id"), col("rank"))
  }

  // --------------------------------------------- uniform negatives

  /** Seeded uniform negative sampling — the complement of
    * q_hard_negatives: contrastive batches mix a few HARD negatives
    * with many CHEAP uniform ones. Each anchor (vec_id < 20) draws 5
    * candidates via md5(anchor, j) mod corpus-size — a pure function
    * of (anchor, j, n), so the sample is identical across engines,
    * runs, and repartitionings (the q_split_hash discipline applied to
    * sampling). Self-draws (candidate = anchor, ~1/n of draws) are
    * dropped on both engines rather than re-probed — a re-probe chain
    * would couple each row's output to a variable number of hash
    * evaluations. The same-label audit column is what a curation
    * pipeline monitors: uniform sampling does NOT label-filter (that
    * is the false-negative rate it accepts by design).
    *
    * Scale: corpus size is one broadcast scalar; anchors × 5 rows
    * join embeddings only to fetch the negative's label — no pairwise
    * work anywhere. */
  val qNegativeSamples: QDef = QDef(
    "q_negative_samples",
    """WITH n AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS corpus FROM embeddings),
      |a AS (
      |  SELECT vec_id AS anchor_id, label AS anchor_label
      |  FROM embeddings WHERE vec_id < 20),
      |draw AS (
      |  SELECT anchor_id, anchor_label, j,
      |    CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '_'
      |      || CAST(j AS VARCHAR)), 1, 6)) AS BIGINT) % corpus AS neg_id
      |  FROM a CROSS JOIN n CROSS JOIN range(0, 5) t(j)),
      |kept AS (SELECT * FROM draw WHERE neg_id <> anchor_id)
      |SELECT k.anchor_id, CAST(k.j AS BIGINT) AS draw_idx, k.neg_id,
      |  CASE WHEN e.label = k.anchor_label THEN 1 ELSE 0 END
      |    AS same_label
      |FROM kept k JOIN embeddings e ON e.vec_id = k.neg_id
      |ORDER BY anchor_id, draw_idx""".stripMargin) { (s, d) =>
    val n = embeddings(s, d).agg(count(lit(1)).as("corpus"))
    val a = embeddings(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"))
    val draws = a.crossJoin(broadcast(n))
      .select(col("anchor_id"), col("anchor_label"), col("corpus"),
        explode(sequence(lit(0), lit(4))).as("j"))
      .select(col("anchor_id"), col("anchor_label"), col("j"),
        (graft.functions.Md5HexSlice(
          concat(col("anchor_id").cast("string"),
            lit("_"), col("j").cast("string")).cast("binary"), 1, 6)
          % col("corpus")).as("neg_id"))
      .filter(col("neg_id") =!= col("anchor_id"))
    val lbl = embeddings(s, d)
      .select(col("vec_id").as("neg_id"), col("label").as("neg_label"))
    draws.join(lbl, "neg_id")
      .select(col("anchor_id"), col("j").cast("bigint").as("draw_idx"),
        col("neg_id"),
        when(col("neg_label") === col("anchor_label"), 1)
          .otherwise(0).as("same_label"))
      .orderBy(col("anchor_id"), col("draw_idx"))
  }

  val defs: Seq[QDef] =
    Seq(qHybridRrf, qMmrRerank, qRandomProjection, qPreferencePairs,
      qHardNegatives, qNegativeSamples)
}
