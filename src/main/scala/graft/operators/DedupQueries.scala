package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2.9 + driver mandate): exact (hash-groupBy), MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every near-dup path is candidate-generation (O(n)
  * signatures + bucketed self-join) followed by verification on the
  * candidate pairs only — O(n²) never materializes. md5 is the portable
  * hash wherever an oracle compares (SURVEY §0 fact 4); xxhash64 (no
  * cross-engine twin needed) drives SimHash.
  */
object DedupQueries {

  private def tokens: Column = split(col("text"), " ")

  /** Exact duplicate detection as the PER-DOCUMENT keep/drop verdict:
    * md5(text) groups, each document labeled with its group size and
    * whether it is the canonical survivor (min doc_id). r12: the old
    * shape returned only the >1 groups, and the fixtures hold
    * byte-exact duplicates only at sf0.1 — so the sf0.01 gate compared
    * empty-to-empty, proving nothing (r11 verdict "vacuous hash-gate
    * rows"). The per-document verdict exercises the hash, the
    * grouping, and the min-id keeper policy on EVERY row at any scale,
    * and is the frame a dedup pipeline actually consumes (filter
    * is_kept). DedupSpec still seeds real duplicates and checks the
    * drop side. */
  val qDedupExact: QDef = QDef(
    "q_dedup_exact",
    """WITH g AS (
      |  SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keep_id
      |  FROM documents GROUP BY h)
      |SELECT d.doc_id, g.n AS group_size,
      |  d.doc_id = g.keep_id AS is_kept
      |FROM documents d JOIN g ON md5(d.text) = g.h
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val h = md5(col("text").cast("binary"))
    val g = documents(s, d)
      .groupBy(h.as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
    documents(s, d).withColumn("h", h)
      .join(g, "h")
      .select(col("doc_id"), col("n").as("group_size"),
        (col("doc_id") === col("keep_id")).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  private val minhashPerms = 32
  private val minhashBands = 8 // 8 bands x 4 rows

  /** Universal-hash minwise family over one base hash:
    * h_j(s) = (a_j·h31(s) + b_j) mod p with p = 2^31-1 (Mersenne prime),
    * h31 the base hash masked to 31 bits, and 31-bit coefficients so
    * every product stays under 2^62 (Spark 4 runs ANSI arithmetic —
    * Long wraparound would throw). The mod is what makes each h_j a
    * different permutation of the shingle order — without it the map is
    * monotone and every "permutation" shares one argmin. One xxhash64
    * per shingle + 32 multiply-add-mods replaces 32 per-seed
    * cryptographic hashes. Fixed-seed RNG coefficients keep signatures
    * reproducible across runs and executors. */
  private val minhashCoeffs: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(0x5eed)
    Seq.fill(minhashPerms)(
      ((rng.nextInt(Int.MaxValue).toLong | 1L),
        rng.nextInt(Int.MaxValue).toLong))
  }

  /** Per-doc distinct HASHED shingle sets for an ARBITRARY
    * (doc_id, text) frame — the reusable building block behind both
    * the corpus-bound cache below and the incremental batch path
    * (DedupPipeline.dedupIncremental). Hash = 60-bit md5 prefix
    * ([[graft.functions.Md5Shingles]]): portable, so the ENTIRE
    * minhash pipeline downstream of this set sits under the DuckDB
    * hash gate; swap in `hashedShingles` (xxhash64) when hash CPU
    * dominates and no oracle is needed. */
  def shingleSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens.as("l"))
      .filter(size(col("l")) >= 3)
      .select(
        col("doc_id"),
        graft.functions.VectorExpressions
          .md5Shingles(col("l"), 3).as("sh"))

  /** MinHash signatures (32 perms) over any shingle-set frame: all 32
    * affine minima in the fused MinHashSignature codegen loop. */
  def signaturesOf(shingles: DataFrame): DataFrame =
    shingles.withColumn(
      "sig",
      graft.functions.VectorExpressions
        .minhashSignature(col("sh"), minhashCoeffs))

  /** Banded LSH keys (band_idx, band_key) per doc over any signature
    * frame — the join key of every candidate-generation path. */
  def bandKeysOf(sigs: DataFrame): DataFrame = {
    val rowsPerBand = minhashPerms / minhashBands
    sigs.select(
      col("doc_id"),
      explode(array((0 until minhashBands).map { b =>
        struct(
          lit(b).as("band_idx"),
          xxhash64((0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
            .as("band_key"))
      }: _*)).as("band"))
      .select(
        col("doc_id"),
        col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
  }

  /** Corpus shingle sets, persisted per (session, sfDir): the set is
    * consumed by the signature pass and (twice) by every
    * pair-verification join. The cache is an optimization, not a
    * crutch — the fused loop makes even a fully cold recompute a
    * sub-second pass at sf0.1, where the round-1..3 composed form
    * (interpreted HOF lambdas materializing ~1M shingle strings) cost
    * ~13 s whenever the cache missed mid-bench. Materialized by
    * `Bench`'s warm-up so the one-time build cost never lands inside a
    * timed query. */
  def shingleSets(s: SparkSession, d: String): DataFrame =
    graft.sources.SessionCache.getOrElseUpdate(s, ("shingles", d)) {
      shingleSetsOf(documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Corpus MinHash signatures (32 perms, from the cached shingles). */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(shingleSets(s, d))

  /** MinHash + banded LSH near-dup pairs, Jaccard-verified (>= 0.5).
    *
    * Pipeline: shingle → 32 minwise hashes → 8 band keys → explode +
    * self-join on (band_idx, band_key) for candidates → exact Jaccard on
    * the candidate pairs only.
    *
    * ORACLE-GATED since round 11 (r10 verdict #6): the md5-prefix
    * shingle hash and the affine mod-p lane arithmetic are both
    * DuckDB-expressible, so the oracle recomputes the identical
    * signatures, bands, candidates, and verified pairs. The one
    * deliberate asymmetry: Spark's band key is xxhash64 over the
    * band's 4 lanes (8-byte shuffle key — the 100 TB shape) while the
    * oracle joins on the raw 4-lane list; they differ only if two
    * DISTINCT lane tuples xxhash64-collide inside one band
    * (≈ n²/2^64 — the same w.h.p. class as hashed-shingle
    * distinctness), and such a phantom candidate still has to pass
    * the exact-Jaccard filter to reach the output. DedupSpec
    * property-tests candidate recall on seeded near-duplicates. */
  val qDedupMinhash: QDef = QDef(
    "q_dedup_minhash", {
      val coefRows = minhashCoeffs.zipWithIndex
        .map { case ((a, b), j) => s"($j, ${a}, ${b})" }
        .mkString(", ")
      s"""WITH coef(j, a, b) AS (VALUES $coefRows),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_sort(list_distinct(list_transform(range(3, len(l) + 1),
         |      i -> CAST(('0x' || substr(
         |        md5(l[i-2] || ' ' || l[i-1] || ' ' || l[i]), 1, 15))
         |        AS BIGINT)))) AS sh
         |  FROM tok WHERE len(l) >= 3),
         |hs AS (SELECT doc_id, unnest(sh) AS h FROM sh),
         |lanes AS (
         |  SELECT hs.doc_id, c.j,
         |    MIN(((hs.h & 2147483647) * c.a + c.b) % 2147483647) AS lane
         |  FROM hs CROSS JOIN coef c
         |  GROUP BY hs.doc_id, c.j),
         |bands AS (
         |  SELECT doc_id, j // 4 AS band_idx,
         |    list(lane ORDER BY j) AS bk
         |  FROM lanes GROUP BY doc_id, j // 4),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.bk = b.bk
         |      AND a.doc_id < b.doc_id),
         |vj AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh)
         |        - len(list_intersect(sa.sh, sb.sh))) AS jac
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard
         |FROM vj WHERE jac >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
    // band keys only — the heavy shingle arrays do NOT ride the
    // explode/join; candidates re-join them for verification below
    val banded = bandKeysOf(minhashSignatures(s, d))
    val candidates = banded.alias("a")
      .join(
        banded.alias("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verification re-joins the cached shingle sets directly (NOT the
    // signature plan — that would re-run the 32-perm derivation); the
    // sets are sorted distinct hashes, so |a ∩ b| is the codegen'd
    // two-pointer merge, not a per-row hash-set build
    val sh = shingleSets(s, d)
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val inter = graft.functions.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    val jac = inter.cast("double") /
      (size(col("sh_a")) + size(col("sh_b")) - inter)
    candidates
      .join(shA, "doc_a")
      .join(shB, "doc_b")
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 60-bit SimHash per document from the md5-prefix token hash
    * weighted by term frequency — one pass through the custom
    * SimHashAgg TypedImperativeAggregate (512-byte buffer per doc,
    * partial/final split like any built-in sketch). The token hash is
    * `conv(substr(md5(w),1,15),16,10)` — 60 bits, positive, exactly
    * reproducible in DuckDB — which is what moved q_dedup_simhash
    * under the hash gate in round 11; the top 4 SimHashAgg lanes see
    * a constant 0 bit and vote themselves to 0, so the aggregate
    * needs no change. (xxhash64 gave 64 bits but no oracle; 60 bits
    * changes nothing material — random-pair Hamming is ~30 either
    * way, against a band threshold of 8.) */
  def simhashes(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(tokens).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        graft.functions.SimHashAgg(
          // fused digest-to-long (r14 opt): value-identical to
          // conv(substring(md5(w), 1, 15), 16, 10) with no hex
          // string / substring / radix-parse per token
          graft.functions.Md5HexSlice(col("w").cast("binary"), 1, 15),
          col("cnt"))
          .as("simhash"))

  /** SimHash near-dup pairs: 4 × 15-bit bands for candidates, Hamming
    * distance ≤ 8 verified with bit_count(xor). Recall guarantee is
    * pigeonhole over the bands: a pair with Hamming ≤ 3 ALWAYS shares
    * an intact band; pairs at distance 4..8 are surfaced best-effort
    * (only when their differing bits cluster outside one band) — the
    * standard banding trade-off; more bands buy recall with more
    * shuffle volume. ORACLE-GATED since round 11: the md5-prefix
    * token hash (see [[simhashes]]) lets DuckDB rebuild the identical
    * 60-bit simhashes bit by bit (per-bit weighted votes, strict
    * `vote > 0` tie rule matching SimHashAgg), the same 4 × 15-bit
    * bands, and the same verified pairs. DedupSpec covers recall on
    * seeded dups. */
  val qDedupSimhash: QDef = QDef(
    "q_dedup_simhash",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM tok GROUP BY doc_id, w),
      |h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h, cnt
      |  FROM tf),
      |bits AS (
      |  SELECT doc_id, k.k AS k,
      |    SUM(CASE WHEN ((h >> k.k) & 1) = 1 THEN cnt ELSE -cnt END)
      |      AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS k) k
      |  GROUP BY doc_id, k.k),
      |sim AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << k)
      |      ELSE 0 END) AS simhash
      |  FROM bits GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, simhash, b.b AS band_idx,
      |    (simhash >> (b.b * 15)) & 32767 AS band_key
      |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS b) b),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS sim_a, b.simhash AS sim_b
      |  FROM banded a JOIN banded b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |      AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sim_a, sim_b)) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val sh = simhashes(s, d)
    val banded = sh.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(
          lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 15)
            .bitwiseAND(lit(0x7FFFL)).as("band_key"))
      }: _*)).as("band"))
      .select(
        col("doc_id"), col("simhash"),
        col("band.band_idx").as("band_idx"),
        col("band.band_key").as("band_key"))
    val a = banded.select(
      col("band_idx"), col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(
      col("band_idx").as("band_idx_b"), col("band_key").as("band_key_b"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(
      b,
      col("band_idx") === col("band_idx_b")
        && col("band_key") === col("band_key_b")
        && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .select(
        col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** n-gram (word-trigram) Jaccard near-dup, blocked on (source, lang):
    * the oracle-checkable exact twin of qDedupMinhash. Threshold 0.05
    * keeps the one genuine near-dup pair in the fixtures visible at
    * every scale. */
  val qDedupNgramJaccard: QDef = QDef(
    "q_dedup_ngram_jaccard",
    """WITH t AS (SELECT doc_id, source, lang, string_split(text, ' ') AS l
      |           FROM documents),
      |s AS (SELECT doc_id, source, lang,
      |    list_distinct(list_transform(range(3, len(l) + 1),
      |      i -> l[i-2] || ' ' || l[i-1] || ' ' || l[i])) AS s
      |  FROM t WHERE len(l) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
      |    AS jaccard
      |FROM s a JOIN s b
      |  ON a.source = b.source AND a.lang = b.lang
      |  AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.05
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    ngramJaccardPairs(s, d)
  }

  /** Exact blocked Jaccard pairs via the INVERTED INDEX (r15
    * optimization, guide §1.2 "the distributed algorithm" + §2.3).
    *
    * The previous form self-joined every (source, lang) block all-pairs
    * and merged the two shingle arrays per pair — O(Σ n_block²) joined
    * rows each carrying both arrays, measured 9.3× growth at the 10×
    * probe. But Jaccard ≥ 0.05 > 0 requires ≥ 1 SHARED shingle, and
    * |a ∩ b| is exactly the number of shingle postings the pair shares:
    * explode the (already distinct, hashed) shingle sets to postings,
    * self-join on (block, shingle), and COUNT per doc pair. Word
    * trigrams are distinctive — at sf0.1 the posting-pair volume is
    * 16 k vs 159 k all-pairs, and it scales with true near-dup mass,
    * not with block size². Set sizes ride the postings (n_a/n_b), so
    * jac = c / (n_a + n_b − c) is the IDENTICAL arithmetic on the
    * IDENTICAL integers as the old sorted-merge form: same pair set,
    * same values, oracle unchanged.
    *
    * The guard moves with the cost model: what can explode now is a
    * HOT SHINGLE (a trigram shared by many docs of one block), so the
    * refusal is on the per-block candidate volume Σ_h c_h(c_h−1)/2 —
    * evaluated distributedly over the tiny per-block aggregate (no
    * driver collect), summed in DOUBLE so an adversarial block cannot
    * overflow the guard itself. The error message still points at the
    * minhash path, which IS the 100 TB formulation. */
  def ngramJaccardPairs(
      s: SparkSession, d: String,
      maxPairsPerBlock: Long = 10000000L): DataFrame = {
    // no broadcast hint: the metadata side has corpus cardinality (the
    // q_tfidf lesson) — AQE broadcasts at fixture scale on its own
    val docs = shingleSets(s, d)
      .join(
        documents(s, d).select(col("doc_id"), col("source"), col("lang")),
        "doc_id")
      .select(
        col("doc_id"), col("source"), col("lang"),
        size(col("sh")).as("n"), col("sh"))
    // one posting per (block, shingle, doc); n rides along so the
    // per-pair sizes need no join-back
    val post = docs.select(
      col("source"), col("lang"), col("doc_id"), col("n"),
      explode(col("sh")).as("h"))
    val blockGuard = post
      .groupBy(col("source"), col("lang"), col("h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("__c").cast("double") * (col("__c") - lit(1))
        / lit(2.0)).as("__cp"))
      .select(
        col("source"), col("lang"),
        when(
          col("__cp") > maxPairsPerBlock.toDouble,
          raise_error(concat(
            lit("q_dedup_ngram_jaccard: block ("), col("source"),
            lit(", "), col("lang"), lit(") has "),
            col("__cp").cast("long"),
            lit(s" candidate postings pairs — more than " +
              s"$maxPairsPerBlock; the exact twin is fixture-only, use " +
              "q_dedup_minhash for corpus-scale near-dup")))
            .cast("double"))
          .otherwise(col("__cp")).as("__cp"))
    // the guard join touches every block exactly once (broadcast of a
    // |sources|×|langs|-row aggregate); evaluating __cp fires the guard
    val guarded = post
      .join(broadcast(blockGuard), Seq("source", "lang"))
      .filter(col("__cp") >= 0)
      .drop("__cp")
    // BOTH sides derive from the same guarded frame: identical plan
    // subtrees below the join exchange, so AQE materializes the
    // posting shuffle once and reads it twice (one explode pass, not
    // two — the r14 stage-reuse lesson)
    val a = guarded.select(
      col("source"), col("lang"), col("h"),
      col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = guarded.select(
      col("source").as("source_b"), col("lang").as("lang_b"),
      col("h").as("h_b"),
      col("doc_id").as("doc_b"), col("n").as("n_b"))
    val inter = a.join(
        b,
        col("source") === col("source_b") && col("lang") === col("lang_b")
          && col("h") === col("h_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("__i"))
    val jac = col("__i").cast("double") /
      (col("n_a") + col("n_b") - col("__i"))
    inter
      // filter on the RAW jaccard (like the oracle's WHERE) before
      // rounding — filtering the rounded value would include pairs in
      // [threshold - 5e-5, threshold) that the oracle excludes
      .filter(jac >= 0.05)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding-cosine near-dup within label blocks (cos >= 0.3) — the
    * semantic twin of the text dedup family, sharing the cosine
    * machinery with SimilarityQueries. */
  val qDedupEmbedding: QDef = QDef(
    "q_dedup_embedding",
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM e
      |  WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  ROUND(list_sum(list_transform(range(1, 65),
      |    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, 65),
      |    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    // zero-norm guard on BOTH engines: an all-zero embedding has no
    // defined cosine — without the filter the pair division is
    // DIVIDE_BY_ZERO under Spark ANSI but NULL/inf in DuckDB (the
    // q_embed_quantize degenerate-vector lesson, ADVICE r5)
    // r15 optimization: same exact pair set through the chunked kernel
    // (SimilarityQueries.cosineThresholdPairs) — the row-per-pair
    // self-join materialized two embedding arrays per candidate pair;
    // the kernel moves each chunk's arrays once and applies the
    // identical `raw_cos >= 0.3` predicate with the identical fold.
    val e = embeddings(s, d)
      .select(
        col("vec_id"), col("label"), col("embedding"),
        SimilarityQueries.l2norm(col("embedding")).as("nrm"))
      .where(col("nrm") > 0)
    SimilarityQueries.cosineThresholdPairs(e, 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("raw_cos"), 4).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Transitive corpus dedup UNDER THE DRIVER HASH GATE: the
    * oracle-green exact n-gram Jaccard pair set (q_dedup_ngram_jaccard,
    * threshold 0.05) → distributed connected components (min-label
    * propagation, etl.ConnectedComponents) → keep the min-doc_id
    * survivor per cluster. The DuckDB oracle recomputes the SAME
    * clustering as a recursive-CTE transitive closure over the same
    * pair SQL, so the CC operator itself is hash-pinned — until round
    * 10 this row was no_oracle because its pairs came from the
    * engine-specific minhash family; that corpus-scale path lives on
    * in [[graft.etl.DedupPipeline.dropNearDuplicatesTransitive]]
    * (ConnectedComponentsSpec / DedupPipelineSpec). CC is the same
    * operator either way — only the pair source differs (banded
    * minhash at 100 TB, the guarded exact twin here). */
  val qDedupTransitive: QDef = QDef(
    "q_dedup_transitive",
    """WITH RECURSIVE t AS (SELECT doc_id, source, lang,
      |    string_split(text, ' ') AS l FROM documents),
      |s AS (SELECT doc_id, source, lang,
      |    list_distinct(list_transform(range(3, len(l) + 1),
      |      i -> l[i-2] || ' ' || l[i-1] || ' ' || l[i])) AS s
      |  FROM t WHERE len(l) >= 3),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM s a JOIN s b
      |    ON a.source = b.source AND a.lang = b.lang
      |    AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
      |      >= 0.05),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
      |reach AS (SELECT u, u AS r
      |    FROM (SELECT DISTINCT u FROM edges) t0
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |lbl AS (SELECT u, MIN(r) AS root FROM reach GROUP BY u)
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id NOT IN (SELECT u FROM lbl WHERE u <> root)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = ngramJaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
    val losers = graft.etl.ConnectedComponents
      .dedupGroups(pairs, "doc_a", "doc_b")
      .filter(!col("keep"))
      .select(col("doc_id"))
    documents(s, d)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Fuzzy name matching: part-name pairs within levenshtein 1..3,
    * BLOCKED on (brand, first letter) — the standard entity-resolution
    * blocking for typo'd names (typos rarely hit the first character).
    * Blocking is the scale discipline that keeps pairwise edit distance
    * sub-quadratic: brand alone left ~800-row buckets at sf0.1 (8M
    * pairs, 28 s); adding the first letter cuts buckets ~10× and a
    * cheap length-difference precondition (|len a − len b| ≤ 3 is
    * NECESSARY for lev ≤ 3) prunes before the O(n·m) distance runs.
    * For unblocked fuzzy matching at 100 TB the candidate pre-filter
    * is the minhash/ngram path above. */
  val qFuzzyNameMatch: QDef = QDef(
    "q_fuzzy_name_match",
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand
      |  AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
      |  AND a.p_partkey < b.p_partkey
      |WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
      |  AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
      |ORDER BY key_a, key_b""".stripMargin) { (s, d) =>
    // distance on DISTINCT names, then expand: the name vocabulary is
    // tiny relative to the rows (64 distinct names over 20 k parts at
    // sf0.1), so pairwise levenshtein runs on ~5.6 k distinct-name
    // pairs instead of ~1 M row pairs (180× fewer edit distances), and
    // the matched name-pairs re-join to part keys afterwards. The
    // dedupe-before-expensive-scalar rewrite is the general pattern
    // for any costly function of low-cardinality columns. The oracle
    // stays the naive quadratic form — two algorithms, one answer.
    val p = part(s, d).select(col("p_partkey"), col("p_brand"),
      col("p_name"))
    val names = p.select(col("p_brand"),
      substring(col("p_name"), 1, 1).as("initial"), col("p_name"))
      .distinct()
    val na = names.select(col("p_brand"), col("initial"),
      col("p_name").as("name_a"))
    val nb = names.select(col("p_brand").as("brand_b"),
      col("initial").as("init_b"), col("p_name").as("name_b"))
    val matched = na
      .join(nb, col("p_brand") === col("brand_b")
        && col("initial") === col("init_b")
        // name_a < name_b: each unordered name pair once (dist ≥ 1
        // below guarantees the names differ)
        && col("name_a") < col("name_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 3)
      // thresholded variant: early-abandons once the running distance
      // exceeds 3 (returns -1); kept pairs carry the true distance.
      // dist 0 (identical names) is q_dedup_exact's domain — fuzzy
      // reports the genuinely-near [1, 3] band.
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3))
      .filter(col("dist") >= 1 && col("dist") <= 3)
      .select(col("p_brand"), col("name_a"), col("name_b"), col("dist"))
    val pa = p.select(col("p_partkey").as("ka"),
      col("p_brand"), col("p_name").as("name_a"))
    val pb = p.select(col("p_partkey").as("kb"),
      col("p_brand").as("pb_brand"), col("p_name").as("pb_name"))
    matched
      .join(pa, Seq("p_brand", "name_a"))
      .join(pb, col("p_brand") === col("pb_brand")
        && col("name_b") === col("pb_name"))
      .select(
        least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"),
        col("dist"))
      .orderBy(col("key_a"), col("key_b"))
  }

  /** LSH banding planner — the S-curve P(candidate | jaccard s) =
    * 1 − (1 − s^r)^b for the registry's own MinHash configuration
    * (b = 8 bands × r = 4 rows, the 32-perm signature above), tabulated
    * over s = 0.05..0.95. This is the design table an operator consults
    * before re-banding a 100 TB dedup run: where the curve's knee sits
    * (s* ≈ (1/b)^(1/r) ≈ 0.59 here), what leaks below it, what's
    * missed above. All arithmetic is explicit repeated multiplication
    * of identical doubles on both engines (s⁴ = ((s·s)·s)·s,
    * q⁸ = (q²)²·(q²)² as q2/q4/q8 stages) — no libm pow, so the table
    * is bit-deterministic cross-engine. Input is `range`, zero table
    * scans. */
  val qLshPlanner: QDef = QDef(
    "q_lsh_planner",
    """WITH s AS (
      |  SELECT CAST(k AS BIGINT) AS k, k / CAST(20 AS DOUBLE) AS sim
      |  FROM range(1, 20) t(k)),
      |p AS (
      |  SELECT k, sim, ((sim * sim) * sim) * sim AS s4 FROM s),
      |q AS (SELECT k, sim, s4, 1 - s4 AS q1 FROM p),
      |e AS (
      |  SELECT k, sim, s4, q1 * q1 AS q2 FROM q),
      |f AS (SELECT k, sim, s4, q2 * q2 AS q4 FROM e)
      |SELECT k, ROUND(sim, 2) AS jaccard,
      |  ROUND(s4, 6) AS p_one_band,
      |  ROUND(1 - q4 * q4, 6) AS p_candidate
      |FROM f ORDER BY k""".stripMargin) { (s, _) =>
    val sim = col("k") / 20.0
    val s4 = ((sim * sim) * sim) * sim
    s.range(1, 20).toDF("k")
      .select(col("k"), sim.as("sim"), s4.as("s4"))
      .select(col("k"), col("sim"), col("s4"),
        (lit(1) - col("s4")).as("q1"))
      .select(col("k"), col("sim"), col("s4"),
        (col("q1") * col("q1")).as("q2"))
      .select(col("k"), col("sim"), col("s4"),
        (col("q2") * col("q2")).as("q4"))
      .select(col("k"),
        round(col("sim"), 2).as("jaccard"),
        round(col("s4"), 6).as("p_one_band"),
        round(lit(1) - col("q4") * col("q4"), 6).as("p_candidate"))
      .orderBy(col("k"))
  }

  /** Jaro–Winkler fuzzy pairing — the OTHER classic entity-resolution
    * scorer next to q_fuzzy_name_match's levenshtein: prefix-weighted
    * similarity that forgives suffix noise ("widget"/"widgets") the
    * way edit distance can't without a length-relative threshold.
    * Spark ships no jaro function, so this exercises the codegen'd
    * [[graft.functions.JaroWinklerSim]] expression, and DuckDB's
    * native `jaro_winkler_similarity` is the oracle — the engine's
    * from-scratch implementation must agree with an independent one on
    * every blocked pair at 4 decimal places, corpus-wide (boost
    * threshold 0.7, p = 0.1, prefix ≤ 4 — the textbook convention both
    * follow). Same scale discipline as the levenshtein twin: score
    * DISTINCT names within (brand, type) blocks — the name vocabulary
    * is tiny relative to rows — then expand matched name pairs back to
    * key pairs; the oracle stays the naive quadratic form (two
    * algorithms, one answer). */
  val qFuzzyJwPairs: QDef = QDef(
    "q_fuzzy_jw_pairs",
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |  AND a.p_partkey < b.p_partkey
      |WHERE a.p_name <> b.p_name
      |  AND ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4)
      |    >= 0.86
      |ORDER BY jw DESC, key_a, key_b LIMIT 50""".stripMargin) { (s, d) =>
    import graft.functions.JaroWinkler.jaroWinkler
    val p = part(s, d).select(col("p_partkey"), col("p_brand"),
      col("p_type"), col("p_name"))
    val names = p.select(col("p_brand"), col("p_type"), col("p_name"))
      .distinct()
    val na = names.select(col("p_brand"), col("p_type"),
      col("p_name").as("name_a"))
    val nb = names.select(col("p_brand").as("brand_b"),
      col("p_type").as("type_b"), col("p_name").as("name_b"))
    val matched = na
      .join(nb, col("p_brand") === col("brand_b")
        && col("p_type") === col("type_b")
        && col("name_a") < col("name_b"))
      .withColumn("jw",
        round(jaroWinkler(col("name_a"), col("name_b")), 4))
      .filter(col("jw") >= 0.86)
      .select(col("p_brand"), col("p_type"), col("name_a"),
        col("name_b"), col("jw"))
    val pa = p.select(col("p_partkey").as("ka"), col("p_brand"),
      col("p_type"), col("p_name").as("name_a"))
    val pb = p.select(col("p_partkey").as("kb"),
      col("p_brand").as("pb_brand"), col("p_type").as("pb_type"),
      col("p_name").as("pb_name"))
    matched
      .join(pa, Seq("p_brand", "p_type", "name_a"))
      .join(pb, col("p_brand") === col("pb_brand")
        && col("p_type") === col("pb_type")
        && col("name_b") === col("pb_name"))
      .select(
        least(col("ka"), col("kb")).as("key_a"),
        greatest(col("ka"), col("kb")).as("key_b"),
        col("jw"))
      .orderBy(col("jw").desc, col("key_a"), col("key_b"))
      .limit(50)
  }

  /** End-to-end entity resolution — the COMPOSITION the individual
    * pieces exist for: (brand, type) blocking → codegen'd Jaro–Winkler
    * candidate pairs at ≥ 0.92 → connected components over the name
    * graph → cluster report (the actual deliverable: "these product
    * names are the same entity"). Nodes are distinct name triples
    * keyed by their minimum part key (stable, content-derived);
    * clusters are labeled by their minimum node id and only
    * multi-name clusters are emitted (singletons are not resolutions).
    * Scale: same blocked sub-quadratic candidate stage as the JW pair
    * query, then min-label propagation whose per-round cost is one
    * join+agg on the (tiny) name-pair graph. Oracle since round 10:
    * a recursive-CTE transitive closure (see qErClusters below);
    * RoundSixSpec additionally replays the clustering with an
    * independent union-find over the same pairs. */
  /** Edge budget below which the resolution graph clusters
    * driver-side: the graph is VOCABULARY-sized (distinct names after
    * blocking + threshold), not data-sized, so even catalog-scale
    * inputs usually stay collectable; past the budget the same edges
    * route to the distributed min-label propagation instead. */
  val erEdgeBudget = 100000L

  private[graft] def erGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.JaroWinkler.jaroWinkler
    val p = part(s, d).select(col("p_partkey"), col("p_brand"),
      col("p_type"), col("p_name"))
    val nodes = p.groupBy(col("p_brand"), col("p_type"), col("p_name"))
      .agg(min(col("p_partkey")).as("node_id"),
        count(lit(1)).as("n_parts"))
    val na = nodes.select(col("p_brand"), col("p_type"),
      col("p_name").as("name_a"), col("node_id").as("id_a"))
    val nb = nodes.select(col("p_brand").as("brand_b"),
      col("p_type").as("type_b"), col("p_name").as("name_b"),
      col("node_id").as("id_b"))
    val edges = na
      .join(nb, col("p_brand") === col("brand_b")
        && col("p_type") === col("type_b")
        && col("name_a") < col("name_b"))
      .filter(round(jaroWinkler(col("name_a"), col("name_b")), 4)
        >= 0.92)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    (nodes, edges)
  }

  /** Cluster report from (nodes, edges); `forceDistributed` pins the
    * large-graph path for the spec's path-equivalence check. */
  private[graft] def erClustersFrom(
      nodes: DataFrame, edges: DataFrame,
      forceDistributed: Boolean = false): DataFrame = {
    // budget gate + driver union-find live in ConnectedComponents
    // .runAuto — this site used to carry a drifted inline copy whose
    // over-budget path still routed to the diameter-bounded run(), so
    // a long similarity CHAIN past the budget threw at maxIter where
    // runStar converges (r11 review; the copies had also diverged on
    // null filtering). The measured driver-path win (3.2 s → 0.5 s at
    // sf0.1) is runAuto's own scaladoc'd contract; labels identical
    // either way (RoundSixSpec pins path equivalence).
    val cc: DataFrame =
      if (forceDistributed) graft.etl.ConnectedComponents.runStar(edges)
      else graft.etl.ConnectedComponents
        .runAuto(edges, erEdgeBudget.toInt)
    nodes.join(cc, nodes("node_id") === cc("v"))
      .groupBy(col("cc").as("cluster_id"))
      .agg(count(lit(1)).as("n_names"),
        sum(col("n_parts")).as("n_parts"))
      .orderBy(col("cluster_id"))
  }

  /** Entity-resolution cluster report under the driver hash gate
    * (round 10; previously no_oracle): the blocked Jaro-Winkler ≥ 0.92
    * name graph — whose similarity function DuckDB shares, already
    * pinned by q_fuzzy_jw_pairs — clustered by transitive closure.
    * The oracle recomputes the SAME clusters with a recursive CTE, so
    * both the JW edge set and the union-find/min-label component
    * labeling sit under the hash gate. Nodes without any edge are
    * outside the report on both sides (the engine joins components,
    * which only cover edge-participating vertices). */
  val qErClusters: QDef = QDef(
    "q_er_clusters",
    """WITH RECURSIVE nodes AS (
      |  SELECT p_brand, p_type, p_name, MIN(p_partkey) AS node_id,
      |    COUNT(*) AS n_parts
      |  FROM part GROUP BY p_brand, p_type, p_name),
      |edges0 AS (
      |  SELECT a.node_id AS src, b.node_id AS dst
      |  FROM nodes a JOIN nodes b
      |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
      |    AND a.p_name < b.p_name
      |  WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4)
      |    >= 0.92),
      |edges AS (SELECT src AS u, dst AS v FROM edges0
      |  UNION SELECT dst AS u, src AS v FROM edges0),
      |reach AS (SELECT u, u AS r
      |    FROM (SELECT DISTINCT u FROM edges) t0
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |lbl AS (SELECT u, MIN(r) AS root FROM reach GROUP BY u)
      |SELECT l.root AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_names,
      |  CAST(SUM(n.n_parts) AS BIGINT) AS n_parts
      |FROM lbl l JOIN nodes n ON n.node_id = l.u
      |GROUP BY l.root
      |ORDER BY cluster_id""".stripMargin) { (s, d) =>
    val (nodes, edges) = erGraph(s, d)
    erClustersFrom(nodes, edges)
  }

  /** Canonical-URL dedup with a keep-best policy (the first stage of
    * every web-corpus pipeline: many crawls of one URL → keep the
    * longest capture, oldest id on ties). The engine side is a single
    * partial-aggregated `max(struct(n_chars, -doc_id))` ARGMAX — one
    * row per URL crosses the shuffle, no window, no secondary sort —
    * while the oracle states the same policy as the conventional
    * ROW_NUMBER window; identical survivors prove the argmax
    * encoding. URLs are synthesized deterministically (the fixtures
    * ship none), colliding at (source, lang) grain. */
  val qDedupUrl: QDef = QDef(
    "q_dedup_url",
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    'https://' || source || '.example.com/' || lang AS url
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_chars, url,
      |    ROW_NUMBER() OVER (PARTITION BY url
      |      ORDER BY n_chars DESC, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY url) AS n_docs
      |  FROM u)
      |SELECT url, CAST(n_docs AS BIGINT) AS n_docs,
      |  doc_id AS kept_doc, n_chars AS kept_chars
      |FROM r WHERE rn = 1
      |ORDER BY url""".stripMargin) { (s, d) =>
    val url = concat(lit("https://"), col("source"),
      lit(".example.com/"), col("lang"))
    documents(s, d)
      .select(col("doc_id"), col("n_chars"), url.as("url"))
      .groupBy(col("url"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("best"))
      .select(col("url"), col("n_docs"),
        (-col("best.neg_id")).as("kept_doc"),
        col("best.n_chars").as("kept_chars"))
      .orderBy(col("url"))
  }

  // Exact substring-span dedup (the gram-join formulation of
  // suffix-array exact-substring dedup from the public training-data
  // dedup literature): width-40 character grams, stride-20 grid on the
  // probe side, stride-1 on the index side.
  private val subW = 40 // gram width (chars)
  private val subS = 20 // probe-side stride
  private val subMaxDocs = 50 // boilerplate guard: drop grams in >50 docs

  /** Exact substring-span duplicate pairs: documents sharing a verbatim
    * character span. Probe side A samples width-`subW` grams on a
    * stride-`subS` grid; index side B enumerates every position
    * (stride 1), so ANY shared span of length ≥ subW + subS - 1 = 59
    * chars is guaranteed to contain a grid-aligned A-gram that B holds
    * — no alignment assumption between the two copies. Pairs join on
    * the raw gram text (no hash, so no collision can fabricate a pair);
    * `n_shared` counts matching grid positions, a proxy for duplicated
    * span length (≈ n_shared·subS chars).
    *
    * Scale design: the stride-1 side is O(total chars) rows — the
    * inherent cost of exact-substring detection without a global suffix
    * array. Two plan decisions keep it cheap: (1) grams travel as
    * 16-byte md5 digests, not 40-char strings — md5 is the portable
    * hash (SURVEY §0), so the ORACLE keys on the identical digest and
    * even a (2^-128-improbable) collision cannot cause a cross-engine
    * mismatch; (2) the heavy side crosses exactly ONE exchange
    * (hash(g)), is deduped to (gram, doc) grain shuffle-free on top of
    * it, and is then materialized (localCheckpoint, partitioning
    * preserved) so its two consumers read cached blocks instead of
    * re-deriving 10M rows. The boilerplate guard (drop grams in >
    * `subMaxDocs` documents — licence text, headers — BEFORE the pair
    * join; it is what keeps a hot gram from exploding into a quadratic
    * pair block) is an anti-join against the TINY hot-gram set, and
    * the candidate join hash-builds on the small grid side so the
    * index only ever streams — no sort of it, no broadcast of it. */
  /** Shared oracle CTE prefix for the substring-dedup family: grid
    * probe grams (a), distinct (gram, doc) index (b), and the
    * boilerplate keep-set. */
  private val subOracleCtes: String =
    s"""WITH docs AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents
      |  WHERE length(text) >= $subW),
      |ap AS (
      |  SELECT doc_id AS a_doc, text,
      |    unnest(generate_series(1, len - ${subW - 1}, $subS)) AS p
      |  FROM docs),
      |a AS (
      |  SELECT a_doc, p AS a_pos,
      |    unhex(md5(substr(text, CAST(p AS INTEGER), $subW))) AS g
      |  FROM ap),
      |bp AS (
      |  SELECT doc_id AS b_doc, text,
      |    unnest(generate_series(1, len - ${subW - 1}, 1)) AS p
      |  FROM docs),
      |b AS (
      |  SELECT DISTINCT b_doc,
      |    unhex(md5(substr(text, CAST(p AS INTEGER), $subW))) AS g
      |  FROM bp),
      |keep AS (SELECT g FROM b GROUP BY g HAVING COUNT(*) <= $subMaxDocs)""".stripMargin

  private def subDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .where(col("len") >= subW)

  /** Grid probe grams for an ARBITRARY (doc_id, text) frame: one md5
    * digest per (doc, stride-aligned pos) — the building block shared
    * by the corpus queries and the incremental batch path
    * (DedupPipeline.substringOverlapIncremental). */
  def gridGramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .where(col("len") >= subW)
      .select(col("doc_id").as("a_doc"), col("text"),
        explode(sequence(lit(1), col("len") - (subW - 1), lit(subS)))
          .as("a_pos"))
      .select(col("a_doc"), col("a_pos"),
        unhex(md5(expr(s"substring(text, a_pos, $subW)").cast("binary")))
          .as("g"))

  private def subASide(s: SparkSession, d: String): DataFrame =
    gridGramsOf(documents(s, d))

  /** The session-lifetime corpus artifact of the substring family: the
    * inverted (gram-digest → doc) index at distinct (g, doc) grain,
    * plus the tiny hot-gram (boilerplate) set. ONE exchange keyed
    * hash(g) builds it — the per-(g, doc) dedup aggregate is
    * shuffle-free on top (hash(g) satisfies its clustering
    * requirement) — and localCheckpoint materializes it, so its
    * consumers (both declared queries × every hot/candidate pass) read
    * cached blocks instead of re-running the 10M-row explode+md5
    * (plan-level exchange reuse proved fragile here: the planner
    * broadcast-collected the index, 11 s, or SMJ-sorted it twice,
    * 6 s). Built by `Bench`'s warm-up like the shingle/IVF/PQ/graph
    * caches. */
  def substringGramIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.sources.SessionCache.getOrElseUpdate(s, ("subgram", d)) {
      val bDist = subDocs(s, d)
        .select(col("doc_id").as("b_doc"), col("text"),
          explode(sequence(lit(1), col("len") - (subW - 1), lit(1)))
            .as("p"))
        .select(col("b_doc"),
          unhex(md5(expr(s"substring(text, p, $subW)").cast("binary")))
            .as("g"))
        .repartition(col("g"))
        .dropDuplicates("g", "b_doc")
        .localCheckpoint()
      // grams in > subMaxDocs docs (licence text, headers) — near-empty
      // on healthy corpora, and the guard that keeps a hot gram from
      // exploding into a quadratic pair block.
      // Deliberately NOT fused via the distinct_upto aggregate: a
      // TypedImperativeAggregate plans as ObjectHashAggregate, whose
      // sort-based fallback past 128 in-memory groups SORTS the ~10M
      // gram groups (measured 13 s vs 2.5 s for these plain hash
      // aggregates — see spark-plan-pitfalls). distinct_upto is the
      // right tool for LOW-cardinality guarded groupings; here the
      // per-(g, b_doc) dedup state is one row per pair and spills
      // through the hash aggregate normally.
      val hot = bDist.groupBy(col("g"))
        .agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") > subMaxDocs)
        .select(col("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (bDist, hot)
    }

  /** Guarded candidate hits: grid grams anti-joined against the TINY
    * hot set (not inner-joined against the ~all-grams keep side), then
    * matched against the index. shuffle_hash keeps the hash builds on
    * the small sides; the 10M-row index only ever STREAMS — never
    * broadcast, never sorted (PlanSpec pins this). The output is
    * unique per (a_doc, a_pos, b_doc): (a_doc, a_pos) has exactly one
    * gram and the index is distinct per (g, doc). */
  private def subHits(s: SparkSession, d: String): DataFrame =
    subHitsOf(s, d, subASide(s, d))

  /** The same guarded join for an ARBITRARY probe-side gram frame
    * (columns g, a_doc, a_pos) — the incremental batch audit rides the
    * identical hint choreography as the corpus queries, so a future
    * tuning of the guard or hints applies to both (r11 review: the
    * recipe was duplicated in DedupPipeline). */
  private[graft] def subHitsOf(
      s: SparkSession, d: String, aSide: DataFrame): DataFrame = {
    val (bDist, hot) = substringGramIndex(s, d)
    aSide
      .join(hot.hint("shuffle_hash"), Seq("g"), "left_anti")
      .hint("shuffle_hash")
      .join(bDist, "g")
  }

  val qDedupSubstring: QDef = QDef(
    "q_dedup_substring",
    s"""$subOracleCtes,
      |hits AS (
      |  SELECT a.a_doc, a.a_pos, b.b_doc
      |  FROM a JOIN keep ON a.g = keep.g
      |  JOIN b ON a.g = b.g AND a.a_doc < b.b_doc)
      |SELECT a_doc, b_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM hits GROUP BY a_doc, b_doc
      |ORDER BY a_doc, b_doc""".stripMargin) { (s, d) =>
    subHits(s, d)
      .where(col("a_doc") < col("b_doc"))
      .groupBy(col("a_doc"), col("b_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("a_doc"), col("b_doc"))
  }

  /** Per-document duplicated-span coverage — the curation report the
    * pair list feeds: which fraction of each document's stride grid is
    * verbatim-shared with ANY other document (grid grams ≈ every subS
    * chars, so dup_frac ≈ duplicated-char fraction). Same guarded
    * gram-join machinery and cached index as q_dedup_substring; only
    * the final grouping differs (per doc, not per pair). */
  val qDedupSpanCoverage: QDef = QDef(
    "q_dedup_span_coverage",
    s"""$subOracleCtes,
      |hits AS (
      |  SELECT DISTINCT a.a_doc, a.a_pos
      |  FROM a JOIN keep ON a.g = keep.g
      |  JOIN b ON a.g = b.g AND a.a_doc <> b.b_doc),
      |grid AS (SELECT a_doc, COUNT(*) AS n_grid FROM a GROUP BY a_doc)
      |SELECT g.a_doc AS doc_id, CAST(g.n_grid AS BIGINT) AS n_grid,
      |  CAST(COUNT(*) AS BIGINT) AS n_dup,
      |  ROUND(COUNT(*) * 1.0 / g.n_grid, 4) AS dup_frac
      |FROM grid g JOIN hits h ON g.a_doc = h.a_doc
      |GROUP BY g.a_doc, g.n_grid
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // the grid-gram frame (explode + one md5 per stride position) has
    // two consumers with DIFFERENT downstream shuffle keys (g for the
    // index join, a_doc for the grid counts), so exchange reuse cannot
    // collapse them and the explode+digest pass ran twice per
    // execution (r14 opt) — materialize it once
    val aSide = subASide(s, d).localCheckpoint()
    val dupPos = subHitsOf(s, d, aSide)
      .where(col("a_doc") =!= col("b_doc"))
      .select(col("a_doc"), col("a_pos"))
      .dropDuplicates("a_doc", "a_pos")
      .groupBy(col("a_doc"))
      .agg(count(lit(1)).as("n_dup"))
    val grid = aSide
      .groupBy(col("a_doc"))
      .agg(count(lit(1)).as("n_grid"))
    grid.join(dupPos, "a_doc")
      .select(
        col("a_doc").as("doc_id"), col("n_grid"), col("n_dup"),
        round(col("n_dup") * lit(1.0) / col("n_grid"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Span CUT — the transform the detection feeds (the public
    * exact-substring dedup pipeline removes duplicated spans rather
    * than whole documents): every grid gram of a doc that also occurs
    * in a LOWER-id doc marks the span [a_pos, a_pos+subW) for removal;
    * overlapping spans are merged into intervals and the surviving
    * pieces are reassembled. First occurrence (lowest doc_id) always
    * survives intact — only later copies lose the duplicated text.
    *
    * The interval merge and reassembly are pure codegen
    * higher-order-function expressions (aggregate/zip_with/transform
    * over the per-doc position array — bounded by len/subS entries, so
    * per-row state is small and there is no UDF in the path).
    *
    * Oracle (round 10; previously no_oracle): the same span arithmetic
    * IS SQL-expressible — with ascending positions and FIXED width the
    * fold's merge test `p <= prev_end` reduces to `p <= lag(p) + W`,
    * so intervals fall out of a lag-window + running-sum interval-id,
    * and the reassembly is a string_agg of the gap substrings. Drift
    * in the HOF fold (off-by-one span ends, missed adjacent-merge)
    * now fails the driver hash gate; DedupSubstringSpec keeps the
    * property lens (dup pair → later copy nearly empty; partial
    * borrower loses exactly the borrowed span). */
  val qDedupSpanCut: QDef = QDef(
    "q_dedup_span_cut",
    s"""$subOracleCtes,
      |hits AS (
      |  SELECT DISTINCT a.a_doc AS doc_id, a.a_pos AS p
      |  FROM a JOIN keep ON a.g = keep.g
      |  JOIN b ON a.g = b.g AND b.b_doc < a.a_doc),
      |marks AS (
      |  SELECT doc_id, p,
      |    CASE WHEN p > COALESCE(lag(p) OVER
      |        (PARTITION BY doc_id ORDER BY p) + $subW, 0)
      |      THEN 1 ELSE 0 END AS is_start
      |  FROM hits),
      |iv0 AS (
      |  SELECT doc_id, p, SUM(is_start) OVER
      |    (PARTITION BY doc_id ORDER BY p) AS iv_id
      |  FROM marks),
      |iv AS (
      |  SELECT doc_id, iv_id, MIN(p) AS s, MAX(p) + $subW AS e
      |  FROM iv0 GROUP BY doc_id, iv_id),
      |cut AS (SELECT doc_id, SUM(e - s) AS n_cut FROM iv
      |  GROUP BY doc_id),
      |pieces AS (
      |  SELECT doc_id, COALESCE(lag(e) OVER
      |      (PARTITION BY doc_id ORDER BY s), 1) AS gs, s AS ge
      |  FROM iv
      |  UNION ALL
      |  SELECT doc_id, MAX(e) AS gs, NULL AS ge FROM iv
      |  GROUP BY doc_id),
      |rebuilt AS (
      |  SELECT p.doc_id,
      |    string_agg(substr(d.text, CAST(p.gs AS INTEGER),
      |      CAST(COALESCE(p.ge, d.len + 1) - p.gs AS INTEGER)),
      |      '' ORDER BY p.gs) AS clean_text
      |  FROM pieces p JOIN docs d ON p.doc_id = d.doc_id
      |  GROUP BY p.doc_id)
      |SELECT r.doc_id, CAST(d.len AS INTEGER) AS orig_len,
      |  CAST(c.n_cut AS BIGINT) AS n_cut,
      |  CAST(length(r.clean_text) AS BIGINT) AS clean_len,
      |  r.clean_text
      |FROM rebuilt r
      |JOIN docs d ON r.doc_id = d.doc_id
      |JOIN cut c ON r.doc_id = c.doc_id
      |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    val cutPos = subHits(s, d)
      .where(col("b_doc") < col("a_doc"))
      .groupBy(col("a_doc").as("doc_id"))
      .agg(sort_array(collect_set(col("a_pos"))).as("ps"))
    val withText = subDocs(s, d)
      .select(col("doc_id"), col("text"), col("len"))
      .join(cutPos, "doc_id")
    // merge overlapping/adjacent fixed-width spans into intervals
    val iv = expr(
      s"""aggregate(ps,
         |  cast(array() as array<struct<s:int,e:int>>),
         |  (acc, p) -> CASE
         |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e
         |    THEN concat(slice(acc, 1, size(acc) - 1),
         |      array(named_struct('s', element_at(acc, -1).s,
         |        'e', greatest(element_at(acc, -1).e, p + $subW))))
         |    ELSE concat(acc, array(named_struct('s', p, 'e', p + $subW)))
         |  END)""".stripMargin)
    withText
      .withColumn("iv", iv)
      // surviving pieces: [1, s1), [e1, s2), …, [ek, len+1)
      .withColumn("clean_text", expr(
        """concat_ws('', zip_with(
          |  concat(array(1), transform(iv, x -> x.e)),
          |  concat(transform(iv, x -> x.s), array(len + 1)),
          |  (a, b) -> substring(text, a, b - a)))""".stripMargin))
      .withColumn("n_cut",
        expr("aggregate(iv, 0, (acc, x) -> acc + (x.e - x.s))"))
      .select(
        col("doc_id"),
        col("len").as("orig_len"),
        col("n_cut").cast("long").as("n_cut"),
        length(col("clean_text")).cast("long").as("clean_len"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  val defs: Seq[QDef] = Seq(
    qDedupExact, qDedupMinhash, qDedupSimhash, qDedupNgramJaccard,
    qDedupEmbedding, qDedupTransitive, qFuzzyNameMatch, qFuzzyJwPairs,
    qDedupUrl, qDedupSubstring, qDedupSpanCoverage, qDedupSpanCut,
    qLshPlanner, qErClusters)
}
