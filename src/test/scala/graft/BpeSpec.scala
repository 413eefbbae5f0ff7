package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, BpeDecode, TokenizeBpe}

/** Byte-level BPE: golden merges on the classic hand-checkable corpus,
  * trainer-vs-naive-reference equivalence on random corpora (the
  * incremental pair-count maintenance must equal a full recount every
  * step), lossless round-trip, eval/codegen parity, determinism, and
  * whitespace-twin consistency of the registered queries. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  // ---- naive reference trainer: full recount every iteration ----
  private def naiveTrain(
      wordFreq: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] = wordFreq.map { case (w, f) =>
      (w.getBytes("UTF-8").map(b => String.valueOf((b & 0xFF).toChar))
        .toVector, f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      words.foreach { case (w, f) =>
        w.sliding(2).foreach {
          case Vector(a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq
          .maxBy { case ((a, b), c) => (c, a, b) }(
            Ordering.Tuple3(Ordering.Long,
              Ordering.String.reverse, Ordering.String.reverse))
        if (best._2 < 2L) done = true
        else {
          val (a, b) = best._1
          merges += ((a, b))
          val merged = a + b
          words = words.map { case (w, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < w.length) {
              if (i < w.length - 1 && w(i) == a && w(i + 1) == b) {
                out += merged; i += 2
              } else { out += w(i); i += 1 }
            }
            (out.result(), f)
          }
        }
      }
    }
    merges.toSeq
  }

  test("golden merges on the classic low/lower/newest/widest corpus") {
    // Sennrich et al.'s worked example (public): with these
    // frequencies the first merges fuse the 'es'/'est' suffix family.
    val corpus = Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val v = Bpe.train(corpus, 4)
    val got = v.merges.toSeq
    // hand-computed: pair counts round 1 — ("e","s") = 9 (newest 6 +
    // widest 3) ties ("s","t") = 9 and ("l","o") = 7 is lower; tie
    // breaks lexicographically: ("e","s") < ("s","t").
    assert(got.head == ("e", "s"))
    // round 2: ("es","t") = 9 is the unique max.
    assert(got(1) == ("es", "t"))
    // and the full list matches the naive reference exactly
    assert(got == naiveTrain(corpus, 4))
  }

  test("incremental trainer == naive full-recount reference on random " +
    "corpora") {
    val rng = new scala.util.Random(0xbee)
    (0 until 5).foreach { round =>
      val alphabet = "abcdef"
      val corpus = (0 until 30).map { _ =>
        val w = (0 until 2 + rng.nextInt(6))
          .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
        (w, 1L + rng.nextInt(9).toLong)
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
        .sortBy { case (w, c) => (-c, w) }
      val fast = Bpe.train(corpus, 12).merges.toSeq
      val slow = naiveTrain(corpus, 12)
      assert(fast == slow, s"divergence in round $round: $fast vs $slow")
    }
  }

  test("encode round-trips losslessly (unicode included) and agrees " +
    "between eval and codegen") {
    val v = Bpe.default
    val texts = Seq(
      "the quick brown fox",
      "compression ratios and token counts",
      "naïve café über 東京 — mixed unicode",
      "x",
      "  leading and   multiple   spaces  ")
    texts.foreach { t =>
      val ids = v.encode(t)
      val normalized = t.trim.split("\\s+").filter(_.nonEmpty).mkString("")
      // decode concatenates word bytes: byte-exact within words
      assert(v.decode(ids) == normalized,
        s"round-trip mismatch for '$t'")
    }
    // eval vs codegen: the DataFrame path runs generated code, direct
    // .eval runs the interpreted path
    val df = texts.toDF("t")
      .select(col("t"), TokenizeBpe(col("t"), v).as("ids"))
    val fromCodegen = df.collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toSeq).toMap
    texts.foreach { t =>
      assert(fromCodegen(t) == v.encode(t).toSeq,
        s"eval/codegen divergence for '$t'")
    }
    // decode expression parity too
    val decoded = df.select(col("t"), BpeDecode(col("ids"), v).as("back"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    texts.foreach { t =>
      assert(decoded(t) ==
        t.trim.split("\\s+").filter(_.nonEmpty).mkString(""))
    }
  }

  test("training is deterministic and encoding respects merge ranks") {
    val corpus = Seq(("banana", 4L), ("bandana", 3L), ("cabana", 5L))
    val v1 = Bpe.train(corpus, 8)
    val v2 = Bpe.train(corpus, 8)
    assert(v1.merges.toSeq == v2.merges.toSeq)
    // encoding a training word must reproduce the fully-merged form
    // the trainer left it in: re-applying merges by rank converges to
    // the same segmentation (standard BPE property)
    val ids = v1.encodeWord("banana")
    assert(v1.decode(ids) == "banana")
    // every id is in range
    ids.foreach(id => assert(id >= 0 && id < v1.vocabSize))
  }

  test("registered BPE queries agree with their whitespace twins on " +
    "shared columns") {
    val d = "/root/testdata/sf0.001"
    val bpe = graft.operators.BpeQueries.qBpeTokenCount.fn(spark, d)
      .select("doc_id", "ws_tokens").as[(Long, Long)].collect().toMap
    val ws = graft.operators.TextQueries.qTokenCount.fn(spark, d)
      .select("doc_id", "ws_tokens").as[(Long, Long)].collect().toMap
    assert(bpe == ws, "ws_tokens must match q_token_count exactly")
    // packing twin: same per-source token-stream ORDER, so straddle
    // structure is internally consistent (chunk_first <= chunk_last,
    // offsets strictly increasing per source)
    val pack = graft.operators.BpeQueries.qBpePackSequences.fn(spark, d)
      .select("source", "doc_id", "start_tok", "n_tok")
      .as[(String, Long, Long, Long)].collect()
    pack.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + a._4, "offsets must chain per source")
        case _ => ()
      }
    }
    // truncation twin: n_kept_chars is bounded by the document's
    // non-whitespace character count and positive for non-empty docs
    val trunc = graft.operators.BpeQueries.qBpeTokenTruncate.fn(spark, d)
    assert(trunc.filter(col("n_kept_chars") <= 0).count() == 0)
  }

  test("tokenize_bpe / bpe_decode are registered on the SQL surface") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT bpe_decode(tokenize_bpe('the trainer counts pairs')) AS t")
      .as[String].collect().head
    assert(r == "thetrainercountspairs")
  }
}
