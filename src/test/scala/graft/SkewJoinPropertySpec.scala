package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin

/** Property test for the salted join: on random skewed data — hot keys,
  * duplicate rows, keys missing from either side, nulls in payloads —
  * `saltedInnerJoin` must produce exactly the plain inner join's bag of
  * rows for every salt factor. (The fixture-level identity is already
  * oracle-checked by q_join_skew_salted; this covers the adversarial
  * shapes the fixture lacks.) */
class SkewJoinPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  test("salted == plain inner join on random skewed bags") {
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 10) {
      // big side: 300 rows over few keys, ~half on one hot key,
      // duplicate rows included; payload occasionally null
      val big = (1 to 300).map { _ =>
        val k = if (rng.nextBoolean()) 1L else rng.nextInt(8).toLong
        val payload =
          if (rng.nextInt(10) == 0) null
          else s"p${rng.nextInt(5)}" // few distinct payloads → dup rows
        (k, payload)
      }.toDF("k", "payload")
      // small side: some keys absent, some extra keys present
      val small = (0 to 10 by 2).map(i => (i.toLong, s"dim$i"))
        .toDF("k", "name")
      val plain = big.join(small, "k")
        .groupBy("k", "payload", "name").count()
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.getLong(3)))
        .toSet
      for (n <- Seq(1, 3, 8)) {
        val salted = SkewJoin.saltedInnerJoin(big, small, Seq("k"), n)
          .groupBy("k", "payload", "name").count()
          .collect().map(r => (r.get(0), r.get(1), r.get(2), r.getLong(3)))
          .toSet
        assert(salted == plain, s"trial $trial, n=$n")
      }
      // adaptive hot-key split: thresholds that make (a) everything
      // cold, (b) only the dominant key hot, (c) everything hot — the
      // union of branches must be the plain bag in all three regimes
      for (threshold <- Seq(1L, 20L, 1000L)) {
        val adaptive = SkewJoin
          .saltedInnerJoinHot(big, small, Seq("k"), 4, threshold)
          .groupBy("k", "payload", "name").count()
          .collect().map(r => (r.get(0), r.get(1), r.get(2), r.getLong(3)))
          .toSet
        assert(adaptive == plain, s"trial $trial, threshold=$threshold")
      }
    }
  }
}
