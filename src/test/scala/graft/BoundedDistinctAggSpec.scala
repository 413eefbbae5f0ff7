package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BoundedDistinctAgg

/** distinct_upto: exactness within the cap, NULL on overflow, capped
  * partial/merge behavior across many partitions, SQL registration. */
class BoundedDistinctAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  import spark.implicits._

  test("returns the sorted distinct set when within cap") {
    val df = Seq((1L, 5L), (1L, 3L), (1L, 5L), (1L, 9L))
      .toDF("k", "v")
    val out = df.groupBy($"k")
      .agg(BoundedDistinctAgg($"v", 5).as("s"))
      .collect()
    assert(out.head.getAs[scala.collection.Seq[Long]]("s").toSeq == Seq(3L, 5L, 9L))
  }

  test("evaluates to NULL when the group exceeds cap distinct values") {
    val df = (1L to 100L).map(v => (1L, v)).toDF("k", "v")
    val out = df.groupBy($"k")
      .agg(BoundedDistinctAgg($"v", 50).as("s"))
      .collect()
    assert(out.head.isNullAt(1))
  }

  test("merge across many partitions is exact at the cap boundary") {
    // exactly cap distinct values scattered over 16 partitions: every
    // partial is a subset, the union must be complete and non-null
    val cap = 20
    val df = (1L to 200L).map(i => (i % 2, (i / 2) % cap))
      .toDF("k", "v").repartition(16)
    val out = df.groupBy($"k")
      .agg(BoundedDistinctAgg($"v", cap).as("s"))
      .orderBy($"k").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("s").toSeq == (0L until cap.toLong).toSeq)
    }
    // cap+1 distinct values over the same layout must be NULL
    val over = (0L to 20L).map(v => (1L, v)).toDF("k", "v")
      .repartition(16)
      .groupBy($"k").agg(BoundedDistinctAgg($"v", cap).as("s"))
      .collect()
    assert(over.head.isNullAt(1))
  }

  test("nulls are ignored, empty group yields empty array") {
    val df = Seq((1L, Some(4L)), (1L, None), (2L, None))
      .toDF("k", "v")
    val out = df.groupBy($"k")
      .agg(BoundedDistinctAgg($"v", 5).as("s"))
      .orderBy($"k").collect()
    assert(out(0).getAs[scala.collection.Seq[Long]]("s").toSeq == Seq(4L))
    assert(out(1).getAs[scala.collection.Seq[Long]]("s").toSeq == Seq.empty[Long])
  }

  test("SQL registration: distinct_upto with literal cap") {
    GraftExtensions.register(spark)
    Seq((1L, 7L), (1L, 2L)).toDF("k", "v")
      .createOrReplaceTempView("bda_t")
    val out = spark
      .sql("SELECT distinct_upto(v, 5) AS s FROM bda_t GROUP BY k")
      .collect()
    assert(out.head.getAs[scala.collection.Seq[Long]]("s").toSeq == Seq(2L, 7L))
    val err = intercept[Exception] {
      spark.sql("SELECT distinct_upto(v, k) FROM bda_t GROUP BY k")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal")
      || err.getCause != null)
  }
}
