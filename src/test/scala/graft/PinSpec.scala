package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin.during]]: frames are cached exactly for the scope and released
  * on every exit path. [[Pin.fit]]: partitions follow the data size,
  * capped at the default parallelism, never raised. */
class PinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.hive

  private def pinned(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a throwing body releases its frames and the exception propagates") {
    val a = spark.range(10).toDF("x")
    val b = spark.range(5).toDF("y")
    val e = intercept[IllegalStateException] {
      Pin.during(a, b) {
        assert(pinned(a) && pinned(b))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!pinned(a) && !pinned(b))
  }

  test("nested scopes release inner before outer") {
    val outer = spark.range(10).toDF("x")
    val inner = outer.selectExpr("x * 2 AS y")
    val seen = Pin.during(outer) {
      val inScope = Pin.during(inner) {
        (pinned(outer), pinned(inner), inner.count())
      }
      (inScope, pinned(outer), pinned(inner))
    }
    assert(seen == (((true, true, 10L), true, false)))
    assert(!pinned(outer) && !pinned(inner))
  }

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions

  test("fit: a few rows come back as one partition") {
    val s = spark
    import s.implicits._
    assert(parts(Pin.fit(Seq(1L, 2L, 3L, 4L).toDF("x"))) == 1)
  }

  test("fit: a large frame is capped at the default parallelism") {
    val big = spark.range(0, 1L << 32, 1, 64).toDF()
    assert(parts(Pin.fit(big)) == spark.sparkContext.defaultParallelism)
  }

  test("fit: never raises a partition count") {
    assert(parts(Pin.fit(spark.range(0, 1L << 32, 1, 1).toDF())) == 1)
  }

  test("fit: the PageRank and LabelPropagation fixpoints of a tiny graph are one partition") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    assert(parts(graft.operators.PageRank.run(edges, iters = 3)) == 1)
    assert(parts(graft.operators.LabelPropagation.run(edges, iters = 3)) == 1)
  }
}
