package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.functions.{col, sum, udf}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin.during]]: frames are cached exactly for the scope and released
  * on every exit path. [[Pin.cut]]: the rows are the input's and the
  * plan carries their measured size. [[Pin.fit]]: partitions follow
  * the data size, capped at the default parallelism, never raised. */
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

  private def stats(df: DataFrame): Statistics = df.queryExecution.optimizedPlan.stats

  /** ROADMAP S2's shape: 1,000 groups over 2M rows. */
  private def smallAggregate: DataFrame =
    spark.range(0, 2000000, 1, 4).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("s"))

  test("cut: the plan's row count is the measured count") {
    val df = spark.range(0, 10000, 1, 4).where("id % 7 = 0").toDF()
    assert(stats(Pin.cut(df)).rowCount.contains(BigInt(df.count())))
  }

  test("cut: an aggregate's size is measured, below the pre-execution estimate") {
    val agg = smallAggregate
    val estimate = stats(agg).sizeInBytes
    val measured = stats(Pin.cut(agg))
    assert(measured.rowCount.contains(BigInt(1000)))
    assert(measured.sizeInBytes > 0 && measured.sizeInBytes < estimate,
      s"measured ${measured.sizeInBytes} B, estimated $estimate B")
  }

  test("cut: the rows are the input's") {
    val agg = smallAggregate
    assert(Pin.cut(agg).orderBy("k").collect().toSeq == agg.orderBy("k").collect().toSeq)
  }

  test("cut: a throwing frame propagates its exception and keeps no blocks") {
    val boom = udf((x: Long) => if (x == 3) throw new IllegalStateException("boom") else x)
    val df = spark.range(0, 10, 1, 2).select(boom(col("id")).as("x"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Pin.cut(df))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.contains("boom"), messages.mkString(" <- "))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
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
