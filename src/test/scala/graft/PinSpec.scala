package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin.during]]: frames are cached exactly for the scope and released
  * on every exit path. */
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
}
