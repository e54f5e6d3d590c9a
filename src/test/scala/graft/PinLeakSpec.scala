package graft

import org.scalatest.funsuite.AnyFunSuite

/** No pin outlives its query: after each pin-heavy query is fully
  * materialized, the SQL cache is empty and every RDD the query left
  * persisted is a completed local checkpoint (reclaimed by the
  * ContextCleaner once the result is dropped). */
class PinLeakSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.hive
  private val sfDir = "/root/testdata/sf0.001"

  for (q <- Seq("q82_pagerank_supply", "q140_personalized_pagerank",
                "q211_label_propagation", "q90_bm25_search", "q120_bpe_encode",
                "q128_tokenize_pack", "q184_pretrain_capstone_v2",
                "q188_bm25_maxscore", "q194_countmin_frequency")) {
    test(s"$q leaves no pin behind") {
      spark.catalog.clearCache() // judge this query alone
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Bench.materialize(SparkEntry.queries(q)(spark, sfDir))
      assert(spark.sharedState.cacheManager.isEmpty, s"$q left SQL cache entries")
      val left = spark.sparkContext.getPersistentRDDs
        .filter { case (id, rdd) => !before.contains(id) && !rdd.isCheckpointed }
      assert(left.isEmpty, s"$q left persisted RDDs that are not checkpoints: ${left.values}")
    }
  }
}
