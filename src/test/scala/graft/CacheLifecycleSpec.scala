package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle is operator-owned: every operator that persists an
  * intermediate (jaccardPairs, minhashLshPairs, duplicateClusters,
  * embeddingPairsLsh, annTopK, ivfTopK) must release it before
  * returning — the session's CacheManager is required to be EMPTY after
  * each such query materializes. The Verify/Bench harnesses no longer
  * call `clearCache()`, so a regression here would leak MEMORY_AND_DISK
  * handles for the life of any embedding session. The last three
  * queries' operators (ivfBalanceReport, pqEncode, sourceQualityEb)
  * cache nothing at all and return lazy frames; they are listed so that
  * a cache coming back into them must also be released. */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private val cachingQueries = Seq(
    "q_dedup_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_clusters",
    "q_dedup_canonical_docs",
    "q_dedup_embedding_lsh",
    "q_sim_ann_lsh",
    "q_sim_ivf_topk",
    "q_sim_ivf_balance",
    "q_sim_pq",
    "q_text_source_quality_eb")

  for (name <- cachingQueries)
    test(s"$name leaves no Dataset-level cache behind") {
      SparkEntry.queries(name)(spark, d).count()
      assert(cacheManagerEmpty, s"$name left entries in the CacheManager")
    }
}
