package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Graft reruns the same plans (curation passes, one query per epoch), and
  * that reuse only pays when their generated classes stay in Spark's codegen
  * cache. Sized by [[GraftSession.CodegenCacheEntries]], the cache holds the
  * curate keys' working set, so a repeated run compiles nothing; at Spark's
  * default of 100 entries every run recompiled about 100 classes. */
class CodegenCacheSpec extends SparkSpec {

  private val keys = Seq("heavy_hitters", "corpus_assemble", "ann_pq")

  private def runKeys(): Unit = keys.foreach { k =>
    SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  test("a repeated run of the curate keys compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    // two runs settle the plans: corpus_assemble's first run in a JVM plans
    // its survivor semi-joins differently from every later run (2 classes)
    runKeys()
    runKeys()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runKeys()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0L)
  }
}
