package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Smoke: driver contract holds — entry() returns rows, every
  * registered query runs at sf0.001, every oracle key exists. Each
  * query is forced through the `noop` sink, which computes every
  * output column: `count()` would let Catalyst prune projection-only
  * work and leave it untested. The generated-code cache
  * (`Sessions.CodegenCacheEntries`) must hold a rotation of registered
  * queries whose classes overflow Spark's default 100 entries, so a
  * second pass barely compiles. */
class QueriesSmokeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique and oracles reference registered queries") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        // String.valueOf: a null message (bare NPE) must not abort the
        // sweep with an NPE in the reporter itself
        Some(s"$name: ${String.valueOf(e.getMessage).take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a second pass over a query rotation compiles under 10% of the first pass's classes") {
    // the queries_small benchmark rotation: ten registered queries
    // across seven modules, about 260 generated classes in all
    val rotation = Seq(
      "q_neyman_allocation", "q_mantel_haenszel", "q_seasonal_dow", "q_mann_kendall",
      "q_dbscan_cells", "q_entropy_rate", "q_label_propagation", "q_mode_per_group",
      "q_breusch_pagan", "q_funnel_windowed")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      rotation.foreach { q =>
        SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // the session must exist before CodeGenerator is first touched:
    // the cache takes its size from the active session's conf
    spark.conf.get("spark.sql.codegen.cache.maxEntries")
    // earlier suites may have compiled these queries already: start
    // from an empty cache so the first pass counts the whole working
    // set (the cache has no public reset; its size stays as built)
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    Class.forName("org.sparkproject.guava.cache.Cache").getMethod("invalidateAll").invoke(loading)

    val first = pass()
    val second = pass()
    info(s"compiled classes: first pass $first, second pass $second")
    assert(first > 100, s"rotation compiled only $first classes: it no longer overflows " +
      "the default cache, so this spec would not catch a shrunken one")
    assert(second * 10 < first,
      s"second pass compiled $second classes of the first pass's $first")
  }
}
