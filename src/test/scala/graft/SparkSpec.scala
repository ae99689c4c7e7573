package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily built). The
  * codegen cache size matches `Sessions.build`: it is fixed once per
  * JVM by the first session that generates code, so a different value
  * here would make cache-dependent specs depend on suite order. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", Sessions.CodegenCacheEntries.toLong)
    .getOrCreate()
}
