package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily built). The
  * static settings (codegen cache size, local filesystem classes) are
  * `Sessions.build`'s: each is fixed once per JVM by the first session
  * that uses it, so a different value here would make specs depend on
  * suite order. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.withStaticSettings(SparkSession.builder())
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
