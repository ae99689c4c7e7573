package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object ProfileQ {
  def main(args: Array[String]): Unit = {
    // Same factory as Bench/Verify — a hand-rolled session here would
    // profile a configuration (cores, timezone, shuffle width) that
    // the measured entry points never run.
    val spark = Sessions.build("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    val name = args(0); val sf = args(1)
    val fn = SparkEntry.queries(name)
    // warm
    Tables(spark, sf, "region").count()
    // JVM-wide codegen counters: their deltas over the timed query
    // show a recompile regression (a codegen cache too small for the
    // query's classes) in the artifact itself
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ns0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val df = fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
    println(f"TIMED $secs%.2f s codegen_compiles=$compiles codegen_compile_ms=$compileMs%.1f")
    if (args.length > 2) df.explain("formatted")
    spark.stop()
  }
}
