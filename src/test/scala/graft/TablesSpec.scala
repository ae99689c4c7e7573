package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Schema-drift canary: asserts the POST-normalization Spark schema
  * (names AND types, in order) of all 10 driver tables at sf0.001.
  *
  * The driver has changed the physical `events.ts` encoding twice
  * already (TIMESTAMP(NANOS) → µs TIMESTAMP_NTZ). `Tables.apply`
  * normalizes every encoding to plain TimestampType; if a third
  * encoding ever arrives, THIS test names the drift directly instead
  * of five unrelated queries failing analysis downstream.
  *
  * Also gates the schema cache by count: `Tables` infers a table's
  * parquet schema once per file version, so a repeat call launches no
  * Spark job, and a file rewritten at the same path is read with its
  * new schema.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int"))

  test("expected map covers exactly Tables.names") {
    assert(expected.keySet == Tables.names.toSet)
  }

  Tables.names.foreach { name =>
    test(s"$name: normalized schema matches (names + types, in order)") {
      val actual = Tables(spark, sf, name).schema
        .map(f => f.name -> f.dataType.catalogString)
      assert(actual == expected(name),
        s"schema drift in $name —\n  actual:   $actual\n  expected: ${expected(name)}")
    }
  }

  test("no table leaks a non-normalized timestamp encoding") {
    Tables.names.foreach { name =>
      val bad = Tables(spark, sf, name).schema.filter(f =>
        f.dataType.catalogString.startsWith("timestamp_ntz") ||
          (f.name == "ts" && f.dataType.catalogString != "timestamp"))
      assert(bad.isEmpty, s"$name: un-normalized temporal fields: $bad")
    }
  }

  /** Spark jobs started while `body` runs, counted by a listener. The
    * bus delivers events in order, so once a marker job run after
    * `body` is seen, every job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "TablesSpec-marker"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { d => assert(d != null, "listener bus never delivered the marker job"); d }
        .takeWhile(_ != marker).size
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables call on an unchanged file launches no Spark job") {
    Tables.names.foreach(n => Tables(spark, sf, n))
    Tables.names.foreach { n =>
      assert(jobsDuring(Tables(spark, sf, n)) == 0, s"$n: schema inferred again")
    }
  }

  test("a table file rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft-tables-version")
    import spark.implicits._
    // corpus tables are single parquet files: write a one-partition
    // frame and move its part file into place
    def put(df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = dir.resolve("stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      put(Seq((1L, "a")).toDF("k", "v"))
      assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("k", "v"))
      put(Seq((2L, 3.5, "b", 4)).toDF("k", "x", "v", "n"))
      val again = Tables(spark, dir.toString, "t")
      assert(again.columns.toSeq == Seq("k", "x", "v", "n"))
      assert(again.collect().toSeq.map(_.toSeq) == Seq(Seq(2L, 3.5, "b", 4)))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
