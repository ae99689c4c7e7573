package perfbench

import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** queries_small: registered queries from `graft.SparkEntry.queries`,
  * one client, closed loop, in a seeded order. A query is timed from its
  * builder call to the end of its `noop` action; the clear and unpersist
  * after it are untimed.
  *
  * Each run first makes one untimed pass that hashes every result
  * (graft.Verify.canonValue rules) and compares it with
  * perfbench/expected.json, generated from the DuckDB oracle; then it
  * makes timed passes, each in a fresh seeded order. The number of
  * passes is fixed by `seconds` and the list's nominal pass time, not by
  * the clock: every run then times the same work with the same warm-up
  * behind it, and a slow run cannot shorten its own sample. There are at
  * least `MinPasses`, so that the tail percentile has ten samples beyond
  * it and still lies above the median. */
object QueryWorkload {

  val Sf = "sf0.001"

  /** Ten registered queries, picked from one pass over all 453 at sf0.001
    * on a 4-core host so that their mix matches the registry's: builder
    * time 59 % of query time (all: 49 %); 4.4 builder jobs, 6.1 action
    * jobs and 1.7 persisted blocks per query (all: 5.0, 6.1 and 1.2), at
    * 0.62 s per cold query (all: 0.77 s), so that three passes fit in a
    * run. Two each from the Stats and Series modules, one each from
    * Similarity, Diagnostics, Graph (label propagation, a loop that
    * localCheckpoints every round), Aggregate, Inference and Temporal.
    * Every one of them persists or checkpoints in its builder. */
  val small: Seq[String] = Seq(
    "q_neyman_allocation", "q_mantel_haenszel", "q_seasonal_dow", "q_mann_kendall",
    "q_dbscan_cells", "q_entropy_rate", "q_label_propagation", "q_mode_per_group",
    "q_breusch_pagan", "q_funnel_windowed")

  /** Nominal seconds per pass over `small` on a 4-core host. */
  val PassS = 7.5
  val MinPasses = 3

  final case class Timed(name: String, tag: String, startMs: Long, builderEndMs: Long, endMs: Long,
      builderNs: Long, actionNs: Long, cleanupNs: Long, blocks: Int, rootPlanMs: Long) {
    def latencyMs: Double = (builderNs + actionNs) / 1e6
  }

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Canonical table hash, as graft.Verify.forensics renders it:
    * columns sorted by name, values by canonValue, rows sorted. */
  def canonHash(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(c => col("`" + c.replace("`", "``") + "`")): _*)
      .collect().map(r => r.toSeq.map(graft.Verify.canonValue).mkString("|"))
    (md5(rows.sorted.mkString("\n")), rows.length.toLong)
  }

  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def run(a: Args): Outcome = {
    val (sf, names) = (Sf, small)
    val dir = s"${a.data}/$sf"
    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    val expected = Expected.load(a.benchDir, sf)
    val rng = new Random(a.seed)

    val (spark, setups, builds) = Common.setUp(3, "perfbench") { s =>
      Common.force(graft.Tables(s, dir, "region").groupBy("r_name").count())
    }
    val sc = spark.sparkContext

    val th = System.nanoTime()
    // untimed hash pass (also the JIT warm-up)
    var failed = 0L
    var attempted = 0L
    val failures = Seq.newBuilder[String]
    rng.shuffle(names).zipWithIndex.foreach { case (q, i) =>
      attempted += 1
      val ok = try {
        val (h, rows) = canonHash(registry(q)(spark, dir))
        val want = expected(q)
        val hashOk = want.hash.forall(w =>
          (if (a.inject == "corrupt-hash" && i == 0) "0" + w.drop(1) else w) == h)
        hashOk && want.rows == rows
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: $e"); false
      }
      if (!ok) { failed += 1; failures += q }
      cleanup(spark)
    }

    System.err.println(f"[perfbench] set up ${setups.mkString(", ")} s; hash pass ${(System.nanoTime() - th) / 1e9}%.1f s")
    var opNo = 0
    def pass(order: Seq[String], traced: Boolean): Seq[Timed] = order.map { q =>
      val tag = opNo.toString
      opNo += 1
      attempted += 1
      sc.setJobGroup(s"pb-b-$tag", q, interruptOnCancel = false)
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = try Some(registry(q)(spark, dir)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: $e"); failed += 1; None }
      val t1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      val (blocks, rootPlan) = df.filter(_ => traced).fold((0, 0L)) { d =>
        (sc.getRDDStorageInfo.map(_.numCachedPartitions).sum,
          d.queryExecution.tracker.phases.values.map(_.durationMs).sum)
      }
      sc.setJobGroup(s"pb-a-$tag", q, interruptOnCancel = false)
      val t2 = System.nanoTime()
      df.foreach { d =>
        try Common.force(d)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: $e"); failed += 1 }
      }
      val t3 = System.nanoTime()
      val s3 = System.currentTimeMillis()
      sc.clearJobGroup()
      cleanup(spark)
      Timed(q, tag, s0, s1, s3, t1 - t0, t3 - t2, System.nanoTime() - t3, blocks, rootPlan)
    }

    val passes = math.max(MinPasses, math.round(a.seconds / PassS).toInt)
    def window(traced: Boolean): Seq[Seq[Timed]] =
      (1 to passes).map(_ => pass(rng.shuffle(names), traced))

    val timedPasses = window(traced = false)
    val timed = timedPasses.flatten
    val lat = timed.map(_.latencyMs)
    val passTimes = timedPasses.map(_.map(_.latencyMs).sum / 1000)
    val notes = Map[String, Any](
      "sf" -> sf, "queries" -> names.size, "passes" -> passes,
      "samples" -> lat.size, "tail_pct" -> Stats.tailP(lat.size), "failures" -> failures.result(),
      "setup_s_each" -> setups, "pass_s" -> passTimes,
      "query_ms" -> timed.groupBy(_.name).map { case (q, ts) => q -> Stats.median(ts.map(_.latencyMs)) })

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> Stats.median(setups),
        "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> Stats.tail(lat),
        "ops_per_s" -> lat.size / (lat.sum / 1000),
        "retained_heap_mb" -> Common.retainedHeapMiB())
      else {
        val tracer = new Tracer(a.cpus)
        tracer.attach(spark)
        val tp = window(traced = true)
        tracer.detach(spark)
        tracer.write(a.traceOut, tp.flatten.flatMap { o =>
          Seq(Tracer.Span(s"op-${o.tag}", o.name, o.startMs, o.endMs, ""),
            Tracer.Span(s"pb-b-${o.tag}", "builder", o.startMs, o.builderEndMs, s"op-${o.tag}"),
            Tracer.Span(s"pb-a-${o.tag}", "action", o.builderEndMs, o.endMs, s"op-${o.tag}"))
        })
        layerMetrics(tracer, tp.flatten, Stats.median(lat), builds)
      }
    val o = Outcome(failed == 0, attempted, failed, metrics, notes)
    spark.stop()
    o
  }

  /** For perfbench/make_expected.py: each listed query's oracle SQL and
    * the program's own canonical hash and row count. */
  def dump(a: Args): Map[String, Any] = {
    val spark = graft.Sessions.build("perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    val oracle = graft.SparkEntry.oracleSql
    val out = Map(Sf -> small.map { q =>
      val (h, rows) = canonHash(graft.SparkEntry.queries(q)(spark, s"${a.data}/$Sf"))
      cleanup(spark)
      q -> Map("sql" -> oracle.get(q), "hash" -> h, "rows" -> rows)
    }.toMap)
    spark.stop()
    out
  }

  /** Per-query means of each layer over the traced window. */
  def layerMetrics(tr: Tracer, ops: Seq[Timed], untracedP50: Double,
      builds: Seq[Double]): Map[String, Double] = {
    val n = ops.size.toDouble
    def groups(kinds: String*): Map[String, Tracer.OpEvents] = tr.byOp { j =>
      kinds.collectFirst { case k if j.group.startsWith(s"pb-$k-") => j.group.drop(k.length + 4) }
    }
    val builder = groups("b")
    val action = groups("a")
    val both = groups("b", "a")
    val none = Tracer.OpEvents(Nil, Nil, Nil)
    def mean(f: Timed => Double): Double = ops.map(f).sum / n
    val lat = ops.map(_.latencyMs)
    Layers.zeros(Layers.Stream, Layers.Backfill, Layers.Model, Layers.Scale) ++ Map(
      "session.build_ms" -> Stats.median(builds),
      "builder.ms" -> mean(_.builderNs / 1e6),
      "builder.self_ms" -> mean { o =>
        val jobs = Stats.unionLength(builder.getOrElse(o.tag, none).jobSpans)
        math.max(0.0, o.builderNs / 1e6 - jobs - tr.planMs(o.startMs, o.builderEndMs) - o.rootPlanMs)
      },
      "builder.jobs" -> mean(o => builder.getOrElse(o.tag, none).jobSpans.size),
      "builder.persisted_blocks" -> mean(_.blocks),
      "plan.ms" -> mean(o => tr.planMs(o.startMs, o.endMs + 1) + o.rootPlanMs),
      "sched.idle_ms" -> mean { o =>
        val busy = Stats.unionLength(both.getOrElse(o.tag, none).tasks.map(t => (t.launch, t.finish)))
        math.max(0.0, (o.endMs - o.startMs - busy).toDouble)
      },
      "action.ms" -> mean(_.actionNs / 1e6),
      "action.jobs" -> mean(o => action.getOrElse(o.tag, none).jobSpans.size),
      "action.stages" -> mean(o => action.getOrElse(o.tag, none).stages.size),
      "action.tasks" -> mean(o => action.getOrElse(o.tag, none).tasks.size),
      "cleanup.ms" -> mean(_.cleanupNs / 1e6),
      "trace.overhead_pct" -> (Stats.median(lat) / untracedP50 - 1) * 100
    ) ++ tr.execMetrics(ops.map(o => both.getOrElse(o.tag, none)), lat.sum, ops.size)
  }
}

/** perfbench/expected.json: per scale factor, each query's canonical
  * hash from the DuckDB oracle (null for rows-only queries, which have
  * no oracle) and its row count. */
object Expected {
  final case class Want(hash: Option[String], rows: Long)

  def load(benchDir: String, sf: String): Map[String, Want] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchDir, "expected.json")), "UTF-8")
    (JsonMethods.parse(txt) \ sf) match {
      case JObject(fields) => fields.map { case (q, v) =>
        val hash = (v \ "hash") match { case JString(h) => Some(h); case _ => None }
        val rows = (v \ "rows") match { case JInt(r) => r.toLong; case _ => -1L }
        q -> Want(hash, rows)
      }.toMap
      case _ => sys.error(s"expected.json has no $sf section")
    }
  }
}
