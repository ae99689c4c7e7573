package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark JVM (perfbench/run.py builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    data: String,
    cpus: Int,
    inject: String,
    singleCore: Boolean,
    traceOut: String) {
  def benchDir: String = new java.io.File(data).getParent
}

/** What one workload run reports. `metrics` holds the end-to-end metrics
  * of an untraced run or the per-layer metrics of a traced run.
  * `scaleWorkS` is the fixed unit of work the single-core comparison
  * times (one backfill cycle). */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Map[String, Double],
    notes: Map[String, Any],
    scaleWorkS: Double = 0.0)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val a = Args(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "0").toLong,
      seconds = kv.getOrElse("seconds", "0").toInt,
      trace = kv.get("trace").contains("1"),
      work = kv("work"),
      data = kv("data"),
      cpus = kv("cpus").toInt,
      inject = kv.getOrElse("inject", ""),
      singleCore = argv.contains("--single-core"),
      traceOut = kv.getOrElse("trace-out", ""))
    if (argv.contains("--dump-queries")) {
      println("RESULT " + Json(QueryWorkload.dump(a)))
      return
    }
    val before = Context.sample()
    val out = a.workload match {
      case "queries_small" => QueryWorkload.run(a)
      case "video_stream" => VideoStream.run(a)
      case "video_backfill" => VideoBackfill.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    val after = Context.sample()
    val context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus_used" -> a.cpus,
      "loadavg_1m" -> Seq(before._1, after._1),
      "spin_probe_ms" -> Seq(before._2, after._2))
    println("RESULT " + Json(Map(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics,
      "scale_work_s" -> out.scaleWorkS,
      "context" -> context,
      "notes" -> out.notes)))
    System.out.flush()
  }
}

/** Host state recorded next to every run: 1-minute loadavg and a
  * fixed-work single-thread spin (its time rises when the host is busy). */
object Context {
  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def spinMs(): Double = {
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) { acc += i * 31 + (acc >> 7); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (acc == 42) System.err.println("")
    dt
  }

  def sample(): (Double, Double) = (loadAvg(), spinMs())
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** The highest percentile with at least ten of `n` samples beyond it,
    * at most p90 and at least the median. */
  def tailP(n: Int): Double = math.max(0.5, math.min(0.9, (n - 10).toDouble / n))
  def tail(xs: Seq[Double]): Double = pct(xs, tailP(xs.size))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-layer metric names of the layers only some workloads exercise. A
  * workload reports the layers it does not exercise as explicit zeros,
  * so a metric missing from a run is an error, not a silent 0. */
object Layers {
  val Query = Seq("builder.ms", "builder.self_ms", "builder.jobs", "builder.persisted_blocks",
    "plan.ms", "sched.idle_ms", "action.ms", "action.jobs", "action.stages", "action.tasks",
    "cleanup.ms")
  val Stream = Seq("stream.trigger_ms", "stream.addBatch_ms", "stream.queryPlanning_ms",
    "stream.walCommit_ms", "stream.commitOffsets_ms", "stream.batches", "stream.rows_per_batch",
    "stream.tasks_per_batch", "state.rows_total", "state.memory_bytes", "state.commit_ms",
    "stream.backlog_max_frames", "stream.frames_late_frac", "gen.lag_p95_ms",
    "transition.us_per_frame.stream")
  val Backfill = Seq("backfill.decode_stage_ms", "backfill.state_stage_ms", "backfill.sink_ms",
    "backfill.shuffle_bytes", "backfill.spill_bytes", "backfill.task_skew",
    "backfill.parallel_eff", "transition.us_per_frame.backfill", "serde.decode_us_per_frame",
    "sink.append_us_per_frame", "sink.finalize_ms_per_video")
  val Model = Seq("model.us_per_frame")
  /** Filled in by perfbench/run.py from a second, single-core run. */
  val Scale = Seq("scale.speedup_vs_1core")

  def zeros(groups: Seq[String]*): Map[String, Double] = groups.flatten.map(_ -> 0.0).toMap
}

object Common {
  /** The engine's own forcing action: `noop` runs the whole plan without
    * letting Catalyst prune it to a row count. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Builds the session `reps` times through the program's factory,
    * stopping all but the last (after `release`), and runs `warm` after
    * each build. Returns the live session, each set-up's seconds and
    * each factory call's milliseconds. */
  def setUp(reps: Int, app: String, release: () => Unit = () => ())(warm: SparkSession => Unit)
      : (SparkSession, Seq[Double], Seq[Double]) = {
    val setups = Seq.newBuilder[Double]
    val builds = Seq.newBuilder[Double]
    var spark: SparkSession = null
    (1 to reps).foreach { r =>
      if (spark != null) { release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = graft.Sessions.build(app)
      val t1 = System.nanoTime()
      spark.sparkContext.setLogLevel("ERROR")
      warm(spark)
      setups += (System.nanoTime() - t0) / 1e9
      builds += (t1 - t0) / 1e6
    }
    (spark, setups.result(), builds.result())
  }

  /** Heap in use after full collections, in MiB. The pauses let Spark's
    * ContextCleaner drop the blocks whose references the previous
    * collection cleared. */
  def retainedHeapMiB(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete()
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
