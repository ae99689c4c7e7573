package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's only instrument: Spark's public listeners. Events
  * stay in memory; the workload attributes them to its own operations
  * afterwards, by the job group it set around each call or by time.
  * Attaching it is the whole tracing cost, so the traced run compares
  * an untraced window with a traced one. */
final class Tracer(val cores: Int) {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val stageJob = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val seen = new AtomicLong()

  private val spark = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = Job(e.jobId,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse(""),
        e.time)
      jobs.add(j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      seen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnd.put(e.jobId, e.time); seen.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      seen.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val i = e.taskInfo
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.fold(0L)(_.jvmGCTime),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.diskBytesSpilled),
        m.fold(0L)(_.inputMetrics.bytesRead),
        m.fold(0L)(_.inputMetrics.recordsRead)))
      seen.incrementAndGet()
    }
  }

  private val qe = new QueryExecutionListener {
    private def rec(q: QueryExecution): Unit = {
      val ph = q.tracker.phases.values
      if (ph.nonEmpty) plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      seen.incrementAndGet()
    }
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit = rec(q)
    override def onFailure(funcName: String, q: QueryExecution, exception: Exception): Unit = rec(q)
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); seen.incrementAndGet()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(qe)
    s.streams.addListener(stream)
  }

  def detach(s: SparkSession): Unit = {
    drain()
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(qe)
    s.streams.removeListener(stream)
  }

  /** Listener delivery is asynchronous: wait until no event has arrived
    * for 300 ms (at most 10 s). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100L)
      val n = seen.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  /** Writes every span as a JSON list of {id, layer, start, end, parent}
    * (epoch ms): the workload's own `ops`, then jobs (parent: their job
    * group or micro-batch), stages, tasks and query-planning phases. */
  def write(path: String, ops: Seq[Span]): Unit = if (path.nonEmpty) {
    val js = jobs.asScala.toSeq.map { j =>
      Span(s"job-${j.id}", "job", j.start,
        Option(jobEnd.get(j.id)).map(_.longValue).getOrElse(j.start),
        if (j.batchId.nonEmpty) s"batch-${j.batchId}" else j.group)
    }
    val ss = stages.asScala.toSeq.map { s =>
      Span(s"stage-${s.id}", "stage", s.submit, s.complete,
        Option(stageJob.get(s.id)).fold("")(j => s"job-${j.id}"))
    }
    val ts = tasks.asScala.toSeq.zipWithIndex.map { case (t, i) =>
      Span(s"task-$i", "task", t.launch, t.finish, s"stage-${t.stage}")
    }
    val ps = plans.asScala.toSeq.zipWithIndex.map { case (p, i) =>
      Span(s"plan-$i", "plan", p.startMs, p.startMs + p.totalMs, "")
    }
    val out = (ops ++ js ++ ss ++ ts ++ ps).map(x => Map("id" -> x.id, "layer" -> x.layer,
      "start" -> x.start, "end" -> x.end, "parent" -> x.parent))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json(out).getBytes("UTF-8"))
  }

  /** Groups tasks, stages and jobs by the operation `opOf` assigns
    * their job to; jobs it maps to None are ignored. */
  def byOp(opOf: Job => Option[String]): Map[String, OpEvents] = {
    val js = jobs.asScala.toSeq.flatMap(j => opOf(j).map(_ -> j))
    val jobOp = js.map { case (o, j) => j.id -> o }.toMap
    val stageOp = stageJob.asScala.toMap.flatMap { case (s, j) => jobOp.get(j.id).map(s -> _) }
    val ts = tasks.asScala.toSeq.flatMap(t => stageOp.get(t.stage).map(_ -> t)).groupBy(_._1)
    val ss = stages.asScala.toSeq.flatMap(s => stageOp.get(s.id).map(_ -> s)).groupBy(_._1)
    js.groupBy(_._1).map { case (o, jj) =>
      val jobsOf = jj.map(_._2)
      o -> OpEvents(
        jobsOf.map(j => (j.start, Option(jobEnd.get(j.id)).map(_.longValue).getOrElse(j.start))),
        ss.getOrElse(o, Nil).map(_._2),
        ts.getOrElse(o, Nil).map(_._2))
    }
  }

  /** Planning time of query executions whose first phase began in
    * [fromMs, toMs). */
  def planMs(fromMs: Long, toMs: Long): Long =
    plans.asScala.filter(p => p.startMs >= fromMs && p.startMs < toMs).map(_.totalMs).sum

  /** Executor-layer metrics over operations that took `wallMs` in total:
    * summed task time and its share of wall × cores, shuffle, spill, GC,
    * scan, and skew (max ÷ median task time in each operation's worst
    * stage, median over operations). Per-operation values are means. */
  def execMetrics(ops: Seq[OpEvents], wallMs: Double, n: Int): Map[String, Double] = {
    val all = ops.flatMap(_.tasks)
    val per = math.max(n, 1).toDouble
    val skews = ops.flatMap(o => skewOf(o.tasks))
    Map(
      "exec.task_ms" -> all.map(_.ms).sum / per,
      "exec.parallel_eff" -> (if (wallMs > 0) all.map(_.ms).sum / (wallMs * cores) else 0.0),
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "exec.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum / per,
      "exec.shuffle_read_bytes" -> all.map(_.shuffleRead).sum / per,
      "exec.spill_bytes" -> all.map(_.spill).sum / per,
      "exec.gc_ms" -> all.map(_.gcMs).sum / per,
      "scan.bytes" -> all.map(_.inBytes).sum / per,
      "scan.rows" -> all.map(_.inRows).sum / per)
  }
}

object Tracer {
  final case class Span(id: String, layer: String, start: Long, end: Long, parent: String)
  final case class Job(id: Int, group: String, batchId: String, start: Long)
  final case class Stage(id: Int, submit: Long, complete: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long) {
    def ms: Long = finish - launch
  }
  final case class Plan(startMs: Long, totalMs: Long)
  final case class OpEvents(jobSpans: Seq[(Long, Long)], stages: Seq[Stage], tasks: Seq[Task])

  /** Worst stage's max ÷ median task time, over stages with ≥ 2 tasks. */
  def skewOf(tasks: Seq[Task]): Option[Double] = {
    val r = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.ms.toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }
    if (r.isEmpty) None else Some(r.max)
  }
}
