package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

import graft.streaming.FireModel
import graft.streaming.Schemas.VideoEvent
import graft.streaming.VideoSessionProcessor
import graft.streaming.VideoSessionProcessor.FrameIn
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** video_stream: a seeded open-loop generator offers FrameIn rows at a
  * fixed rate, far below saturation, into a MemoryStream; the frames go
  * through `VideoSessionProcessor.processStream` into a foreachBatch
  * sink of the benchmark. Each frame carries its scheduled send time as
  * its timestamp, and its latency runs from that time to the moment the
  * sink has collected its batch. Frames of the first `WarmupMs` are
  * checked but not timed. Below saturation the delivered rate is the
  * offered rate, so the stream's throughput is measured apart: after the
  * latency window, backlogs are offered at once and the stream's rate is
  * the rows of the batches that drain them per second of their trigger
  * time. */
object VideoStream {
  val Settings = VideoSettings(videos = 32, zipfS = 1.1, sessionMin = 150,
    sessionMax = 600, gapFrames = VideoSessionProcessor.Config().gapFrames,
    gapExtra = 200, payloadBytes = 0, rateFps = 1000, tickMs = 50)
  val WarmupMs = 2000L
  val LateMs = 2000L
  /** After the latency window of an untraced run, `Bursts` backlogs of
    * `BurstFrames` frames are offered at once, one after another drains;
    * the first warms the large-batch path and is not counted. */
  val Bursts = 4
  val BurstFrames = 40000

  final case class Emitted(video: String, frame: Int, emitNs: Long)

  /** The benchmark's sink: collects each batch's events into this JVM. */
  final class Sink(dropOne: Boolean) {
    val detections = mutable.ArrayBuffer.empty[Emitted]
    val completions = mutable.ArrayBuffer.empty[(String, Long)]
    val emitted = new AtomicLong()
    private var dropped = !dropOne

    val fn: (Dataset[VideoEvent], Long) => Unit = (ds, _) => {
      val rows = ds.toDF().select(col("kind"), col("detection.video_id"),
        col("detection.frame_number"),
        col("completion.video_id"), col("completion.video_metadata.frame_count")).collect()
      val now = System.nanoTime()
      synchronized {
        rows.foreach { r =>
          if (r.getString(0) == "detection") {
            val v = r.getString(1)
            if (!dropped && !v.startsWith("warm")) dropped = true
            else detections += Emitted(v, r.getInt(2), now)
          } else completions += ((r.getString(3), r.getLong(4)))
        }
      }
      emitted.addAndGet(rows.count(_.getString(0) == "detection").toLong)
    }
  }

  final case class Running(input: MemoryStream[FrameIn], query: StreamingQuery, sink: Sink)

  def start(spark: SparkSession, ckpt: String, dropOne: Boolean): Running = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FrameIn]
    val sink = new Sink(dropOne)
    val q = VideoSessionProcessor.processStream(input.toDS())
      .writeStream
      .foreachBatch(sink.fn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .outputMode(OutputMode.Append())
      .start()
    Running(input, q, sink)
  }

  def run(a: Args): Outcome = {
    val st = Settings
    val rng = new Random(a.seed)
    var n = 0
    var running: Running = null
    // set-up: session build, stream start, first batch committed
    val (spark, setups, builds) =
        Common.setUp(3, "perfbench-stream", () => running.query.stop()) { s =>
      n += 1
      running = start(s, s"${a.work}/ckpt-$n", a.inject == "drop-frame")
      running.input.addData((0 until 64).map(i => VideoGen.frameIn(s"warm$n", i, 0L)))
      val deadline = System.currentTimeMillis() + 60000L
      while (running.query.lastProgress == null && running.query.isActive &&
          System.currentTimeMillis() < deadline) Thread.sleep(5L)
      require(running.query.lastProgress != null, "stream never committed its first batch")
    }
    val Running(input, q, sink) = running
    System.err.println(s"[perfbench] stream set up: ${setups.mkString(", ")} s")

    val weights = VideoGen.zipfWeights(st.videos, st.zipfS)
    val cum = VideoGen.cumulative(weights)
    val videos = (0 until st.videos).map(i => new VideoGen.Video(s"v$i", st, rng))
    val perTick = st.rateFps * st.tickMs / 1000
    val windows = if (a.trace) 2 else 1
    val ticks = ((WarmupMs + windows * a.seconds * 1000L) / st.tickMs).toInt
    val offered = mutable.ArrayBuffer.empty[FrameIn]
    // scheduled send time (System.nanoTime) of every offered frame
    val dueNs = mutable.HashMap.empty[(String, Int), Long]
    val lagMs = new Array[Double](ticks)
    var backlogMax = 0L
    val tracer = new Tracer(a.cpus)
    var tracedFromNs = Long.MaxValue
    var tracedFromBatch = Long.MaxValue
    val tickNs = st.tickMs * 1000000L
    val t0 = System.nanoTime() + 20000000L
    val wall0Us = System.currentTimeMillis() * 1000L + 20000L
    val measureFrom = t0 + WarmupMs * 1000000L
    val untracedTo = measureFrom + a.seconds * 1000000000L
    var k = 0
    while (k < ticks) {
      val due = t0 + k * tickNs
      if (a.trace && due >= untracedTo && tracedFromNs == Long.MaxValue) {
        // the batch in flight started untraced
        tracedFromBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L) + 1
        tracer.attach(spark)
        tracedFromNs = due
      }
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val frames = (0 until perTick).map { _ =>
        val v = videos(VideoGen.pick(cum, rng))
        FrameIn(v.id, v.take(), wall0Us + (due - t0) / 1000L)
      }
      input.addData(frames)
      lagMs(k) = (System.nanoTime() - due) / 1e6
      frames.foreach(f => dueNs((f.video_id, f.frame_number)) = due)
      offered ++= frames
      backlogMax = math.max(backlogMax, offered.size - sink.emitted.get())
      k += 1
    }
    System.err.println(s"[perfbench] offered ${offered.size} frames, emitted ${sink.emitted.get()}")
    // drain the sink before stopping, so no commit is cut short
    val deadline = System.currentTimeMillis() + 60000L
    while (sink.emitted.get() < offered.size + 64 && q.isActive &&
        System.currentTimeMillis() < deadline) Thread.sleep(10L)
    val capacity = if (a.trace) Nil else (1 to Bursts).map { _ =>
      val before = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      val due = System.nanoTime()
      val frames = (0 until BurstFrames).map { _ =>
        val v = videos(VideoGen.pick(cum, rng))
        FrameIn(v.id, v.take(), wall0Us + (due - t0) / 1000L)
      }
      val want = sink.emitted.get() + frames.size
      input.addData(frames)
      frames.foreach(f => dueNs((f.video_id, f.frame_number)) = due)
      offered ++= frames
      val by = System.currentTimeMillis() + 60000L
      def drained = q.recentProgress.filter(_.batchId > before)
      while ((sink.emitted.get() < want || drained.map(_.numInputRows).sum < frames.size) &&
          q.isActive && System.currentTimeMillis() < by) Thread.sleep(5L)
      val busy = drained.filter(_.numInputRows > 0)
      busy.map(_.numInputRows).sum * 1000.0 /
        math.max(1L, busy.map(p => Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)).sum)
    }
    // processing-time timeouts keep no-data batches running, so stop
    // between two triggers rather than waiting for the stream to idle
    if (a.trace) tracer.detach(spark)
    val stopBy = System.currentTimeMillis() + 5000L
    while (q.status.isTriggerActive && System.currentTimeMillis() < stopBy) Thread.sleep(1L)
    q.stop()
    var errors = 0
    q.exception.foreach { e => System.err.println(s"[perfbench] stream: $e"); errors += 1 }

    // output checks
    val dets = sink.synchronized(sink.detections.filterNot(_.video.startsWith("warm")).toVector)
    val seen = mutable.HashMap.empty[(String, Int), Int]
    dets.foreach(d => seen((d.video, d.frame)) = seen.getOrElse((d.video, d.frame), 0) + 1)
    val want = offered.map(f => (f.video_id, f.frame_number)).toSet
    val missing = want.count(w => !seen.contains(w))
    val dupes = seen.values.map(_ - 1).sum
    val extras = seen.keys.count(k => !want.contains(k))
    val comps = sink.synchronized(sink.completions.filterNot(_._1.startsWith("warm")).toVector)
    val planned = videos.map(_.closedSessions).sum
    val plannedFrames = videos.map(_.closedFrames).sum
    val compsOk = comps.size == planned && comps.map(_._2).sum == plannedFrames
    val failed = missing + dupes + extras + errors + (if (compsOk) 0 else 1)

    /** Emitted frames whose scheduled send time (nanoTime) is in [from, to). */
    def timed(from: Long, to: Long): Seq[Emitted] =
      dets.filter(d => dueNs.get((d.video, d.frame)).exists(t => t >= from && t < to))
    def lat(from: Long, to: Long): Seq[Double] =
      timed(from, to).map(d => (d.emitNs - dueNs((d.video, d.frame))) / 1e6)
    val l = lat(measureFrom, untracedTo)
    val notes = Map[String, Any](
      "generator" -> st.asMap, "offered_frames" -> offered.size,
      "timed_frames" -> l.size, "tail_pct" -> Stats.tailP(l.size), "warmup_ms" -> WarmupMs,
      "burst_frames_per_s" -> capacity,
      "missing" -> missing, "duplicates" -> dupes, "unexpected" -> extras,
      "completions" -> comps.size, "planned_completions" -> planned,
      "errors" -> errors, "setup_s_each" -> setups)

    val metrics: Map[String, Double] =
      if (!a.trace) {
        Map(
          "setup_s" -> Stats.median(setups),
          "op_p50_ms" -> Stats.median(l),
          "op_tail_ms" -> Stats.tail(l),
          "ops_per_s" -> Stats.median(capacity.tail),
          "retained_heap_mb" -> Common.retainedHeapMiB())
      } else {
        val tl = lat(tracedFromNs, Long.MaxValue)
        val tracedOffered = dueNs.values.count(_ >= tracedFromNs)
        val late = tl.count(_ > LateMs) + (tracedOffered - tl.size)
        tracer.write(a.traceOut, batchSpans(tracer, tracedFromBatch))
        Layers.zeros(Layers.Query, Layers.Backfill, Layers.Scale) ++
        layerMetrics(tracer, tracedFromBatch, builds) ++ Map(
          "stream.backlog_max_frames" -> backlogMax.toDouble,
          "stream.frames_late_frac" -> late.toDouble / math.max(tracedOffered, 1),
          "gen.lag_p95_ms" -> Stats.pct(lagMs.toSeq, 0.95),
          "trace.overhead_pct" -> (Stats.median(tl) / Stats.median(l) - 1) * 100
        ) ++ pureLayers(offered.toSeq, tracer)
      }
    spark.stop()
    Outcome(failed == 0, offered.size.toLong, failed.toLong, metrics, notes)
  }

  /** One span per traced micro-batch, from its progress report. */
  def batchSpans(tr: Tracer, afterBatch: Long): Seq[Tracer.Span] = {
    import scala.jdk.CollectionConverters._
    tr.progress.asScala.toSeq.filter(_.batchId > afterBatch).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Tracer.Span(s"batch-${p.batchId}", "micro-batch", start, start + dur, "")
    }
  }

  def layerMetrics(tr: Tracer, afterBatch: Long, builds: Seq[Double]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val ps = tr.progress.asScala.toSeq.filter(_.batchId > afterBatch).sortBy(_.batchId)
    require(ps.nonEmpty, "no traced micro-batch")
    def phase(k: String): Double =
      Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ops = tr.byOp(j => if (j.batchId.nonEmpty && j.batchId.toLong > afterBatch) Some(j.batchId) else None)
    val state = ps.flatMap(_.stateOperators.headOption)
    val wall = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum
    Map(
      "session.build_ms" -> Stats.median(builds),
      "stream.trigger_ms" -> phase("triggerExecution"),
      "stream.addBatch_ms" -> phase("addBatch"),
      "stream.queryPlanning_ms" -> phase("queryPlanning"),
      "stream.walCommit_ms" -> phase("walCommit"),
      "stream.commitOffsets_ms" -> phase("commitOffsets"),
      "stream.batches" -> ps.size.toDouble,
      "stream.rows_per_batch" -> Stats.mean(ps.map(_.numInputRows.toDouble)),
      "stream.tasks_per_batch" -> ops.values.map(_.tasks.size).sum.toDouble / ps.size,
      "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms" -> (if (state.isEmpty) 0.0 else Stats.median(state.map(_.commitTimeMs.toDouble)))
    ) ++ tr.execMetrics(ops.values.toSeq, wall, ps.size)
  }

  /** The state machine and model called directly on this run's frames,
    * per video in slices of one micro-batch's share. */
  def pureLayers(frames: Seq[FrameIn], tr: Tracer): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val ps = tr.progress.asScala.toSeq
    val perBatch = Stats.mean(ps.map(_.numInputRows.toDouble))
    val slice = math.max(1, math.round(perBatch / Settings.videos).toInt)
    Map(
      "transition.us_per_frame.stream" -> Pure.transitionUs(frames, slice),
      "model.us_per_frame" -> Pure.modelUs(frames))
  }
}

/** Direct calls into the pure layers, timed per frame (best of 3). */
object Pure {
  private def best(reps: Int)(f: => Unit): Double =
    (1 to reps).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }.min.toDouble

  def transitionUs(frames: Seq[FrameIn], slice: Int): Double = {
    val byVideo = frames.groupBy(_.video_id).values.map(_.sortBy(_.frame_number)).toSeq
    val cfg = VideoSessionProcessor.Config()
    val model = FireModel.SyntheticFireModel()
    val ts = new java.sql.Timestamp(0L)
    best(3) {
      byVideo.foreach { fs =>
        var st: Option[graft.streaming.Schemas.VideoState] = None
        fs.grouped(slice).foreach { run =>
          st = VideoSessionProcessor.transition(fs.head.video_id, st, run, cfg, model, ts)._1
        }
      }
    } / 1000.0 / frames.size
  }

  def modelUs(frames: Seq[FrameIn]): Double = {
    val model = FireModel.SyntheticFireModel()
    val in = frames.map(f => (f.video_id, f.frame_number, 640, 480))
    best(3)(in.grouped(64).foreach(model.predictBatch)) / 1000.0 / frames.size
  }
}
