package perfbench

import java.nio.file.Paths

import scala.util.Random

import graft.streaming.{DetectMain, FrameSerde, Jobs, VideoSink}
import graft.streaming.Schemas.FrameMessage
import graft.streaming.VideoSessionProcessor.FrameIn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** video_backfill: seeded synthetic videos with Zipf-skewed lengths and
  * gap-separated sessions, written as Kafka-shaped msgpack parquet
  * segments before timing starts. One operation is one backfill call on
  * a segment: `DetectMain.run` (decode, processBatch, detections and
  * completions parquet) and then `Jobs.writeAnnotatedVideos`. Cycles
  * over the segments, each in a seeded order, follow one untimed call;
  * every call's output is checked. */
object VideoBackfill {
  val Settings = VideoSettings(videos = 24, zipfS = 1.2, sessionMin = 200,
    sessionMax = 900, gapFrames = graft.streaming.VideoSessionProcessor.Config().gapFrames,
    gapExtra = 200, payloadBytes = 256, rateFps = 0, tickMs = 0)
  val Segments = 4
  val FramesPerSegment = 7500
  /** Nominal seconds per cycle over the segments on a 4-core host: the
    * number of timed cycles is fixed by `seconds` and this, not by the
    * clock, so every run times the same work after the same warm-up. */
  val NominalCycleS = 3.5
  val KafkaPartitions = 6

  /** One generated segment: its parquet path, its frames in offset
    * order, and the sessions a correct backfill must close. */
  final case class Segment(path: String, frames: Seq[FrameIn], sessions: Int)

  /** The msgpack record of a segment's i-th frame; its payload bytes are
    * seeded by (seed, segment, i), so Spark tasks and the checks agree. */
  def record(seed: Long, seg: Int, i: Long, f: FrameIn): Array[Byte] = {
    val payload = new Array[Byte](Settings.payloadBytes)
    new Random(seed * 1000003L + seg * 10000019L + i).nextBytes(payload)
    FrameSerde.encodeMsgpack(FrameMessage(f.video_id, f.frame_number,
      new java.sql.Timestamp(f.timestamp_us / 1000), 30.0, payload, 640, 480))
  }

  def generate(spark: SparkSession, a: Args, rng: Random, s: Int): Segment = {
    import spark.implicits._
    val st = Settings
    val w = VideoGen.zipfWeights(st.videos, st.zipfS)
    val lengths = w.map(x => math.max(1, math.round(x * FramesPerSegment).toInt))
    val videos = lengths.indices.map(i => new VideoGen.Video(s"s$s-v$i", st, rng))
    val frames = videos.zip(lengths).flatMap { case (v, n) =>
      (0 until n).map(_ => VideoGen.frameIn(v.id, v.take(), 0L))
    }.map(f => f.copy(timestamp_us = (1700000000000L + f.frame_number * 33L) * 1000L))
    val path = s"${a.work}/segments/seg-$s"
    val seed = a.seed
    frames.zipWithIndex.map { case (f, i) => (f, i.toLong) }.toDS()
      .map { case (f, i) => (f.video_id, record(seed, s, i, f), i) }
      .toDF("key", "value", "seq")
      .withColumn("topic", lit("video-frames"))
      .withColumn("partition", pmod(hash(col("key")), lit(KafkaPartitions)).cast("int"))
      .withColumn("offset", col("seq"))
      .withColumn("timestamp", timestamp_millis(lit(1700000000000L) + col("seq") * 10))
      .withColumn("timestampType", lit(0))
      .drop("seq")
      .repartition(KafkaPartitions, col("partition"))
      .write.mode("overwrite").parquet(path)
    Segment(path, frames, videos.map(_.sessionsAtEnd).sum)
  }

  final case class Call(tag: String, seg: Int, startMs: Long, endMs: Long, ms: Double,
      detectMs: Double, sinkMs: Double, ok: Boolean)

  /** Checks one call's outputs: every frame exactly once as a detection,
    * one completion per planned session whose frame counts sum to the
    * frames, and one verified container per video holding its frames. */
  def check(spark: SparkSession, seg: Segment, out: String, manifest: Map[String, String],
      dropOne: Boolean): Boolean = {
    val rows = spark.read.parquet(s"$out/detections")
      .select(col("video_id"), col("frame_number").cast("long"), lit(-1L))
      .union(spark.read.parquet(s"$out/completions")
        .select(col("video_id"), lit(-1L), col("video_metadata.frame_count")))
      .collect()
    val (dets, comps) = rows.partition(_.getLong(2) < 0)
    val got = dets.map(r => (r.getString(0), r.getLong(1).toInt)).toSeq
    val emitted = if (dropOne) got.drop(1) else got
    val want = seg.frames.map(f => (f.video_id, f.frame_number))
    val perVideo = seg.frames.groupBy(_.video_id).map { case (v, fs) => v -> fs.size.toLong }
    val containers = manifest.forall { case (v, p) =>
      val path = Paths.get(p)
      VideoSink.verify(path) && {
        val raf = new java.io.RandomAccessFile(path.toFile, "r")
        try { raf.seek(raf.length - 12); raf.readLong() == perVideo(v) } finally raf.close()
      }
    }
    emitted.sorted == want.sorted && comps.length == seg.sessions &&
      comps.map(_.getLong(2)).sum == seg.frames.size &&
      manifest.keySet == perVideo.keySet && containers
  }

  def run(a: Args): Outcome = {
    val rng = new Random(a.seed)
    val (spark, setups, builds) = Common.setUp(if (a.singleCore) 1 else 3, "perfbench-backfill") { s =>
      import s.implicits._
      val warm = (0 until 2000).map(i => VideoGen.frameIn(s"w${i % 8}", i / 8, 0L)).toDS()
      Common.force(graft.streaming.VideoSessionProcessor.processBatch(warm).toDF())
    }
    import spark.implicits._
    val sc = spark.sparkContext
    val tg = System.nanoTime()
    val segs = (0 until Segments).map(s => generate(spark, a, rng, s))
    System.err.println(f"[perfbench] set up ${setups.mkString(", ")} s; generated in ${(System.nanoTime() - tg) / 1e9}%.1f s")
    var callNo = 0
    var checkNs = 0L
    def call(s: Int): Call = {
      val seg = segs(s)
      val tag = callNo.toString
      callNo += 1
      val out = s"${a.work}/out-$tag"
      sc.setJobGroup(s"pb-d-$tag", s"backfill detect $s", interruptOnCancel = false)
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try {
        DetectMain.run(spark, seg.path, out)
        val t1 = System.nanoTime()
        sc.setJobGroup(s"pb-s-$tag", s"backfill sink $s", interruptOnCancel = false)
        val annotated = FrameSerde.decodeMsgpackDF(spark.read.parquet(seg.path))
          .select("video_id", "frame_number", "frame_data").as[(String, Int, Array[Byte])]
        val manifest = Jobs.writeAnnotatedVideos(annotated, s"$out/videos")
        val t2 = System.nanoTime()
        sc.clearJobGroup()
        Some((t1 - t0, t2 - t1, manifest))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] backfill call $tag failed: $e"); None
      }
      sc.clearJobGroup()
      val c = res match {
        case Some((d, k, manifest)) =>
          val tc = System.nanoTime()
          val ok = try check(spark, seg, out, manifest, a.inject == "drop-frame")
          catch { case e: Throwable => System.err.println(s"[perfbench] check: $e"); false }
          checkNs += System.nanoTime() - tc
          Call(tag, s, s0, s0 + (d + k) / 1000000L, (d + k) / 1e6, d / 1e6, k / 1e6, ok)
        case None =>
          val ms = (System.nanoTime() - t0) / 1e6
          Call(tag, s, s0, s0 + ms.toLong, ms, 0, 0, ok = false)
      }
      Common.deleteTree(new java.io.File(out))
      c
    }
    def cycle(): Seq[Call] = rng.shuffle(segs.indices.toVector).map(call)
    val cycles = math.max(1, math.round(a.seconds / NominalCycleS).toInt)
    def window(): Seq[Seq[Call]] = (1 to cycles).map(_ => cycle())
    val warm = Seq(call(0)) // untimed; warms the decode, state, parquet and sink paths
    val notes = Map[String, Any]("generator" -> Settings.asMap, "segments" -> Segments,
      "frames_per_segment" -> segs.map(_.frames.size), "sessions" -> segs.map(_.sessions),
      "setup_s_each" -> setups)

    if (a.singleCore) {
      val one = cycle()
      val all = warm ++ one
      spark.stop()
      return Outcome(all.forall(_.ok), all.size, all.count(!_.ok), Map.empty, notes,
        one.map(_.ms).sum / 1000)
    }
    val timedCycles = window()
    System.err.println(f"[perfbench] checks took ${checkNs / 1e9}%.1f s")
    var calls = warm ++ timedCycles.flatten
    val lat = timedCycles.flatten.map(_.ms)
    val frames = timedCycles.flatten.map(c => segs(c.seg).frames.size).sum
    val cycleS = Stats.median(timedCycles.map(_.map(_.ms).sum / 1000))
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> Stats.median(setups),
        "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> Stats.tail(lat),
        "ops_per_s" -> frames / (lat.sum / 1000),
        "retained_heap_mb" -> Common.retainedHeapMiB())
      else {
        val tracer = new Tracer(a.cpus)
        tracer.attach(spark)
        val traced = window().flatten
        tracer.detach(spark)
        tracer.write(a.traceOut, traced.flatMap { c =>
          Seq(Tracer.Span(s"op-${c.tag}", s"backfill segment ${c.seg}", c.startMs, c.endMs, ""),
            Tracer.Span(s"pb-d-${c.tag}", "detect", c.startMs, c.startMs + c.detectMs.toLong, s"op-${c.tag}"),
            Tracer.Span(s"pb-s-${c.tag}", "sink", c.startMs + c.detectMs.toLong, c.endMs, s"op-${c.tag}"))
        })
        calls ++= traced
        Layers.zeros(Layers.Query, Layers.Stream) ++
        layerMetrics(tracer, traced, Stats.median(lat), builds) ++ pureLayers(a, segs)
      }
    spark.stop()
    Outcome(calls.forall(_.ok), calls.size, calls.count(!_.ok), metrics,
      notes + ("call_ms" -> lat) + ("tail_pct" -> Stats.tailP(lat.size)), cycleS)
  }

  def layerMetrics(tr: Tracer, calls: Seq[Call], untracedP50: Double,
      builds: Seq[Double]): Map[String, Double] = {
    val n = calls.size.toDouble
    val detect = tr.byOp(j => if (j.group.startsWith("pb-d-")) Some(j.group.drop(5)) else None)
    val both = tr.byOp(j =>
      if (j.group.startsWith("pb-d-") || j.group.startsWith("pb-s-")) Some(j.group.drop(5)) else None)
    val none = Tracer.OpEvents(Nil, Nil, Nil)
    val stageMs = calls.map { c =>
      val ev = detect.getOrElse(c.tag, none)
      val writesShuffle = ev.tasks.filter(_.shuffleWrite > 0).map(_.stage).toSet
      val (dec, rest) = ev.stages.partition(s => writesShuffle(s.id))
      (dec.map(s => s.complete - s.submit).sum, rest.map(s => s.complete - s.submit).sum)
    }
    val exec = tr.execMetrics(calls.map(c => both.getOrElse(c.tag, none)), calls.map(_.ms).sum, calls.size)
    val skews = calls.flatMap(c => Tracer.skewOf(detect.getOrElse(c.tag, none).tasks))
    Map(
      "session.build_ms" -> Stats.median(builds),
      "backfill.decode_stage_ms" -> stageMs.map(_._1).sum / n,
      "backfill.state_stage_ms" -> stageMs.map(_._2).sum / n,
      "backfill.sink_ms" -> calls.map(_.sinkMs).sum / n,
      "backfill.shuffle_bytes" -> exec("exec.shuffle_write_bytes"),
      "backfill.spill_bytes" -> exec("exec.spill_bytes"),
      "backfill.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "backfill.parallel_eff" -> exec("exec.parallel_eff"),
      "trace.overhead_pct" -> (Stats.median(calls.map(_.ms)) / untracedP50 - 1) * 100
    ) ++ exec
  }

  /** The state machine, model, decoder and writer pool called directly
    * on this run's generated frames and records. */
  def pureLayers(a: Args, segs: Seq[Segment]): Map[String, Double] = {
    val frames = segs.flatMap(_.frames)
    val records = segs.zipWithIndex.flatMap { case (g, s) =>
      g.frames.zipWithIndex.map { case (f, i) => record(a.seed, s, i.toLong, f) }
    }
    val seg = segs.head
    val payloads = records.take(seg.frames.size).map(r => FrameSerde.decodeMsgpack(r).frame_data)
    val dir = Paths.get(a.work, "pool")
    def best(f: => Unit): Double =
      (1 to 3).map { _ => val t0 = System.nanoTime(); f; System.nanoTime() - t0 }.min.toDouble
    // best of 3 fresh pools: append every frame, then finalize every video
    val (appendNs, finalizeNs, videos) = (1 to 3).map { _ =>
      Common.deleteTree(dir.toFile)
      val pool = new VideoSink.WriterPool(dir)
      val t0 = System.nanoTime()
      seg.frames.zip(payloads).foreach { case (f, p) => pool.append(f.video_id, p) }
      val t1 = System.nanoTime()
      val n = pool.finalizeAll().size
      (t1 - t0, System.nanoTime() - t1, n)
    }.minBy(_._1)
    Common.deleteTree(dir.toFile)
    Map(
      "transition.us_per_frame.backfill" -> Pure.transitionUs(frames, 64),
      "model.us_per_frame" -> Pure.modelUs(frames),
      "serde.decode_us_per_frame" ->
        best(records.foreach(FrameSerde.decodeMsgpack)) / 1000.0 / records.size,
      "sink.append_us_per_frame" -> appendNs / 1000.0 / seg.frames.size,
      "sink.finalize_ms_per_video" -> finalizeNs / 1e6 / videos)
  }
}
