package graft.streaming

import java.nio.file.Files

import graft.{ShellForks, SparkSpec}
import graft.streaming.VideoSessionProcessor.{Config, FrameIn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Checkpoint recovery: kill a stateful query mid-stream, restart it
  * from the same checkpoint, and require (a) keyed state to survive —
  * the session continues counting where it left off — and (b) no
  * duplicated output through the exactly-once file sink, even though
  * the source may replay the last uncommitted micro-batch. This is the
  * engine-level replacement for the reference's at-least-once +
  * idempotency story (stream.py:462-497: manual offset commit after
  * processing, restart re-consumes from the committed offset) — Spark
  * checkpoints offsets AND state atomically per batch, and the file
  * sink's manifest makes replays invisible to readers.
  */
class RecoverySpec extends SparkSpec {

  import spark.implicits._

  /** Read the parquet sink, tolerating the not-yet-written window. */
  private def sink(dir: String): DataFrame =
    try spark.read.schema(implicitly[org.apache.spark.sql.Encoder[Schemas.VideoEvent]].schema)
      .parquet(dir)
    catch { case _: Throwable => spark.emptyDataset[Schemas.VideoEvent].toDF() }

  private def poll(deadlineMs: Long = 30000L)(ready: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + deadlineMs
    while (!ready && System.currentTimeMillis() < deadline) Thread.sleep(150L)
    assert(ready, "timed out waiting for sink rows")
  }

  private def runRecovery(
      name: String,
      wire: org.apache.spark.sql.Dataset[FrameIn] => org.apache.spark.sql.Dataset[Schemas.VideoEvent])
      : Unit = {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory(s"graft_${name}_out").toString
    val ckpt = Files.createTempDirectory(s"graft_${name}_ckpt").toString
    val input = MemoryStream[FrameIn]
    def start() = wire(input.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()

    def dets() = sink(out).where($"kind" === "detection").select($"detection.*")

    // phase 1: half the session, then kill the query
    val q1 = start()
    try {
      input.addData((0 to 4).map(i => FrameIn("v1", i, i * 1000L)): _*)
      poll()(dets().count() == 5)
    } finally q1.stop()

    // phase 2: restart from the checkpoint; the session must CONTINUE
    // (frames 5..9 extend it), then a 300-gap frame closes it
    val q2 = start()
    try {
      input.addData((5 to 9).map(i => FrameIn("v1", i, i * 1000L)): _*)
      input.addData(FrameIn("v1", 400, 400000L)) // gap > 300 ⇒ close + re-init
      poll() {
        sink(out).where($"kind" === "completion").count() >= 1 && dets().count() == 11
      }
    } finally q2.stop()
    assertRecovered(out)
  }

  /** One session of frames 0..9 split across restarts, closed by a gap
    * frame: every detection exactly once, indices continuing across the
    * restarts, one completion carrying all ten frames. */
  private def assertRecovered(out: String): Unit = {
    def dets() = sink(out).where($"kind" === "detection").select($"detection.*")
    val d = dets().orderBy($"frame_number").collect()
    // no duplicated detections across the restart (exactly-once sink)
    assert(d.map(_.getAs[Int]("frame_number")).toSeq == ((0 to 9) :+ 400))
    // state survived: frames 5..9 continue session 1 at index 5..9
    // instead of re-initializing at 0
    assert(d.take(10).map(_.getAs[Long]("session_index")).toSeq == (0L to 9L))
    assert(d.take(10).map(_.getAs[Long]("session_id")).distinct.toSeq == Seq(1L))
    // the gap frame opens session 2 at index 0
    assert(d.last.getAs[Long]("session_id") == 2L)
    assert(d.last.getAs[Long]("session_index") == 0L)
    // exactly ONE completion for the closed session, carrying all ten
    // frames — state neither lost (a restart-reset would report 5)
    // nor double-emitted
    val comps = sink(out).where($"kind" === "completion").select($"completion.*").collect()
    assert(comps.length == 1, s"expected 1 completion, got ${comps.length}")
    assert(comps.head.getAs[org.apache.spark.sql.Row]("stats")
      .getAs[Long]("total_frames") == 10L)
  }

  test("fMGWS query recovers keyed state from a checkpoint without duplicating output") {
    // generous idle timeout: recovery is under test, not the close path
    runRecovery("fmgws",
      ds => VideoSessionProcessor.processStream(ds, Config(idleTimeoutMs = 600000L)))
  }

  /** Session settings that send `file:` back to Hadoop's stock local
    * classes for what runs under them: the FileContext class is looked
    * up per use, and the `FileSystem` cache (JVM-wide, not keyed by
    * conf) is bypassed so the engine's cached instance is not reused. */
  private val StockLocalFs = Seq(
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    "fs.file.impl.disable.cache" -> "true")

  private def withStockLocalFs[T](body: => T): T = {
    StockLocalFs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally StockLocalFs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** A checkpoint and parquet sink written with Hadoop's stock local
    * classes restart under the engine's (`graft.LocalFs`) and back:
    * state written by either class is read by the other, the sink's
    * .crc files verify under both, and no output is duplicated. */
  private def runAcrossLocalFsChange(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory(s"graft_${name}_out").toString
    val ckpt = Files.createTempDirectory(s"graft_${name}_ckpt").toString
    val input = MemoryStream[FrameIn]
    def dets() = sink(out).where($"kind" === "detection").count()
    /** Restart from the checkpoint, feed `frames`, wait for `ready`;
      * returns the Hadoop shell processes started meanwhile. */
    def phase(frames: Seq[FrameIn])(ready: => Boolean): Int = ShellForks.count {
      val q = VideoSessionProcessor.processStream(input.toDS(), Config(idleTimeoutMs = 600000L))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(frames: _*)
        poll()(ready)
      } finally q.stop()
    }._2
    val stock1 = withStockLocalFs(phase((0 to 4).map(i => FrameIn("v1", i, i * 1000L)))(dets() == 5))
    val graft2 = phase((5 to 9).map(i => FrameIn("v1", i, i * 1000L)))(dets() == 10)
    val stock3 = withStockLocalFs(phase(Seq(FrameIn("v1", 400, 400000L))) {
      sink(out).where($"kind" === "completion").count() >= 1 && dets() == 11
    })
    // the phases really ran on different classes
    assert(stock1 > 0 && stock3 > 0, s"stock phases forked $stock1, $stock3 times")
    assert(graft2 == 0, s"engine phase forked $graft2 times")
    assertRecovered(out)
    val rows = withStockLocalFs(sink(out).collect().map(_.toString).sorted.toSeq)
    assert(rows.nonEmpty && rows == sink(out).collect().map(_.toString).sorted.toSeq)
  }

  test("a checkpoint written by Hadoop's stock local classes recovers under the engine's and back") {
    runAcrossLocalFsChange("fsswap_hdfs")
  }

  test("a RocksDB checkpoint written by Hadoop's stock local classes recovers under the engine's and back") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runAcrossLocalFsChange("fsswap_rocksdb")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState query recovers RocksDB state from a checkpoint without duplicating output") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runRecovery("tws",
      ds => VideoSessionProcessor.processStreamTws(ds, Config()))
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("tws restart yields the identical completion set as an uninterrupted run") {
    // Parity form of the recovery guarantee (VERDICT r5 ask #7): a
    // kill+restart mid-stream must be OBSERVATIONALLY INVISIBLE in the
    // completion output, not merely non-duplicating. Two keys keep
    // multi-key state in play across the restart boundary; the
    // comparison uses the deterministic completion fields (processing
    // timestamps legitimately differ between runs).
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(tag: String, interrupt: Boolean): Seq[org.apache.spark.sql.Row] = {
        implicit val sqlCtx = spark.sqlContext
        val out = Files.createTempDirectory(s"graft_twspar_${tag}_out").toString
        val ckpt = Files.createTempDirectory(s"graft_twspar_${tag}_ckpt").toString
        val input = MemoryStream[FrameIn]
        def start() = VideoSessionProcessor
          .processStreamTws(input.toDS(), Config(idleTimeoutMs = 600000L))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        def dets() = sink(out).where($"kind" === "detection").count()
        def comps() = sink(out).where($"kind" === "completion")
        var q = start()
        try {
          input.addData((0 to 4).map(i => FrameIn("v1", i, i * 1000L)) ++
            (0 to 2).map(i => FrameIn("v2", i, i * 1000L)): _*)
          poll()(dets() == 8)
          if (interrupt) { q.stop(); q = start() }
          input.addData((5 to 9).map(i => FrameIn("v1", i, i * 1000L)) ++
            (3 to 5).map(i => FrameIn("v2", i, i * 1000L)): _*)
          poll()(dets() == 16)
          // gap > 300 closes both sessions (the gap frames themselves
          // open fresh sessions and emit 2 more detections)
          input.addData(FrameIn("v1", 400, 400000L), FrameIn("v2", 400, 400000L))
          poll()(comps().count() == 2 && dets() == 18)
        } finally q.stop()
        comps().select(
            $"completion.video_id",
            $"completion.stats.total_frames",
            $"completion.stats.fire_count",
            $"completion.stats.max_fire_probability")
          .orderBy($"video_id").collect().toSeq
      }
      val uninterrupted = run("base", interrupt = false)
      val restarted = run("restart", interrupt = true)
      assert(uninterrupted == restarted,
        s"completion parity broke:\nuninterrupted=$uninterrupted\nrestarted=$restarted")
      // sanity: both closed sessions carry their full frame counts
      assert(uninterrupted.map(_.getLong(1)) == Seq(10L, 6L))
    } finally spark.conf.unset(key)
  }
}
