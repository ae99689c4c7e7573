package perfbench

import scala.util.Random

import graft.streaming.VideoSessionProcessor.FrameIn

/** Settings of the seeded video generator; recorded next to each run.
  * Video lengths (backfill) or frame shares (stream) follow a Zipf law
  * with exponent `zipfS`; video i has rank i + 1, so the skew profile
  * (and which partition the heaviest video hashes to) is the same for
  * every seed, and a seed changes sessions, gaps, payloads and order. A
  * session lasts a seeded number of frames in [sessionMin, sessionMax];
  * the next session starts after a jump of gapFrames + 1 + [0, gapExtra)
  * frame numbers, which the state machine closes as a gap. */
final case class VideoSettings(
    videos: Int,
    zipfS: Double,
    sessionMin: Int,
    sessionMax: Int,
    gapFrames: Int,
    gapExtra: Int,
    payloadBytes: Int,
    rateFps: Int,
    tickMs: Int) {
  def asMap: Map[String, Any] = Map(
    "videos" -> videos, "zipf_exponent" -> zipfS,
    "session_frames" -> Seq(sessionMin, sessionMax),
    "gap_frames" -> Seq(gapFrames + 1, gapFrames + gapExtra),
    "payload_bytes" -> payloadBytes, "offered_fps" -> rateFps, "tick_ms" -> tickMs)
}

object VideoGen {
  def zipfWeights(n: Int, s: Double): Vector[Double] = {
    val w = (1 to n).toVector.map(r => 1.0 / math.pow(r, s))
    val t = w.sum
    w.map(_ / t)
  }

  /** One video's frame numbering with gap-separated sessions. */
  final class Video(val id: String, st: VideoSettings, rng: Random) {
    private var next = 0
    private var inSession = 0
    private var sessionLen = draw()
    /** Sessions closed by a gap so far, and their frames. */
    var closedSessions = 0
    var closedFrames = 0L
    var frames = 0L
    private def draw(): Int = st.sessionMin + rng.nextInt(st.sessionMax - st.sessionMin + 1)

    def take(): Int = {
      if (inSession == sessionLen) {
        next += st.gapFrames + rng.nextInt(st.gapExtra)
        closedSessions += 1
        closedFrames += inSession
        inSession = 0
        sessionLen = draw()
      }
      val f = next
      next += 1; inSession += 1; frames += 1
      f
    }

    /** Sessions once the input ends (the open one closes too). */
    def sessionsAtEnd: Int = closedSessions + (if (inSession > 0) 1 else 0)
  }

  /** Draws a video index from cumulative Zipf weights. */
  def pick(cum: Vector[Double], rng: Random): Int = {
    val u = rng.nextDouble()
    val i = cum.indexWhere(_ > u)
    if (i < 0) cum.size - 1 else i
  }

  def cumulative(w: Vector[Double]): Vector[Double] = w.scanLeft(0.0)(_ + _).tail

  def frameIn(v: String, f: Int, tsMs: Long): FrameIn = FrameIn(v, f, tsMs * 1000L)
}
