package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** Counts the child processes Hadoop's `Shell` starts while a block
  * runs, from the JVM's own `jdk.ProcessStart` flight-recorder events
  * (JDK 17). Only events whose stack passes through
  * `org.apache.hadoop.util.Shell` count, so a process the test or Spark
  * starts for another reason does not. Returns the block's value, the
  * count and the commands seen. */
object ShellForks {
  def count[T](body: => T): (T, Int, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(f)
      val cmds = RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
      (out, cmds.size, cmds)
    } finally { rec.close(); Files.deleteIfExists(f) }
  }
}
