package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** Child processes this JVM starts, recorded through JFR's
  * `jdk.ProcessStart` event (with the starting thread and stack). */
object ProcessStarts {

  /** Threads that run on Spark's timers or on garbage collection, not on
    * the work being recorded: the heartbeaters (whose first metrics read
    * runs `getconf PAGESIZE` once per JVM) and the cleaners that delete a
    * collected session's artifact directory with `rm -rf`. */
  private def housekeeping(thread: String): Boolean =
    Set("driver-heartbeater", "executor-heartbeater", "Spark Context Cleaner")(thread) ||
      thread.startsWith("Cleaner-")

  /** The processes started while `body` ran, outside the housekeeping
    * threads, one line each: the command, the thread and the innermost
    * frames that started it. */
  def during(body: => Any): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => housekeeping(thread(e))).map(describe)
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def thread(e: RecordedEvent): String =
    Option(e.getThread).map(_.getJavaName).getOrElse("")

  private def describe(e: RecordedEvent): String = {
    val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      .filterNot(_.startsWith("java.")).take(6)
    s"${e.getString("command")} [${thread(e)}] <- ${frames.mkString(" <- ")}"
  }
}
