package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Scheduler- and shuffle-level counters for the traced run, gathered by a
  * listener attached from outside the program. Every finished job also
  * becomes a span whose parent is the benchmark span that was open when
  * the job was submitted. Its detail is the call site of the action that
  * caused it: the SQL execution's call site when the job belongs to one
  * (adaptive execution submits stage jobs from other threads, so their
  * own call sites name a thread pool), else the job's own. The first
  * line names the Spark API called (`...DataFrameWriter.parquet(...)`),
  * the second the program frame (`parquet at Pipeline.scala:74`). */
final class SparkMetrics(trace: Trace) extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var taskRunMs = 0L
  private var taskCpuNs = 0L
  private var gcMs = 0L
  private var taskWaitMs = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleReadBytes = 0L
  private var spillBytes = 0L
  /** Sum of task wall durations: busy core time, for the busy fraction. */
  private var taskWallMs = 0L

  /** Output records written by the tasks of jobs under each span id. */
  private val recordsWrittenBySpan = mutable.Map.empty[Long, Long]

  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val open = mutable.Map.empty[Int, (Long, String, String, Long)]
  private val executionSite = mutable.Map.empty[Long, String]

  private def site(details: String, short: String): String =
    details.linesIterator.nextOption().getOrElse("").trim + "\n" + short

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = site(s.details, s.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
    val (parent, req) = prop.map(_.split("\\|", 2)) match {
      case Some(Array(p, r)) => (p.toLong, r)
      case _ => (0L, "")
    }
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val callSite = execution.flatMap(executionSite.get).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(si => site(si.details, si.name)).getOrElse(""))
    e.stageInfos.foreach(si => stageParent(si.stageId) = parent)
    open(e.jobId) = (parent, req, callSite, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    open.remove(e.jobId).foreach { case (parent, req, callSite, t0) =>
      trace.add(Span(trace.newId(), parent, "spark.job", req,
        t0 * 1000000L, e.time * 1000000L, callSite))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    taskWallMs += info.duration
    stageSubmitted.get(e.stageId).foreach(s => taskWaitMs += math.max(0L, info.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageParent.get(e.stageId).foreach { p =>
        recordsWrittenBySpan(p) = recordsWrittenBySpan.getOrElse(p, 0L) +
          m.outputMetrics.recordsWritten
      }
    }
  }

  def recordsWritten: Map[Long, Long] = synchronized { recordsWrittenBySpan.toMap }

  def snapshot(): Map[String, Double] = synchronized {
    Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "task_wait_s" -> taskWaitMs / 1e3,
      "task_wall_s" -> taskWallMs / 1e3,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
      "spill_bytes" -> spillBytes.toDouble)
  }
}
