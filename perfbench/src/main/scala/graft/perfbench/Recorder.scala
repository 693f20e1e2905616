package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener-side record of every Spark job, stage and task, plus every
  * streaming progress event, for the traced run. Stages carry the job
  * group they were submitted under, so the benchmark can attribute them
  * to the query execution and phase that caused them; stages submitted
  * without one of the benchmark's groups (a streaming query's own thread)
  * are attributed by submission time instead.
  *
  * [[quiesce]] is the read barrier: totals are only read once every event
  * posted so far has been delivered and every started job and stage has
  * ended, or the execution fails loudly. */
final class Recorder extends SparkListener {
  final class StageRec(val group: String, val submitMs: Long) {
    var tasks = 0L
    var failures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
  final class JobRec(val group: String, val submitMs: Long) {
    var endMs: Long = submitMs
  }
  final case class Progress(queryId: String, startMs: Long,
      durations: Map[String, Long], inputRows: Long)

  private val activeJobs = mutable.Set.empty[Int]
  private val activeStages = mutable.Set.empty[(Int, Int)]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val queryStarts = mutable.Map.empty[String, Long]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    activeJobs += e.jobId
    jobs(e.jobId) = new JobRec(groupOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= e.jobId
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      val key = (info.stageId, info.attemptNumber())
      activeStages += key
      stages.getOrElseUpdate(key, new StageRec(groupOf(e.properties),
        info.submissionTime.getOrElse(System.currentTimeMillis())))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      activeStages -= ((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      notifyAll()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageRec(null, e.taskInfo.launchTime))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      Recorder.this.synchronized {
        queryStarts(e.runId.toString) =
          java.time.Instant.parse(e.timestamp).toEpochMilli
      }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        val d = mutable.Map.empty[String, Long]
        p.durationMs.forEach((k, v) => d(k) = v.longValue)
        progress += Progress(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d.toMap,
          p.numInputRows)
      }
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Waits until the listener has seen every posted event and every
    * started job and stage has ended. Throws after `timeoutMs`. */
  def quiesce(sc: SparkContext, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    org.apache.spark.perfbench.Bus.drain(sc, timeoutMs)
    synchronized {
      while (activeJobs.nonEmpty || activeStages.nonEmpty) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"listener not quiescent after $timeoutMs ms: jobs " +
              s"${activeJobs.mkString(",")} stages ${activeStages.mkString(",")}" +
              " still running")
        wait(left)
      }
    }
  }

  /** Totals of the stages and jobs that `belongs` assigns to a phase. */
  def totals(belongs: (String, Long) => Option[String]): Map[String, Map[String, Double]] =
    synchronized {
      val out = mutable.Map.empty[String, mutable.Map[String, Double]]
      def add(phase: String, k: String, v: Double): Unit = {
        val m = out.getOrElseUpdate(phase, mutable.Map.empty)
        m(k) = m.getOrElse(k, 0.0) + v
      }
      jobs.values.foreach(j => belongs(j.group, j.submitMs).foreach(add(_, "jobs", 1)))
      stages.values.foreach { s =>
        belongs(s.group, s.submitMs).foreach { ph =>
          add(ph, "stages", 1)
          add(ph, "tasks", s.tasks.toDouble)
          add(ph, "task_failures", s.failures.toDouble)
          add(ph, "task_s", s.runMs / 1e3)
          add(ph, "task_cpu_s", s.cpuNs / 1e9)
          add(ph, "gc_s", s.gcMs / 1e3)
          add(ph, "shuffle_write_mb", s.shuffleWrite / 1048576.0)
          add(ph, "shuffle_read_mb", s.shuffleRead / 1048576.0)
          add(ph, "spill_mb", s.spill / 1048576.0)
        }
      }
      out.map { case (k, v) => k -> v.toMap }.toMap
    }

  /** Every job as (phase, submitted, ended), in epoch milliseconds. */
  def jobSpans(belongs: (String, Long) => Option[String]): Seq[(String, Long, Long)] =
    synchronized {
      jobs.values.toSeq.flatMap(j => belongs(j.group, j.submitMs).map((_, j.submitMs, j.endMs)))
    }

  /** Streaming progress whose trigger started inside [fromMs, toMs]. */
  def streamingBetween(fromMs: Long, toMs: Long): Map[String, Double] =
    synchronized {
      val ps = progress.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
      def sum(keys: String*): Double =
        ps.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum / 1e3
      val starts = ps.groupBy(_.queryId).toSeq.flatMap { case (id, xs) =>
        queryStarts.get(id).map(st => (xs.map(_.startMs).min - st).max(0L) / 1e3)
      }
      Map(
        "add_batch_s" -> sum("addBatch"),
        "query_planning_s" -> sum("queryPlanning"),
        "log_commit_s" -> sum("walCommit", "commitOffsets"),
        "trigger_s" -> sum("triggerExecution"),
        "start_s" -> starts.sum,
        "batches" -> ps.count(_.inputRows > 0).toDouble)
    }

  /** Drops everything recorded so far; called once an execution's totals
    * have been read. */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); progress.clear(); queryStarts.clear()
  }
}
