package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Records, in memory, what Spark reports through its public listener
  * interfaces while the traced run executes: jobs (with the job group
  * the harness tags each operation with), stages with their task
  * metrics summed, query executions with their Catalyst phase times,
  * and cached-block updates. Times are epoch milliseconds. The records
  * are raw; `bench/trace.py` assembles them into the span tree.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Stage(val id: Int, val attempt: Int) {
    var submitted = 0L
    var completed = 0L
    var name = ""
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }
  private final class Job(val id: Int, val group: String, val start: Long,
      val stageIds: Seq[Int]) {
    var end = 0L
    var ok = true
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    s.name = e.stageInfo.name
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.synchronized {
      s.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val i = e.blockUpdatedInfo
        blocks.synchronized {
          blocks += Map("t" -> System.currentTimeMillis(), "block" -> b.name,
            "bytes" -> (i.memSize + i.diskSize),
            "cached" -> i.storageLevel.isValid)
        }
      case _ => ()
    }

  private def recordExec(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
    execs.synchronized {
      execs += Map("t" -> System.currentTimeMillis(), "ok" -> ok, "phases" -> phases)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    recordExec(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordExec(qe, ok = false)

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
        "ok" -> j.ok, "stages" -> j.stageIds)
    },
    "stages" -> stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map { s =>
      Map("id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
        "submitted" -> s.submitted, "completed" -> s.completed,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill,
        "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes)
    },
    "execs" -> execs.synchronized(execs.toList),
    "blocks" -> blocks.synchronized(blocks.toList))
}
