package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** What one query cost the engine in one traced pass. Times in ms unless
  * named `Ns`; sizes in bytes.
  */
final class Counters {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, taskWaitMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, peakExecMemB, cacheB = 0L
  var planMs, exchanges = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_cpu_ns" -> cpuNs, "task_run_ms" -> runMs, "gc_ms" -> gcMs,
    "task_wait_ms" -> taskWaitMs, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "spill_b" -> spillB, "peak_exec_mem_b" -> peakExecMemB,
    "cache_b" -> cacheB, "plan_ms" -> planMs, "exchanges" -> exchanges)
}

/** A traced interval: pass → query → phase → job → stage. Times are
  * epoch ms, the clock Spark's listener events carry.
  */
final case class Span(id: String, parent: String, name: String,
                      start: Long, end: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start" -> start, "end" -> end)
}

/** The traced run's listener. Jobs are attributed by the job group (the
  * query) and the local properties the harness sets before each call
  * (the pass and the phase); plans and cache blocks, whose events carry
  * no properties, go to the query the harness marked `current` — the
  * harness drains the listener bus before it moves on, so every event
  * of a query is seen while that query is current.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  @volatile var current: Option[Key] = None
  private val counters = mutable.Map.empty[Key, Counters]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, (Key, String, Long)]
  private val stageOwner = mutable.Map.empty[Int, (Key, Int)]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var blockBytes = 0L

  private def of(k: Key): Counters = counters.getOrElseUpdate(k, new Counters)

  def addSpan(s: Span): Unit = synchronized(spanBuf += s)
  def spans: Seq[Span] = synchronized(spanBuf.toSeq)
  def countersOf(k: Key): Map[String, Any] =
    synchronized(of(k).toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for {
      props <- Option(e.properties)
      q <- Option(props.getProperty("spark.jobGroup.id"))
      pass <- Option(props.getProperty(PassKey))
    } {
      val k = (pass.toInt, q)
      val phase = props.getProperty(PhaseKey)
      jobs(e.jobId) = (k, phase, e.time)
      val c = of(k)
      c.jobs += 1
      if (phase == "build") c.buildJobs += 1
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (k, e.jobId)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case ((pass, q), phase, t0) =>
      spanBuf += Span(s"job${e.jobId}", s"p$pass/$q/$phase",
        s"job ${e.jobId}", t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageOwner.get(i.stageId).foreach { case (k, _) =>
        of(k).stages += 1
        stageSubmit((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for {
        (_, job) <- stageOwner.get(i.stageId)
        t0 <- stageSubmit.get((i.stageId, i.attemptNumber()))
      } spanBuf += Span(s"stage${i.stageId}.${i.attemptNumber()}", s"job$job",
        i.name, t0, i.completionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (k, _) =>
      val c = of(k)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t0 =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t0))
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemB = math.max(c.peakExecMemB, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case b: RDDBlockId =>
          val size =
            if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          blockBytes += size - blocks.getOrElse(b, 0L)
          if (size == 0L) blocks.remove(b) else blocks(b) = size
          current.foreach(k => of(k).cacheB = math.max(of(k).cacheB, blockBytes))
        case _ =>
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    current.foreach { k =>
      val c = of(k)
      c.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      c.exchanges += collectWithSubqueries(qe.executedPlan) {
        case x: Exchange => x
      }.size
    }
  }
}

object Tracer {
  /** (pass, query) */
  type Key = (Int, String)
  val PassKey = "perfbench.pass"
  val PhaseKey = "perfbench.phase"
}
