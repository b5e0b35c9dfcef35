package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.RDDBlockId

/** One timed interval: `parent` is the id of the span that caused it
  * (-1 for an iteration), `iter` the iteration it belongs to. */
final case class Span(id: Int, parent: Int, name: String, iter: Int,
                      start: Long, var end: Long = 0L)

/** Spark-side counters of one job group (`bench:<workload>:<step>:<phase>`). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, delayMs = 0L
  var shuffleWrite, shuffleRead, spill, peakMem = 0L
  var inputRows, outputRows, blockBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_cpu_s" -> cpuNs / 1e9,
    "scheduler_delay_s" -> delayMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakMem, "input_rows" -> inputRows,
    "output_rows" -> outputRows, "block_bytes" -> blockBytes)
}

/** Aggregates task, stage and block events by job group. Block updates
  * carry no job, so they go to the group the client thread is in. */
final class PhaseListener extends SparkListener {
  @volatile var current: String = null
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Counters]

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("bench:")) {
      counters(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.inputRows += m.inputMetrics.recordsRead
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val g = current
    val info = e.blockUpdatedInfo
    if (g != null && info.blockId.isInstanceOf[RDDBlockId] && info.storageLevel.isValid)
      synchronized { counters(g).blockBytes += info.memSize + info.diskSize }
  }

  /** The counters gathered since the last call, by group. */
  def take(): Map[String, Map[String, Any]] = synchronized {
    val out = byGroup.map { case (g, c) => g -> c.toMap }.toMap
    byGroup.clear()
    out
  }
}

/** Spans kept in memory and written when the run ends; job groups and
  * plan statistics per phase. Off, every method runs its body and
  * records nothing. */
final class Tracer(sc: SparkContext, workload: String) {
  var on = false
  var iter = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val listener = new PhaseListener
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, iter, System.nanoTime())
      spans += s
      stack = s.id :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Run `body` as phase `phase` of step `step`: its own span and job group. */
  def phase[T](step: String, phase: String)(body: => T): T =
    if (!on) body
    else {
      val group = s"bench:$workload:$step:$phase"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      listener.current = group
      try span(phase)(body)
      finally { listener.current = null; sc.clearJobGroup() }
    }

  /** One step split into build (the call into the module, until the
    * DataFrame is returned), plan (`executedPlan`) and exec (the action).
    * Untraced, the action plans the frame itself, as a user's would. */
  def step[R](name: String)(build: => DataFrame)(exec: DataFrame => R): R =
    span(s"step:$name") {
      val df = phase(name, "build")(build)
      if (on) {
        val plan = phase(name, "plan")(df.queryExecution.executedPlan)
        val text = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        plans += Map("iter" -> iter, "step" -> name,
          "bytes" -> text.getBytes("UTF-8").length.toLong,
          "exchanges" -> Tracer.exchanges(plan).toLong)
      }
      phase(name, "exec")(exec(df))
    }
}

object Tracer {
  /** Exchanges of a physical plan, looking through the adaptive wrapper
    * (before execution its plan is the initial one, exchanges included). */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum
  }
}
