package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Executor-side counters of one job group (one query or lifecycle step). */
final class ExecCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var result = 0L

  def toMap: Map[String, Double] = Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_s" -> taskMs / 1e3,
    "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.shuffle_read_mb" -> shuffleRead / 1e6,
    "exec.shuffle_write_mb" -> shuffleWrite / 1e6,
    "exec.spill_mb" -> spill / 1e6, "exec.input_mb" -> input / 1e6,
    "exec.result_mb" -> result / 1e6)
}

/** Aggregates listener events per job group. The harness tags every query
  * with `setJobGroup`, so a job's group is its query; stages and tasks
  * inherit the group of the job that submitted them. */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, ExecCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("<untagged>")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counters(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, "<untagged>"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrDefault(e.stageId, "<untagged>"))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.result += m.resultSize
      }
    }
  }

  def group(g: String): ExecCounters = Option(byGroup.get(g)).getOrElse(new ExecCounters)
}

/** One timed region on the benchmark's side of the program boundary. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, queryId: String)
