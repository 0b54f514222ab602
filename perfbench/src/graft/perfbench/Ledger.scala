package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Per-span Spark cost ledger. The runner tags every job it launches
  * with a job group naming the innermost open span (`<op>|op/<phase>/...`),
  * and sets the same name as the local property [[Ledger.SpanKey]]: a
  * streaming query's micro-batch thread inherits that property but runs
  * its jobs under its own group. This listener sums the work of each
  * span: jobs, completed stages,
  * tasks, task run time, scheduling overhead (task duration minus run
  * time), shuffle, spill, peak execution memory, failed tasks, and the
  * bytes read from and written to sources.
  *
  * Listener callbacks arrive on the listener-bus thread; readers must
  * drain the bus first (`GraftListenerDrain.waitUntilEmpty`). */
final class Ledger extends SparkListener {

  final class Cost {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var overheadMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakTaskMem = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var recordsWritten = 0L

    def json(group: String): String = Json.obj(
      "group" -> Json.str(group), "jobs" -> jobs.toString,
      "stages" -> stages.toString, "tasks" -> tasks.toString,
      "failed_tasks" -> failedTasks.toString, "task_ms" -> taskMs.toString,
      "overhead_ms" -> overheadMs.toString,
      "shuffle_read_bytes" -> shuffleRead.toString,
      "shuffle_write_bytes" -> shuffleWrite.toString,
      "spill_bytes" -> spill.toString,
      "peak_task_mem_bytes" -> peakTaskMem.toString,
      "input_bytes" -> inputBytes.toString,
      "output_bytes" -> outputBytes.toString,
      "records_written" -> recordsWritten.toString)
  }

  private val costs = mutable.LinkedHashMap[String, Cost]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def cost(group: String): Cost = costs.getOrElseUpdate(group, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Ledger.SpanKey))
        .orElse(Option(p.getProperty("spark.jobGroup.id"))))
    group.foreach { g =>
      cost(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(cost(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = cost(g)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  def lines: Seq[String] = synchronized {
    costs.toSeq.map { case (g, c) => c.json(g) }
  }
}

object Ledger {
  val SpanKey = "perfbench.span"
}
