package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: an op, or a call into a layer made by an op. */
final case class Span(
    id: Int, parent: Int, pass: Int, name: String, layer: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. While a span
  * is open its id is the thread's Spark job group, so the jobs it
  * launches (and their stages and tasks) are billed to it.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  var pass = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), pass, name, layer,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-span-$spanId"
  def spanOf(group: String): Int =
    if (group != null && group.startsWith("perfbench-span-")) group.drop(15).toInt else -1
}

/** What the scheduler did for one span. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs = 0L
  var shuffleWriteB, shuffleReadB, shuffleRecords = 0L
  var spillMemB, spillDiskB = 0L
  var inputB, outputB = 0L
  var mapStageMs, resultStageMs = 0L
  /** (launch, finish) wall-clock ms of every task */
  val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    shuffleRecords += o.shuffleRecords
    spillMemB += o.spillMemB; spillDiskB += o.spillDiskB
    inputB += o.inputB; outputB += o.outputB
    mapStageMs += o.mapStageMs; resultStageMs += o.resultStageMs
    taskWindows ++= o.taskWindows
  }
}

/** Listener that bills jobs, stages and tasks to the span whose job group
  * launched them, and tracks the bytes held by persisted RDD blocks.
  */
final class Profile extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val mapStages = mutable.Set.empty[Int]
  private val work = mutable.Map.empty[Int, Work]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var persisted = 0L
  private var peak = 0L

  private def of(span: Int): Work = work.getOrElseUpdate(span, new Work)

  def workOf(span: Int): Work = synchronized(work.getOrElse(span, new Work))

  /** Peak persisted bytes since the last call. */
  def takePeakPersisted(): Long = synchronized {
    val p = peak
    peak = persisted
    p
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Tracer.spanOf(
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val w = of(stageSpan.getOrElse(si.stageId, -1))
    w.stages += 1
    val ms = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
    if (mapStages(si.stageId)) w.mapStageMs += ms else w.resultStageMs += ms
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    if (e.taskType == "ShuffleMapTask") mapStages += e.stageId
    w.taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      w.taskRunMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      w.spillMemB += m.memoryBytesSpilled
      w.spillDiskB += m.diskBytesSpilled
      w.inputB += m.inputMetrics.bytesRead
      w.outputB += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      persisted += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0L) blockBytes -= key else blockBytes(key) = bytes
      peak = math.max(peak, persisted)
    }
  }
}
