package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One finished task's timings and byte counts, in ms and bytes. */
final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, schedulerDelayMs: Long,
    gcMs: Long, shuffleWriteBytes: Long, fetchWaitMs: Long, outputBytes: Long, spillBytes: Long,
    failed: Boolean)

/** Counts jobs, stages and tasks of whatever runs between two resets. */
final class Probe extends SparkListener {
  private var jobs = 0
  private var stages = 0
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val run = m.executorRunTime
      tasks += TaskRec(e.stageId, i.duration, run,
        math.max(0L, i.duration - run - m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime),
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        failed = !i.successful)
    } else tasks += TaskRec(e.stageId, i.duration, 0, 0, 0, 0, 0, 0, 0, failed = !i.successful)
  }

  def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks.clear() }

  def snapshot(): (Int, Int, Vector[TaskRec]) = synchronized { (jobs, stages, tasks.toVector) }
}

object Probe {
  /** Spark-layer counters of one run, from its task records. The skew is
    * max ÷ median task run time in the stage that ran longest in total
    * (the fused extraction stage in the extraction job).
    */
  def layerMetrics(tasks: Vector[TaskRec]): Seq[(String, Double)] = {
    val byStage = tasks.groupBy(_.stage)
    val heavy = if (byStage.isEmpty) Vector.empty else byStage.values.maxBy(_.map(_.runMs).sum)
    val runs = heavy.map(_.runMs.toDouble).sorted
    val skew = if (runs.isEmpty || Stats.median(runs) <= 0) 0.0 else runs.last / Stats.median(runs)
    Seq(
      "pipeline.shuffle_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "pipeline.sink_bytes" -> tasks.map(_.outputBytes).sum.toDouble,
      "pipeline.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "pipeline.scheduler_delay_s" -> tasks.map(_.schedulerDelayMs).sum / 1e3,
      "pipeline.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "pipeline.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "pipeline.task_skew" -> skew)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile of a sorted sample. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p / 100 * sorted.length).toInt - 1)))
}
