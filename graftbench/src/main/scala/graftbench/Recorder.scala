package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

import Recorder.TaskRec

/** The listener behind the engine counts of the traced run.
  *
  *  - Job, stage and task events are attributed to the bench job group
  *    (`<op>/<stage>`) that was set when their stage was submitted. They
  *    are kept only while `tracing` is set.
  *  - Block updates give the live bytes of RDD blocks (persisted and
  *    checkpointed data) in the block manager; an op's storage peak is
  *    the most they rose above their level when the op started.
  *
  * Events arrive on Spark's listener thread; read only after
  * [[org.apache.spark.BenchBus.drain]]. */
final class Recorder extends SparkListener {

  private val blockBytes = mutable.HashMap.empty[(String, String), Long]
  private var live = 0L
  private var peak = 0L
  private var base = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = (i.blockManagerId.executorId, i.blockId.name)
      val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      live += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0) blockBytes.remove(key) else blockBytes(key) = bytes
      peak = math.max(peak, live)
    }
  }

  @volatile var tracing = false
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracing) jobs += groupOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (tracing) stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (tracing && e.taskInfo != null) {
      val m = e.taskMetrics
      val (gc, shW, shR, spill) =
        if (m == null) (0L, 0L, 0L, 0L)
        else (m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
      tasks += TaskRec(stageGroup.getOrElse(e.stageId, ""), e.stageId,
        e.taskInfo.launchTime, e.taskInfo.finishTime, gc, shW, shR, spill)
    }
  }

  /** Drop the traced records and restart the storage peak from the bytes
    * live now (before each traced op). */
  def clearTrace(): Unit = synchronized {
    stageGroup.clear(); jobs.clear(); tasks.clear()
    base = live
    peak = live
  }

  /** Shuffle bytes written by the tasks of one bench stage. */
  def shuffleWriteBytes(group: String): Long = synchronized {
    tasks.iterator.filter(_.group == group).map(_.shuffleWrite).sum
  }

  /** Engine counts of one traced op: every job whose group starts with
    * `prefix`, over the op's wall interval [startMs, endMs]. */
  def engine(prefix: String, startMs: Long, endMs: Long): Map[String, Double] =
    synchronized {
      val ts = tasks.filter(_.group.startsWith(prefix)).toSeq
      val mib = 1024.0 * 1024.0
      // wall time of the op with no task running: the op interval minus
      // the union of task intervals
      var covered = 0L
      var cursor = startMs
      ts.map(t => (math.max(t.launch, startMs), math.min(t.finish, endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, cursor)
          if (b > from) { covered += b - from; cursor = b }
        }
      // worst stage by max task time over median task time
      val skew = ts.groupBy(_.stage).values
        .filter(_.size >= 2)
        .map { st =>
          val d = st.map(t => (t.finish - t.launch).toDouble).sorted
          val med = Stats.median(d)
          if (med > 0) d.last / med else 1.0
        }
        .foldLeft(1.0)(math.max)
      Map(
        "spark.jobs" -> jobs.count(_.startsWith(prefix)).toDouble,
        "spark.stages" -> ts.map(_.stage).distinct.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.task_busy_ms" -> ts.map(t => (t.finish - t.launch).toDouble).sum,
        "spark.driver_gap_ms" -> ((endMs - startMs) - covered).toDouble,
        "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mib,
        "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mib,
        "spark.spill_mb" -> ts.map(_.spill).sum / mib,
        "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "spark.stage_skew" -> skew,
        "spark.storage_peak_mb" -> (peak - base) / mib)
    }
}

object Recorder {
  final case class TaskRec(group: String, stage: Int, launch: Long,
      finish: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long)
}
