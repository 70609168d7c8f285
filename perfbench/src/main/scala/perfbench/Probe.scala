package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** The benchmark's SparkListener: per-job counters read from outside the
  * engine. Each job carries its job group: the one `graft.Watchdog` sets
  * around each of the benchmark's operations, or one the engine set itself
  * (a streaming query's run id). run.py attributes jobs to operations by
  * group and time window. */
final class Probe extends SparkListener {

  final class Job(val id: Int, val group: String, val startMs: Long,
                  val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    var stages, tasks = 0L
    var runMs, cpuNs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storageBytes = 0L
  @volatile private var peakStorage = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop("spark.jobGroup.id"), e.time, e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
        }
      }
    }

  /** Bytes of cached/checkpointed RDD blocks, tracked per block so the
    * peak covers every `localCheckpoint` pin and `persist`. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${b.name}"
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        synchronized {
          val prev = Option(blocks.put(key, size)).map(_.longValue).getOrElse(0L)
          storageBytes += size - prev
          if (size == 0L) blocks.remove(key)
          if (storageBytes > peakStorage) peakStorage = storageBytes
        }
      case _ =>
    }
  }

  /** Peak RDD storage since the last call, then restart the peak. */
  def takePeakStorage(): Long = synchronized {
    val p = peakStorage
    peakStorage = storageBytes
    p
  }

  def snapshot: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      j.synchronized(Map(
        "id" -> j.id, "group" -> j.group,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill))
    }
}
