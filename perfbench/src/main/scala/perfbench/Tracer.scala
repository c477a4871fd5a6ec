package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-op execution counters, gathered by a SparkListener the benchmark
  * registers only on traced passes. Jobs carry the op's tag as a local
  * property (set by the driver thread before it builds or computes the
  * op), so every job, stage and task is charged to the op that started
  * it, and to its build or compute phase. */
final class Tracer extends SparkListener {
  final class Stats {
    var jobs, buildJobs, stages, tasks = 0L
    var jobWallMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, recordsIn, bytesOut = 0L
    /** Max over median task duration, worst stage. */
    var skew = 0.0
  }

  private val byTag = mutable.HashMap.empty[String, Stats]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def stats(tag: String) = byTag.getOrElseUpdate(tag, new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.TagKey))).foreach { tag =>
      val s = stats(tag)
      s.jobs += 1
      if (props.flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).contains("build"))
        s.buildJobs += 1
      jobTag(e.jobId) = (tag, e.time)
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, t0) => stats(tag).jobWallMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(tag)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.recordsIn += m.inputMetrics.recordsRead
      s.bytesOut += m.outputMetrics.bytesWritten
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTag.get(id).foreach { tag =>
      val s = stats(tag)
      s.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        s.skew = s.skew.max(sorted.last.toDouble / med)
      }
    }
  }

  /** Counters of `tag`, once every event posted so far was delivered. */
  def get(sc: SparkContext, tag: String): Option[Stats] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(byTag.get(tag))
  }
}

object Tracer {
  val TagKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
