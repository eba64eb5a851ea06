package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._

/** One completed stage with its tasks' metrics summed. */
final case class StageRec(
    id: Int, scopes: Seq[String], tasks: Int, wallS: Double,
    cpuS: Double, gcS: Double, inputRecords: Long, inputMb: Double,
    shuffleReadRecords: Long, shuffleReadMb: Double,
    shuffleWriteRecords: Long, shuffleWriteMb: Double, spillMb: Double)

/** What the listener saw over one window (a pass or a probe). */
final case class Window(wallS: Double, jobs: Int, stages: Seq[StageRec], idleS: Double) {
  def tasks: Int = stages.map(_.tasks).sum
  def cpuS: Double = stages.map(_.cpuS).sum
  def shuffleWriteMb: Double = stages.map(_.shuffleWriteMb).sum
  def spillMb: Double = stages.map(_.spillMb).sum
}

/** SparkListener registered by the benchmark: counts jobs and sums task
  * metrics per stage. The program itself carries no tracing.
  */
final class StageLog(sc: SparkContext) extends SparkListener {
  private final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
                                inRec: Long, inBytes: Long, srRec: Long, srBytes: Long,
                                swRec: Long, swBytes: Long, spill: Long)
  private val jobs = new java.util.concurrent.atomic.AtomicInteger()
  private val stageInfos = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stageInfos.add(e.stageInfo)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Run `body` and return what the listener saw while it ran. */
  def window(body: => Unit): Window = {
    BusShim.drain(sc)
    jobs.set(0); stageInfos.clear(); tasks.clear()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    BusShim.drain(sc)
    val ts = tasks.asScala.toSeq
    val byStage = ts.groupBy(_.stage)
    val mb = 1024.0 * 1024.0
    val stages = stageInfos.asScala.toSeq.sortBy(_.stageId).map { si =>
      val st = byStage.getOrElse(si.stageId, Nil)
      StageRec(si.stageId, BusShim.scopes(si), st.length,
        (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3,
        st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
        st.map(_.inRec).sum, st.map(_.inBytes).sum / mb,
        st.map(_.srRec).sum, st.map(_.srBytes).sum / mb,
        st.map(_.swRec).sum, st.map(_.swBytes).sum / mb, st.map(_.spill).sum / mb)
    }
    Window(wall, jobs.get(), stages, idle(ts.map(t => (t.launch, t.finish)), t0, t1))
  }

  /** Milliseconds of [t0, t1] during which no task ran, in seconds. */
  private def idle(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    var covered = 0L
    var end = t0
    intervals.sortBy(_._1).foreach { case (s, f) =>
      val a = math.max(s, end)
      val b = math.min(f, t1)
      if (b > a) { covered += b - a; end = b }
    }
    (t1 - t0 - covered) / 1e3
  }
}
