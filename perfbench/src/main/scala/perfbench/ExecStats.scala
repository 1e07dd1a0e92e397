package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark execution counters of one job group: the benchmark runs each
  * in-process operation under its own group, and the statement server runs
  * each query under its query id, so one group is one operation. */
final class GroupStats {
  var jobMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var peakMem = 0L
  var shuffleRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]

  /** Slowest task over the median task. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** The benchmark's one Spark listener, keyed by job group. */
final class ExecStats(sc: SparkContext) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
      val s = stats(g)
      s.synchronized { s.jobMs += e.time - t0 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrDefault(e.stageId, ""))
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.taskMs += e.taskInfo.duration
      }
    }
  }

  /** Counters of `group`, after every event posted so far is delivered. */
  def of(group: String): GroupStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(groups.get(group)).getOrElse(new GroupStats)
  }
}

object ExecStats {
  def install(sc: SparkContext): ExecStats = {
    val l = new ExecStats(sc)
    sc.addSparkListener(l)
    l
  }
}
