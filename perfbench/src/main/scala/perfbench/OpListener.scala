package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counts of one operation: jobs, stages, tasks, task CPU, GC,
  * shuffle writes, input bytes, and the job spans from which the driver's
  * own share of the wall time is derived. Reset before the operation and
  * read after it; nothing else runs Spark jobs in between. */
final class OpListener(sc: SparkContext) extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val spans = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stages = new AtomicLong()
  private val tasks = new AtomicLong()
  private val cpuNs = new AtomicLong()
  private val gcMs = new AtomicLong()
  private val shuffleWrite = new AtomicLong()
  private val bytesRead = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.get(e.jobId)).foreach(s => spans.put(e.jobId, (s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def reset(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    jobStart.clear(); spans.clear()
    Seq(stages, tasks, cpuNs, gcMs, shuffleWrite, bytesRead).foreach(_.set(0))
  }

  /** Counts since [[reset]] for an operation that ran from `startMs` to
    * `endMs` (wall clock), as per-layer metric values. */
  def read(startMs: Long, endMs: Long): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val s = spans.values().asScala.toSeq.sortBy(_._1)
    // union of the job spans, clipped to the operation
    var covered = 0L
    var curS = -1L
    var curE = -1L
    s.foreach { case (a0, b0) =>
      val a = math.max(a0, startMs)
      val b = math.min(b0, endMs)
      if (b > a) {
        if (curE < a) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    }
    if (curE > curS) covered += curE - curS
    Map(
      "spark.jobs" -> s.size.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "sources.bytes_read" -> bytesRead.get.toDouble,
      "spark.driver_s" -> (endMs - startMs - covered) / 1e3)
  }
}
