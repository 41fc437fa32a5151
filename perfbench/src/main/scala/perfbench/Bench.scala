package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.PipelineMetrics

/** The process-wide harness state: one pinned Spark session, the two
  * stubs, the run's work directory, and the list of failed checks. */
final class Bench(val seed: Long, val cpus: Int, val work: Path) {
  private val t0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val collector: PipelineMetrics.Collector = PipelineMetrics.install(spark)
  /** Seconds from JVM main to a usable session. */
  val sessionStartS: Double = (System.nanoTime() - t0) / 1e9

  val nifi: NifiStub = new NifiStub(cpus).start()
  val dks: DksStub = new DksStub(cpus).start()

  /** POSTs and refusals at the NiFi stub over the whole run. */
  var posted = 0L
  var refused = 0L

  /** Adds the stub's counts since its last reset to the run totals. */
  def tallyPosts(): Unit = {
    posted += nifi.requests
    refused += nifi.refused
  }

  private val problems = ArrayBuffer.empty[String]

  /** Records a failed output check (the run then reports correct=false). */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      val msg = what
      if (problems.size < 20) System.err.println(s"perfbench: CHECK FAILED: $msg")
      problems += msg
    }

  def correct: Boolean = problems.isEmpty

  def close(): Unit =
    try { nifi.stop(); dks.stop() }
    finally spark.stop()
}

object Timing {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** (result, wall seconds, process CPU seconds over all threads). */
  def measure[T](f: => T): (T, Double, Double) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, (os.getProcessCpuTime - c0) / 1e9)
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def rssPeakMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  @volatile private var sink = 0L

  /** Single-thread host-speed witness: seconds for 2^27 xorshift64* steps. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val (acc, s) = timed {
      var acc = 0L
      var i = 0
      while (i < (1 << 27)) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        acc += x * 0x2545F4914F6CDD1DL
        i += 1
      }
      acc
    }
    sink = acc // the result is published, so the loop cannot be dropped
    s
  }
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
  }

  /** Names of the regular files directly under `dir` (none if absent). */
  def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSet
      finally s.close()
    }

  /** Paths of all regular files under `dir`, relative to it. */
  def tree(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(dir.relativize(_).toString).toSet
      finally s.close()
    }
}
