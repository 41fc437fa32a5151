package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark entry point: one workload per invocation (or all three with
  * `--smoke`), printing the result JSON as the last line of stdout.
  *
  * Phases of a run:
  *  1. set-up, [[SetUps]] times: generate the input into a fresh directory
  *     (plus the pre-delivered markers for export_resume) and run one
  *     checked warm-up operation on it. `setup_s` = session start + the
  *     median set-up.
  *  2. untraced: checked operations until `--seconds` have passed (at least
  *     [[MinIterations]]); `run_s` and `cpu_s` are their medians.
  *     traced: [[TraceReps]] untraced operations (the reference `run_s`),
  *     [[TraceReps]] operations under the Spark listener, and [[TraceReps]]
  *     layer decompositions; every per-layer value is a median.
  */
object Main {
  val SetUps = 3
  val MinIterations = 2
  val TraceReps = 2

  /** Workload sizes. The export input is the reference's integration
    * matrix (100 + 10 + 0 files) at 500 records per file; the records input
    * holds the same number of records in a tenth of the files. */
  val ExportSize: Expected.Size = Expected.Size(100, 10, 500)
  val RecordsSize: Expected.Size = Expected.Size(10, 1, 5000)
  val SmokeExportSize: Expected.Size = Expected.Size(10, 1, 100)
  val SmokeRecordsSize: Expected.Size = Expected.Size(2, 1, 1000)

  /** `endToEnd` and `perLayer`: the (name, unit) lists of BENCHMARK.json,
    * passed in by run.py; a run prints exactly the list of its mode. */
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, smoke: Boolean, cpus: Int, work: Path,
      endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

  /** `coverage`: how much of `run_s` the layer times account for, and the
    * tracing overhead (traced runs only). */
  final case class Outcome(metrics: Map[String, Double], attempted: Int,
      failed: Int, coverage: Map[String, Double] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable =>
        e.printStackTrace()
        1
      }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    def units(k: String) = need(k).split(",").toSeq.map { nu =>
      val Array(n, u) = nu.split("=", 2)
      n -> u
    }
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", argv.contains("--smoke"), need("--cpus").toInt,
      Path.of(need("--work")), units("--end-to-end"), units("--per-layer"))
  }

  private def workload(b: Bench, name: String, smoke: Boolean): Workload =
    name match {
      case "export_fresh" =>
        new ExportWorkload(b, if (smoke) SmokeExportSize else ExportSize, resume = false)
      case "export_resume" =>
        new ExportWorkload(b, if (smoke) SmokeExportSize else ExportSize, resume = true)
      case "records_scan" =>
        new RecordsWorkload(b, if (smoke) SmokeRecordsSize else RecordsSize)
      case other => sys.error(s"unknown workload $other")
    }

  private def run(a: Args): Int = {
    val b = new Bench(a.seed, a.cpus, a.work)
    val result =
      try {
        if (!a.smoke) {
          runWorkload(b, workload(b, a.workload, smoke = false), a.seconds,
            a.trace, SetUps, TraceReps)
        } else {
          // every workload, untraced then traced, at the small sizes
          val outs = Seq("export_fresh", "export_resume", "records_scan").map { n =>
            val w = workload(b, n, smoke = true)
            val u = runWorkload(b, w, 1, trace = false, 1, 1)
            val t = runWorkload(b, w, 1, trace = true, 1, 1)
            println(json(Map("workload" -> str(n), "correct" -> b.correct.toString,
              "run_s" -> num(u.metrics("run_s")),
              "coverage" -> numbers(t.coverage),
              "trace" -> metricsJson(t.metrics, a.perLayer))))
            Outcome(Map.empty, u.attempted + t.attempted, u.failed + t.failed)
          }
          Outcome(Map.empty, outs.map(_.attempted).sum, outs.map(_.failed).sum)
        }
      } finally b.close()

    val rss = Timing.rssPeakMb()
    val (metrics, units) =
      if (a.smoke) (result.metrics, Seq.empty)
      else if (a.trace) (result.metrics, a.perLayer)
      else (result.metrics + ("rss_peak_mb" -> rss), a.endToEnd)
    val resultMetrics = metricsJson(metrics, units)
    println(json(Map(
      "perfbench" -> json(Map(
        "workload" -> str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
        "cpus" -> a.cpus.toString, "local_master" -> str(s"local[${a.cpus}]"),
        "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "calib_s" -> num(Timing.calibrate()),
        "java" -> str(System.getProperty("java.version")),
        "spark" -> str(org.apache.spark.SPARK_VERSION),
        "operations" -> result.attempted.toString,
        "failed" -> result.failed.toString,
        "files_posted" -> b.posted.toString,
        "files_refused" -> b.refused.toString,
        "rss_peak_mb" -> num(rss),
        "coverage" -> numbers(result.coverage))))))
    println(json(Map(
      "correct" -> b.correct.toString,
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "metrics" -> resultMetrics)))
    0
  }

  /** Runs the phases of one workload (see the object doc). */
  private def runWorkload(b: Bench, w: Workload, seconds: Int, trace: Boolean,
      setUps: Int, traceReps: Int): Outcome = {
    val root = Files.createDirectories(b.work.resolve(w.name + (if (trace) "-traced" else "")))
    var opNo = 0
    var failed = 0
    var attempted = 0
    /** One operation in a fresh directory; None if it threw. */
    def op(listener: Option[OpListener], counted: Boolean): Option[Sample] = {
      val dir = root.resolve(s"op-$opNo")
      opNo += 1
      if (counted) attempted += 1
      b.nifi.reset()
      b.dks.reset()
      val s =
        try Some(w.operation(dir, opNo, listener))
        catch { case NonFatal(e) =>
          System.err.println(s"perfbench: ${w.name} operation $opNo failed: $e")
          e.printStackTrace()
          if (counted) failed += 1
          else b.expect(ok = false, s"${w.name}: warm-up operation failed: $e")
          None
        }
      b.tallyPosts()
      Dirs.deleteTree(dir)
      s
    }

    val setupTimes = (1 to setUps).map { k =>
      val (_, input) = Timing.timed(w.setUp(root.resolve(s"setup-$k")))
      val warm = op(None, counted = false).map(_.wallS).getOrElse(Double.NaN)
      if (k > 1) Dirs.deleteTree(root.resolve(s"setup-${k - 1}"))
      System.err.println(f"perfbench: ${w.name} set-up $k: input $input%.3f s, " +
        f"warm-up operation $warm%.3f s")
      input + warm
    }
    val setup = Map("setup_s" -> (b.sessionStartS + Timing.median(setupTimes)))

    if (!trace) {
      val samples = ArrayBuffer.empty[Sample]
      val t0 = System.nanoTime()
      while (attempted < MinIterations || (System.nanoTime() - t0) / 1e9 < seconds)
        op(None, counted = true).foreach(samples += _)
      System.err.println(s"perfbench: ${w.name} run_s samples " +
        samples.map(s => f"${s.wallS}%.3f").mkString(" "))
      Outcome(setup ++ Map(
        "run_s" -> Timing.median(samples.map(_.wallS).toSeq),
        "cpu_s" -> Timing.median(samples.map(_.cpuS).toSeq)), attempted, failed)
    } else {
      val untraced = (1 to traceReps).flatMap(_ => op(None, counted = true))
      val listener = new OpListener(b.spark.sparkContext)
      b.spark.sparkContext.addSparkListener(listener)
      val traced =
        try (1 to traceReps).flatMap(_ => op(Some(listener), counted = true))
        finally b.spark.sparkContext.removeSparkListener(listener)
      val layerRuns = (1 to traceReps).map { k =>
        val dir = root.resolve(s"layers-$k")
        try w.layers(dir, k)
        finally {
          b.tallyPosts()
          Dirs.deleteTree(dir)
        }
      }
      def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
        ms.flatMap(_.keys).distinct.map(k => k -> Timing.median(ms.flatMap(_.get(k)))).toMap
      val layers = medians(traced.map(_.traced)) ++ medians(layerRuns)
      val runS = Timing.median(untraced.map(_.wallS))
      val opS = Timing.median(traced.map(_.wallS))
      val layerSum = w.opLayers.map(layers).sum
      val sent = layers("delivery.bytes_sent")
      Outcome(layers + ("delivery.bytes_read_per_byte_sent" ->
          (if (sent > 0) layers("sources.bytes_read") / sent else 0.0)),
        attempted, failed, Map(
          "untraced_run_s" -> runS,
          "traced_run_s" -> opS,
          "tracing_overhead" -> (opS / runS - 1),
          "layer_sum_s" -> layerSum,
          "layer_share_of_run_s" -> layerSum / runS))
    }
  }

  private def str(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def json(fields: Map[String, String]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def numbers(m: Map[String, Double]): String =
    json(m.map { case (k, v) => k -> num(v) })

  /** `m` as the result's metrics object, in the order of `units`. Fails if
    * `m` holds other names than `units`: the run then prints no result. */
  private def metricsJson(m: Map[String, Double], units: Seq[(String, String)]): String = {
    val declared = units.map(_._1).toSet
    require(m.keySet == declared,
      s"measured metrics differ from BENCHMARK.json: missing " +
        s"${(declared -- m.keySet).toSeq.sorted}, undeclared ${(m.keySet -- declared).toSeq.sorted}")
    units.map { case (k, u) =>
      val v = m(k)
      val shown =
        if ((u == "count" || u == "bytes") && v == math.rint(v)) v.toLong.toString
        else num(v)
      s"${str(k)}: {\"value\": $shown, \"unit\": ${str(u)}}"
    }.mkString("{", ", ", "}")
  }
}
