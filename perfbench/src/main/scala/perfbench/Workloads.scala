package perfbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.operators.SnapshotPipeline._
import graft.sources.{EncryptedSnapshotSource, HttpKeyService, LocalKeyService, SnapshotFixture}

/** One timed operation: wall and process-CPU seconds, plus the per-layer
  * values a traced operation adds. */
final case class Sample(wallS: Double, cpuS: Double, traced: Map[String, Double])

/** Directories one operation writes into; fresh per operation. */
final case class RunDirs(root: Path) {
  val out: Path = root.resolve("out")
  val status: Path = root.resolve("status")
  val table: Path = root.resolve("status-table")
  val sns: Path = root.resolve("sns")
  val metrics: Path = root.resolve("metrics")
  Files.createDirectories(status)
}

/** A workload over one generated snapshot directory. Subclasses define the
  * timed operation; the per-layer decomposition of the delivery job is
  * shared, so every layer is measured the same way on every input. */
abstract class Workload(val b: Bench, val size: Expected.Size) {
  def name: String

  /** Layer metrics whose sum is this workload's operation. */
  def opLayers: Seq[String]

  /** The timed operation on the current input; writes under `dir`. The
    * caller resets the stubs' counters before each operation. */
  def operation(dir: Path, i: Int, listener: Option[OpListener]): Sample

  val topics: Seq[Expected.Topic] = Expected.topics(b.seed, size)
  val allFiles: Seq[Expected.File] = Expected.files(topics)
  /** Files already carrying a `.finished` marker before each operation. */
  def preDelivered: Set[Expected.File] = Set.empty
  def batch: Seq[Expected.File] = allFiles.filterNot(preDelivered)

  protected var input: Path = _
  protected var markerTemplate: Option[Path] = None

  protected lazy val expectedDf: DataFrame = {
    val spark = b.spark
    import spark.implicits._
    topics.map(t => (t.name, t.files.toLong)).toDF("topic", "FilesExported")
  }

  private val digests = TrieMap.empty[Expected.File, String]
  protected def digest(f: Expected.File): String =
    digests.getOrElseUpdate(f, Expected.digest(f))

  /** Generates the input under `dir` (into a fresh directory, so the
    * fixture's reuse stamp never skips the work). */
  def setUp(dir: Path): Unit = {
    input = dir.resolve("input")
    SnapshotFixture.generate(input.toString, topics.map(_.fixture))
  }

  protected def monitoring(d: RunDirs,
      counters: PipelineMetrics.RunCounters): MonitoringConf =
    MonitoringConf(LocalFsSnsPublisher(d.sns.toString), Workload.TopicArn,
      pusher = Some(LocalFsMetricsPusher(d.metrics.toString)),
      metrics = Some(b.collector), counters = Some(counters))

  /** Times `f` as one operation; with a listener, adds its Spark counts.
    * Either way adds the DKS calls the operation made. */
  protected def timedOperation[T](listener: Option[OpListener])(f: => T): (T, Sample) = {
    listener.foreach(_.reset())
    val startMs = System.currentTimeMillis()
    val (result, wall, cpu) = Timing.measure(f)
    val traced = listener.map(_.read(startMs, System.currentTimeMillis()))
      .getOrElse(Map.empty) + ("keys.dks_calls" -> b.dks.calls.toDouble)
    (result, Sample(wall, cpu, traced))
  }

  protected def recordsAggregate(records: DataFrame): DataFrame =
    records.groupBy(col("topic")).agg(
      count(lit(1)), sum(col("record._version")),
      countDistinct(col("record._id.citizenId")), count(col("createdAt")))

  /** Checks the bodies and headers the NiFi stub accepted against the
    * files of `want`. */
  protected def checkPosts(want: Seq[Expected.File], correlationId: String,
      what: String, bodies: Boolean): Unit = {
    val got = b.nifi.received
    val byKey = want.map(f => (f.topic.name, f.outputName) -> f).toMap
    b.expect(got.keySet == byKey.keySet,
      s"$what: POSTed ${got.size} files, expected ${byKey.size}; " +
        s"unexpected ${(got.keySet -- byKey.keySet).take(3)}, " +
        s"missing ${(byKey.keySet -- got.keySet).take(3)}")
    b.expect(b.nifi.refused == 0, s"$what: stub refused ${b.nifi.refused} POSTs")
    got.foreach { case (k, post) =>
      byKey.get(k).foreach { f =>
        val h = post.headers
        b.expect(h("database") == f.topic.database &&
          h("collection") == f.topic.collection &&
          h("correlation_id") == correlationId,
          s"$what: ${f.outputName} headers $h")
        if (bodies) b.expect(Expected.sha256(Workload.gunzip(post.body)) == digest(f),
          s"$what: ${f.outputName} body is not its record lines")
      }
    }
  }

  /** Per-layer seconds (and delivery counts) of the delivery job on this
    * workload's input. A lazy layer is timed as the difference between the
    * plan prefix ending at it and the previous prefix, each written to the
    * noop sink; an eager call is timed around the call. */
  def layers(dir: Path, i: Int): Map[String, Double] = {
    val spark = b.spark
    import Timing.timed
    def noop(df: DataFrame): Double =
      timed(df.write.format("noop").mode("overwrite").save())._2
    val d = RunDirs(dir)
    markerTemplate.foreach(Dirs.copyTree(_, d.status))
    val counters = new PipelineMetrics.RunCounters(spark)
    val conf = DeliveryConf(correlationId = s"perfbench-${b.seed}-layers-$i",
      statusTable = Some(d.table.toString))
    val keys = new HttpKeyService(b.dks.url, counters = Some(counters))
    val transport = HttpTransport(b.nifi.url + "/", counters = Some(counters))

    val sidecar = timed(noop(EncryptedSnapshotSource.readMeta(spark, input.toString)))._2
    val (base, list) = timed(EncryptedSnapshotSource.read(spark, input.toString))
    val tScan = noop(base)
    val (valid, rejected) = quarantine(
      PipelineMetrics.observeScan(withTopic(base), conf.blockedTopics))
    val (allowed, blocked) = splitBlockedTopics(valid, conf.blockedTopics)
    val tValid = noop(allowed)
    val rejectedCount = timed(rejected.select(col("fileName")).count() +
      blocked.select(col("fileName")).count())._2
    val (finished, finishedList) =
      timed(Delivery.finishedMarkers(spark, d.status.toString))
    val fresh = filterFinished(allowed, finished, conf.reprocessFiles)
    val tFresh = noop(fresh)
    val (keyed, resolve) = timed(resolveKeys(fresh, keys, Some(counters)))
    val tKeyed = noop(keyed)
    val decrypted = decrypt(keyed)
    val tDecrypted = noop(decrypted)
    val parsed = parseRecords(explodeRecords(decrypted))
    val tParsed = noop(parsed)
    val aggregate = timed(recordsAggregate(parsed).collect())._2

    b.nifi.reset()
    val deliver = timed(Delivery.deliverVia(
      PipelineMetrics.observeDelivery(nifiHeaders(decrypted, conf)),
      d.status.toString, transport))._2
    val (posted, bytes, repeats) = (b.nifi.received.size, b.nifi.bytes, b.nifi.repeats)
    checkPosts(batch, conf.correlationId, s"$name layers", bodies = false)

    val ((statuses, completion, status), aggregateStatus) = timed {
      val st = Delivery.collectionStatus(expectedDf,
        Delivery.sentCounts(Delivery.finishedMarkers(spark, d.status.toString)),
        conf.blockedTopics).cache()
      st.collect()
      val comp = Delivery.runCompletion(st, conf.correlationId)
      (st, comp, comp.collect().head.getAs[String]("completionStatus"))
    }
    val writeStatus = timed {
      Delivery.writeSuccessIndicators(statuses, d.out.toString,
        sendForSent = true, Some(counters))
      conf.statusTable.foreach(Delivery.upsertStatuses(statuses, _, conf.correlationId))
    }._2
    val afterRun = timed(Monitoring.afterRun(monitoring(d, counters), conf,
      completion, Some(statuses)))._2
    b.expect(status == "COMPLETED_SUCCESSFULLY", s"$name layers: completion $status")
    statuses.unpersist()
    Map(
      "sources.list_s" -> list,
      "sources.sidecar_s" -> sidecar,
      "sources.scan_s" -> tScan,
      "pipeline.quarantine_s" -> (tValid - tScan + rejectedCount),
      "pipeline.finished_list_s" -> finishedList,
      "pipeline.anti_join_s" -> (tFresh - tValid),
      "keys.resolve_s" -> (resolve + tKeyed - tFresh),
      "pipeline.decrypt_s" -> (tDecrypted - tKeyed),
      "pipeline.parse_s" -> (tParsed - tDecrypted),
      "records.aggregate_s" -> aggregate,
      "delivery.send_s" -> (deliver - tDecrypted),
      "delivery.files_sent" -> posted.toDouble,
      "delivery.bytes_sent" -> bytes.toDouble,
      "delivery.post_retries" -> repeats.toDouble,
      "status.aggregate_s" -> aggregateStatus,
      "status.write_s" -> writeStatus,
      "monitoring.after_run_s" -> afterRun)
  }
}

object Workload {
  val TopicArn = "arn:aws:sns:eu-west-2:000000000000:perfbench-monitoring"

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }
}

/** `SnapshotJob.run` over HTTP (NiFi + DKS stubs) with the status table
  * and monitoring on. `resume` pre-marks a seeded 90% of the files. */
final class ExportWorkload(b: Bench, size: Expected.Size, resume: Boolean)
    extends Workload(b, size) {
  def name: String = if (resume) "export_resume" else "export_fresh"

  def opLayers: Seq[String] = Seq("sources.list_s", "sources.scan_s",
    "pipeline.quarantine_s", "pipeline.finished_list_s", "pipeline.anti_join_s",
    "keys.resolve_s", "pipeline.decrypt_s", "delivery.send_s",
    "status.aggregate_s", "status.write_s", "monitoring.after_run_s")

  override val preDelivered: Set[Expected.File] =
    if (!resume) Set.empty
    else new scala.util.Random(b.seed)
      .shuffle(allFiles).take(allFiles.size * 9 / 10).toSet

  /** For `resume`, also lays down the pre-delivered markers through the
    * program's own delivery of that subset (local-FS transport). */
  override def setUp(dir: Path): Unit = {
    super.setUp(dir)
    if (resume) {
      val subset = Files.createDirectories(dir.resolve("subset"))
      preDelivered.foreach { f =>
        Seq(f.sourceName, f.sourceName + ".meta.json").foreach(n =>
          Files.copy(input.resolve(n), subset.resolve(n)))
      }
      val markers = dir.resolve("markers")
      SnapshotJob.run(b.spark, subset.toString, dir.resolve("seed-out").toString,
        markers.toString, expectedDf, LocalKeyService)
      OperatorCaches.release()
      b.expect(Dirs.names(markers) == preDelivered.map(_.sourceName + ".finished"),
        s"$name set-up: markers differ from the pre-delivered subset")
      markerTemplate = Some(markers)
    }
  }

  def operation(dir: Path, i: Int, listener: Option[OpListener]): Sample = {
    val d = RunDirs(dir)
    markerTemplate.foreach(Dirs.copyTree(_, d.status))
    b.collector.reset()
    val counters = new PipelineMetrics.RunCounters(b.spark)
    val conf = DeliveryConf(correlationId = s"perfbench-${b.seed}-$i",
      statusTable = Some(d.table.toString))
    val mon = monitoring(d, counters)
    val keys = new HttpKeyService(b.dks.url, counters = Some(counters))
    val transport = HttpTransport(b.nifi.url + "/", counters = Some(counters))
    val (res, sample) = timedOperation(listener)(SnapshotJob.run(b.spark,
      input.toString, d.out.toString, d.status.toString, expectedDf, keys,
      conf, Some(transport), Some(mon)))
    check(res, d, conf)
    OperatorCaches.release()
    sample
  }

  private def check(res: SnapshotJob.RunResult, d: RunDirs,
      conf: DeliveryConf): Unit = {
    checkPosts(batch, conf.correlationId, name, bodies = true)
    b.expect(Dirs.names(d.status) == allFiles.map(_.sourceName + ".finished").toSet,
      s"$name: .finished markers differ from the input file set")
    val statuses = res.statuses
      .select("topic", "FilesExported", "FilesSent", "CollectionStatus")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    b.expect(statuses == Expected.statuses(topics), s"$name: statuses $statuses")
    val completion = res.completion.select("completionStatus").head().getString(0)
    b.expect(completion == "COMPLETED_SUCCESSFULLY", s"$name: completion $completion")
    val messages = Dirs.names(d.sns).toSeq
    b.expect(messages.size == 1 && new String(
      Files.readAllBytes(d.sns.resolve(messages.head)), StandardCharsets.UTF_8)
      .contains("\"title_text\":\"Crown export completed\""),
      s"$name: ${messages.size} monitoring messages")
    b.expect(Dirs.tree(d.out) == topics.map(t => s"${t.name}/${t.indicator}").toSet,
      s"$name: success indicators ${Dirs.tree(d.out)}")
    b.expect(Dirs.names(d.metrics).size == 1, s"$name: no metrics push")
    b.expect(Files.exists(d.table.resolve(s"CorrelationId=${conf.correlationId}/_SUCCESS")),
      s"$name: status table not written")
    val keysWanted = batch.map(_.topic.name).distinct.size
    b.expect(b.dks.calls == keysWanted,
      s"$name: ${b.dks.calls} DKS calls for $keysWanted data keys")
    b.expect(res.quarantined == 0 && res.blocked == 0,
      s"$name: quarantined ${res.quarantined}, blocked ${res.blocked}")
  }
}

/** `SnapshotJob.records` materialized to the noop sink, then a per-topic
  * check aggregate collected. */
final class RecordsWorkload(b: Bench, size: Expected.Size) extends Workload(b, size) {
  def name: String = "records_scan"

  def opLayers: Seq[String] = Seq("sources.list_s", "sources.scan_s",
    "pipeline.quarantine_s", "keys.resolve_s", "pipeline.decrypt_s",
    "pipeline.parse_s", "records.aggregate_s")

  def operation(dir: Path, i: Int, listener: Option[OpListener]): Sample = {
    val keys = new HttpKeyService(b.dks.url)
    val (rows, sample) = timedOperation(listener) {
      val records = SnapshotJob.records(b.spark, input.toString, keys)
      records.write.format("noop").mode("overwrite").save()
      recordsAggregate(records).collect()
    }
    val got = rows.map((r: Row) =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    b.expect(got == Expected.recordAggregates(topics), s"$name: aggregates $got")
    b.expect(b.dks.calls == topics.count(_.files > 0),
      s"$name: ${b.dks.calls} DKS calls")
    sample
  }
}
