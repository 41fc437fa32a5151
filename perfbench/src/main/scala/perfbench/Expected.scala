package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.sources.SnapshotFixture

/** The workload's inputs and every expected output, derived from the
  * workload parameters alone. The record formula and the file naming are
  * restated here from the fixture's specification rather than read back
  * from the program, so a program that delivers the wrong bytes, names or
  * counts cannot also produce the expectation it is checked against.
  */
object Expected {

  /** Files per topic and records per file of one workload input: the
    * reference's 3-topic matrix (a full topic, a small one, an empty one). */
  final case class Size(fullFiles: Int, smallFiles: Int, records: Int)

  final case class Topic(database: String, collection: String, files: Int,
      records: Int) {
    def name: String = s"db.$database.$collection"
    def indicator: String = s"_${database}_${collection}_successful.gz"
    def fixture: SnapshotFixture.Topic =
      SnapshotFixture.Topic(database, collection, files, records)
  }

  /** One input file: `no` is its index within the topic. */
  final case class File(topic: Topic, no: Int) {
    def sourceName: String = f"${topic.name}-045-050-$no%06d.txt.gz.enc"
    def outputName: String = f"${topic.name}-045-050-$no%06d.json.gz"
  }

  /** The seed salts every collection name, which in turn changes every
    * data key, IV and record id of the input. */
  def topics(seed: Long, size: Size): Seq[Topic] = Seq(
    Topic("core", s"claimant_s$seed", size.fullFiles, size.records),
    Topic("database", s"sent_s$seed", size.smallFiles, size.records),
    Topic("database", s"empty_s$seed", 0, size.records))

  def files(topics: Seq[Topic]): Seq[File] =
    topics.flatMap(t => (0 until t.files).map(File(t, _)))

  /** The fixture's record formula (MongoDB-document shape). */
  def record(topic: String, fileNo: Int, recNo: Int): String = {
    val day = 1 + recNo % 28
    f"""{"_id":{"citizenId":"$topic/$fileNo/$recNo"},"type":"addressDeclaration","contractId":"c-$fileNo-$recNo","addressNumber":{"type":"AddressLine","cryptoId":"crypto-$recNo"},"addressLine2":null,"townCity":{"type":"AddressLine","cryptoId":"town-$recNo"},"postcode":"SM5 ${recNo % 10}LE","processId":"p-$recNo","effectiveDate":{"type":"SPECIFIC_EFFECTIVE_DATE","date":201503$day%02d,"knownDate":201503$day%02d},"createdDateTime":{"$$date":"2015-03-$day%02dT12:23:25.183Z"},"_version":${1 + recNo % 3},"_lastModifiedDateTime":{"$$date":"2018-12-$day%02dT15:01:02.000Z"}}"""
  }

  /** SHA-256 of a file's plaintext: its record lines, each ending in `\n`. */
  def digest(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0 until f.topic.records).foreach { r =>
      md.update(record(f.topic.name, f.no, r).getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    hex(md.digest())
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02x").mkString

  def sha256(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(bytes))

  /** (topic, FilesExported, FilesSent, CollectionStatus) once every file
    * of the input is delivered. */
  def statuses(topics: Seq[Topic]): Set[(String, Long, Long, String)] =
    topics.map(t => (t.name, t.files.toLong, t.files.toLong,
      if (t.files == 0) "Received" else "Sent")).toSet

  /** Per-topic aggregate of the records view:
    * (rows, Σ _version, distinct citizenIds, non-null createdAt).
    * `_version` is `1 + r % 3`, ids are unique per (file, record), and
    * every record carries a valid creation date. */
  def recordAggregates(topics: Seq[Topic]): Map[String, (Long, Long, Long, Long)] =
    topics.filter(_.files > 0).map { t =>
      val rows = t.files.toLong * t.records
      val versionPerFile = (0 until t.records).map(r => 1L + r % 3).sum
      t.name -> (rows, t.files * versionPerFile, rows, rows)
    }.toMap
}
