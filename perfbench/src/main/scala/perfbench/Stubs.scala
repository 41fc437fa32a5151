package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import javax.crypto.Cipher
import javax.crypto.spec.SecretKeySpec

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A loopback HTTP server whose handlers run on a fixed pool of daemon
  * threads: a non-daemon pool would keep the JVM alive after the last
  * iteration. */
abstract class Stub(name: String, threads: Int) {
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
    (r: Runnable) => {
      val t = new Thread(r, s"perfbench-$name")
      t.setDaemon(true)
      t
    })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) =>
    try handle(ex)
    catch { case e: Throwable =>
      System.err.println(s"perfbench: $name stub handler failed: $e")
      try ex.sendResponseHeaders(500, -1) catch { case _: java.io.IOException => }
    } finally ex.close())
  server.setExecutor(pool)

  /** Called once the subclass is constructed, so no request can reach a
    * handler whose state is not yet initialised. */
  def start(): this.type = { server.start(); this }

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  protected def handle(ex: HttpExchange): Unit

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** The NiFi receiver: accepts a POST only if it carries all 12 NiFi
  * headers, keeps each accepted body by (topic, filename), and counts
  * requests, body bytes, repeat POSTs of one file and refusals. */
final class NifiStub(threads: Int) extends Stub("nifi", threads) {
  import NifiStub._

  private val bodies = new ConcurrentHashMap[(String, String), Post]()
  private val requestCount = new AtomicLong()
  private val byteCount = new AtomicLong()
  private val repeatCount = new AtomicLong()
  private val refusedCount = new AtomicLong()

  override protected def handle(ex: HttpExchange): Unit = {
    requestCount.incrementAndGet()
    val body = ex.getRequestBody.readAllBytes()
    byteCount.addAndGet(body.length)
    val headers = ex.getRequestHeaders.entrySet().asScala
      .map(e => e.getKey.toLowerCase -> e.getValue.get(0)).toMap
    if (ex.getRequestMethod != "POST" ||
        !HeaderNames.forall(h => headers.get(h).exists(_.nonEmpty))) {
      refusedCount.incrementAndGet()
      ex.sendResponseHeaders(400, -1)
    } else {
      val prev = bodies.put((headers("topic"), headers("filename")),
        Post(body, headers))
      if (prev != null) repeatCount.incrementAndGet()
      ex.sendResponseHeaders(200, -1)
    }
  }

  def reset(): Unit = {
    bodies.clear()
    Seq(requestCount, byteCount, repeatCount, refusedCount).foreach(_.set(0))
  }

  def received: Map[(String, String), Post] = bodies.asScala.toMap
  def requests: Long = requestCount.get
  def bytes: Long = byteCount.get
  def repeats: Long = repeatCount.get
  def refused: Long = refusedCount.get
}

object NifiStub {
  final case class Post(body: Array[Byte], headers: Map[String, String])

  /** The NiFi envelope every delivery must carry. */
  val HeaderNames: Seq[String] = Seq("filename", "environment", "export_date",
    "database", "collection", "snapshot_type", "topic", "status_table_name",
    "correlation_id", "s3_prefix", "shutdown_flag", "reprocess_files")
}

/** The Data Key Service: `POST /datakey/actions/decrypt?keyId=<id>` with
  * the base64 ciphertext data key as body. The master key of `keyId` is
  * the first 16 bytes of sha256(keyId) and the data key is AES-ECB under
  * it — the envelope scheme of the fixture — decrypted here with the JDK
  * directly. Counts requests. */
final class DksStub(threads: Int) extends Stub("dks", threads) {
  private val callCount = new AtomicLong()

  override protected def handle(ex: HttpExchange): Unit = {
    callCount.incrementAndGet()
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val keyId = query.split('&').collectFirst {
      case kv if kv.startsWith("keyId=") =>
        URLDecoder.decode(kv.stripPrefix("keyId="), StandardCharsets.UTF_8)
    }
    val cipherB64 = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8).trim
    keyId match {
      case Some(id) if cipherB64.nonEmpty =>
        val master = MessageDigest.getInstance("SHA-256")
          .digest(id.getBytes(StandardCharsets.UTF_8)).take(16)
        val c = Cipher.getInstance("AES/ECB/PKCS5Padding")
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(master, "AES"))
        val plain = Base64.getEncoder.encodeToString(
          c.doFinal(Base64.getDecoder.decode(cipherB64)))
        val resp = s"""{"dataKeyEncryptionKeyId":"$id","plaintextDataKey":"$plain","ciphertextDataKey":"$cipherB64"}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
      case _ => ex.sendResponseHeaders(400, -1)
    }
  }

  def reset(): Unit = callCount.set(0)
  def calls: Long = callCount.get
}
