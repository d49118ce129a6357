package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.sources.v2.BusOffset
import graft.streaming._

/** One signal as the workflow endpoint received it. */
final case class Signal(key: String, otp: String, token: String, atNanos: Long)

/** Stands in for the login workflow: accepts `POST /wf/<key>/receive_otp`
  * and timestamps each signal on arrival. */
final class SignalEndpoint(threads: Int) {
  val received = new ConcurrentLinkedQueue[Signal]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val OtpField = "\"otp\":\"([^\"]*)\"".r.unanchored

  server.createContext("/wf/", { ex =>
    val at = System.nanoTime()
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val path = ex.getRequestURI.getRawPath.stripPrefix("/wf/")
    val key = java.net.URLDecoder.decode(path.stripSuffix("/receive_otp"), "UTF-8")
    val otp = body match { case OtpField(o) => o; case _ => null }
    received.add(Signal(key, otp,
      Option(ex.getRequestHeaders.getFirst("Idempotency-Key")).getOrElse(""), at))
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}/wf"
  def signals: Vector[Signal] = received.asScala.toVector
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** The Pub/Sub side of the webhook: one keep-alive HTTP/1.1 connection,
  * each request written whole in one write with TCP_NODELAY set, so the
  * client never holds part of a request back. Returns the status code. */
final class PushClient(endpoint: String) {
  private val uri = java.net.URI.create(endpoint)
  private var socket: java.net.Socket = _
  private var in: java.io.BufferedInputStream = _

  private def connect(): Unit = {
    socket = new java.net.Socket(uri.getHost, uri.getPort)
    socket.setTcpNoDelay(true)
    in = new java.io.BufferedInputStream(socket.getInputStream)
  }

  def post(body: String): Int = {
    if (socket == null) connect()
    val bytes = body.getBytes(UTF_8)
    val head = s"POST ${uri.getRawPath} HTTP/1.1\r\nHost: ${uri.getHost}\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${bytes.length}\r\n\r\n"
    socket.getOutputStream.write(head.getBytes(UTF_8) ++ bytes)
    val header = new StringBuilder
    while (!header.endsWith("\r\n\r\n")) {
      val c = in.read()
      if (c < 0) throw new java.io.EOFException("webhook closed the connection")
      header += c.toChar
    }
    val length = "(?i)content-length: *(\\d+)".r.findFirstMatchIn(header)
      .fold(0)(_.group(1).toInt)
    in.readNBytes(length)
    header.toString.split(" ")(1).toInt
  }

  def close(): Unit = if (socket != null) socket.close()
}

/** The deployed ingest topology over one working directory:
  *
  *  push → HttpPushReceiver spool → notificationsWithRejects
  *        ├─ guard   → idempotentParquetSink (advances)
  *        └─ rejects → idempotentParquetSink (dead letter)
  *  graftbus requests + graftbus mails → IngestPipeline.run
  *        → OtpCorrelation.correlate → HttpSignalSink → endpoint
  *
  * Topics are created here; queries start with [[start]]. */
final class Chain(spark: SparkSession, val dir: String, partitions: Int,
    endpointBase: String, maxPerTrigger: Option[Long]) {
  val spool = s"$dir/spool"
  val requestTopic = s"$dir/bus/requests"
  val mailTopic = s"$dir/bus/mails"
  val advancesDir = s"$dir/out/advances"
  val rejectsDir = s"$dir/out/rejects"

  new java.io.File(spool).mkdirs()
  FileBus.createTopic(requestTopic, partitions)
  FileBus.createTopic(mailTopic, partitions)
  val receiver = new HttpPushReceiver(spool)

  var guard: StreamingQuery = _
  var rejects: StreamingQuery = _
  var correlate: StreamingQuery = _

  private def bus(topic: String): DataFrame = {
    val r = spark.readStream.format("graftbus").option("path", topic)
    maxPerTrigger.fold(r)(n => r.option("maxPerTrigger", n)).load()
  }

  def start(): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val envelopes = HttpPushReceiver.stream(spark, spool, Chain.pushSchema)
      .select(col("message.data").as("data_b64"))
    val (guarded, rejected) = IngestPipeline.notificationsWithRejects(envelopes)
    guard = StreamOps.idempotentParquetSink(guarded.toDF(), advancesDir,
      s"$dir/ckpt/guard")
    rejects = StreamOps.idempotentParquetSink(rejected, rejectsDir,
      s"$dir/ckpt/rejects")
    val requests = bus(requestTopic)
      .select(from_json(col("value"), Chain.requestSchema).as("r"))
      .select(col("r.key"), col("r.platform"), col("r.username"),
        timestamp_millis(col("r.reqMs")).as("reqTs"))
      .as[LoginRequest]
    // the record key is the mail's delivery time: freshness is judged
    // against delivery, so a replayed backlog keeps its freshness classes
    val messages = bus(mailTopic).select(col("value").as("raw_email"),
      timestamp_millis(col("key").cast("long")).as("delivered_at"))
    val outcomes = IngestPipeline.run(messages, requests, col("delivered_at"))
    correlate = HttpSignalSink.start(outcomes.toDF(), endpointBase,
      s"$dir/out/ledger", s"$dir/ckpt/correlate")
  }

  def queries: Seq[(String, StreamingQuery)] =
    Seq("correlate" -> correlate, "guard" -> guard, "rejects" -> rejects)
      .filter(_._2 != null)

  /** Offsets of both topics as the correlate query reports them. */
  private def topicEnds: Set[String] =
    Set(BusOffset(FileBus.endOffsets(requestTopic)).json(),
      BusOffset(FileBus.endOffsets(mailTopic)).json())

  /** True once the correlate query has completed a batch that read every
    * record now on both topics. */
  def correlateCaughtUp: Boolean = {
    val p = correlate.lastProgress
    p != null && p.sources.map(_.endOffset).toSet == topicEnds
  }

  /** Waits until every query has consumed everything on its inputs. */
  def drain(deadlineNanos: Long): Boolean = {
    while (!correlateCaughtUp && System.nanoTime() < deadlineNanos) {
      queries.foreach { case (n, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"$n died", e)) }
      Thread.sleep(20)
    }
    guard.processAllAvailable()
    rejects.processAllAvailable()
    correlateCaughtUp
  }

  def stop(): Unit = {
    queries.foreach(_._2.stop())
    receiver.stop()
  }

  // the benchmark is each topic's only producer, so it knows the
  // (partition, offset) every record lands at: FileBus routes by key hash
  // and appends each partition's records in the order given
  private val next = Map(requestTopic -> new Array[Long](partitions),
    mailTopic -> new Array[Long](partitions))

  private def produce(topic: String, records: Seq[(String, String)]): Seq[(Int, Long)] = {
    val ends = next(topic)
    val at = records.map { case (k, _) =>
      val p = FileBus.partitionOf(k, partitions)
      ends(p) += 1
      (p, ends(p) - 1)
    }
    if (records.nonEmpty) FileBus.produce(topic, records)
    at
  }

  /** Appends requests; returns each one's (partition, offset). */
  def produceRequests(records: Seq[(Login, Long)]): Seq[(Int, Long)] =
    produce(requestTopic, records.map { case (l, reqMs) => l.key ->
      s"""{"key":"${l.key}","platform":"zepto","username":"${l.user}","reqMs":$reqMs}""" })

  /** Appends mails keyed by delivery time; returns each one's position. */
  def produceMails(records: Seq[(Long, String)]): Seq[(Int, Long)] =
    produce(mailTopic, records.map { case (deliveredMs, raw) => deliveredMs.toString -> raw })

  /** The correlate batch that read a record: `0` is the request topic,
    * `1` the mail topic; -1 if no batch read it. */
  def batchOf(topic: Int, at: (Int, Long)): Int = {
    val ps = correlate.recentProgress.sortBy(_.batchId)
    // sources follow the plan's union order, requests first; the final
    // offsets tell them apart should that order ever change
    val reqFirst = ps.lastOption.forall(_.sources(0).endOffset ==
      BusOffset(FileBus.endOffsets(requestTopic)).json())
    val src = if (reqFirst) topic else 1 - topic
    ps.indexWhere(p =>
      BusOffset.parse(p.sources(src).endOffset).next.getOrElse(at._1, 0L) > at._2)
  }

  /** Parquet rows published by an idempotent sink (batch_* dirs). */
  def published(outDir: String, ddl: String): Array[org.apache.spark.sql.Row] = {
    val dirs = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch_")).map(_.getPath)
    if (dirs.isEmpty) Array.empty
    else spark.read.schema(StructType.fromDDL(ddl)).parquet(dirs: _*).collect()
  }

  def segments: Int =
    Seq(requestTopic, mailTopic).map(t =>
      FileBus.partitionIds(t).map(p => FileBus.segments(t, p).size).sum).sum
}

object Chain {
  val pushSchema: StructType = StructType.fromDDL(
    "message STRUCT<data: STRING, messageId: STRING>, subscription STRING")
  val requestSchema: StructType = StructType.fromDDL(
    "key STRING, platform STRING, username STRING, reqMs BIGINT")
}
