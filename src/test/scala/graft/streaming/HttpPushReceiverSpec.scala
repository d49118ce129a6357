package graft.streaming

import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.SparkSpecBase
import graft.streaming.StreamOps.{HistoryEvent, MailboxWatermark}

/** S1 transport contract: HTTP pushes become durable spool files (ACK
  * only after the atomic rename), every file enters the stream exactly
  * once across restarts, and bus-level redeliveries (duplicate spool
  * files — at-least-once is the push contract) are dropped by the
  * monotone watermark guard, where the reference dedupes too. */
class HttpPushReceiverSpec extends SparkSpecBase {

  private def post(endpoint: String, body: String): Int = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(endpoint))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      .statusCode()
  }

  test("push → durable spool → exactly-once stream; redeliveries die in the guard") {
    implicit val s = spark
    import s.implicits._
    val spool = java.nio.file.Files.createTempDirectory("push_spool").toString
    val ckpt = java.nio.file.Files.createTempDirectory("push_ckpt").toString
    val rcv = new HttpPushReceiver(spool)
    try {
      assert(post(rcv.endpoint, """{"mailbox":"m1","historyId":5}""") == 200)
      assert(post(rcv.endpoint, """{"mailbox":"m1","historyId":3}""") == 200)
      // bus redelivery: the SAME notification again — spooled as a new
      // file (the receiver must not guess at dedupe; that is the guard's
      // job, with durable state)
      assert(post(rcv.endpoint, """{"mailbox":"m1","historyId":5}""") == 200)
      val spooled = new java.io.File(spool).listFiles()
        .filter(_.getName.startsWith("msg_"))
      assert(spooled.length == 3, "every push (duplicates included) spools")

      val schema = new StructType()
        .add("mailbox", StringType).add("historyId", LongType)
      // memory sink can't recover from a checkpoint; foreachBatch can —
      // and the restart IS the thing under test
      val out = new java.util.concurrent.ConcurrentLinkedQueue[MailboxWatermark]()
      def run() = StreamOps.monotoneWatermarkGuard(
        HttpPushReceiver.stream(spark, spool, schema).as[HistoryEvent])
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[MailboxWatermark], _: Long) =>
            b.collect().foreach(out.add); ()
        }
        .start()

      val q1 = run()
      q1.processAllAvailable()
      q1.stop()
      // one micro-batch, checked in arrival order as the reference
      // checks each push: 3 after 5 is stale, and the REDELIVERED 5 dies
      // too, so exactly one 5 survives
      import scala.jdk.CollectionConverters._
      assert(out.asScala.toSeq == Seq(MailboxWatermark("m1", 5)))
      out.clear()

      // restart: the file-source checkpoint must not re-admit old spool
      // files, and guard state survives — only the NEW advancing push
      // emits
      assert(post(rcv.endpoint, """{"mailbox":"m1","historyId":9}""") == 200)
      assert(post(rcv.endpoint, """{"mailbox":"m1","historyId":4}""") == 200)
      val q2 = run()
      q2.processAllAvailable()
      q2.stop()
      assert(out.asScala.toSeq == Seq(MailboxWatermark("m1", 9)),
        "restart must process only new spool files, and 4 < 9 is stale")
    } finally rcv.stop()
  }

  test("a stale id in the same micro-batch as the larger id before it is dropped") {
    implicit val s = spark
    import s.implicits._
    val spool = java.nio.file.Files.createTempDirectory("push_order").toString
    val ckpt = java.nio.file.Files.createTempDirectory("push_order_ckpt").toString
    val rcv = new HttpPushReceiver(spool)
    def envelope(historyId: Long): String = {
      val data = java.util.Base64.getEncoder.encodeToString(
        s"""{"emailAddress":"m1","historyId":$historyId}""".getBytes("UTF-8"))
      s"""{"message":{"data":"$data"}}"""
    }
    try {
      // all three are spooled before the one trigger: 7 arrives after 10
      Seq(10L, 7L, 12L).foreach(id => assert(post(rcv.endpoint, envelope(id)) == 200))
      // the deployed shape: decode behind a projection, then the guard
      val envelopes = HttpPushReceiver.stream(spark, spool,
        StructType.fromDDL("message STRUCT<data: STRING>"))
        .select(org.apache.spark.sql.functions.col("message.data").as("data_b64"))
      val q = IngestPipeline.notifications(envelopes)
        .writeStream.format("memory").queryName("push_order_out")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one micro-batch")
        val ids = spark.table("push_order_out").as[MailboxWatermark]
          .collect().map(_.historyId).sorted
        assert(ids.toSeq == Seq(10L, 12L), "7 arrived after 10 and is stale")
      } finally q.stop()
    } finally rcv.stop()
  }

  test("receiver restart resumes the spool sequence — never overwrites a spooled file") {
    val spool = java.nio.file.Files.createTempDirectory("push_seq").toString
    val rcv1 = new HttpPushReceiver(spool)
    try {
      assert(post(rcv1.endpoint, """{"mailbox":"m","historyId":1}""") == 200)
      assert(post(rcv1.endpoint, """{"mailbox":"m","historyId":2}""") == 200)
    } finally rcv1.stop()
    val before = new java.io.File(spool).listFiles()
      .filter(_.getName.startsWith("msg_")).map(_.getName).toSet
    // a FRESH receiver over the same spool (crash-restart flow): its
    // sequence must resume past the existing files — restarting at 0
    // would ATOMIC_MOVE over msg_000000000001.json, destroying a spooled
    // message the stream checkpoint already considers processed
    val rcv2 = new HttpPushReceiver(spool)
    try {
      assert(post(rcv2.endpoint, """{"mailbox":"m","historyId":3}""") == 200)
    } finally rcv2.stop()
    val after = new java.io.File(spool).listFiles()
      .filter(_.getName.startsWith("msg_")).map(_.getName).toSet
    assert(before.subsetOf(after), "restart overwrote spooled files")
    assert(after.size == 3, s"expected 3 distinct spool files, got $after")
  }
}
