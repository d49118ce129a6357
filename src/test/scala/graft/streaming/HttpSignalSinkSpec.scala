package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase

/** S7 kill-restart contract: each key is SIGNALED exactly once across
  * crash/replay, at every tear point —
  *  - crash between the POSTs and the ledger commit (the torn window):
  *    replay re-POSTs with the same idempotency tokens, the receiver
  *    dedupes, net effect one apply per key;
  *  - crash between the ledger commit and the checkpoint commit: replay
  *    hits the ledger marker and never reaches the wire at all. */
class HttpSignalSinkSpec extends SparkSpecBase {

  /** In-JVM receiver: counts raw POSTs, applies a signal only the first
    * time its Idempotency-Key is seen (the reference's Restate workflow
    * endpoint journals signals the same way). The first `dropFirst` POSTs
    * are applied but their connection closes without an answer. */
  private class Receiver(dropFirst: Int = 0) {
    val applied = new ConcurrentHashMap[String, AtomicInteger]()
    val raw = new AtomicInteger(0)
    private val seen = ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/login_workflow", { exchange =>
      val n = raw.incrementAndGet()
      val path = exchange.getRequestURI.getPath // /login_workflow/<key>/receive_otp
      val key = path.stripPrefix("/login_workflow/").stripSuffix("/receive_otp")
      val token = exchange.getRequestHeaders.getFirst("Idempotency-Key")
      if (token != null && seen.add(token))
        applied.computeIfAbsent(key, _ => new AtomicInteger(0)).incrementAndGet()
      if (n > dropFirst) {
        val resp = "{\"ok\":true}".getBytes("UTF-8")
        exchange.sendResponseHeaders(200, resp.length)
        exchange.getResponseBody.write(resp)
      }
      // with no response headers sent, close() drops the connection
      exchange.close()
    })
    server.start()
    def base: String =
      s"http://127.0.0.1:${server.getAddress.getPort}/login_workflow"
    def stop(): Unit = server.stop(0)
    def appliesOf(key: String): Int =
      Option(applied.get(key)).map(_.get()).getOrElse(0)
  }

  test("exactly-once signaling across a crash in the torn window and a lost checkpoint commit") {
    implicit val s = spark
    import s.implicits._
    val receiver = new Receiver
    val ckpt = java.nio.file.Files.createTempDirectory("sig_ckpt").toString
    val ledger = java.nio.file.Files.createTempDirectory("sig_ledger").toString
    val input = MemoryStream[(String, String)](spark)
    val df = input.toDS().toDF("key", "otp")

    // ── run 1: crash AFTER the POSTs, BEFORE the ledger commit ──
    val crashed = new AtomicInteger(0)
    val q1 = HttpSignalSink.start(df, receiver.base, ledger, ckpt,
      afterPost = _ => {
        if (crashed.incrementAndGet() == 1)
          throw new RuntimeException("injected crash in the torn window")
      })
    input.addData(("zepto_alice", "1234"), ("zepto_bob", "5678"),
      ("blinkit_carol", "9012"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(receiver.raw.get() == 3, s"3 POSTs before the crash, got ${receiver.raw.get()}")
    assert(!new java.io.File(s"$ledger/batch_0").exists(),
      "crash landed before the ledger commit — marker must be absent")

    // ── run 2: restart replays batch 0 — re-POSTs carry the SAME
    // idempotency tokens, so the receiver applies nothing twice ──
    val q2 = HttpSignalSink.start(df, receiver.base, ledger, ckpt)
    q2.processAllAvailable()
    assert(receiver.raw.get() == 6,
      s"replay must re-POST the torn batch (expected 6 raw, got ${receiver.raw.get()})")
    for (k <- Seq("zepto_alice", "zepto_bob", "blinkit_carol"))
      assert(receiver.appliesOf(k) == 1, s"$k applied ${receiver.appliesOf(k)} times")
    assert(new java.io.File(s"$ledger/batch_0").exists(), "ledger commit landed")

    // a second batch flows normally
    input.addData(("zepto_dave", "3456"))
    q2.processAllAvailable()
    q2.stop()
    assert(receiver.appliesOf("zepto_dave") == 1)
    val rawAfterB1 = receiver.raw.get()

    // ── run 3: crash between ledger commit and CHECKPOINT commit —
    // simulated by deleting batch 1's checkpoint commit marker; the
    // restart replays batch 1, the ledger short-circuits it, and the
    // wire stays silent ──
    assert(new java.io.File(s"$ckpt/commits/1").delete(),
      "spec setup: checkpoint commit marker for batch 1 must exist")
    // the local FS keeps a sidecar checksum; leaving it behind would make
    // the replayed commit's rename fail for a reason unrelated to the sink
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q3 = HttpSignalSink.start(df, receiver.base, ledger, ckpt)
    q3.processAllAvailable()
    q3.stop()
    assert(receiver.raw.get() == rawAfterB1,
      "a ledger-committed batch must replay with ZERO network traffic")
    for (k <- Seq("zepto_alice", "zepto_bob", "blinkit_carol", "zepto_dave"))
      assert(receiver.appliesOf(k) == 1, s"$k applied ${receiver.appliesOf(k)} times")
    receiver.stop()
  }

  test("a POST whose connection closes without an answer is resent with the same Idempotency-Key") {
    implicit val s = spark
    import s.implicits._
    val receiver = new Receiver(dropFirst = 1)
    val ckpt = java.nio.file.Files.createTempDirectory("sig_ckpt").toString
    val ledger = java.nio.file.Files.createTempDirectory("sig_ledger").toString
    val input = MemoryStream[(String, String)](spark)
    val q = HttpSignalSink.start(input.toDS().toDF("key", "otp"),
      receiver.base, ledger, ckpt)
    try {
      input.addData(("zepto_alice", "1234"), ("zepto_bob", "5678"))
      q.processAllAvailable()
    } finally { q.stop(); receiver.stop() }
    assert(receiver.raw.get() == 3,
      s"2 POSTs plus one resend, got ${receiver.raw.get()}")
    for (k <- Seq("zepto_alice", "zepto_bob"))
      assert(receiver.appliesOf(k) == 1, s"$k applied ${receiver.appliesOf(k)} times")
    assert(new java.io.File(s"$ledger/batch_0").exists(), "ledger commit landed")
  }
}
