package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import graft.SparkSpecBase

/** FIXTURES.md §B5 state-machine sequences against the OTP-correlation
  * operator: transition function unit tests (TestGroupState) + an
  * end-to-end MemoryStream run. */
class OtpCorrelationSpec extends SparkSpecBase {

  private def ts(s: Long) = new Timestamp(1704100000000L + s * 1000)
  private def req(key: String, at: Long) = CorrelationEvent(
    key, ts(at), Some(LoginRequest(key, "zepto", key.stripPrefix("zepto_"), ts(at))), None)
  private def otp(key: String, code: String, at: Long) =
    CorrelationEvent(key, ts(at), None, Some(code))

  import org.apache.spark.api.java.Optional
  private def freshState = TestGroupState.create[SessionState](
    optionalState = Optional.empty[SessionState](),
    timeoutConf = GroupStateTimeout.ProcessingTimeTimeout(),
    batchProcessingTimeMs = 1000L,
    eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)

  test("happy path: request opens session, otp resolves it → success") {
    val st = freshState
    val r1 = OtpCorrelation.transition("zepto_u1", Iterator(req("zepto_u1", 0)), st)
    assert(r1.isEmpty)
    assert(st.get.status == SessionStatus.WaitingForOtp)
    val r2 = OtpCorrelation.transition("zepto_u1", Iterator(otp("zepto_u1", "1234", 10)), st).toSeq
    assert(r2 == Seq(LoginOutcome("zepto_u1", SessionStatus.Success, Some("1234"), "otp received")))
    assert(st.get.status == SessionStatus.Success)
  }

  test("request + otp in the same batch resolve in event-time order") {
    val st = freshState
    val out = OtpCorrelation.transition("zepto_u2",
      Iterator(otp("zepto_u2", "9999", 5), req("zepto_u2", 1)), st).toSeq
    assert(out.map(_.status) == Seq(SessionStatus.Success))
    assert(out.head.otp.contains("9999"))
  }

  test("same-second OTP: a mail dated the request's whole second resolves it") {
    // request at :00.500; the OTP mail's one-second Date header reads :00
    val t0 = 1704100000000L
    val r = CorrelationEvent("zepto_u7", new Timestamp(t0 + 500),
      Some(LoginRequest("zepto_u7", "zepto", "u7", new Timestamp(t0 + 500))),
      None)
    val st = freshState
    val out = OtpCorrelation.transition("zepto_u7",
      Iterator(CorrelationEvent("zepto_u7", new Timestamp(t0), None,
        Some("4321")), r), st).toSeq
    assert(out == Seq(LoginOutcome("zepto_u7", SessionStatus.Success,
      Some("4321"), "otp received")))
    // an OTP dated an EARLIER whole second still precedes its request
    val st2 = freshState
    val early = OtpCorrelation.transition("zepto_u7",
      Iterator(CorrelationEvent("zepto_u7", new Timestamp(t0 - 1000), None,
        Some("4321")), r), st2).toSeq
    assert(early.isEmpty)
    assert(st2.get.status == SessionStatus.WaitingForOtp)
  }

  test("F7: non-zepto platform rejected with error, no session opened (login_workflow.py:44)") {
    val st = freshState
    val badReq = CorrelationEvent("swiggy_u9", ts(0),
      Some(LoginRequest("swiggy_u9", "swiggy", "u9", ts(0))), None)
    val out = OtpCorrelation.transition("swiggy_u9", Iterator(badReq), st).toSeq
    assert(out.map(_.status) == Seq(SessionStatus.Error))
    assert(out.head.message.contains("unsupported platform"))
    assert(!st.exists)
  }

  test("otp with no open session is dropped (fire-and-forget signal)") {
    val st = freshState
    val out = OtpCorrelation.transition("zepto_u3", Iterator(otp("zepto_u3", "1111", 0)), st).toSeq
    assert(out.isEmpty)
    assert(!st.exists)
  }

  test("in-flight re-entry does not relaunch (login_workflow.py:79-86)") {
    val st = freshState
    OtpCorrelation.transition("k", Iterator(req("k", 0)), st)
    val before = st.get
    val out = OtpCorrelation.transition("k", Iterator(req("k", 5)), st).toSeq
    assert(out.isEmpty)
    assert(st.get == before)
  }

  test("terminal re-entry returns cached outcome (login_workflow.py:89-91)") {
    val st = freshState
    OtpCorrelation.transition("k", Iterator(req("k", 0)), st)
    OtpCorrelation.transition("k", Iterator(otp("k", "4242", 1)), st)
    val out = OtpCorrelation.transition("k", Iterator(req("k", 60)), st).toSeq
    assert(out == Seq(LoginOutcome("k", SessionStatus.Success, Some("4242"), "cached")))
  }

  test("timeout fires → error outcome, state removed (300s promise expiry)") {
    val st = freshState
    OtpCorrelation.transition("k", Iterator(req("k", 0)), st)
    assert(st.getTimeoutTimestampMs.isPresent)
    val timedOut = TestGroupState.create[SessionState](
      optionalState = Optional.of(st.get),
      timeoutConf = GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L + OtpCorrelation.OtpTimeoutMs + 1,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val out = OtpCorrelation.transition("k", Iterator.empty, timedOut).toSeq
    assert(out.map(_.status) == Seq(SessionStatus.Error))
    assert(timedOut.isRemoved)
  }

  test("timeout of a Success-cached state is silent cache GC, not a spurious Error") {
    val st = freshState
    OtpCorrelation.transition("k", Iterator(req("k", 0)), st)
    OtpCorrelation.transition("k", Iterator(otp("k", "4242", 1)), st)
    assert(st.get.status == SessionStatus.Success)
    val timedOut = TestGroupState.create[SessionState](
      optionalState = Optional.of(st.get),
      timeoutConf = GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L + OtpCorrelation.OtpTimeoutMs + 1,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val out = OtpCorrelation.transition("k", Iterator.empty, timedOut).toSeq
    assert(out.isEmpty, s"cached-terminal GC must emit nothing, got $out")
    assert(timedOut.isRemoved)
  }

  test("unionStreams drops a null-toEmail email instead of NPE-poisoning the query") {
    implicit val s = spark
    import s.implicits._
    val reqs = Seq(LoginRequest("zepto_carol", "zepto", "carol", ts(0))).toDS()
    val otps = Seq(
      ParsedEmail("a@b.c", null, Some("1234"), Some("zepto"), ts(5)), // malformed
      ParsedEmail("a@b.c", "carol@x.com", Some("5678"), Some("zepto"), ts(6))).toDS()
    val evs = OtpCorrelation.unionStreams(reqs, otps).collect()
    assert(evs.count(_.otp.isDefined) == 1)
    assert(evs.find(_.otp.isDefined).get.key == "zepto_carol")
  }

  test("unionStreams: typed request + email streams → correlate (full J1 path)") {
    implicit val s = spark
    import s.implicits._
    val reqIn = MemoryStream[LoginRequest](spark)
    val otpIn = MemoryStream[ParsedEmail](spark)
    val unioned = OtpCorrelation.unionStreams(reqIn.toDS(), otpIn.toDS())
    val q = OtpCorrelation.correlate(unioned)
      .writeStream.format("memory").queryName("union_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      reqIn.addData(LoginRequest("zepto_carol", "zepto", "carol", ts(0)))
      // key derives from platform + to-email local part (main.py:182,303)
      otpIn.addData(
        ParsedEmail("no-reply@zepto.co.in", "carol@example.com",
          Some("5555"), Some("zepto"), ts(20)),
        ParsedEmail("no-reply@zepto.co.in", "dave@example.com",
          Some("6666"), Some("zepto"), ts(21)), // no session → dropped
        ParsedEmail("x@y.com", "carol@example.com",
          None, Some("zepto"), ts(22)))         // F5: no otp → filtered
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("union_out").count() < 1 &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      val rows = spark.table("union_out").as[LoginOutcome].collect()
      assert(rows.toSet == Set(
        LoginOutcome("zepto_carol", SessionStatus.Success, Some("5555"), "otp received")))
    } finally q.stop()
  }

  test("volume: 500 concurrent keys all correlate independently") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[CorrelationEvent](spark)
    val q = OtpCorrelation.correlate(input.toDS())
      .writeStream.format("memory").queryName("vol_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      val n = 500
      input.addData((0 until n).map(i => req(s"zepto_u$i", i)): _*)
      // OTPs for even keys only, in one later batch
      input.addData((0 until n by 2).map(i => otp(s"zepto_u$i", f"$i%04d", 1000 + i)): _*)
      val deadline = System.currentTimeMillis() + 120000
      while (spark.table("vol_out").count() < n / 2 &&
             System.currentTimeMillis() < deadline) Thread.sleep(250)
      val rows = spark.table("vol_out").as[LoginOutcome].collect()
      assert(rows.length == n / 2)
      assert(rows.forall(_.status == SessionStatus.Success))
      assert(rows.map(_.key).toSet == (0 until n by 2).map(i => s"zepto_u$i").toSet)
      // each even key got ITS OWN otp, not a neighbor's
      rows.foreach { o =>
        val i = o.key.stripPrefix("zepto_u").toInt
        assert(o.otp.contains(f"$i%04d"), s"key ${o.key} got ${o.otp}")
      }
    } finally q.stop()
  }

  test("J1 option (a): stream-stream interval join matches within the window only") {
    implicit val s = spark
    import s.implicits._
    val reqIn = MemoryStream[LoginRequest](spark)
    val otpIn = MemoryStream[ParsedEmail](spark)
    val q = OtpCorrelation.correlateViaJoin(reqIn.toDS(), otpIn.toDS())
      .writeStream.format("memory").queryName("join_out")
      .outputMode("append").start()
    try {
      reqIn.addData(LoginRequest("zepto_erin", "zepto", "erin", ts(0)))
      otpIn.addData(
        ParsedEmail("a@b.c", "erin@example.com", Some("1111"), Some("zepto"), ts(60)),   // in window
        ParsedEmail("a@b.c", "erin@example.com", Some("2222"), Some("zepto"), ts(600))) // outside 5 min
      q.processAllAvailable()
      val rows = spark.table("join_out").select("key", "otp").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(("zepto_erin", "1111")))
    } finally q.stop()
  }

  test("end-to-end: unioned MemoryStream through flatMapGroupsWithState") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[CorrelationEvent](spark)
    // NOTE: with ProcessingTimeTimeout the engine schedules timeout-check
    // batches continuously, so processAllAvailable() never observes
    // quiescence — poll the sink with a deadline instead.
    val q = OtpCorrelation.correlate(input.toDS())
      .writeStream.format("memory").queryName("otp_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("otp_out").count() < n &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
    }
    try {
      input.addData(req("zepto_alice", 0), req("zepto_bob", 0))
      input.addData(otp("zepto_alice", "7777", 30), otp("zepto_nobody", "0000", 31))
      awaitRows(1)
      val rows = spark.table("otp_out").as[LoginOutcome].collect()
      assert(rows.toSet == Set(
        LoginOutcome("zepto_alice", SessionStatus.Success, Some("7777"), "otp received")))
    } finally q.stop()
  }
}
