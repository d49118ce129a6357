package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** The OTP ⋈ login-session correlation (SURVEY.md §2.3 J1/J2, §2.9 ST3)
  * re-expressed on Spark 4's arbitrary-state API v2 (`transformWithState`)
  * — the successor to `flatMapGroupsWithState` and the API a new pipeline
  * should target:
  *
  *  - state is NAMED and TYPED (`ValueState[SessionState]`) in the
  *    operator's state store, not one opaque blob per key — extra state
  *    variables (here: the pending timer's timestamp) evolve independently;
  *  - timeouts are explicit per-key TIMERS (`registerTimer`/`deleteTimer`),
  *    so the 300 s OTP expiry (login_workflow.py:117) is armed exactly
  *    once per wait and CANCELLED on success instead of being overloaded
  *    as a cache-GC countdown the expiry handler must re-interpret;
  *  - requires the RocksDB state store provider — per-key state lives
  *    off-heap/on-disk with changelog checkpointing, which is the 100 TB
  *    posture: state scales with live keys on disk, not executor heap.
  *
  * Semantics are identical to [[OtpCorrelation]] (same reference behavior,
  * same outcomes); both implementations are kept because
  * `flatMapGroupsWithState` remains the portable HDFS-state-store form.
  */
object OtpCorrelationTws {

  /** 300 s — `asyncio.wait_for(ctx.promise("otp_wait"), timeout=300)`,
    * api/login_workflow.py:117. */
  val OtpTimeoutMs: Long = OtpCorrelation.OtpTimeoutMs

  /** Terminal-state cache lifetime before GC (the old impl reused the OTP
    * timeout for this; kept equal so behavior matches). */
  val CacheTtlMs: Long = OtpTimeoutMs

  class OtpSessionProcessor
      extends StatefulProcessor[String, CorrelationEvent, LoginOutcome] {

    @transient private var session: ValueState[SessionState] = _
    @transient private var timerAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      session = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long](
        "timerAt", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Re-arm the single per-key timer (cancel the old one first — timers
      * are not implicitly replaced the way GroupState timeouts were). */
    private def rearmTimer(timers: TimerValues, delayMs: Long): Unit = {
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val at = timers.getCurrentProcessingTimeInMs() + delayMs
      getHandle.registerTimer(at)
      timerAt.update(at)
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[CorrelationEvent],
        timers: TimerValues): Iterator[LoginOutcome] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[LoginOutcome]
      OtpCorrelation.batchOrder(rows).foreach { ev =>
        (ev.request, ev.otp) match {
          case (Some(r), _) if r.platform != "zepto" =>
            // F7 platform whitelist (login_workflow.py:44-45).
            out += LoginOutcome(key, SessionStatus.Error, None,
              s"unsupported platform: ${r.platform}")
          case (Some(r), _) =>
            if (session.exists()) {
              val st = session.get()
              if (SessionStatus.terminal(st.status))
                // J2 idempotent re-entry: cached terminal outcome.
                out += LoginOutcome(key, st.status, st.otp, "cached")
              // else in-flight: do not re-launch (login_workflow.py:84-91).
            } else {
              session.update(SessionState(key, SessionStatus.WaitingForOtp,
                None, r.reqTs.getTime, "subprocess created; awaiting otp"))
              rearmTimer(timers, OtpTimeoutMs) // ST3: the 300 s promise
            }
          case (None, Some(code)) =>
            if (session.exists() &&
                session.get().status == SessionStatus.WaitingForOtp) {
              val done = session.get().copy(status = SessionStatus.Success,
                otp = Some(code), message = "otp received")
              session.update(done)
              rearmTimer(timers, CacheTtlMs) // now a pure cache-GC timer
              out += LoginOutcome(key, SessionStatus.Success, Some(code),
                "otp received")
            }
            // else: OTP for unknown/terminal key → dropped (fire-and-forget
            // HTTP signal to a non-existent workflow, main.py:187-194).
          case _ => ()
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(
        key: String,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[LoginOutcome] = {
      if (!session.exists()) { timerAt.clear(); return Iterator.empty }
      val st = session.get()
      session.clear()
      timerAt.clear()
      if (st.status == SessionStatus.WaitingForOtp)
        Iterator.single(LoginOutcome(key, SessionStatus.Error, None,
          s"otp wait timed out after ${OtpTimeoutMs / 1000}s"))
      else Iterator.empty // terminal-cache GC is silent
    }
  }

  /** Wire the operator over a (possibly unioned) correlation-event stream.
    * The query must run under the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def correlate(events: Dataset[CorrelationEvent])
               (implicit spark: SparkSession): Dataset[LoginOutcome] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .transformWithState(new OtpSessionProcessor,
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
