package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's core streaming operator: keyed OTP ⋈ login-session
  * correlation with a per-key state machine and timeout (SURVEY.md §2.3
  * J1/J2, §2.9 ST3/ST4).
  *
  * Reference semantics re-expressed:
  *  - one durable session per key `{platform}_{username}`
  *    (`api/main.py:182`, `api/login_workflow.py:51`);
  *  - a login request opens a session that *waits* for an OTP
  *    (`ctx.promise("otp_wait")`, `api/login_workflow.py:117`);
  *  - an OTP arriving for a waiting key resolves it → `success`
  *    (`api/login_workflow.py:170-175`);
  *  - no OTP within OTP_TIMEOUT → `error` ("timeout", the
  *    `asyncio.wait_for(..., timeout=300)` path);
  *  - an OTP with no open session is held for the freshness window
  *    ([[FreshnessMs]]) and resolves a request that arrives in time; one
  *    that expires does so silently, like the reference's fire-and-forget
  *    signal to a non-existent workflow key (`api/main.py:187-194`). The
  *    reference's workflow exists before its mail is sent; here the two
  *    bus topics are read independently, so a mail can be read a
  *    micro-batch ahead of its request;
  *  - terminal states are cached: a re-delivered request for a terminal key
  *    re-emits the cached outcome instead of reopening (idempotent re-entry,
  *    `api/login_workflow.py:71-91`).
  *
  * Scale posture: `flatMapGroupsWithState` shuffles once on `key` and keeps
  * state in the HDFS/RocksDB state store — per-key state is O(1) (a status
  * enum + OTP), so state size grows with live keys only; timeouts garbage-
  * collect abandoned sessions. This is the standard design for
  * million-key correlation on a real cluster, and it runs under either
  * state-store provider.
  */
object OtpCorrelation {

  /** 300 s — `asyncio.wait_for(ctx.promise("otp_wait"), timeout=300)`,
    * api/login_workflow.py:117. */
  val OtpTimeoutMs: Long = 300 * 1000L

  /** 2 min — the mail freshness bound (`main.py:96`), which is also how
    * long an OTP that arrives before its request is held. */
  val FreshnessMs: Long = 120 * 1000L

  private def second(ms: Long): Long = Math.floorDiv(ms, 1000L)

  /** A key's in-batch events in processing order (micro-batches don't
    * sort for us): by whole second, then requests before OTPs, then
    * timestamp. A mail's `Date` header has one-second resolution, so an
    * OTP sent at 12:00:00.700 for a request at 12:00:00.500 is dated
    * 12:00:00; raw timestamp order would put it before its request and
    * drop it. An OTP dated an earlier whole second still sorts first. */
  def batchOrder(events: Iterator[CorrelationEvent]): Seq[CorrelationEvent] =
    events.toSeq.sortBy(e =>
      (second(e.ts.getTime), e.request.isEmpty, e.ts.getTime))

  /** The state-transition function (pure, unit-testable). */
  def transition(
      key: String,
      events: Iterator[CorrelationEvent],
      state: GroupState[SessionState]): Iterator[LoginOutcome] = {
    if (state.hasTimedOut) {
      // ST3: promise expiry. Only a session still awaiting its OTP is an
      // error; terminal states also arm the timeout (as cache GC, below),
      // and those must expire silently — else every Success would be
      // followed ~300s later by a spurious timeout Error. A held OTP that
      // no request claimed expires silently too.
      val st = state.get
      state.remove()
      return if (st.status == SessionStatus.WaitingForOtp)
        Iterator(LoginOutcome(key, SessionStatus.Error, None,
          s"otp wait timed out after ${OtpTimeoutMs / 1000}s"))
      else Iterator.empty
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[LoginOutcome]
    batchOrder(events).foreach { ev =>
      (ev.request, ev.otp) match {
        case (Some(req), _) if req.platform != "zepto" =>
          // F7 platform whitelist: non-zepto requests are rejected up front
          // (login_workflow.py:44-45 raises before any work starts).
          out += LoginOutcome(key, SessionStatus.Error, None,
            s"unsupported platform: ${req.platform}")
        case (Some(req), _) =>
          state.getOption match {
            case Some(st) if SessionStatus.terminal(st.status) =>
              // J2: idempotent re-entry — return cached terminal outcome.
              out += LoginOutcome(key, st.status, st.otp, "cached")
            case Some(st) if st.status == SessionStatus.OtpPending &&
                second(st.startedAtMs) >= second(req.reqTs.getTime) =>
              // the OTP was read before its request: resolve at once
              out += succeed(state, st.copy(startedAtMs = req.reqTs.getTime), st.otp.get)
            case Some(st) if st.status != SessionStatus.OtpPending =>
              // in-flight: do not re-launch (login_workflow.py:84-91).
              ()
            case _ =>
              // no session, or a pending OTP dated before this request
              // (batchOrder's rule): that OTP is not this login's
              val st = SessionState(key, SessionStatus.WaitingForOtp, None,
                req.reqTs.getTime, "subprocess created; awaiting otp")
              state.update(st)
              state.setTimeoutDuration(OtpTimeoutMs)
          }
        case (None, Some(otp)) =>
          state.getOption match {
            case Some(st) if st.status == SessionStatus.WaitingForOtp =>
              out += succeed(state, st, otp)
            case Some(st) if SessionStatus.terminal(st.status) =>
              // OTP for a terminal key: dropped (fire-and-forget).
              ()
            case _ =>
              // no session yet: hold the OTP (a later one replaces it)
              state.update(SessionState(key, SessionStatus.OtpPending,
                Some(otp), ev.ts.getTime, "otp held; awaiting request"))
              state.setTimeoutDuration(FreshnessMs)
          }
        case _ => ()
      }
    }
    out.iterator
  }

  /** Resolve `st` with `otp`. The terminal state stays cached for
    * idempotent re-entry; the refreshed timeout collects the cache. */
  private def succeed(state: GroupState[SessionState], st: SessionState,
      otp: String): LoginOutcome = {
    state.update(st.copy(status = SessionStatus.Success, otp = Some(otp),
      message = "otp received"))
    state.setTimeoutDuration(OtpTimeoutMs)
    LoginOutcome(st.key, SessionStatus.Success, Some(otp), "otp received")
  }

  /** Wire the operator over a (possibly unioned) correlation-event stream. */
  def correlate(events: Dataset[CorrelationEvent])
               (implicit spark: SparkSession): Dataset[LoginOutcome] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(transition)
  }

  /** Union helper: merge the two source streams into correlation events
    * (SURVEY.md J1 chosen plan — union + single keyed stateful op). */
  def unionStreams(
      requests: Dataset[LoginRequest],
      otps: Dataset[ParsedEmail])(implicit spark: SparkSession): Dataset[CorrelationEvent] = {
    import spark.implicits._
    val reqEvents = requests.map(r =>
      CorrelationEvent(r.key, r.reqTs, Some(r), None))
    val otpEvents = otps
      // F5 has-OTP filter, plus null guards: fromEmail/toEmail are null when
      // neither the body regex nor the header matched (main.py:119-128 can
      // yield None) — one malformed email must not NPE and kill the query.
      .filter(e => e.otp.isDefined && e.platform.isDefined && e.toEmail != null)
      .map { e =>
        val username = e.toEmail.split("@")(0) // E14, main.py:303
        val key = s"${e.platform.get}_$username" // E15, main.py:182
        CorrelationEvent(key, e.emailTs, None, e.otp)
      }
    reqEvents.union(otpEvents)
  }
}
