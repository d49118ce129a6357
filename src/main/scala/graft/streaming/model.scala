package graft.streaming

/** Typed records of the reference pipeline (SURVEY.md §1.1), as case
  * classes so `Dataset[T]` encoders are derived at compile time.
  *
  * Reference: `gmail-otp-listener/api/main.py:44-48` (ParsedEmail),
  * `api/login_workflow.py:21-35` (LoginInput/LoginOutput/OTPInput),
  * `api/playwright_login_runner.py:44-49` (status record).
  */

/** A Pub/Sub-style change notification (main.py:39-41,245-246). */
final case class ChangeNotification(
    emailAddress: String,
    historyId: Long,
    ts: java.sql.Timestamp)

/** Parsed email (main.py:44-48); nullable fields are Options. */
final case class ParsedEmail(
    fromEmail: String,
    toEmail: String,
    otp: Option[String],
    platform: Option[String],
    emailTs: java.sql.Timestamp)

/** Login request = the workflow invocation input (login_workflow.py:21-26),
  * keyed by `{platform}_{username}` (main.py:182). */
final case class LoginRequest(
    key: String,
    platform: String,
    username: String,
    reqTs: java.sql.Timestamp)

/** Union element for the keyed correlation stream: exactly one of
  * `request` / `otp` is set (the two streams are unioned before
  * `groupByKey`, SURVEY.md §2.3 J1 option (b)). */
final case class CorrelationEvent(
    key: String,
    ts: java.sql.Timestamp,
    request: Option[LoginRequest],
    otp: Option[String])

/** Workflow session states, mirroring the reference's status-file machine
  * (playwright_login_runner.py:44-157):
  * subprocess_created → browser_ready → waiting_for_otp → otp_submitted
  * → success | error. In the Spark re-expression `browser_ready` and
  * `otp_submitted` are driven by external status events; the correlation
  * operator itself moves waiting_for_otp → success on OTP arrival and
  * → error("timeout") on state timeout. `otp_pending` has no reference
  * counterpart: it holds an OTP read before its login request. */
object SessionStatus {
  val SubprocessCreated = "subprocess_created"
  val BrowserReady = "browser_ready"
  val WaitingForOtp = "waiting_for_otp"
  val OtpSubmitted = "otp_submitted"
  val OtpPending = "otp_pending"
  val Success = "success"
  val Error = "error"
  val terminal: Set[String] = Set(Success, Error)
}

/** Per-key durable state (the GroupState payload). */
final case class SessionState(
    key: String,
    status: String,
    otp: Option[String],
    startedAtMs: Long,
    message: String)

/** Emitted outcome (login_workflow.py:29-31 LoginOutput). */
final case class LoginOutcome(
    key: String,
    status: String,
    otp: Option[String],
    message: String)
