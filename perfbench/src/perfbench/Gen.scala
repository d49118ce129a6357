package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale, SplittableRandom}

/** One login: its request, its OTP mail and an optional re-delivered
  * request. Times are milliseconds from the run origin. */
final case class Login(key: String, user: String, reqAt: Long, mailAt: Long,
    otp: String, redeliverAt: Long) {
  def redelivered: Boolean = redeliverAt >= 0
}

/** One mail on the mail topic. `kind` is otp | stale | nootp | orphan;
  * `loginKey` is the correlation key its To: address maps to. */
final case class Mail(at: Long, dateAt: Long, loginKey: String, otp: String,
    kind: String)

/** One Pub/Sub push. `kind` is valid | duplicate | stale | bad-base64 |
  * bad-json | missing-historyId; `data` is the envelope's base64 field. */
final case class Push(at: Long, seq: Int, mailbox: String, historyId: Long,
    kind: String, data: String) {
  def body: String =
    s"""{"message":{"data":"$data","messageId":"$seq"},""" +
      s""""subscription":"projects/bench/subscriptions/gmail-push"}"""
}

/** Seeded workload generator. It never looks at the program: every
  * expected outcome follows from what it generated. */
object Gen {
  // The traffic mix below is assumed, not measured: no trace of real OTP
  // delivery delays or noise shares backs these figures. The delay range
  // sets how many mails share their request's second, and so the failure
  // share the known same-second defect produces; read that share as
  // conditional on this mix.
  //
  // delivery delay of an OTP mail after its request: includes sub-second
  // delays, so some mails carry a Date in the same second as the request
  val MinDelayMs = 100L
  val MaxDelayMs = 3000L
  val StaleShare = 0.05   // extra mail with an old Date and another OTP
  val NoOtpShare = 0.05   // extra mail with no OTP in it
  val OrphanShare = 0.05  // OTP mail for a key that never logs in
  val RedeliverShare = 0.05
  val Mailboxes = 4
  val StaleAgeMs = 5000L

  def logins(seed: Long, n: Int, perSecond: Double, redeliverLagMs: Long,
      horizonMs: Long): (Vector[Login], Vector[Mail]) = {
    val rnd = new SplittableRandom(seed)
    val mails = Vector.newBuilder[Mail]
    val ls = (0 until n).map { i =>
      // mid-slot, so at 200/s no request falls on a whole second, where a
      // mail's Date would tie with it
      val reqAt = ((i + 0.5) * 1000.0 / perSecond).toLong
      val mailAt = reqAt + MinDelayMs + rnd.nextLong(MaxDelayMs - MinDelayMs + 1)
      val user = s"u$i"
      val key = s"zepto_$user"
      val otp = f"${rnd.nextInt(10000)}%04d"
      mails += Mail(mailAt, mailAt, key, otp, "otp")
      if (rnd.nextDouble() < StaleShare) {
        val at = (reqAt + mailAt) / 2
        mails += Mail(at, at - 180000L - rnd.nextLong(420000L), key,
          f"${(otp.toInt + 1 + rnd.nextInt(9998)) % 10000}%04d", "stale")
      }
      if (rnd.nextDouble() < NoOtpShare) {
        val at = (reqAt + mailAt) / 2
        mails += Mail(at, at, key, "", "nootp")
      }
      val redeliver = rnd.nextDouble() < RedeliverShare &&
        mailAt + redeliverLagMs <= horizonMs
      Login(key, user, reqAt, mailAt, otp,
        if (redeliver) mailAt + redeliverLagMs else -1L)
    }.toVector
    val span = math.max(1L, (n * 1000.0 / perSecond).toLong)
    (0 until (n * OrphanShare).toInt).foreach { j =>
      val at = rnd.nextLong(span)
      mails += Mail(at, at, s"zepto_orphan$j", f"${rnd.nextInt(10000)}%04d",
        "orphan")
    }
    (ls, mails.result().sortBy(_.at))
  }

  /** Pushes at a fixed rate over `durationMs`. Stale ids lie below an id
    * pushed at least `StaleAgeMs` earlier, so any batching of the guard
    * drops them; duplicates repeat the mailbox's latest valid id. */
  def pushes(seed: Long, perSecond: Double, durationMs: Long): Vector[Push] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val history = Array.fill(Mailboxes)(Vector.empty[(Long, Long)])
    val n = (durationMs * perSecond / 1000.0).toInt
    (0 until n).map { j =>
      val at = (j * 1000.0 / perSecond).toLong
      val m = j % Mailboxes
      val mailbox = s"inbox$m@example.com"
      val old = history(m).filter(_._1 <= at - StaleAgeMs)
      def valid(): Push = {
        val id = history(m).lastOption.fold(1000L + m)(_._2) + 10
        history(m) = history(m) :+ (at -> id)
        Push(at, j, mailbox, id, "valid", envelope(mailbox, Some(id)))
      }
      rnd.nextInt(25) match {
        case 0 => Push(at, j, mailbox, -1, "bad-base64", s"%%%$j")
        case 1 => Push(at, j, mailbox, -1, "bad-json", b64(s"not json $j"))
        case 2 => Push(at, j, mailbox, -1, "missing-historyId",
          envelope(mailbox, None))
        case 3 if old.nonEmpty =>
          val id = old(rnd.nextInt(old.size))._2 - 5
          Push(at, j, mailbox, id, "stale", envelope(mailbox, Some(id)))
        case 4 if history(m).nonEmpty =>
          val id = history(m).last._2
          Push(at, j, mailbox, id, "duplicate", envelope(mailbox, Some(id)))
        case _ => valid()
      }
    }.toVector
  }

  def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  def envelope(mailbox: String, id: Option[Long]): String =
    b64(id.fold(s"""{"emailAddress":"$mailbox"}""")(h =>
      s"""{"emailAddress":"$mailbox","historyId":$h}"""))

  private val rfc2822 = DateTimeFormatter
    .ofPattern("EEE, d MMM yyyy HH:mm:ss Z", Locale.US)
    .withZone(ZoneOffset.UTC)

  /** A multipart/alternative OTP mail; the HTML part is quoted-printable
    * as real senders encode it. `epochMs` turns run times into wall time. */
  def rawMail(m: Mail, epochMs: Long, seq: Int): String = {
    val user = m.loginKey.stripPrefix("zepto_")
    val line =
      if (m.kind == "nootp") "Welcome to Zepto! Your order is on its way."
      else s"Your otp code is ${m.otp}"
    val b = s"b$seq"
    s"""Received: from mail.zepto.co.in by mx.example.com; ${rfc2822.format(Instant.ofEpochMilli(epochMs + m.at))}
       |From: Zepto <no-reply@zepto.co.in>
       |To: Buyer <$user@example.com>
       |Subject: Your Zepto login code
       |Date: ${rfc2822.format(Instant.ofEpochMilli(epochMs + m.dateAt))}
       |Message-ID: <$seq.$user@zepto.co.in>
       |MIME-Version: 1.0
       |Content-Type: multipart/alternative; boundary="$b"
       |
       |--$b
       |Content-Type: text/plain; charset=utf-8
       |
       |Hello, $line. Do not share it with anyone.
       |--$b
       |Content-Type: text/html; charset=utf-8
       |Content-Transfer-Encoding: quoted-printable
       |
       |<html><head><style>p{color:#333}</style></head><body><table><tr><td>=
       |<p style=3D"font-size:16px">Hello,</p><p>$line</p><p>Do not share it=
       | with anyone.</p></td></tr></table></body></html>
       |--$b--
       |""".stripMargin
  }
}
