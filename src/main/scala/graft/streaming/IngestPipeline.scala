package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{EmailFns => E, MimeParser}

/** The reference's §3.1 ingestion path as ONE composed unbounded pipeline
  * (`gmail-otp-listener/api/main.py:235-307` end-to-end):
  *
  *   Pub/Sub envelope (base64 JSON)                       [S1]
  *     → decode + schema'd parse + field plucks           [E1/E3/P2]
  *     → null-guard on historyId                          [F1]
  *     → per-mailbox monotone watermark guard             [F2/A1/ST1]
  *     → raw MIME parse of the fetched message            [E5]
  *     → HTML→text, header/body address + OTP extraction  [E6,E8-E15]
  *     → event-time freshness filter                      [F4/ST2]
  *     → has-OTP filter + key derivation                  [F5,E14/E15]
  *     → keyed OTP ⋈ login-session correlation            [J1/J2/ST3]
  *
  * Every stage is the same operator used by the batch queries — this
  * composition is what runs unbounded. The envelope and message streams
  * are separate inputs mirroring the reference's two RPC hops (history
  * scan, then message fetch); the `messages` stream carries the raw
  * RFC-822 bytes keyed by mailbox.
  */
object IngestPipeline {

  val envelopeSchema: StructType =
    StructType.fromDDL("historyId BIGINT, emailAddress STRING")

  /** Stage 1 — decode notifications and enforce watermark monotonicity.
    * Returns the accepted (mailbox, historyId) advances. */
  def notifications(envelopes: DataFrame)
                   (implicit spark: SparkSession): Dataset[StreamOps.MailboxWatermark] =
    notificationsWithRejects(envelopes)._1

  /** One decode pass classifying every envelope: `reason` is null for
    * well-formed rows, else the rejection cause. */
  private def classified(envelopes: DataFrame): DataFrame =
    envelopes
      .withColumn("bin", expr("try_to_binary(data_b64, 'base64')")) // E1
      .withColumn("msg",
        from_json(col("bin").cast("string"), envelopeSchema))       // E3
      .withColumn("reason",
        when(col("bin").isNull, lit("bad-base64"))
          // from_json PERMISSIVE yields a null-FIELDED struct for garbage,
          // so malformed-JSON detection needs try_parse_json explicitly
          .when(col("msg").isNull ||
            expr("try_parse_json(cast(bin as string))").isNull, lit("bad-json"))
          .when(col("msg.historyId").isNull, lit("missing-historyId")))

  /** Stage 1 with the reference's error-path parity: `main.py:311-315`
    * wraps the whole webhook in a catch-all that turns every failure into
    * a status record instead of a dropped request (and `:251-252` returns
    * a distinct status for a missing historyId). The Spark analog is a
    * DEAD-LETTER split: one decode pass classifies each envelope, valid
    * rows feed the monotone guard, malformed rows land in a rejects
    * stream as (payload, reason) ∈ {bad-base64, bad-json,
    * missing-historyId} for quarantine/replay — same shape as the media
    * decoder's `extractRejects`. (Stale ids are NOT rejects: the guard
    * drops them statefully, the reference's "stale-history-id" status.) */
  def notificationsWithRejects(envelopes: DataFrame)
      (implicit spark: SparkSession): (Dataset[StreamOps.MailboxWatermark], DataFrame) = {
    import spark.implicits._
    val c = classified(envelopes)
    val ok = c.filter(col("reason").isNull)
      .select(col("msg.historyId").as("historyId"),            // P2
        col("msg.emailAddress").as("mailbox"))                 // F1 by class
      .as[StreamOps.HistoryEvent]
    val rejects = c.filter(col("reason").isNotNull)
      .select(col("data_b64").as("payload"), col("reason"))
    (StreamOps.monotoneWatermarkGuard(ok), rejects)            // F2/A1/ST1
  }

  /** Stage 2 — parse raw MIME messages into ParsedEmail records
    * (main.py:89-136 semantics: body-derived addresses override headers,
    * OTP nullable, stale mail dropped via the freshness filter). `now` is
    * injectable for deterministic tests (the reference uses wall clock). */
  def parseEmails(messages: DataFrame, now: org.apache.spark.sql.Column): DataFrame = {
    val m = messages
      .withColumn("mime", MimeParser.parseMime(col("raw_email")))      // E5
      .withColumn("body_text",
        MimeParser.htmlToText(
          filter(col("mime.parts"), p => p.getField("contentType") === "text/html")(0)
            .getField("body")))                                        // F8/E8
      .withColumn("email_ts",
        E.rfc2822Date(element_at(col("mime.headers"), "date")))        // E6
    m.filter(E.isFresh(col("email_ts"), now,
        s"INTERVAL ${OtpCorrelation.FreshnessMs / 1000} SECONDS"))     // F4/ST2
      .select(
        E.coalesceAddress(E.forwardedFrom(col("body_text")),
          E.headerAddress(element_at(col("mime.headers"), "from")))
          .as("from_email"),                                           // E9/E12/E13
        E.coalesceAddress(E.forwardedTo(col("body_text")),
          E.headerAddress(element_at(col("mime.headers"), "to")))
          .as("to_email"),                                             // E10/E12/E13
        E.otp(col("body_text")).as("otp"),                             // E11
        lit("zepto").as("platform"),                                   // P4
        col("email_ts"))
  }

  /** Full composition: raw messages + login requests → login outcomes.
    * (The notification guard runs as its own stream — in the reference the
    * guard gates the message FETCH, a side effect Spark models as the
    * source itself; see [[notifications]].) */
  def run(messages: DataFrame,
          requests: Dataset[LoginRequest], now: org.apache.spark.sql.Column)
         (implicit spark: SparkSession): Dataset[LoginOutcome] = {
    import spark.implicits._
    val parsed = parseEmails(messages, now)
      .filter(col("otp").isNotNull)                                    // F5
      .select(col("from_email"), col("to_email"), col("otp"),
        col("platform"), col("email_ts").as("emailTs"))
      .withColumnRenamed("from_email", "fromEmail")
      .withColumnRenamed("to_email", "toEmail")
      .as[ParsedEmailRow]
      .map(r => ParsedEmail(r.fromEmail, r.toEmail, Option(r.otp),
        Option(r.platform), r.emailTs))
    OtpCorrelation.correlate(
      OtpCorrelation.unionStreams(requests, parsed))                   // J1/J2
  }

  /** Row shape for the typed hop (Dataset encoders need flat nullables). */
  final case class ParsedEmailRow(
      fromEmail: String, toEmail: String, otp: String,
      platform: String, emailTs: java.sql.Timestamp)
}
