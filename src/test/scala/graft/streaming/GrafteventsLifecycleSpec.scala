package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.SparkSpecBase
import graft.sources.Ledger

/** The reference's §3.1 lifecycle (api/main.py:235-315) end-to-end OVER THE
  * DSv2 CONNECTOR — the carried round-8/9 gap: every prior e2e spec drove
  * file or memory streams; this one drives the actual `graftevents`
  * micro-batch source with its `columns` projection, through the
  * dead-letter split, the stateful monotone guard, the keyed OTP
  * correlation, and a StateInspect audit — with a MID-CHAIN KILL of every
  * query and a restart from the same checkpoints, proving exactly-once
  * across the whole chain.
  *
  * Chain topology (three chained streaming queries, the Spark idiom for a
  * pipeline with two keyed stateful stages — fMGWS must be the last
  * stateful operator of its query, so guard and correlate cannot share
  * one):
  *
  *   graftevents (columns=event_id, maxPerTrigger)     [S1/S12]
  *     → envelope synthesis (deterministic base64 JSON, with injected
  *       bad-base64 / bad-json corruption)
  *     → IngestPipeline.notificationsWithRejects       [E1/E3/P2/F1]
  *         ├─ rejects  → idempotentParquetSink          [dead letter]
  *         └─ guard    → idempotentParquetSink          [F2/A1/ST1]
  *              → (file handoff: batch_* dirs, publish-once)
  *     → file-stream source over the accepted advances
  *       → request+OTP synthesis → correlate            [J1/J2/ST3]
  *         → idempotentParquetSink                      [outcomes]
  *
  * Exactly-once rests on: connector offsets in the WAL (a killed batch
  * replays the same id range), the guard's versioned fMGWS state, the
  * publish-once batch dirs (a replay never re-renames, so the downstream
  * file source — which dedups by file NAME — can never double-read a
  * batch), the file-source file log, and the correlate state + idempotent
  * outcome sink.
  */
class GrafteventsLifecycleSpec extends SparkSpecBase {
  implicit private def s: org.apache.spark.sql.SparkSession = spark
  import spark.implicits._

  private val nEvents = 800L
  // id classes: %10==7 → bad base64; %10==3 → bad json; %10==9 → stale
  // historyId (id-8 — exactly the historyId of the valid event two strides
  // back in the same mailbox, so the guard must drop it in ANY batching);
  // everything else advances its mailbox watermark.
  private def expectedAdvances: Set[(String, Long)] =
    (0L until nEvents).filter(id => !Seq(3L, 7L, 9L).contains(id % 10))
      .map(id => (s"m${id % 4}", id)).toSet

  private def envelopes(): DataFrame = {
    val raw = spark.readStream.format("graftevents")
      .option("events", nEvents).option("chunk", 50)
      .option("maxPerTrigger", 50)
      .option("columns", "event_id").load()
    // S12 pin: the micro-batch scan is projected at the SOURCE
    assert(raw.schema.fieldNames.sameElements(Array("event_id")),
      s"columns projection must narrow the stream schema, got ${raw.schema}")
    raw.select(
      when(col("event_id") % 10 === 7, lit("%%%"))
        .when(col("event_id") % 10 === 3,
          base64(lit("not json").cast("binary")))
        .otherwise(base64(to_json(struct(
          when(col("event_id") % 10 === 9, col("event_id") - 8)
            .otherwise(col("event_id")).as("historyId"),
          concat(lit("m"), col("event_id") % 4).as("emailAddress")))
          .cast("binary")))
        .as("data_b64"))
  }

  private def startGuardAndRejects(advDir: String, rejDir: String,
      ckptGuard: String, ckptRej: String): (StreamingQuery, StreamingQuery) = {
    val (guarded, rejects) = IngestPipeline.notificationsWithRejects(envelopes())
    (StreamOps.idempotentParquetSink(guarded.toDF(), advDir, ckptGuard),
      StreamOps.idempotentParquetSink(rejects, rejDir, ckptRej))
  }

  private def startCorrelate(advDir: String, outDir: String,
      ckpt: String): StreamingQuery = {
    val adv = spark.readStream
      .schema(StructType.fromDDL("mailbox STRING, historyId BIGINT"))
      .parquet(s"$advDir/batch_*")
      .as[StreamOps.MailboxWatermark]
    // each accepted advance models one login session: the request and the
    // fetched OTP mail arrive together (reference: accepted history id →
    // message fetch → parse → correlate with the waiting workflow)
    val events = adv.flatMap { w =>
      val key = s"zepto_${w.mailbox}_${w.historyId}"
      val t = new Timestamp(1704100000000L + w.historyId * 1000L)
      Seq(
        CorrelationEvent(key, t,
          Some(LoginRequest(key, "zepto", s"${w.mailbox}_${w.historyId}", t)),
          None),
        CorrelationEvent(key, new Timestamp(t.getTime + 500L), None,
          Some(f"${w.historyId % 10000}%04d")))
    }
    OtpCorrelation.correlate(events).toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("300 milliseconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dest = new org.apache.hadoop.fs.Path(s"$outDir/batch_$batchId")
        val fs = dest.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        Ledger.publishOnce(fs, dest)(tmp => batch.write.parquet(tmp.toString))
        ()
      }
      .start()
  }

  private def countIn(dir: String, schema: String): Long = {
    val dirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.getName.startsWith("batch_"))
    if (dirs.isEmpty) 0L
    else spark.read.schema(StructType.fromDDL(schema))
      .parquet(dirs.map(_.getPath): _*).count()
  }

  test("§3.1 over the connector: projection → dead-letter → guard → correlate → audit, exactly-once across kill-restart") {
    val root = Files.createTempDirectory("lifecycle").toString
    val advDir = s"$root/advances"; val rejDir = s"$root/rejects"
    val outDir = s"$root/outcomes"
    val ckptG = s"$root/ckpt_guard"; val ckptR = s"$root/ckpt_rej"
    val ckptC = s"$root/ckpt_corr"
    new java.io.File(advDir).mkdirs(); new java.io.File(outDir).mkdirs()

    // ---- phase 1: run the full chain, kill it mid-stream ----
    var (g1, r1) = startGuardAndRejects(advDir, rejDir, ckptG, ckptR)
    val c1 = startCorrelate(advDir, outDir, ckptC)
    // wait until the chain is demonstrably mid-flight: some advances
    // published, some outcomes written, but (nEvents admits 16 batches at
    // 50/trigger) nowhere near drained — then KILL all three queries
    val d1 = System.currentTimeMillis() + 120000
    while ((countIn(advDir, "mailbox STRING, historyId BIGINT") < 100 ||
            countIn(outDir, "key STRING") < 20) &&
           System.currentTimeMillis() < d1) Thread.sleep(200)
    assert(countIn(advDir, "mailbox STRING, historyId BIGINT") >= 100,
      "chain never got mid-flight")
    c1.stop(); g1.stop(); r1.stop()

    // ---- phase 2: restart every query from its checkpoint, drain ----
    val (g2, r2) = startGuardAndRejects(advDir, rejDir, ckptG, ckptR)
    try {
      // guard + rejects quiesce (NoTimeout state / stateless): drain fully
      g2.processAllAvailable(); r2.processAllAvailable()
    } finally { g2.stop(); r2.stop() }
    val c2 = startCorrelate(advDir, outDir, ckptC)
    try {
      // correlate uses ProcessingTimeTimeout — poll, never processAllAvailable
      val expected = expectedAdvances
      val d2 = System.currentTimeMillis() + 120000
      while (countIn(outDir, "key STRING") < expected.size &&
             System.currentTimeMillis() < d2) Thread.sleep(300)
      // one extra settle window: would catch LATE duplicates arriving
      // beyond the expected count before we assert exactly-once
      Thread.sleep(1500)

      // ---- dead letter: exactly the injected corruption, no dups ----
      val rej = spark.read
        .schema(StructType.fromDDL("payload STRING, reason STRING"))
        .parquet(Option(new java.io.File(rejDir).listFiles()).get
          .filter(_.getName.startsWith("batch_")).map(_.getPath): _*)
      val byReason = rej.groupBy("reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byReason == Map("bad-base64" -> 80L, "bad-json" -> 80L),
        s"dead letter must hold each corrupt envelope exactly once: $byReason")

      // ---- monotone guard: exactly the advancing set, no dups ----
      val adv = spark.read
        .schema(StructType.fromDDL("mailbox STRING, historyId BIGINT"))
        .parquet(new java.io.File(advDir).listFiles()
          .filter(_.getName.startsWith("batch_")).map(_.getPath): _*)
      val advRows = adv.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(advRows.length == expected.size,
        s"accepted advances must be exactly-once: ${advRows.length} rows " +
          s"vs ${expected.size} expected")
      assert(advRows.toSet == expected, "accepted advance SET diverged")

      // ---- correlation: one Success outcome per session, no dups ----
      val out = spark.read.schema(StructType.fromDDL(
          "key STRING, status STRING, otp STRING, message STRING"))
        .parquet(new java.io.File(outDir).listFiles()
          .filter(_.getName.startsWith("batch_")).map(_.getPath): _*)
        .collect()
      assert(out.length == expected.size,
        s"outcomes must be exactly-once: ${out.length} vs ${expected.size}")
      assert(out.forall(_.getString(1) == SessionStatus.Success))
      assert(out.forall(_.getString(3) == "otp received"),
        "a 'cached' outcome would mean a session was re-entered (duplicate)")
      assert(out.map(_.getString(0)).distinct.length == expected.size)
    } finally c2.stop()

    // ---- StateInspect audit of the correlate checkpoint (S8 analog) ----
    val sessions = StateInspect.otpSessions(spark, ckptC).collect()
    assert(sessions.length == expectedAdvances.size,
      s"state audit: ${sessions.length} sessions vs ${expectedAdvances.size}")
    assert(sessions.forall(_.getAs[String]("status") == SessionStatus.Success),
      "every audited session must have reached the terminal Success state")
  }
}
