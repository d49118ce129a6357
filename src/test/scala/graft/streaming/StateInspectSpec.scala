package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpecBase

/** Offline state-store reads against a real correlate() checkpoint: the
  * state data source is the Spark analog of the reference's status-file
  * polling (api/main.py:220-233), so the spec drives the actual operator
  * and then audits its durable state from outside the query. */
class StateInspectSpec extends SparkSpecBase {

  private def ts(s: Long) = new Timestamp(1704100000000L + s * 1000)
  private def req(key: String, at: Long) = CorrelationEvent(
    key, ts(at),
    Some(LoginRequest(key, "zepto", key.stripPrefix("zepto_"), ts(at))), None)
  private def otp(key: String, code: String, at: Long) =
    CorrelationEvent(key, ts(at), None, Some(code))

  test("state source reads live sessions + time-travels a correlate checkpoint") {
    implicit val s = spark
    import s.implicits._
    val ckpt = Files.createTempDirectory("si_ckpt").toString
    val input = MemoryStream[CorrelationEvent](spark)
    val q = OtpCorrelation.correlate(input.toDS())
      .writeStream.format("memory").queryName("si_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    // batch 1: three sessions open and wait; batch 2: one OTP resolves.
    // ProcessingTimeTimeout queries never quiesce — poll with deadlines
    // (state row count, then sink row count) instead of processAllAvailable.
    var reqBatchId = -1L
    try {
      input.addData(req("zepto_a", 0), req("zepto_b", 1), req("zepto_c", 2))
      val d1 = System.currentTimeMillis() + 60000
      while (reqBatchId < 0 && System.currentTimeMillis() < d1) {
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty &&
            p.stateOperators(0).numRowsTotal == 3) reqBatchId = p.batchId
        else Thread.sleep(200)
      }
      assert(reqBatchId >= 0, "requests batch never landed in state")
      input.addData(otp("zepto_a", "7777", 10))
      val d2 = System.currentTimeMillis() + 60000
      while (spark.table("si_out").count() < 1 &&
             System.currentTimeMillis() < d2) Thread.sleep(200)
      assert(spark.table("si_out").count() == 1)
    } finally q.stop()

    // discovery: exactly one stateful operator in this checkpoint
    val ops = StateInspect.operators(spark, ckpt).collect()
    assert(ops.length == 1)
    assert(ops.head.getAs[String]("operatorName")
      .toLowerCase.contains("flatmapgroupswithstate"))

    // latest state: a's terminal outcome is cached, b and c still wait
    val sessions = StateInspect.otpSessions(spark, ckpt)
    val byKey = sessions.collect()
      .map(r => r.getAs[String]("group_key") -> r.getAs[String]("status"))
      .toMap
    assert(byKey == Map(
      "zepto_a" -> SessionStatus.Success,
      "zepto_b" -> SessionStatus.WaitingForOtp,
      "zepto_c" -> SessionStatus.WaitingForOtp))
    // every live session carries an armed GC/timeout deadline
    assert(sessions.collect().forall(
      _.getAs[Long]("timeoutTimestamp") > 0L))

    val pending = StateInspect.pendingOtpSessions(spark, ckpt)
      .select("group_key").as[String].collect().toSet
    assert(pending == Set("zepto_b", "zepto_c"))

    // time-travel: at the requests-only batch, a was still waiting
    val before = StateInspect
      .otpSessions(spark, ckpt, batchId = Some(reqBatchId))
      .collect()
      .map(r => r.getAs[String]("group_key") -> r.getAs[String]("status"))
      .toMap
    assert(before == Map(
      "zepto_a" -> SessionStatus.WaitingForOtp,
      "zepto_b" -> SessionStatus.WaitingForOtp,
      "zepto_c" -> SessionStatus.WaitingForOtp))
  }

  test("change feed: state mutations read back as CDC under changelog checkpointing") {
    // readChangeFeed needs the RocksDB provider WITH changelog
    // checkpointing — each batch then persists its mutation log, which is
    // exactly what the feed replays
    withConfs(ProviderConf -> StateProviders.last,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true") {
      val ckpt = Files.createTempDirectory("si_cdc_ckpt").toString
      implicit val s = spark
      import s.implicits._
      val input = MemoryStream[CorrelationEvent](spark)
      val q = OtpCorrelation.correlate(input.toDS())
        .writeStream.format("memory").queryName("si_cdc_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .start()
      try {
        input.addData(req("zepto_m", 0))
        val d1 = System.currentTimeMillis() + 60000
        var opened = false
        while (!opened && System.currentTimeMillis() < d1) {
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty &&
              p.stateOperators(0).numRowsTotal == 1) opened = true
          else Thread.sleep(200)
        }
        assert(opened, "request batch never landed in state")
        input.addData(otp("zepto_m", "3131", 10))
        val d2 = System.currentTimeMillis() + 60000
        while (spark.table("si_cdc_out").count() < 1 &&
               System.currentTimeMillis() < d2) Thread.sleep(200)
      } finally q.stop()

      val changes = StateInspect.stateChanges(spark, ckpt, startBatchId = 0L)
        .filter(col("value").isNotNull)
        .select(col("change_type"), col("batch_id"),
          col("value.groupState.status").as("status"))
        .collect()
      // the key mutated twice — opened waiting, then cached success —
      // and the feed shows both puts in batch order
      val puts = changes.filter(_.getAs[String]("change_type") == "update")
        .sortBy(_.getAs[Long]("batch_id"))
        .map(_.getAs[String]("status")).toSeq
      assert(puts == Seq(SessionStatus.WaitingForOtp, SessionStatus.Success),
        s"unexpected change feed: ${changes.mkString(", ")}")
    }
  }
}
