package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Offline introspection of streaming state via Spark's state data source
  * (`statestore` / `state-metadata` formats, public API since Spark 4.0).
  *
  * The reference exposes its correlation state operationally: the status
  * files `playwright_login_runner.py:44-49` write per-session JSON that the
  * API polls (`api/main.py:220-233`) to answer "what is session X doing?".
  * In the Spark re-expression that state lives in the checkpoint's state
  * store, and this utility is the equivalent read path — query the durable
  * state of any graft streaming operator as a DataFrame, without touching
  * the running query.
  *
  * Scale posture: the state source reads the store's delta/snapshot files
  * directly — one task per store partition, no replay of the stream and no
  * interaction with the live query's executors. At a million live keys this
  * is a parallel scan of exactly the state bytes, which is the only
  * possible lower bound; `batchId` time-travels to any retained snapshot
  * for post-incident forensics.
  */
object StateInspect {

  /** The stateful operators recorded in a checkpoint: operator id/name,
    * partition count, and the min/max batch ids still readable — the
    * discovery step before [[stateRows]]. */
  def operators(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("state-metadata").load(checkpointDir)

  /** Raw state rows (`key` struct, `value` struct, `partition_id`) for one
    * operator's store at the latest — or a specific — committed batch. */
  def stateRows(
      spark: SparkSession,
      checkpointDir: String,
      operatorId: Int = 0,
      storeName: String = "default",
      batchId: Option[Long] = None): DataFrame = {
    var reader = spark.read.format("statestore")
      .option("operatorId", operatorId.toString)
      .option("storeName", storeName)
    batchId.foreach(b => reader = reader.option("batchId", b.toString))
    reader.load(checkpointDir)
  }

  /** The change feed of a store between two committed batches: one row per
    * state mutation with a `change_type` (`update` / `delete`) and the
    * `batch_id` that made it — state evolution as CDC, for auditing *how*
    * a key reached its current state rather than just *what* it is. Cost
    * scales with the deltas in the range, not with state size. */
  def stateChanges(
      spark: SparkSession,
      checkpointDir: String,
      startBatchId: Long,
      endBatchId: Option[Long] = None,
      operatorId: Int = 0,
      storeName: String = "default"): DataFrame = {
    var reader = spark.read.format("statestore")
      .option("operatorId", operatorId.toString)
      .option("storeName", storeName)
      .option("readChangeFeed", "true")
      .option("changeStartBatchId", startBatchId.toString)
    endBatchId.foreach(b => reader = reader.option("changeEndBatchId", b.toString))
    reader.load(checkpointDir)
  }

  /** Decoded per-key login sessions from an [[OtpCorrelation.correlate]]
    * checkpoint — the Spark analog of listing the reference's status files
    * (`playwright_login_runner.py:44-49`): one row per live key with its
    * machine status, cached OTP, and the processing-time timeout deadline
    * the state store will fire. Handles both flatMapGroupsWithState state
    * formats (v2 nests the user state under `groupState`; v1 stores it
    * inline next to `timeoutTimestamp`). */
  def otpSessions(spark: SparkSession, checkpointDir: String,
      batchId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val raw = stateRows(spark, checkpointDir, batchId = batchId)
    val keyField = raw.schema("key").dataType
      .asInstanceOf[StructType].fieldNames.head
    val valueFields = raw.schema("value").dataType
      .asInstanceOf[StructType].fieldNames
    val stateCols =
      if (valueFields.contains("groupState"))
        Seq(col("value.groupState.*"), col("value.timeoutTimestamp"))
      else Seq(col("value.*"))
    raw.select(
      (col(s"key.$keyField").as("group_key") +: stateCols :+
        col("partition_id")): _*)
  }

  /** Only the sessions still awaiting an OTP — the reference's "subprocess
    * up, promise unresolved" population, i.e. the keys that will produce a
    * timeout error if no OTP arrives before their deadline. */
  def pendingOtpSessions(spark: SparkSession, checkpointDir: String): DataFrame =
    otpSessions(spark, checkpointDir)
      .filter(col("status") === SessionStatus.WaitingForOtp)
}
