package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Ledger

/** Structured Streaming forms of the reference's dataflow semantics
  * (SURVEY.md §2.9): watermark-gated dedup (ST1), late-data drop (ST2),
  * tumbling/sliding/session windows (ST5), and the per-mailbox monotone
  * watermark guard (F2/A1) as an exact stateful operator.
  *
  * All operators take and return unbounded DataFrames/Datasets — they run
  * identically over `MemoryStream` (tests), file streams (this repo's
  * `events` table), or Kafka (production analog of Pub/Sub).
  */
object StreamOps {

  /** Semantic quirk preserved from the reference, not "fixed" (SURVEY.md
    * §7.5): the watermark always advances after a successful fetch even if
    * parsing fails or messages are skipped (`api/main.py:289-290` — the
    * "Always update history" comment), so notifications can be permanently
    * skipped; and N new messages still yield ONE parse (only the latest is
    * fetched, `api/main.py:301`). In the Spark re-expression these
    * correspond to: source offsets commit per micro-batch regardless of
    * row-level outcomes, and the latest-per-key top-1 (q24/T1) collapsing
    * a burst to its newest element. */

  /** ST1/F2 — drop duplicate notifications within the watermark window,
    * keyed on the id columns ONLY: a Pub/Sub redelivery carries the same
    * historyId but a fresh delivery timestamp, so the event-time column
    * must not be part of the dedup key. `dropDuplicatesWithinWatermark`
    * keeps per-key state garbage-collected by the watermark — bounded
    * state at any scale. */
  def dedupNotifications(
      df: DataFrame,
      eventTimeCol: String = "ts",
      idCols: Seq[String] = Seq("historyId"),
      lateness: String = "2 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** ST2 — event-time freshness: rows older than the watermark are dropped
    * by any downstream stateful op; this is the streaming form of the
    * reference's 2-minute cutoff (main.py:94-97). */
  def withFreshness(df: DataFrame, eventTimeCol: String = "ts",
                    window: String = "2 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, window)

  /** ST5 — tumbling-window counts/sums over the event stream. */
  def tumblingCounts(df: DataFrame, eventTimeCol: String = "ts",
                     width: String = "10 minutes",
                     lateness: String = "2 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, lateness)
      .groupBy(window(col(eventTimeCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** ST5 — sliding-window variant. */
  def slidingCounts(df: DataFrame, eventTimeCol: String = "ts",
                    width: String = "10 minutes", slide: String = "5 minutes",
                    lateness: String = "2 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, lateness)
      .groupBy(window(col(eventTimeCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** ST3 — session windows (gap-based), the built-in analog of the
    * reference's per-key session lifecycle. */
  def sessionCounts(df: DataFrame, eventTimeCol: String = "ts",
                    gap: String = "30 minutes",
                    lateness: String = "2 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, lateness)
      .groupBy(session_window(col(eventTimeCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** A (mailboxId, historyId) pair for the watermark guard. */
  final case class HistoryEvent(mailbox: String, historyId: Long)
  final case class MailboxWatermark(mailbox: String, historyId: Long)

  /** F2/A1 exact semantics — per-mailbox monotone watermark: emit only
    * events that *advance* the per-key running max, exactly the reference's
    * stale-historyId guard (`int(history_id) <= int(last)` → drop,
    * main.py:269-273) with the watermark persisted in the state store
    * instead of `last_history_id.txt` (main.py:257-290).
    *
    * Unlike `dropDuplicates` this also drops *reordered* (smaller) ids, and
    * its state is O(1) per mailbox forever — it never needs watermark GC. */
  def monotoneWatermarkGuard(events: Dataset[HistoryEvent])
                            (implicit spark: SparkSession): Dataset[MailboxWatermark] = {
    import spark.implicits._
    events.groupByKey(_.mailbox)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (mailbox: String, evs: Iterator[HistoryEvent],
         state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[MailboxWatermark]
          evs.toSeq.sortBy(_.historyId).foreach { e =>
            if (e.historyId > last) {
              last = e.historyId
              out += MailboxWatermark(mailbox, e.historyId)
            }
          }
          if (last != Long.MinValue) state.update(last)
          out.iterator
        })
  }

  /** ST4/S8 — idempotent `foreachBatch` sink: each batch's parquet is
    * published once to `batch_<batchId>` by [[graft.sources.Ledger]] —
    * the batch-id journal pattern (Restate's `ctx.run` journaling analog,
    * login_workflow.py:110,164). A replay SKIPS instead of rewriting:
    * rewriting would mint new part-file names for the same rows, and a
    * DOWNSTREAM file-stream source chained on this directory (the §3.1
    * handoff) dedups by file name, so it would read the batch twice. */
  def idempotentParquetSink(df: DataFrame, outDir: String,
                            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val dest = new org.apache.hadoop.fs.Path(s"$outDir/batch_$batchId")
        val fs = dest.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!Ledger.publishOnce(fs, dest)(tmp => batch.write.parquet(tmp.toString))) {
          // Publish is skipped, but the batch must still be PROCESSED:
          // when a stateful operator (e.g. the monotone guard's fMGWS)
          // feeds this sink, its per-partition state commits happen as a
          // side effect of running the partitions, and Spark validates
          // after every micro-batch that each state partition committed
          // (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise — the replay
          // of a torn renamed-but-uncommitted batch died exactly there).
          // foreach(noop) runs every partition without writing a byte;
          // replaying the stateful lineage is idempotent because the
          // replay starts from the same checkpointed state version the
          // original attempt did.
          batch.foreach(_ => ())
        }
        ()
      }
      .start()
}
