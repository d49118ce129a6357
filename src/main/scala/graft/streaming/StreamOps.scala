package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Ledger

/** Structured Streaming forms of the reference's dataflow semantics
  * (SURVEY.md §2.9): the per-mailbox monotone watermark guard (F2/A1) as
  * an exact stateful operator, and the idempotent batch sink (ST4).
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

  /** A (mailboxId, historyId) pair for the watermark guard. */
  final case class HistoryEvent(mailbox: String, historyId: Long)
  final case class MailboxWatermark(mailbox: String, historyId: Long)
  /** A [[HistoryEvent]] with the file it was read from ("" for a source
    * without files). */
  final case class ArrivedEvent(mailbox: String, historyId: Long, arrival: String)

  /** F2/A1 exact semantics — per-mailbox monotone watermark: emit only
    * events that *advance* the per-key running max, exactly the reference's
    * stale-historyId guard (`int(history_id) <= int(last)` → drop,
    * main.py:269-273) with the watermark persisted in the state store
    * instead of `last_history_id.txt` (main.py:257-290).
    *
    * Unlike `dropDuplicates` this also drops *reordered* (smaller) ids, and
    * its state is O(1) per mailbox forever — it never needs watermark GC.
    *
    * Within a micro-batch the ids are checked in arrival order, as the
    * reference checks each push: a stale id that shares a batch with the
    * larger id before it is dropped. Arrival is the source file's name
    * (`input_file_name`, read in the scan stage before the shuffle), which
    * for [[HttpPushReceiver]]'s zero-padded `msg_<seq>.json` spool sorts
    * in arrival order. A source without files gives "" for every row, so
    * its ids are checked in ascending order. */
  def monotoneWatermarkGuard(events: Dataset[HistoryEvent])
                            (implicit spark: SparkSession): Dataset[MailboxWatermark] = {
    import spark.implicits._
    events.withColumn("arrival", input_file_name()).as[ArrivedEvent]
      .groupByKey(_.mailbox)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (mailbox: String, evs: Iterator[ArrivedEvent],
         state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[MailboxWatermark]
          evs.toSeq.sortBy(e => (e.arrival, e.historyId)).foreach { e =>
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
