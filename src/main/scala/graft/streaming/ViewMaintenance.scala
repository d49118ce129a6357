package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Exact.dec
import graft.sources.Ledger

/** Streaming materialized-view maintenance — the streaming dual of
  * q97_incremental_agg: a per-(status, year) revenue aggregate kept
  * current by merging each micro-batch's PARTIAL aggregate into the
  * stored view (sum of sums, sum of counts), never rescanning history.
  *
  * Exactly-once across batch replays comes from batchId-versioned view
  * snapshots (the same journal pattern as
  * [[StreamOps.idempotentParquetSink]], cf. the reference's Restate
  * `ctx.run` journaling, login_workflow.py:110): batch N merges the
  * newest snapshot with version < N and publishes `v=N` once
  * ([[graft.sources.Ledger.publishOnce]]). A crash-and-replay of batch N
  * finds `v=N` published and skips — the view never double-counts.
  *
  * Storage stays bounded: after each successful publish, snapshots older
  * than the newest `retainVersions` are garbage-collected. The retained
  * window must include the newest snapshot's predecessor (a crash between
  * publish and checkpoint-commit replays the LATEST batch, which re-reads
  * the newest version strictly below it), so `retainVersions` ≥ 2 is
  * enforced. Atomicity caveat: the publish rename is atomic on HDFS-like
  * filesystems but NOT on object stores (S3 renames are copy+delete);
  * object-store deployments should publish through a manifest/commit-file
  * protocol (write data, then atomically PUT a small manifest naming the
  * live version) — the version-numbering scheme here carries over
  * unchanged.
  *
  * Scale posture: the delta aggregates map-side to group cardinality
  * before the merge, and the merge joins two group-cardinality tables —
  * the stream's raw volume never touches the stored view. Exact DECIMAL
  * partials make merge(partials) bit-equal to a full recompute (the q97
  * algebra), so the view is reproducible under any batch boundaries.
  */
object ViewMaintenance {

  private def versions(spark: SparkSession, viewDir: String): Seq[Long] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
  }

  /** Newest published snapshot, or None before the first batch. */
  def currentView(spark: SparkSession, viewDir: String): Option[DataFrame] = {
    val vs = versions(spark, viewDir)
    if (vs.isEmpty) None
    else Some(spark.read.parquet(s"$viewDir/v=${vs.max}"))
  }

  /** Merge one micro-batch into the view, idempotently for `batchId`. */
  def mergeBatch(batch: DataFrame, batchId: Long, viewDir: String,
                 retainVersions: Int = 3): Unit = {
    val spark = batch.sparkSession
    val delta = batch
      .groupBy(col("o_orderstatus"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"),
        count(lit(1)).as("n"))
    // base = newest snapshot STRICTLY below this batch: a replay of
    // batchId sees the same base it saw the first time
    val base = versions(spark, viewDir).filter(_ < batchId) match {
      case Nil => delta.limit(0)
      // decimal widths: delta rev is DECIMAL(28,4); union coercion and
      // the re-sum widen toward DECIMAL(38,4) and stay there — no
      // narrowing cast that could overflow at scale
      case vs => spark.read.parquet(s"$viewDir/v=${vs.max}")
    }
    val merged = base.unionByName(delta)
      .groupBy(col("o_orderstatus"), col("yr"))
      .agg(sum(col("rev")).as("rev"), sum(col("n")).cast("long").as("n"))
    val destPath = new Path(s"$viewDir/v=$batchId")
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PUBLISH-ONCE: a replay re-derives the same relation — skip instead
    // of rewriting, which would mint new part-file names for identical
    // content, invalidate any reader's cached listing and waste the
    // whole merge job.
    if (!Ledger.publishOnce(fs, destPath)(tmp => merged.write.parquet(tmp.toString)))
      return
    // GC: the view would otherwise grow one full snapshot per batch.
    // Keep the newest `retainVersions` (min 2 — the newest's predecessor
    // must survive for a latest-batch replay to find its base).
    val keep = math.max(2, retainVersions)
    versions(spark, viewDir).sorted.dropRight(keep)
      .foreach(v => fs.delete(new Path(s"$viewDir/v=$v"), true))
  }

  /** Wire a stream of order rows into the maintained view. */
  def maintain(orders: DataFrame, viewDir: String,
               checkpoint: String): StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, viewDir)
      }
      .start()
}
