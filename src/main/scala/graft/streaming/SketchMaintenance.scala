package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Ledger

/** Streaming distinct-count maintenance — the streaming dual of
  * q61_hll_distinct, built on the same two ideas as [[ViewMaintenance]]:
  * per-batch PARTIAL state merged into a stored view, published under
  * batchId versions for exactly-once replay.
  *
  * The partial here is a mergeable HLL sketch (`hll_sketch_agg`, the
  * Apache DataSketches HLL that also backs q61): each micro-batch reduces
  * its rows to one ~KB sketch per group, and the stored view is
  * `hll_union`-merged — so a key seen in many batches is counted ONCE,
  * which a sum-of-counts view (q97's algebra) cannot do. This is the
  * standard shape for streaming cardinality dashboards: raw keys never
  * accumulate anywhere; state is O(groups × sketch size) forever.
  *
  * Exactly-once: identical to [[ViewMaintenance]] — batch N unions the
  * newest snapshot with version < N, publishes `v=N` by rename (HDFS
  * atomicity assumption documented there), GCs old versions. A replay of
  * batch N re-merges the same base: HLL union is idempotent ONLY across
  * replays of the same batch against the same base (which the versioning
  * guarantees); it never double-counts distinct keys by construction.
  */
object SketchMaintenance {

  private def versions(spark: SparkSession, viewDir: String): Seq[Long] = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
  }

  /** Newest published (group, sketch) snapshot with its estimate. */
  def currentCounts(spark: SparkSession, viewDir: String): Option[DataFrame] = {
    val vs = versions(spark, viewDir)
    if (vs.isEmpty) None
    else Some(spark.read.parquet(s"$viewDir/v=${vs.max}")
      .select(col("grp"), hll_sketch_estimate(col("sk")).as("n_est")))
  }

  /** Merge one micro-batch of (grp, key) rows, idempotently for batchId. */
  def mergeBatch(batch: DataFrame, batchId: Long, viewDir: String,
                 lgConfigK: Int = 12, retainVersions: Int = 3): Unit = {
    val spark = batch.sparkSession
    val delta = batch.groupBy(col("grp"))
      .agg(hll_sketch_agg(col("key"), lit(lgConfigK)).as("sk"))
    val base = versions(spark, viewDir).filter(_ < batchId) match {
      case Nil => delta.limit(0)
      case vs => spark.read.parquet(s"$viewDir/v=${vs.max}")
    }
    val merged = base.unionByName(delta)
      .groupBy(col("grp"))
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk")) // same lgK always
    val destPath = new Path(s"$viewDir/v=$batchId")
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PUBLISH-ONCE (see ViewMaintenance): a replay is equivalent (HLL
    // register merge is order-independent) — skip the merge job
    if (!Ledger.publishOnce(fs, destPath)(tmp => merged.write.parquet(tmp.toString)))
      return
    val keep = math.max(2, retainVersions)
    versions(spark, viewDir).sorted.dropRight(keep)
      .foreach(v => fs.delete(new Path(s"$viewDir/v=$v"), true))
  }

  /** Wire a stream of (grp, key) rows into the maintained sketch view. */
  def maintain(rows: DataFrame, viewDir: String,
               checkpoint: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, viewDir)
      }
      .start()
}
