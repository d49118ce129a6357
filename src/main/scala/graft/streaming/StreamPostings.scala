package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Retrieval

/** Streaming maintenance of the positional posting-table artifact
  * (operators/Retrieval): the streaming dual of q123's build-then-probe —
  * an always-fresh phrase-search index over a document stream.
  *
  * Each micro-batch UPSERTS its docs into the artifact
  * ([[Retrieval.upsertPostings]]): new docs append their postings,
  * re-posted docs tombstone their earlier rows, so a probe between any
  * two batches serves exactly the latest version of every doc ever seen.
  *
  * Exactly-once comes from the append ledger, keyed by the ZERO-PADDED
  * batch id: the tag dir's existence is the committed marker, so a
  * replayed batch (kill-restart anywhere — staged-but-unpublished tmp
  * debris is cleared, published-but-uncheckpointed batches skip) neither
  * doubles rows nor re-tombstones; and because the artifact's tombstone
  * LAYER order is tag sort order, zero-padding makes layer order ≡ batch
  * order — the exact contract [[Retrieval.appendPostings]] documents,
  * closed under streaming use by construction here. A batch that skips
  * still processes its partitions (the HttpSignalSink state-commit
  * lesson: Spark validates per-batch state-store commits when a stateful
  * operator feeds the sink, and a skipped batch must not leave them
  * uncommitted).
  *
  * Bootstrap: the first batch of a fresh `dir` creates the artifact
  * (empty generation-0 base, meta = `nBuckets`) and then upserts into
  * it; a crash between the two leaves either no pointer (recreated on
  * replay — unreferenced partials are GC'd by the next publish) or an
  * empty published artifact whose batch tag is absent (upsert replays).
  * Rebuild-as-compaction applies unchanged: a maintenance window can
  * `writePostings` the full corpus at any time — concurrent probes keep
  * the superseded generation for the grace cycle — after which
  * maintenance continues; earlier batch tags are gone with the old
  * generation, so ONLY a full rebuild (never a partial one) is legal
  * mid-stream.
  *
  * AUTO-compaction (`compactEvery`):
  * without it the chain grows one append per micro-batch forever and
  * every probe scans base + all of them — read amplification linear in
  * stream age. When the committed-tag count reaches `compactEvery`, the
  * batch that crossed the threshold folds the resolved live rows into a
  * fresh generation ([[Retrieval.compactPostings]] — no re-tokenization,
  * one resolve scan) before returning. The check runs on replayed
  * batches too (crash mid-fold retries; the torn attempt is an
  * unreferenced partial generation), and a crash AFTER the fold but
  * before the stream checkpoint makes the replay re-upsert into the
  * fresh generation — exact on content, because the upsert's tombstones
  * shadow the folded copies of exactly the rows it re-appends.
  */
object StreamPostings {

  /** One micro-batch of maintenance; idempotent per (dir, batchId).
    * Returns false iff this batch id was already committed (replay).
    *
    * Within-batch at-least-once redeliveries (the same row twice in one
    * batch) are absorbed by an exact-row distinct — duplicated posting
    * rows would otherwise break the anchor law (`count(*) = k` sees 2k
    * slots) and a present phrase silently stops matching. The SAME id
    * with DIFFERENT text inside one batch has no deterministic winner
    * (no arrival order within a batch) and fails loudly BEFORE any
    * publish. Both
    * checks are batch-sized (deltas), never corpus-sized. */
  def maintainBatch(batch: DataFrame, batchId: Long, dir: String,
      nBuckets: Int = 64, compactEvery: Int = 8): Boolean = {
    val s = batch.sparkSession
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!hfs.exists(new org.apache.hadoop.fs.Path(dir, "CURRENT")))
      Retrieval.writePostings(batch.limit(0), dir, nBuckets)
    val slim = batch.select(batch("doc_id"), batch("text")).distinct()
    val conflicted = slim.groupBy(slim("doc_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(org.apache.spark.sql.functions.col("n") > 1)
      .limit(1).collect()
    if (conflicted.nonEmpty)
      throw new IllegalStateException(
        s"StreamPostings: batch $batchId re-posts doc_id " +
          s"${conflicted.head.get(0)} with conflicting texts — no " +
          "deterministic winner exists within one batch; refusing " +
          "before publish")
    val published =
      Retrieval.upsertPostings(slim, dir, f"b$batchId%012d")
    if (!published) batch.foreachPartition((_: Iterator[Row]) => ())
    // auto-compaction: checked on replays too, so a crash mid-fold
    // retries (the torn attempt is an unreferenced partial generation)
    if (compactEvery > 0 &&
        Retrieval.chainLength(s, dir) >= compactEvery)
      Retrieval.compactPostings(s, dir)
    published
  }

  /** Wire a stream of (doc_id, text) rows into a maintained artifact.
    * `nBuckets` only matters when the first batch creates a fresh dir —
    * after that the bucket count travels with the generation. */
  def maintain(docs: DataFrame, dir: String, checkpoint: String,
      nBuckets: Int = 64, compactEvery: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainBatch(batch.toDF(), batchId, dir, nBuckets, compactEvery)
        ()
      }
      .start()
}
