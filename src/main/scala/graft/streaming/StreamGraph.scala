package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GraphArtifact

/** Streaming maintenance of the adjacency artifact
  * (operators/GraphArtifact): the graph-leg dual of StreamPostings —
  * an interaction stream (follows/unfollows, link creations/removals)
  * keeps an always-current edge store that the batch centrality /
  * cohesion operators read between any two batches.
  *
  * Stream rows are (src, dst, op) with op ∈ {add, del}. Each
  * micro-batch publishes ONE exactly-once append (LSM: O(batch) work,
  * never a corpus scan — the property that keeps a 100 TB interaction
  * stream maintainable); replays skip via the tag ledger but still
  * process their partitions (the HttpSignalSink state-commit lesson).
  * Within-batch semantics: exact duplicate ops collapse; the same edge
  * added AND deleted in one batch has no deterministic winner and
  * fails loudly before publish (GraphArtifact enforces it; the
  * StreamPostings conflict convention).
  *
  * Bootstrap: the first batch of a fresh `dir` creates an empty
  * generation-0 base, then appends into it. Compaction = a full
  * [[GraphArtifact.writeEdges]] rebuild from [[GraphArtifact.readEdges]]
  * during a maintenance window (concurrent readers survive on the
  * superseded generation's grace cycle); only a FULL rebuild is legal
  * mid-stream — batch tags die with the old generation.
  *
  * AUTO-compaction (`compactEvery`):
  * without it the chain grows one append per micro-batch FOREVER, and
  * every resolve unions base + all of them — read amplification linear
  * in stream age, the one scale liability of a long-maintained store.
  * When the committed-tag count reaches `compactEvery`, the batch that
  * crossed the threshold triggers [[GraphArtifact.compactEdges]] before
  * returning. The knob is the write-vs-read amplification trade: a
  * compaction rewrites the RESOLVED store (O(artifact)), so per batch
  * it amortizes to O(artifact / compactEvery) of write work, against a
  * read chain bounded at `compactEvery` layers instead of growing with
  * stream age. Size it to the store's read/write ratio — a hot serving
  * store wants it small, an archive-and-rarely-read store large. Crash-safety across the boundary: the check runs on
  * REPLAYED batches too (a crash mid-compaction retries — the partial
  * generation is unreferenced and GC'd), and a crash AFTER compaction
  * but before the stream checkpoint makes the replay re-append into the
  * fresh generation — exact on content because edge ops are idempotent
  * on the resolved state (see [[GraphArtifact.compactEdges]]).
  */
object StreamGraph {

  /** One micro-batch of maintenance; idempotent per (dir, batchId).
    * Returns false iff this batch id was already committed (replay).
    * `compactEvery` bounds the append-chain length (0 disables — the
    * caller owns compaction windows). */
  def maintainBatch(batch: DataFrame, batchId: Long, dir: String,
      nBuckets: Int = 64, compactEvery: Int = 8): Boolean = {
    val s = batch.sparkSession
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!hfs.exists(new org.apache.hadoop.fs.Path(dir, "CURRENT")))
      GraphArtifact.writeEdges(
        batch.select(col("src"), col("dst")).limit(0), dir, nBuckets)
    // ONE materialization of the batch: everything below (validation
    // collect, conflict-check join, emptiness probe, two bucketed
    // writes) re-reads this checkpoint instead of re-deriving the
    // upstream batch plan per consumer (~6 recomputes otherwise)
    val ops = batch.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"),
      col("op").cast("string").as("op")).distinct().localCheckpoint(true)
    // isin() alone would let a NULL op slip through as neither-add-nor-
    // del (three-valued logic filters it out silently) — refuse those too
    val badOp = ops
      .filter(col("op").isNull || !col("op").isin("add", "del"))
      .limit(1).collect()
    if (badOp.nonEmpty)
      throw new IllegalStateException(
        s"StreamGraph: batch $batchId carries op " +
          s"`${badOp.head.getString(2)}` — only add/del are defined")
    val adds = ops.filter(col("op") === "add").select(col("src"), col("dst"))
    val dels = ops.filter(col("op") === "del").select(col("src"), col("dst"))
    val published = GraphArtifact.appendEdges(
      adds, dir, f"b$batchId%012d", deletes = Some(dels))
    if (!published) batch.foreachPartition((_: Iterator[Row]) => ())
    // auto-compaction: checked on replays too, so a crash mid-compaction
    // retries (the torn attempt is an unreferenced partial generation)
    if (compactEvery > 0 &&
        GraphArtifact.chainLength(s, dir) >= compactEvery)
      GraphArtifact.compactEdges(s, dir)
    published
  }

  /** Wire a stream of (src, dst, op) rows into a maintained artifact.
    * `nBuckets` only matters when the first batch creates a fresh dir —
    * after that the bucket count travels with the generation. */
  def maintain(edgeOps: DataFrame, dir: String, checkpoint: String,
      nBuckets: Int = 64, compactEvery: Int = 8): StreamingQuery =
    edgeOps.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainBatch(batch.toDF(), batchId, dir, nBuckets, compactEvery)
        ()
      }
      .start()
}
