package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Hnsw
import graft.sources.Ledger

/** Streaming maintenance of the sharded HNSW graph index
  * (operators/Hnsw): a fresh-vector stream keeps the graph artifact
  * current the way StreamRanks/StreamGraph/StreamPostings keep theirs
  * — the round-15 verdict's task #6, unblocked by #2 (hard-linked
  * carry-forward: a per-batch O(index bytes) copy would have made
  * streaming appends unaffordable; now a batch pays only for the
  * shards it touches plus link metadata).
  *
  * Stream rows are (vec_id, embedding) APPENDS — ascending fresh ids,
  * the [[Hnsw.appendToHnswIndex]] ID CONTRACT (deletes are
  * maintenance-window operations via [[Hnsw.deleteFromHnswIndex]];
  * a streamed delete would race the beam-width bookkeeping for no
  * freshness win — tombstones don't need to be real-time the way new
  * corpus vectors do).
  *
  * EXACTLY-ONCE: one writer per index dir (the FileBus single-writer
  * convention). Idempotency rides a batchId LEDGER (`_hnsw_applied`, a
  * one-line max-applied-batchId file flipped by [[Ledger.replaceSmall]]
  * — the GenStore pointer discipline; batchIds are monotone within a
  * checkpoint, so one line subsumes the per-tag marker files the LSM
  * maintainers use and never accumulates):
  *
  *   - batchId ≤ ledger → replay of an applied batch → skip (the
  *     batch's partitions still drain — the HttpSignalSink
  *     state-commit lesson);
  *   - ledger stale but the batch's rows ALREADY in the index (crash
  *     landed between the append's atomic publish and the ledger
  *     flip — tear point 1): detected by probing ONE batch id against
  *     the served generation (the publish is one atomic pointer flip,
  *     so a batch is all-in or all-out; a single-writer index makes
  *     one probe sufficient) — repair = re-flip the ledger, skip the
  *     append;
  *   - crash MID-append, before the publish (tear point 2): the torn
  *     generation is unreferenced (GenStore names are never reused)
  *     and GC'd by the replay's own publish; the replay re-appends
  *     into a fresh generation and lands bit-identically (append ≡
  *     rebuild, spec-pinned in HnswSpec).
  *
  * Within-batch semantics: exact duplicate (vec_id, embedding) rows
  * collapse; the same vec_id with DIFFERENT vectors has no
  * deterministic winner and fails loudly before any write (the
  * StreamPostings conflict convention).
  *
  * Bootstrap: the first batch of a fresh `dir` runs
  * [[Hnsw.writeIndex]] with the given (nShards, m, efConstruction);
  * after that the parameters travel with the generation's meta sidecar
  * and the arguments are ignored (the StreamGraph nBuckets
  * convention).
  *
  * One checkpoint per maintained dir: re-basing a NEW stream (fresh
  * checkpoint, batchIds restarting at 0) onto an existing index
  * requires deleting `_hnsw_applied` first — otherwise the restarted
  * ids read as replays. The guard exists because silently re-appending
  * under a reused batchId is the corruption; refusing is the contract.
  */
object StreamHnsw {
  private val LedgerName = "_hnsw_applied"

  private def hfsOf(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def readApplied(s: SparkSession, dir: String): Long = {
    val p = new Path(dir, LedgerName)
    Ledger.readSmall(hfsOf(s, dir), p).fold(-1L) { raw =>
      // a hand-touched/zero-byte ledger must fail with the repair by
      // name, not a bare NumberFormatException (the GenStore torn-
      // artifact message convention)
      raw.toLongOption.getOrElse(throw new IllegalStateException(
        s"StreamHnsw: ledger $p is corrupt ('$raw' is not a batch " +
          "id) — delete the file to re-base the stream (replays " +
          "repair via the applied-batch probe) or restore it from " +
          "a backup"))
    }
  }

  private def writeApplied(s: SparkSession, dir: String,
      batchId: Long): Unit =
    Ledger.replaceSmall(hfsOf(s, dir), new Path(dir, LedgerName),
      batchId.toString)

  /** One micro-batch of maintenance; idempotent per (dir, batchId).
    * Returns false iff the batch was a replay (ledger or tear-point-1
    * repair). `nShards`/`m`/`efConstruction` only matter when the
    * first batch bootstraps a fresh dir. */
  def maintainBatch(batch: DataFrame, batchId: Long, dir: String,
      nShards: Int = 8, m: Int = 8, efConstruction: Int = 32): Boolean = {
    val s = batch.sparkSession
    def drain(): Unit = batch.foreachPartition((_: Iterator[Row]) => ())
    if (batchId <= readApplied(s, dir)) { drain(); return false }
    // ONE materialization: validation, the repair probe, and the
    // append all re-read this checkpoint instead of re-deriving the
    // upstream plan per consumer
    val vecs = batch
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .distinct().localCheckpoint(true)
    val conflicted = vecs.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .limit(1).collect()
    if (conflicted.nonEmpty) throw new IllegalStateException(
      s"StreamHnsw: batch $batchId carries vec_id " +
        s"${conflicted.head.getLong(0)} with more than one distinct " +
        "vector — no deterministic winner; fix the producer")
    val hfs = hfsOf(s, dir)
    val fresh = !hfs.exists(new Path(dir, "CURRENT"))
    val anyRow = vecs.limit(1).collect()
    if (anyRow.isEmpty) {
      // nothing to index; a fresh dir stays unbootstrapped (an empty
      // writeIndex would publish a store no reader could open)
      if (!fresh) writeApplied(s, dir, batchId)
      return true
    }
    if (fresh) {
      Hnsw.writeIndex(vecs, dir, nShards, m, efConstruction)
    } else {
      // tear point 1 (crash between the append's publish and the
      // ledger flip): the served generation already holds the batch —
      // all-or-nothing because the publish is one atomic pointer flip
      // and this maintainer is the dir's only writer, so probing ONE
      // id decides for the whole batch (predicate-pushed point read)
      val probeId = anyRow.head.getLong(0)
      val genDir = Hnsw.indexGenDir(s, dir)
      val nodesDir = s"$genDir/nodes"
      // prune the point probe to the id's hash shard (partition
      // filter): an unpruned equality read touches every shard's
      // footers/row-group stats per micro-batch — the O(store) term
      // the O(affected-shards) streaming-append posture forbids
      // (round-16 ADVICE #1)
      val nSh = Hnsw.nShardsOf(s, genDir).toLong
      val applied = s.read.parquet(nodesDir)
        .filter(col("shard") === pmod(xxhash64(lit(probeId)), lit(nSh)) &&
          col("node") === lit(probeId))
        .limit(1).count() > 0
      if (applied) {
        // the skip is only sound if the WHOLE batch is present — a
        // MIXED batch (some ids already physical, some fresh: a
        // re-based stream whose batch boundaries shifted, or a second
        // writer) violates the single-writer contract and must fail
        // LOUDLY, never silently drop the fresh ids. Delta-sized
        // anti-join, paid only on the rare repair path.
        // same pruning for the repair path's whole-batch presence
        // check: the batch's ids hash into a bounded shard set, so the
        // anti-join's store read carries a partition filter
        val batchShards = vecs
          .select(pmod(xxhash64(col("vec_id")), lit(nSh)).as("shard"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val missing = vecs.select(col("vec_id"))
          .join(s.read.parquet(nodesDir)
              .filter(col("shard").isin(batchShards: _*))
              .select(col("node").as("vec_id")),
            Seq("vec_id"), "left_anti")
          .limit(1).collect()
        if (missing.nonEmpty) throw new IllegalStateException(
          s"StreamHnsw: batch $batchId is PARTIALLY present in the " +
            s"index at $dir (id ${missing.head.get(0)} is new while " +
            "others are already indexed) — a mixed batch means a " +
            "re-based stream with shifted batch boundaries or a " +
            "second writer; rebuild the index (writeIndex) or replay " +
            "from a checkpoint whose batches align")
        writeApplied(s, dir, batchId); return false
      }
      Hnsw.appendToHnswIndex(s, dir, vecs)
    }
    writeApplied(s, dir, batchId)
    true
  }

  /** Wire a stream of (vec_id, embedding) rows into a maintained
    * index. Probes between any two batches see a complete, fresh
    * generation ([[Hnsw.requireFresh]] passes for everything the
    * stream has committed). */
  def maintain(vectors: DataFrame, dir: String, checkpoint: String,
      nShards: Int = 8, m: Int = 8,
      efConstruction: Int = 32): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainBatch(batch.toDF(), batchId, dir, nShards, m,
          efConstruction)
        ()
      }
      .start()
}
