package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{GraphArtifact, RankArtifact}

/** Streaming maintenance of the RANK artifact — the centrality dual of
  * [[StreamGraph]]: the same (src, dst, op) interaction stream keeps
  * BOTH stores current, so between any two micro-batches a consumer
  * reads always-fresh PageRank without ever paying a full recompute.
  *
  * Per micro-batch: one exactly-once edge append
  * ([[StreamGraph.maintainBatch]] — the tag ledger), then one exact
  * incremental rank refresh ([[RankArtifact.refreshRanks]] — the
  * `_covered` ledger). The composite is exactly-once under ANY tear
  * point because both halves are idempotent on their own ledgers:
  *
  *  - crash BEFORE the append publishes → replay appends + refreshes;
  *  - crash BETWEEN append and refresh → replay skips the append
  *    (tag committed) but the refresh still sees the uncovered tags
  *    and brings the ranks up — convergence, not duplication;
  *  - crash AFTER the refresh → replay skips the append AND the
  *    refresh no-ops (coverage already recorded).
  *
  * Refresh cost per batch is O(dirty ball), with the
  * [[RankArtifact.MaxDeltaBallNodes]] recompute fallback for batches
  * whose blast radius approaches the graph. Bootstrap: the first batch of fresh dirs creates the empty
  * edge generation, then a full (tiny) rank compute pinned to it.
  * An edge-artifact REBUILD mid-stream (the only legal compaction,
  * per StreamGraph) is absorbed automatically: the next refresh sees
  * the generation change and recomputes ("rebuild").
  *
  * AUTO-compaction: BOTH chains (edge appends, rank overlays) grow one
  * layer per micro-batch forever without it — read amplification linear
  * in stream age. The maintainer owns a JOINT policy rather than
  * delegating to StreamGraph's, because an edge compaction kills the
  * tag lineage the rank store's exactness bookkeeping hangs off — done
  * naively, every edge compaction would force a full rank recompute.
  * Instead, when the edge chain reaches `compactEvery` — and the rank
  * store provably covers every committed tag, which it always does
  * right after this batch's refresh — the edge artifact is compacted
  * ([[GraphArtifact.compactEdges]]: resolved edges, same edge set) and
  * the rank chain is FOLDED with its lineage restamped to the fresh
  * edge generation ([[RankArtifact.compactRanks]]: pure resolution,
  * zero rank computation — exact because the new generation resolves to
  * the edge set the ranks already describe). When only the rank chain
  * reaches the bound (refreshes outpacing edge appends is impossible
  * here, but recompute/rebuild statuses reset nothing), it folds alone,
  * lineage unchanged.
  *
  * Crash windows of the joint step: mid-compaction, the torn generation
  * is unreferenced and the replay retries; AFTER edge compaction but
  * before the rank restamp, the next refresh sees the generation change
  * and pays one full recompute ("rebuild") — exact, just not delta-
  * priced, the documented cost of that (rare) tear; AFTER both but
  * before the stream checkpoint, the replay re-appends into the fresh
  * generation (idempotent on resolved content, per StreamGraph) and its
  * refresh sees exactly that one new tag — "delta", exact.
  */
object StreamRanks {

  /** One micro-batch of edge + rank maintenance; idempotent per
    * (dirs, batchId). Returns the refresh status ("bootstrap" when the
    * rank artifact was first built; else [[RankArtifact.refreshRanks]]'s
    * noop | delta | recompute | rebuild). `compactEvery` bounds both
    * overlay chains (0 disables — the caller owns compaction windows). */
  def maintainBatch(batch: DataFrame, batchId: Long, edgesDir: String,
      rankDir: String, iters: Int = 5, nBuckets: Int = 64,
      compactEvery: Int = 8): String = {
    val s = batch.sparkSession
    // compactEvery = 0: the joint policy below owns compaction — an
    // edge-only compaction here would orphan the rank store's lineage
    // and turn the next refresh into a full recompute
    StreamGraph.maintainBatch(batch, batchId, edgesDir, nBuckets,
      compactEvery = 0)
    val hfs = new org.apache.hadoop.fs.Path(rankDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val status =
      if (!hfs.exists(new org.apache.hadoop.fs.Path(rankDir, "CURRENT"))) {
        RankArtifact.writeRanks(s, edgesDir, rankDir, iters,
          nBuckets = nBuckets)
        "bootstrap"
      } else RankArtifact.refreshRanks(s, edgesDir, rankDir)
    // a batch whose refresh just PAID a full writeRanks (recompute /
    // rebuild / bootstrap) defers compaction one batch: the rank base
    // is freshly written with a zero-length chain, and a joint
    // compaction now would fold-copy that identical base a second time
    // purely to restamp lineage — the next batch's delta refresh
    // triggers it at fold-of-one-overlay cost instead
    if (compactEvery > 0 && status != "recompute" && status != "rebuild"
        && status != "bootstrap") {
      val (edgeGen, edgeTags) = GraphArtifact.coverage(s, edgesDir)
      val (covGen, covTags) = RankArtifact.coverage(s, rankDir)
      if (edgeTags.length >= compactEvery) {
        // joint compaction — legal only when rank coverage is complete
        // for the CURRENT edge generation (always true post-refresh;
        // checked anyway so an unforeseen tear skips and retries next
        // batch instead of restamping a stale fold)
        if (covGen == edgeGen && edgeTags.toSet == covTags.toSet) {
          GraphArtifact.compactEdges(s, edgesDir)
          RankArtifact.compactRanks(s, rankDir,
            Some(GraphArtifact.coverage(s, edgesDir)))
        }
      } else if (RankArtifact.chainLength(s, rankDir) >= compactEvery)
        RankArtifact.compactRanks(s, rankDir)
    }
    status
  }

  /** Wire a stream of (src, dst, op ∈ add|del) rows into maintained
    * edge + rank artifacts. `iters`/`nBuckets` only matter when the
    * first batch bootstraps fresh dirs — after that both travel with
    * the artifacts' metadata. */
  def maintain(edgeOps: DataFrame, edgesDir: String, rankDir: String,
      checkpoint: String, iters: Int = 5, nBuckets: Int = 64,
      compactEvery: Int = 8): StreamingQuery =
    edgeOps.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        maintainBatch(batch.toDF(), batchId, edgesDir, rankDir, iters,
          nBuckets, compactEvery)
        ()
      }
      .start()
}
