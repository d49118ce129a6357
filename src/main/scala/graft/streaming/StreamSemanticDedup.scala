package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.VectorOps
import graft.sources.Ledger

/** Ingest-time SEMANTIC dedup over a persistent IVF index — the vector
  * analog of [[IncrementalDedup]] (which maintains MinHash/LSH state):
  * each micro-batch of (vec_id, embedding) rows is deduplicated against
  * everything kept so far, and only the survivors grow the index.
  *
  * Policy — arrival-order greedy, the streaming form of
  * [[VectorOps.semanticDedup]]'s keep-first rule:
  *   - a batch row is DROPPED iff a cosine-≥-threshold witness exists
  *     among (a) the STORED index (any earlier-arrived kept row — id
  *     order is irrelevant across batches, arrival order decides), or
  *     (b) its same-batch k-NN neighbors with a SMALLER id (ties within
  *     a batch have no arrival order, so id order decides — the q110
  *     rule; witnesses need not themselves survive).
  *   - survivors are appended to the index (with the append path's
  *     drift-triggered retraining); dropped rows never enter it.
  *
  * Per batch the engine publishes `outDir/v=<batchId>/` holding one
  * decision row per input: (vec_id, kept, dup_of) — the audit trail a
  * curation run needs, and the replay ledger (below).
  *
  * EXACTLY-ONCE across crash-replays, without assuming the stateless
  * upstream replays identical data only once:
  *   1. Decisions are computed as a pure function of (batch, pre-batch
  *      index): [[VectorOps.semanticIndexDrops]] excludes the batch's
  *      own ids from the stored candidate set, so an attempt that died
  *      AFTER appending some survivors still recomputes identical
  *      decisions on replay.
  *   2. Decisions publish FIRST, by tmp-write + atomic rename
  *      (publish-once: dest exists ⇒ skip — the file set readers see
  *      never mutates).
  *   3. The append then derives from the PUBLISHED decisions, not from
  *      the in-memory plan, and anti-joins the index's live id ledger —
  *      so replaying the append after any tear point appends exactly
  *      the missing survivors and never duplicates a vec_id (the index
  *      append path's id contract).
  * Tear between 1 and 2: nothing published, clean recompute. Between 2
  * and 3: decisions exist, replay skips to the idempotent append. After
  * 3: both no-op.
  *
  * Scale shape: within-batch dedup is the cell-bounded k-NN join (never
  * batch²); index probes read only probed cell directories of the
  * current generation; the append is O(batch); the id-ledger anti-join
  * reads one column. Retraining (drift-triggered) rebuilds as a new
  * generation with the reader-grace publish — probes racing a retrain
  * keep serving intact files. */
object StreamSemanticDedup {

  /** Tuning knobs; `cells = 0` lets both the within-batch quantizer and
    * the bootstrap index size themselves at ~√N. */
  case class Config(
      indexPath: String,
      outDir: String,
      k: Int = 3,
      nprobe: Int = 2,
      threshold: Double = 0.99,
      cells: Int = 0,
      retrainCells: Int = 0,
      retrainThreshold: Double = 0.5)

  /** Wire a streaming (vec_id, embedding) DataFrame into the dedup. */
  def start(input: DataFrame, cfg: Config,
      checkpoint: String): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
      }
      .start()

  /** One micro-batch: decide → publish decisions → append survivors.
    * Package-private so the spec can drive replay tear points directly
    * (calling it twice for the same batchId must be a no-op). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      cfg: Config): Unit = {
    val s = batch.sparkSession
    // exact-row dedupe absorbs within-batch redelivery of the same
    // (id, vector) row — without it a duplicated input row would
    // multiply decision rows and double-append its survivor
    val rows = batch.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).distinct().persist()
    try {
      // id contract: one vector per id. Two DIFFERENT vectors sharing an
      // id is a data error that no deterministic policy can absorb
      // (which one is "the" row?) — fail loudly before any publish
      val clash = rows.groupBy(col("vec_id")).count()
        .filter(col("count") > 1).limit(1).collect()
      if (clash.nonEmpty)
        throw new IllegalArgumentException(
          s"StreamSemanticDedup batch $batchId: vec_id " +
            s"${clash.head.get(0)} carries conflicting vectors")
      val dest = s"${cfg.outDir}/v=$batchId"
      val destPath = new Path(dest)
      val fs = destPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val hasIndex = VectorOps.ivfIndexExists(s, cfg.indexPath)

      Ledger.publishOnce(fs, destPath) { tmp =>
        // ---- decide (pure function of batch + pre-batch index) ----
        val (wb, cleanup) =
          if (rows.isEmpty)
            (rows.select(col("vec_id"),
              col("vec_id").as("dup_of")).limit(0), () => ())
          else VectorOps.semanticDropSetWithCleanup(
            rows, cfg.k, cfg.nprobe, cfg.cells, cfg.threshold)
        val idx =
          if (hasIndex)
            VectorOps.semanticIndexDrops(s, cfg.indexPath, rows,
              cfg.k, cfg.nprobe, cfg.threshold)
          else wb.limit(0)
        // one witness set per row: the smallest over both sources
        val drops = wb.unionByName(idx)
          .groupBy(col("vec_id"))
          .agg(min(col("dup_of")).as("dup_of"))
        val decisions = rows.select(col("vec_id"))
          .join(drops, Seq("vec_id"), "left")
          .select(col("vec_id"),
            col("dup_of").isNull.as("kept"), col("dup_of"))
        // try/finally: cleanup() must run even when the decision write
        // throws — otherwise the persisted training caches from
        // semanticDropSetWithCleanup leak on every failed attempt,
        // accumulating across restarts of this batch
        try decisions.write.parquet(tmp.toString) finally cleanup()
      }

      // ---- append survivors, derived from the PUBLISHED decisions ----
      val kept = s.read.parquet(dest).filter(col("kept"))
        .select(col("vec_id"))
        .join(rows, Seq("vec_id"))
      if (!hasIndex) {
        // bootstrap: the first non-empty survivor set founds the index
        if (!kept.isEmpty)
          VectorOps.writeIvfIndex(kept, cfg.indexPath, cfg.cells)
      } else {
        // NO broadcast hint on the ledger: it is the FULL live-corpus id
        // column — forcing it into a broadcast would collect the whole
        // index's ids to the driver every batch and break precisely at
        // the corpus scales this pipeline targets. The planner keeps the
        // one-column anti-join a shuffle join when the ledger is big and
        // broadcasts it itself (via AQE) while it is genuinely small.
        val missing = kept.join(
          VectorOps.ivfIndexIds(s, cfg.indexPath),
          Seq("vec_id"), "left_anti")
        if (!missing.isEmpty)
          VectorOps.appendToIvfIndex(s, cfg.indexPath, missing,
            retrainThreshold = cfg.retrainThreshold,
            retrainCells = cfg.retrainCells)
      }
    } finally rows.unpersist()
  }
}
