package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{TextFns => T}
import graft.operators.TextOps
import graft.sources.Ledger

/** Incremental near-dup CLUSTERING — q58's cluster assignment maintained
  * under streaming appends AND deletions, the way [[ViewMaintenance]]
  * maintains q97 and [[SketchMaintenance]] maintains q61. A full
  * recompute of connected components per arriving batch would rescan the
  * entire corpus; this operator touches only the AFFECTED subgraph — for
  * compute, for writes, AND (since round 8) for reads.
  *
  * Stored state (batchId-versioned like the other maintainers), every
  * version laid out PARTITIONED BY a hash bucket `_b` of its fold key:
  *  - `labels`:  (node, label) — every doc's cluster label (= component
  *    minimum doc_id), path-compressed; `_b = pmod(node, B)`.
  *  - `members`: (label, node) — the INVERTED index of `labels`;
  *    `_b = pmod(label, B)`. Exists so "all members of component L" is a
  *    directory-pruned read instead of a full labels scan. Sound under
  *    pruning because (label, node) is the fold KEY: a relabel writes its
  *    tombstone in the OLD label's bucket and its upsert in the new one,
  *    so any bucket subset folds to a consistent view.
  *  - `buckets`: (band, bkey, label) — ONE row per distinct LSH bucket
  *    with the bucket's cluster label; `_b = pmod(hash(band,bkey), B)`.
  *    Sound because q58's candidate rule makes every bucket a clique.
  *  - `bands`: (doc_id, band, bkey) — every live doc's band keys;
  *    `_b = pmod(doc_id, B)`. Appends only need the collapsed bucket
  *    index, but a deletion can SPLIT a component and deciding the split
  *    needs the survivors' real co-bucket edges.
  *
  * READ-SIDE PRUNING (the round-8 100 TB posture): every per-batch lookup
  * is keyed — new/deleted ids against `labels` and `bands`, new band keys
  * against `buckets`, affected component labels against `members` — and
  * each key set's bucket ids are collected (≤ B tiny longs, one Spark job
  * each) into a literal `_b IN (...)` filter applied per version scan, so
  * the fold opens ONLY matching bucket directories of each full/delta.
  * Per-batch read volume is therefore O(touched buckets), not O(corpus):
  * the Sinks.scala:19 partitioned-layout treatment applied to the
  * maintainer's own state. Unpruned full folds happen only in
  * [[currentLabels]] (a whole-state query) and at compaction. The bucket
  * count B is fixed at state creation (`_BUCKETS` marker) — the layout
  * and the prune expressions must agree forever.
  *
  * DELTA PUBLISHING (the write-side posture, round 7): a version is
  * either a FULL snapshot (`_FULL` marker) or a DELTA — upserts for the
  * keys the batch changed plus `removed = true` tombstones. Readers fold
  * newest-full + later deltas with ascending anti-join + union (latest
  * version wins per key); every `compactEvery` deltas the maintainer
  * writes a fresh FULL and GC keeps the two newest fulls plus everything
  * after the older one.
  *
  * Append batch: new docs' band keys probe the bucket index (pruned
  * equijoin); the matched labels identify the affected components; ONLY
  * their members (pruned `members` fetch) plus the new docs enter the
  * star CC. Deletion batch (`op = "del"`): the deleted docs' components
  * are the affected set; their surviving members' band keys are pulled
  * from `bands` (pruned), each bucket re-linked member→bucket-min, and
  * the star CC re-run on that real subgraph — so a component correctly
  * SPLITS when the deleted doc was its only bridge. Re-ingesting a LIVE
  * doc_id routes delete-then-add so stale band keys never survive.
  * Within one batch, deletions apply BEFORE appends; the append phase
  * reads the delete phase's (O(affected), localCheckpointed) deltas as
  * overlays — no O(corpus) base frame is ever materialized.
  *
  * Exactly-once: batch N reads the newest chain < N and publishes `v=N`
  * by rename — replays re-derive the same delta (or the same full: the
  * compaction trigger depends only on the prior chain). The invariant
  * spec pins folded labels == [[TextOps.clusterAssignments]] over the
  * surviving corpus after EVERY batch, including splits and compactions,
  * and `members` == the exact inverse of `labels`.
  *
  * MIGRATION: pre-delta state versions (no `removed` column, no `_FULL`)
  * are read as full snapshots with `removed = false` implied; versions
  * written before the bucketed layout (no `_b` directories) compute `_b`
  * on read — prune filters stay correct, they just can't directory-prune
  * those versions. A missing `members` table is derived by inverting the
  * labels fold until the first compaction persists it. A state dir that
  * ever lacked `bands` (pre-retraction format) accepts appends but
  * refuses deletions (`_LEGACY_BANDS` marker, loud error) — the split
  * decision would need band keys that were never stored.
  */
object IncrementalDedup {

  private def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version dirs are immutable once published (rename; replays re-derive
    * identical content and the same fullness decision), so fullness is
    * memoized — the legacy-schema probe below would otherwise re-read a
    * parquet footer per version per batch. The key carries the dir's
    * mtime: a state dir torn down and REBUILT at the same path (the
    * documented response to the legacy-deletion error) must not inherit
    * the old incarnation's fullness answers, and replay-overwritten dirs
    * re-derive the same decision so a changed mtime is merely a cheap
    * recompute. Eviction is access-order LRU (a months-long driver can't
    * leak unboundedly) PLUS targeted prefix removal when GC deletes a
    * version dir — the old size-cap `clear()` dumped hot current-chain
    * entries on every trip and raced with concurrent readers. */
  private val fullCache: java.util.Map[String, java.lang.Boolean] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.lang.Boolean](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
          size() > 8192
      })

  /** A version dir's cache stamp: the `_SUCCESS` file's mtime when
    * present, else the dir's own. Object stores report 0 (or a constant)
    * for synthetic directory entries, so keying on the dir mtime alone
    * would let a rebuilt-at-the-same-path state dir inherit stale
    * answers there — `_SUCCESS` is a real file with a real mtime on
    * every store, and each (re)publish rewrites it. */
  private def versionStamp(h: org.apache.hadoop.fs.FileSystem,
      dir: String): Long =
    try h.getFileStatus(new Path(dir, "_SUCCESS")).getModificationTime
    catch { case _: java.io.FileNotFoundException =>
      h.getFileStatus(new Path(dir)).getModificationTime }

  private def isFull(spark: SparkSession, dir: String): Boolean = {
    val h = fs(spark, dir)
    val key = s"$dir@${versionStamp(h, dir)}"
    // get-then-put, not computeIfAbsent: the probe below does real FS
    // work, and holding the synchronizedMap's lock through it would stall
    // every other maintainer in the JVM. A racing duplicate probe is
    // benign — the value is deterministic.
    val cached = fullCache.get(key)
    if (cached != null) cached.booleanValue()
    else {
      val v: Boolean =
        h.exists(new Path(dir, "_FULL")) ||
          // MIGRATION: pre-delta state versions have neither a `_FULL`
          // marker nor a `removed` column — they were written as complete
          // snapshots, so a legacy schema IS a full-snapshot marker. Without
          // this, a maintainer restarted against an old state dir would fold
          // legacy fulls as if they were deltas (resurrecting rows deleted
          // between them) and then throw on the missing `removed` column.
          !spark.read.parquet(dir).schema.fieldNames.contains("removed")
      fullCache.put(key, v)
      v
    }
  }

  /** The version chain a reader at `upTo` folds: newest full ≤ newest
    * version < upTo, plus every later delta (ascending). */
  private def chain(spark: SparkSession, kindDir: String,
      upTo: Long): Seq[Long] = {
    val vs = versions(spark, kindDir).filter(_ < upTo).sorted
    val lastFull = vs.lastIndexWhere(v => isFull(spark, s"$kindDir/v=$v"))
    if (lastFull < 0) vs else vs.drop(lastFull)
  }

  // ---- bucketed layout ----

  /** [[bandBucket]] bakes Spark's built-in Murmur3 `hash()` into the
    * PERSISTED partition layout — directory-prune correctness depends on
    * that function staying byte-stable across Spark upgrades, and a
    * silent change would mis-prune every bucketed read with no error.
    * This probe is the engine's answer for a fixed (int, string) input —
    * the same type shape `bandBucket` hashes — recorded in the `_BUCKETS`
    * marker at state creation and VERIFIED on every open, so a changed
    * hash becomes a loud named error instead of silent data loss.
    * Evaluated via the expression the SQL `hash()` function resolves to
    * (seed 42), once per JVM. */
  private lazy val currentHashProbe: Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    new Murmur3Hash(Seq(Literal(7),
        Literal.create("graft-bucket-probe",
          org.apache.spark.sql.types.StringType)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Int]
  }

  /** The persisted `_BUCKETS` marker, if any — the single parse point for
    * the layout property both writers and readers must agree on. A
    * garbled marker is a loud, named error: guessing a B would silently
    * mis-prune every read. Line 1 is B; an optional `hashprobe=<n>` line
    * (written since round 9) pins the engine hash [[bandBucket]] bakes
    * into the directory layout — a mismatch on open means this Spark's
    * `hash()` differs from the one that laid out the state, and every
    * pruned read would silently miss rows. Markers written before the
    * probe line (bare int) read fine but can't be verified.
    *
    * FORWARD-COMPAT NOTE: engines from before the probe line parsed the
    * whole body as one int, so they REFUSE (loud 'unreadable _BUCKETS
    * marker' error, never silent mis-pruning) to open a state dir
    * created by this engine. Rolling back the engine binary therefore
    * requires state dirs created by the old binary; this reader
    * tolerates both formats via lines.headOption. */
  private def readBucketMarker(spark: SparkSession,
      stateDir: String): Option[Int] = {
    val h = fs(spark, stateDir)
    val marker = new Path(stateDir, "_BUCKETS")
    if (!h.exists(marker)) None
    else {
      val in = h.open(marker)
      val body = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      val lines = body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      lines.collectFirst {
        case l if l.startsWith("hashprobe=") => l.stripPrefix("hashprobe=")
      }.foreach { recorded =>
        recorded.toIntOption match {
          case None =>
            // a garbled probe is an UNREADABLE marker, not a hash
            // mismatch — diagnosing it as "different hash function"
            // would send operators chasing a Spark upgrade that never
            // happened
            throw new IllegalStateException(
              s"unreadable _BUCKETS marker at $stateDir (garbled " +
                s"hashprobe line: '$recorded'): the bucket layout of " +
                "this state dir cannot be verified")
          case Some(n) if n != currentHashProbe =>
            throw new IllegalStateException(
              s"_BUCKETS marker at $stateDir records hashprobe=$recorded " +
                s"but this engine's hash() evaluates the probe to " +
                s"$currentHashProbe: the persisted `_b` directory layout " +
                "was produced by a DIFFERENT hash function and every " +
                "bucket-pruned read would silently miss rows. Rebuild the " +
                "state dir from the source corpus under this engine.")
          case _ => ()
        }
      }
      lines.headOption.flatMap(_.toIntOption) match {
        case Some(b) if b > 0 => Some(b)
        case _ => throw new IllegalStateException(
          s"unreadable _BUCKETS marker at $stateDir (content: '$body'): " +
            "the bucket layout of this state dir cannot be determined")
      }
    }
  }

  /** Bucket count is a LAYOUT property: the partition directories and the
    * prune expressions must use the same B for the life of the state dir,
    * so the first writer persists it and later merges read it back
    * (ignoring their own parameter if it drifted). */
  private def bucketCount(spark: SparkSession, stateDir: String,
      requested: Int): Int =
    readBucketMarker(spark, stateDir).getOrElse {
      // published once: a torn marker would brick every later read of
      // the dir, and on a (contract-violating) race the first writer wins
      val h = fs(spark, stateDir)
      Ledger.publishOnce(h, new Path(stateDir, "_BUCKETS")) { tmp =>
        val out = h.create(tmp, true)
        try out.write(
          s"$requested\nhashprobe=$currentHashProbe".getBytes("UTF-8"))
        finally out.close()
      }
      readBucketMarker(spark, stateDir).getOrElse(requested)
    }

  /** The two bucket formulas, shared by the write-side layout
    * ([[bucketExpr]]) and every read-side prune: the file's invariant is
    * that layout and prune expressions agree forever, so there is exactly
    * one definition of each. */
  private[streaming] def idBucket(c: Column, b: Int): Column =
    pmod(c, lit(b.toLong))
  private[streaming] def bandBucket(band: Column, bkey: Column,
      b: Int): Column =
    pmod(hash(band, bkey).cast("long"), lit(b.toLong))

  /** `_b` of each kind, as a function of its fold key — bucketing on a
    * non-key column would be unsound under pruned folds (a key's rows
    * could straddle the prune boundary across versions). */
  private def bucketExpr(kind: String, b: Int): Column = kind match {
    case "labels"  => idBucket(col("node"), b)
    case "members" => idBucket(col("label"), b)
    case "buckets" => bandBucket(col("band"), col("bkey"), b)
    case _         => idBucket(col("doc_id"), b)
  }

  /** The distinct `_b` values a key set can touch — collected to the
    * driver (≤ B longs; one tiny job) to become a literal IN-list that
    * prunes every version scan at the directory level. */
  private def bucketsOf(df: DataFrame, expr: Column): Seq[Long] =
    df.select(expr.cast("long").as("_pb")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** Merge-on-read: latest version wins per key; tombstones drop keys.
    * Folded as an ASCENDING chain of anti-join + union — each delta's
    * keys knock out older rows — rather than a latest-wins window: the
    * window would shuffle the whole state per read, while the anti-joins
    * broadcast whenever the delta is small (AQE's call), keeping the base
    * a map-side scan. Chain length is bounded by compactEvery. With
    * `prune` set, each version scan reads only the listed `_b` bucket
    * directories — sound because `_b` is a function of the fold key. */
  private def readFolded(spark: SparkSession, kindDir: String, upTo: Long,
      keyCols: Seq[String], b: Int,
      prune: Option[Seq[Long]] = None): Option[DataFrame] =
    foldParts(resolveChain(spark, kindDir, upTo, b), keyCols, prune)

  /** The chain's per-version scans, schema-normalized but NOT yet pruned.
    * Resolving is the expensive part — a directory listing plus an eager
    * parquet footer read per version — so mergeBatch resolves each kind
    * ONCE per batch and re-folds the same parts under different prunes;
    * the old shape re-listed and re-read footers on every stored* call
    * (a dozen times per delete+append batch). */
  private def resolveChain(spark: SparkSession, kindDir: String,
      upTo: Long, b: Int): Seq[DataFrame] = {
    val kind = new Path(kindDir).getName
    chain(spark, kindDir, upTo).map { v =>
      val raw = spark.read.parquet(s"$kindDir/v=$v")
      // legacy (pre-delta) snapshot: no tombstone column — all rows live
      val withRemoved =
        if (raw.columns.contains("removed")) raw
        else raw.withColumn("removed", lit(false))
      // pre-bucketing versions: compute `_b` on read (no directory
      // pruning for them, but the filter semantics are identical)
      if (withRemoved.columns.contains("_b")) withRemoved
      else withRemoved.withColumn("_b", bucketExpr(kind, b).cast("int"))
    }
  }

  /** Fold resolved chain parts: latest version wins per key; tombstones
    * drop keys. Pruning filters each part to the listed `_b` buckets —
    * directory-level pruning for bucketed versions, an ordinary filter
    * for pre-layout ones. */
  private def foldParts(parts: Seq[DataFrame], keyCols: Seq[String],
      prune: Option[Seq[Long]]): Option[DataFrame] =
    if (parts.isEmpty) None
    else {
      val pruned = parts.map(p =>
        prune.fold(p)(s => p.filter(col("_b").isin(s: _*))))
      val folded = pruned.reduce { (acc, d) =>
        acc.join(d.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(d)
      }
      Some(folded.filter(!col("removed")).drop("removed", "_b"))
    }

  /** True iff this state dir ever lacked the `bands` table while holding
    * labels (pre-retraction legacy state). Diagnosed once and persisted as
    * a `_LEGACY_BANDS` marker: later appends create a PARTIAL bands table
    * (post-migration docs only), so the emptiness check alone would stop
    * firing while deletions remained unsafe. Only versions from EARLIER
    * batches count as evidence: a crash between this batch's own
    * publish("labels") and publish("bands") would otherwise make the
    * REPLAY see labels-without-bands and permanently brand a modern dir
    * legacy (refusing deletions forever over a transient crash). */
  private def legacyBandsMarked(spark: SparkSession, stateDir: String,
      batchId: Long, labelVs: Seq[Long], bandVs: Seq[Long]): Boolean = {
    val h = fs(spark, stateDir)
    val marker = new Path(stateDir, "_LEGACY_BANDS")
    if (h.exists(marker)) true
    else if (labelVs.exists(_ < batchId) && !bandVs.exists(_ < batchId)) {
      h.mkdirs(new Path(stateDir)); h.createNewFile(marker); true
    } else false
  }

  /** Newest published (doc_id, cluster) assignment, or None pre-stream. */
  def currentLabels(spark: SparkSession, stateDir: String): Option[DataFrame] =
    readFolded(spark, s"$stateDir/labels", Long.MaxValue, Seq("node"),
        bucketCountIfAny(spark, stateDir))
      .map(_.select(col("node").as("doc_id"), col("label").as("cluster")))

  /** Newest published (cluster, doc_id) member index, or None when the
    * state predates the inverted table. Invariant (spec-pinned): exactly
    * the inverse of [[currentLabels]] after every batch. */
  def currentMembers(spark: SparkSession, stateDir: String): Option[DataFrame] =
    if (versions(spark, s"$stateDir/members").isEmpty) None
    else readFolded(spark, s"$stateDir/members", Long.MaxValue,
        Seq("label", "node"), bucketCountIfAny(spark, stateDir))
      .map(_.select(col("label").as("cluster"), col("node").as("doc_id")))

  /** B for read-only access: the persisted marker, else any value (the
    * computed `_b` is dropped before results surface, so an unpersisted B
    * only affects legacy dirs where no directory layout exists anyway). */
  private def bucketCountIfAny(spark: SparkSession, stateDir: String): Int =
    readBucketMarker(spark, stateDir).getOrElse(64)

  /** Merge one micro-batch of (doc_id, text[, op]) rows, idempotent in
    * batchId. Without an `op` column every row is an append; with one,
    * rows are `"add"` or `"del"` (del needs only doc_id). Adding a LIVE
    * doc_id is an UPDATE: its old presence (including its old band keys)
    * is retracted first, so the maintained clusters always reflect every
    * doc's current text. Contract: at most one op per doc_id per batch —
    * two adds of the same id with different texts in one batch have no
    * well-defined cluster (the property spec generates under this
    * contract; upstream the usual fix is a latest-wins dedup before the
    * sink, q81's CDC compaction). */
  def mergeBatch(docs: DataFrame, batchId: Long, stateDir: String,
                 compactEvery: Int = 8, stateBuckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    // OWNERSHIP guard: batch ids come from THIS stream's checkpoint. A
    // stored version NEWER than the current batch means some other
    // checkpoint's history wrote the dir (a fresh checkpoint restarts ids
    // at 0) — folding with upTo=batchId would silently hide, then
    // clobber, the existing corpus. The same id with a pre-delta (legacy)
    // payload is the batchId-0 collision of the same mistake; an own
    // replay re-publishes the modern schema and passes.
    val kinds = Seq("labels", "members", "buckets", "bands")
    val kindVersions: Map[String, Seq[Long]] =
      kinds.map(k => k -> versions(spark, s"$stateDir/$k")).toMap
    kinds.foreach { k =>
      val vs = kindVersions(k)
      vs.find(_ > batchId).foreach { v =>
        throw new IllegalStateException(
          s"state dir $stateDir holds $k/v=$v, newer than batchId=" +
            s"$batchId: this stream's checkpoint does not own the dir. " +
            "Resume with the original checkpoint, or adopt the dir by " +
            "starting the new stream's batch ids above the newest " +
            "stored version.")
      }
      if (vs.contains(batchId) && !spark.read
          .parquet(s"$stateDir/$k/v=$batchId").schema.fieldNames
          .contains("removed"))
        throw new IllegalStateException(
          s"state dir $stateDir holds a pre-delta (legacy) $k/v=$batchId" +
            s" colliding with batchId=$batchId: adopt a legacy dir by " +
            "starting the new stream's batch ids above its newest " +
            "version.")
    }
    // FULL-REPLAY fast path: every kind already holds v=batchId, so a
    // prior attempt completed all four publishes (each rename atomic,
    // content deterministic) — the entire batch is a no-op. Without
    // this, a crash between the last publish and the checkpoint commit
    // re-ran the whole merge only for publish() to skip all four writes.
    if (kinds.forall(k => kindVersions(k).contains(batchId))) return
    // diagnose legacy state BEFORE this batch publishes anything — an
    // append would create a partial `bands` table and mask the condition
    val legacyBands = legacyBandsMarked(spark, stateDir, batchId,
      kindVersions("labels"), kindVersions("bands"))
    val b = bucketCount(spark, stateDir, stateBuckets)
    val hasOp = docs.columns.contains("op")
    val adds = if (hasOp) docs.filter(col("op") === "add") else docs
    val dels =
      if (hasOp) docs.filter(col("op") === "del").select(col("doc_id")).distinct()
      else docs.select(col("doc_id")).limit(0)
    val newDocs = adds.select(col("doc_id"), col("text")).persist()
    val nNew = newDocs.count()
    val sig = newDocs
      .select(col("doc_id"), T.minhashSigUdf(3, 8)(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val newBands = sig.select(col("doc_id"),
        explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))
      .persist()
    val nNewBands = newBands.count()

    // each kind's chain is resolved (listed + footer-read) at most once
    // per batch; stored* calls re-fold the same parts under their prunes
    val chainMemo = scala.collection.mutable.Map.empty[String, Seq[DataFrame]]
    def readPruned(kind: String, keys: Seq[String],
        prune: Option[Seq[Long]]): Option[DataFrame] =
      foldParts(chainMemo.getOrElseUpdate(kind,
        resolveChain(spark, s"$stateDir/$kind", batchId, b)), keys, prune)
    val emptyLabels = spark.range(0)
      .select(col("id").as("node"), col("id").as("label"))
    def storedLabels(prune: Option[Seq[Long]]): DataFrame =
      readPruned("labels", Seq("node"), prune).getOrElse(emptyLabels)
    def storedBands(prune: Option[Seq[Long]]): DataFrame =
      readPruned("bands", Seq("doc_id", "band", "bkey"), prune)
        .getOrElse(newBands.limit(0)
          .select(col("doc_id"), col("band"), col("bkey")))
    def storedBuckets(prune: Option[Seq[Long]]): DataFrame =
      readPruned("buckets", Seq("band", "bkey"), prune)
        .getOrElse(newBands.limit(0)
          .select(col("band"), col("bkey"), col("doc_id").as("label")))
    // members: the inverted label index; derived from labels (full fold,
    // migration only) when the table doesn't exist yet. "Exists" means a
    // version from an EARLIER batch: this batch's own v=batchId (a crashed
    // first-migration attempt being replayed) folds to nothing, and taking
    // the read branch on its evidence would replace the derived index with
    // an empty one — and then publish that as the members full snapshot.
    def storedMembers(prune: Option[Seq[Long]]): DataFrame =
      if (kindVersions("members").exists(_ < batchId))
        readPruned("members", Seq("label", "node"), prune)
          .getOrElse(emptyLabels.select(col("label"), col("node")))
      else {
        val inv = storedLabels(None).select(col("label"), col("node"))
        prune.fold(inv)(s =>
          inv.filter(idBucket(col("label"), b).isin(s: _*)))
      }

    // ---- deletion phase: retractions can split components ----
    // Every lookup below is bucket-pruned by its key set; outputs are the
    // batch's delta rows only (O(affected)), localCheckpointed so the
    // append phase can overlay them without lineage entanglement.
    //
    // RE-INGESTED ids route through here too: adding a LIVE doc_id with
    // (possibly) different text must retract its OLD band keys first —
    // otherwise the stale keys stay in `bands` and a later deletion in
    // the component would reconnect clusters through text the doc no
    // longer has.
    // ONE-JOB bucket planning for every key set derivable from the batch
    // itself (new doc ids, deleted ids, new band keys): their bucket-id
    // collects have no dependency on any stored read, so a tagged union
    // collects all three sets in a single tiny driver job instead of
    // three — at sub-second trigger cadence the scheduler round-trips of
    // the separate jobs were the dominant per-batch latency (round-8
    // SURVEY measured ~40 driver jobs per small batch). The remaining
    // bucketsOf calls below are inherently sequential: each prunes a
    // stored read whose input is the PREVIOUS collect's result.
    // Statically-empty inputs still contribute nothing: a micro-batch
    // pays only for the phases its rows actually exercise.
    val plannedBuckets: Map[String, Seq[Long]] = {
      val parts = Seq.newBuilder[DataFrame]
      if (nNew > 0) parts += newDocs.select(lit("newId").as("_t"),
        idBucket(col("doc_id"), b).cast("long").as("_pb"))
      if (hasOp) parts += dels.select(lit("delId").as("_t"),
        idBucket(col("doc_id"), b).cast("long").as("_pb"))
      if (nNewBands > 0) parts += newBands.select(lit("newBand").as("_t"),
        bandBucket(col("band"), col("bkey"), b).cast("long").as("_pb"))
      val ps = parts.result()
      if (ps.isEmpty) Map.empty
      else ps.reduce(_ unionByName _).distinct().collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    }
    val newIdBuckets = plannedBuckets.getOrElse("newId", Seq.empty)
    val delIdBuckets = plannedBuckets.getOrElse("delId", Seq.empty)
    val newBandBuckets = plannedBuckets.getOrElse("newBand", Seq.empty)
    val touchedIdBuckets = Some((newIdBuckets ++ delIdBuckets).distinct)
    val reIngested =
      if (nNew == 0) dels.limit(0)
      else newDocs.select(col("doc_id"))
        .join(storedLabels(Some(newIdBuckets)).select(col("node").as("st_node")),
          col("doc_id") === col("st_node"), "left_semi")
    val delIdsAll = dels.unionByName(reIngested).distinct()
    // empty deltas carry the REAL column types (band is int, bkey is an
    // md5 string): a lit(0L) placeholder would coerce the other union
    // side's strings to BIGINT and blow up the whole batch
    def emptyDelta(df: DataFrame): DataFrame =
      df.limit(0).withColumn("removed", lit(false))
    // Gate on ACTUAL deletes/re-ingests, not on the mere presence of an
    // `op` column: an op-carrying stream's all-add batches would otherwise
    // route through the deletion branch — O(affected) work for nothing.
    // The isEmpty action costs one tiny pruned semi-join job and is needed
    // anyway to split the phases (skipped when both inputs are statically
    // empty: no op column means no dels, no adds means no re-ingests).
    val anyDeletes = (hasOp || nNew > 0) && !delIdsAll.isEmpty
    val (delLabelDelta, delMemberDelta, delBucketDelta, delBandDelta) =
      if (!anyDeletes) {
        (emptyDelta(emptyLabels.select(col("node"), col("label"))),
          emptyDelta(emptyLabels.select(col("label"), col("node"))),
          emptyDelta(newBands.limit(0).select(col("band"), col("bkey"),
            col("doc_id").as("label"))),
          emptyDelta(newBands.limit(0).select(col("doc_id"), col("band"),
            col("bkey"))))
      } else {
      // Legacy-state guard: a pre-`bands` state dir (labels exist, band
      // keys were never stored) can keep serving reads and append-only
      // maintenance, but a deletion's split decision NEEDS the survivors'
      // real co-bucket edges — silently treating them as disconnected
      // would shatter every affected component into singletons. Loud
      // failure with the upgrade path instead.
      if (legacyBands)
        throw new IllegalStateException(
          "legacy IncrementalDedup state (no `bands` table for the " +
            "pre-migration corpus): deletions/re-ingests require a state " +
            "rebuild from the source corpus into a fresh state dir; " +
            "append-only maintenance remains supported on legacy state")
      // Renamed unresolved join keys throughout: the deletion frames all
      // share lineage (delSet with the batch, the empty-state defaults
      // with newBands), and dataset-qualified refs on shared lineage trip
      // DetectAmbiguousSelfJoin.
      val delIds = delIdsAll.select(col("doc_id").as("del_id"))
        .localCheckpoint() // tiny; cut lineage, reused throughout
      // components that lose a member, with each dead node's old label
      val deadRows = storedLabels(touchedIdBuckets)
        .join(delIds, col("node") === col("del_id"), "left_semi")
        .localCheckpoint() // (node, label): the tombstone set
      val delAffected = deadRows.select(col("label").as("dlabel"))
        .distinct().localCheckpoint()
      val dlabelBuckets = bucketsOf(delAffected,
        pmod(col("dlabel"), lit(b.toLong)))
      // their surviving members, via the pruned inverted index
      val survivors = storedMembers(Some(dlabelBuckets))
        .join(delAffected, col("label") === col("dlabel"), "left_semi")
        .join(delIds, col("node") === col("del_id"), "left_anti")
        .select(col("node"), col("label").as("old_label"))
        .localCheckpoint()
      val survBuckets = bucketsOf(survivors,
        idBucket(col("node"), b))
      // real co-bucket edges among survivors, from the per-doc band keys:
      // within each bucket connect member → bucket minimum (star, not df²)
      val survBands = storedBands(Some(survBuckets))
        .join(survivors.select(col("node").as("surv_node")),
          col("doc_id") === col("surv_node"), "left_semi")
        .localCheckpoint()
      val bucketRep = survBands.groupBy(col("band"), col("bkey"))
        .agg(min(col("doc_id")).as("rep"))
      val delEdges = survBands.join(bucketRep, Seq("band", "bkey"))
        .filter(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("a"), col("rep").as("b"))
      val recomputed = TextOps.minLabelPropagate(delEdges)
      val survLabels = survivors.select(col("node"), col("old_label"))
        .join(recomputed.withColumnRenamed("label", "new_label"),
          Seq("node"), "left")
        .select(col("node"), col("old_label"),
          coalesce(col("new_label"), col("node")).as("label"))
        .localCheckpoint()
      // bands of the dead docs (tombstones)
      val deadBands = storedBands(touchedIdBuckets)
        .join(delIds, col("doc_id") === col("del_id"), "left_semi")
        .localCheckpoint()
      // affected buckets rebuilt from surviving bands + split labels; a
      // bucket whose members all died tombstones away. Bucket rows of
      // affected components are exactly the band keys of their members
      // (every bucket row has ≥1 live member; co-bucket docs share a
      // component), so the key set survBands ∪ deadBands covers them.
      val affectedBucketKeys = survBands.select(col("band"), col("bkey"))
        .unionByName(deadBands.select(col("band"), col("bkey")))
        .distinct().localCheckpoint()
      val rebuiltB = survBands
        .join(survLabels.select(col("node").as("sl_node"),
            col("label").as("sl_label")),
          col("doc_id") === col("sl_node"))
        .groupBy(col("band"), col("bkey")).agg(min(col("sl_label")).as("label"))
      val deadBuckets = affectedBucketKeys
        .join(rebuiltB.select(col("band").as("rb_band"),
            col("bkey").as("rb_bkey")),
          col("band") === col("rb_band") && col("bkey") === col("rb_bkey"),
          "left_anti")
        .withColumn("label", lit(0L))
      // deltas: survivor relabels (upserts) + node tombstones; the member
      // index mirrors them with tombstones in the OLD label's bucket;
      // rebuilt bucket upserts + vanished-bucket tombstones; dead band rows
      val labelDelta = survLabels.select(col("node"), col("label"))
        .withColumn("removed", lit(false))
        .unionByName(deadRows.select(col("node"), lit(0L).as("label"))
          .withColumn("removed", lit(true)))
      val memberDelta = survLabels.filter(col("old_label") =!= col("label"))
        .select(col("old_label").as("label"), col("node"))
        .withColumn("removed", lit(true))
        .unionByName(survLabels
          .select(col("label"), col("node"))
          .withColumn("removed", lit(false)))
        .unionByName(deadRows.select(col("label"), col("node"))
          .withColumn("removed", lit(true)))
      val bucketDelta = rebuiltB.withColumn("removed", lit(false))
        .unionByName(deadBuckets.withColumn("removed", lit(true)))
      val bandDelta = deadBands.withColumn("removed", lit(true))
      (labelDelta.localCheckpoint(), memberDelta.localCheckpoint(),
        bucketDelta.localCheckpoint(), bandDelta.localCheckpoint())
    }

    /** Post-delete view of a pruned stored read: delete-phase delta wins
      * on key overlap. The delta is O(affected) and checkpointed, so the
      * overlay costs one broadcast-sized anti-join per consumer. */
    def overlay(base: DataFrame, delta: DataFrame,
        keys: Seq[String]): DataFrame =
      base.join(delta.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(delta.filter(!col("removed")).drop("removed"))

    // ---- append phase (against the post-delete overlays) ----
    // 1. probe the stored bucket index with the new docs' band keys —
    //    pruned to the buckets those keys can live in (newBandBuckets
    //    came from the one-job planning collect above; a band-less batch
    //    — pure deletes, or all-null signatures — contributed nothing
    //    and prunes the probe to zero buckets)
    val probeBase = overlay(storedBuckets(Some(newBandBuckets)),
      delBucketDelta, Seq("band", "bkey"))
    val matched = newBands.join(probeBase, Seq("band", "bkey"))
      .select(col("doc_id"), col("label"))
      .persist()
    matched.count()
    // 2. the affected components, and every one of their members — via
    //    the pruned inverted index, overlaid with the delete relabels
    val affected = matched.select(col("label")).distinct().localCheckpoint()
    val affectedLabelBuckets = bucketsOf(affected,
      idBucket(col("label"), b))
    val membersBase = overlay(storedMembers(Some(affectedLabelBuckets)),
      delMemberDelta, Seq("label", "node"))
    val affectedMembers = membersBase.join(affected, Seq("label"))
      .select(col("node"), col("label"))
      .localCheckpoint()
    // 3. edge set for the subgraph: stored stars + new→bucket-label links
    //    + new-new bucket stars, symmetrized
    //    new-new links are PER-BUCKET STARS, not cliques: connectivity
    //    within a band bucket is all the CC step needs, and a star to
    //    the bucket's min doc_id yields the identical components in
    //    O(bucket) edges where the x<y self-join paid O(bucket²) — on a
    //    dup-heavy bulk batch (64 copies per doc) the clique was the
    //    super-linear term at 8× inflation (8× data → 30× time)
    val newBucketHubs = newBands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("hub"))
    val newNew = newBands
      .join(newBucketHubs, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
    val halfEdges = affectedMembers.filter(col("node") =!= col("label"))
      .select(col("node").as("a"), col("label").as("b"))
      .unionByName(matched.select(col("doc_id").as("a"), col("label").as("b")))
      .unionByName(newNew)
      .distinct()
    val edges = halfEdges.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint()
    // 4. resolve the subgraph (tiny relative to the corpus)
    val sub = TextOps.minLabelPropagate(edges).localCheckpoint()
    // 5. every new doc gets a label (subgraph result, else itself).
    //    Re-ingested ids were retracted in the deletion phase, so the
    //    post-delete base never contains a doc being added here — its
    //    label is purely a function of its CURRENT text.
    val newLabels = newDocs.select(col("doc_id").as("node"))
      .join(sub, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    // 6. the batch's label delta: relabeled affected members + new docs
    //    (carried clusters are never rewritten — that is the point).
    //    Membership "is a stored node" == "is an affected member": every
    //    sub node is an affected member, an affected label (whose (L,L)
    //    row IS a member row), or a new doc.
    val relabeledMembers = affectedMembers
      .join(sub.withColumnRenamed("label", "new_label"), Seq("node"), "left")
      .select(col("node"), col("label").as("old_label"),
        coalesce(col("new_label"), col("label")).as("label"))
      .localCheckpoint()
    val labelDelta = relabeledMembers.select(col("node"), col("label"))
      .unionByName(newLabels)
      .groupBy(col("node")).agg(min(col("label")).as("label"))
      .withColumn("removed", lit(false))
    // member-index delta: tombstone moved members out of their old
    // label's bucket, upsert everyone under the final label
    val memberDelta = relabeledMembers
      .filter(col("old_label") =!= col("label"))
      .select(col("old_label").as("label"), col("node"))
      .withColumn("removed", lit(true))
      .unionByName(labelDelta.filter(!col("removed"))
        .select(col("label"), col("node"))
        .withColumn("removed", lit(false)))
    // 7. bucket delta: affected buckets take their component's NEW label
    //    (the old label is itself a node in the subgraph); new docs'
    //    buckets are added with their final label. Affected bucket rows
    //    are fetched by their members' band keys (pruned), since every
    //    bucket row's key appears among its component's member bands.
    val affectedBucketRows = if (legacyBands) {
      // legacy/partial-bands state: pre-migration docs have NO stored
      // band keys, so the bands-derived key route below would miss their
      // buckets and a relabeling append would leave stale bucket labels
      // (a later probe would then resurrect the old label). Fall back to
      // the direct by-label fetch — an unpruned buckets scan, the
      // documented migration cost on dirs carrying the marker.
      overlay(storedBuckets(None), delBucketDelta, Seq("band", "bkey"))
        .join(affected, Seq("label"), "left_semi")
    } else {
      val memberDocBuckets = bucketsOf(affectedMembers,
        idBucket(col("node"), b))
      val memberBands = overlay(storedBands(Some(memberDocBuckets)),
        delBandDelta, Seq("doc_id", "band", "bkey"))
        .join(affectedMembers.select(col("node").as("am_node")),
          col("doc_id") === col("am_node"), "left_semi")
        .select(col("band"), col("bkey")).distinct().localCheckpoint()
      val memberBandKeyBuckets = bucketsOf(memberBands,
        bandBucket(col("band"), col("bkey"), b))
      overlay(storedBuckets(Some(memberBandKeyBuckets)),
          delBucketDelta, Seq("band", "bkey"))
        .join(memberBands, Seq("band", "bkey"), "left_semi")
        .join(affected, Seq("label"), "left_semi")
    }
    val relabeled = affectedBucketRows
      .join(sub.withColumnRenamed("label", "nl"),
        col("label") === col("node"))
      .select(col("band"), col("bkey"), col("nl").as("label"))
    val newBuckets = newBands
      .join(newLabels.select(col("node"), col("label")),
        col("doc_id") === col("node"))
      .select(col("band"), col("bkey"), col("label"))
    val bucketDelta = relabeled.unionByName(newBuckets)
      .groupBy(col("band"), col("bkey")).agg(min(col("label")).as("label"))
      .withColumn("removed", lit(false))
    // 8. band delta: the new docs' keys
    val bandDelta = newBands.withColumn("removed", lit(false))

    // combine with the deletion-phase deltas; the append phase wins on
    // key overlap (it ran second), expressed as a phase-priority window.
    // Single-phase batches skip the window (and its shuffle) outright:
    // with no deletes the del deltas are statically empty, and a pure
    // delete batch (nNew == 0) produces statically empty append deltas.
    def combined(delPhase: DataFrame, addPhase: DataFrame,
        keys: Seq[String]): DataFrame =
      if (!anyDeletes) addPhase
      else if (nNew == 0) delPhase
      else {
        val u = delPhase.withColumn("_p", lit(0))
          .unionByName(addPhase.withColumn("_p", lit(1)))
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_p").desc)
        u.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_p", "_rn")
      }
    val labelsOutDelta = combined(delLabelDelta, labelDelta, Seq("node"))
    val membersOutDelta = combined(delMemberDelta, memberDelta,
      Seq("label", "node"))
    val bucketsOutDelta = combined(delBucketDelta, bucketDelta,
      Seq("band", "bkey"))
    val bandsOutDelta = combined(delBandDelta, bandDelta,
      Seq("doc_id", "band", "bkey"))

    // compaction decision is a pure function of the prior chain, so
    // replays of the same batch make the same choice
    def wantFull(kind: String): Boolean =
      chain(spark, s"$stateDir/$kind", batchId).length >= compactEvery ||
        versions(spark, s"$stateDir/$kind").forall(_ >= batchId)
    def foldKeys(kind: String): Seq[String] = kind match {
      case "labels"  => Seq("node")
      case "members" => Seq("label", "node")
      case "buckets" => Seq("band", "bkey")
      case _         => Seq("doc_id", "band", "bkey")
    }
    def baseOf(kind: String, prune: Option[Seq[Long]]): DataFrame =
      kind match {
        case "labels"  => storedLabels(prune)
        case "members" => storedMembers(prune)
        case "buckets" => storedBuckets(prune)
        case _         => storedBands(prune)
      }
    // the final folded state as a full snapshot: UNPRUNED base fold +
    // this batch's combined delta overlaid — the monolithic fallback,
    // paid only when the chain isn't bucket-wise eligible below
    def fullOf(kind: String): DataFrame = {
      val (base, delta, keys) = kind match {
        case "labels" => (storedLabels(None), labelsOutDelta, Seq("node"))
        case "members" => (storedMembers(None), membersOutDelta,
          Seq("label", "node"))
        case "buckets" => (storedBuckets(None), bucketsOutDelta,
          Seq("band", "bkey"))
        case _ => (storedBands(None), bandsOutDelta,
          Seq("doc_id", "band", "bkey"))
      }
      overlay(base, delta, keys).withColumn("removed", lit(false))
    }

    // BUCKET-WISE COMPACTION eligibility: every chain version must be
    // directory-bucketed (`_b=` subdirs) or a marked-empty publish
    // (`_EMPTY`) — a pre-layout version carrying rows would be rescanned
    // WHOLE by every per-bucket fold (B × O(version) instead of one
    // read), so legacy chains take the monolithic path until their first
    // compaction rewrites them bucketed. `members` additionally needs a
    // stored table: the migration derivation folds ALL of `labels` per
    // call, which per-bucket would be B full labels scans.
    def chainAllBucketed(kind: String): Boolean = {
      val h = fs(spark, stateDir)
      chain(spark, s"$stateDir/$kind", batchId).forall { v =>
        val vp = new Path(s"$stateDir/$kind/v=$v")
        h.exists(new Path(vp, "_EMPTY")) ||
          h.listStatus(vp).exists(_.getPath.getName.startsWith("_b="))
      }
    }

    def publish(kind: String, delta: DataFrame): Unit = {
      val hfs = fs(spark, stateDir)
      // PUBLISH-ONCE: a replay derives identical content — skip, and
      // leave GC for this kind to the next batch's publish. `resume`
      // keeps a torn bucket-wise compaction's finished buckets (see
      // below); every other shape overwrites the temp dir whole.
      val dest = new Path(s"$stateDir/$kind/v=$batchId")
      if (Ledger.publishOnce(hfs, dest, resume = true)(
          tmp => stage(kind, delta, tmp.toString))) {
        // GC: keep the two newest fulls and everything after the older
        // one (any replayed batch ≥ the older full can still fold)
        val vs = versions(spark, s"$stateDir/$kind").sorted
        val fulls = vs.filter(v => isFull(spark, s"$stateDir/$kind/v=$v"))
        if (fulls.length >= 2) {
          val keepFrom = fulls(fulls.length - 2)
          vs.filter(_ < keepFrom).foreach { v =>
            val dir = s"$stateDir/$kind/v=$v"
            hfs.delete(new Path(dir), true)
            // drop the deleted version's fullness memo (all stamps): the
            // targeted eviction that lets the LRU cap stay a backstop
            fullCache.synchronized {
              fullCache.keySet.removeIf(_.startsWith(dir + "@"))
            }
          }
        }
      }
    }

    // write one version of `kind` into the publish temp dir `tmp`
    def stage(kind: String, delta: DataFrame, tmp: String): Unit = {
      val hfs = fs(spark, stateDir)
      val full = wantFull(kind)
      // Bucket-wise only pays when there is a CHAIN to fold — its point
      // is bounding the fold's per-job read. On a chainless full (batch
      // 0 / first publish) the "fold" is just the delta itself, and B
      // per-bucket jobs over a corpus-sized cached delta would rescan it
      // B times; the single partitionBy write is strictly better there.
      val bucketwise = full &&
        chain(spark, s"$stateDir/$kind", batchId).nonEmpty &&
        chainAllBucketed(kind) &&
        (kind != "members" || kindVersions("members").exists(_ < batchId))
      if (bucketwise) {
        // BUCKET-WISE full: fold the chain one `_b` bucket at a time —
        // each fold job reads ~1/B of the state (directory-pruned) plus
        // the bucket's slice of this batch's delta, so compaction's peak
        // per-job input is bounded by the LARGEST BUCKET, not the corpus,
        // and a crashed compaction resumes (replays skip buckets whose
        // `_SUCCESS` already landed in the tmp dir — content is
        // deterministic, so reuse is sound). Folds run on a small thread
        // pool: Spark schedules the concurrent jobs independently, so
        // wall time stays ~B/threads × per-bucket instead of serial.
        val keys = foldKeys(kind)
        // repartition by `_b` BEFORE caching: the per-bucket filters
        // below then skip non-matching cached batches via in-memory
        // batch stats, so B filters of the delta cost ~O(delta) total
        // instead of B full cache scans (the shuffle is no extra cost —
        // the partitionBy write of the monolithic path pays it too)
        val deltaB = delta
          .withColumn("_b", bucketExpr(kind, b).cast("int"))
          .repartition(col("_b")).sortWithinPartitions("_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // pre-resolve this kind's chain on the caller thread — the
          // chainMemo map is not safe for concurrent first-resolution
          chainMemo.getOrElseUpdate(kind,
            resolveChain(spark, s"$stateDir/$kind", batchId, b))
          val chainBuckets = chain(spark, s"$stateDir/$kind", batchId)
            .flatMap { v =>
              hfs.listStatus(new Path(s"$stateDir/$kind/v=$v"))
                .map(_.getPath.getName).filter(_.startsWith("_b="))
                .flatMap(_.stripPrefix("_b=").toIntOption)
            }
          val deltaBuckets = deltaB.select(col("_b"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val active = (chainBuckets ++ deltaBuckets).distinct.sorted
          if (active.isEmpty) {
            deltaB.drop("_b").limit(0).write.mode("overwrite").parquet(tmp)
            hfs.createNewFile(new Path(tmp, "_EMPTY"))
          } else {
            hfs.mkdirs(new Path(tmp))
            val pool = java.util.concurrent.Executors
              .newFixedThreadPool(math.min(8, active.size))
            try {
              implicit val ec: scala.concurrent.ExecutionContext =
                scala.concurrent.ExecutionContext.fromExecutor(pool)
              val folds = active.map { bkt =>
                scala.concurrent.Future {
                  val bdir = s"$tmp/_b=$bkt"
                  if (!hfs.exists(new Path(bdir, "_SUCCESS")))
                    overlay(baseOf(kind, Some(Seq(bkt.toLong))),
                        deltaB.filter(col("_b") === lit(bkt)).drop("_b"),
                        keys)
                      .withColumn("removed", lit(false))
                      .write.mode("overwrite").parquet(bdir)
                }
              }
              scala.concurrent.Await.result(
                scala.concurrent.Future.sequence(folds),
                scala.concurrent.duration.Duration.Inf)
            } finally pool.shutdown()
            // top-level marker: versionStamp keys the fullness cache on
            // the _SUCCESS mtime, and per-bucket writes only leave
            // markers inside their own `_b=` dirs
            hfs.createNewFile(new Path(tmp, "_SUCCESS"))
          }
        } finally deltaB.unpersist()
      } else {
        // cache before probing emptiness: the probe is an action, and the
        // window-combined deltas (and a monolithic full's O(corpus) fold)
        // would otherwise execute twice — for isEmpty, then the write
        val df = (if (full) fullOf(kind) else delta)
          .withColumn("_b", bucketExpr(kind, b).cast("int"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // a zero-row partitioned write leaves no readable footer at
          // all — publish empty versions unpartitioned, marked `_EMPTY`
          // so bucket-wise eligibility can tell them from legacy layouts
          if (df.isEmpty) {
            df.write.mode("overwrite").parquet(tmp)
            hfs.createNewFile(new Path(tmp, "_EMPTY"))
          } else df.write.mode("overwrite").partitionBy("_b").parquet(tmp)
        } finally df.unpersist()
      }
      if (full) hfs.createNewFile(new Path(tmp, "_FULL"))
    }
    publish("labels", labelsOutDelta)
    publish("members", membersOutDelta)
    publish("buckets", bucketsOutDelta)
    publish("bands", bandsOutDelta)
    matched.unpersist()
    newBands.unpersist()
    newDocs.unpersist()
  }

  /** Wire a stream of (doc_id, text[, op]) rows into the maintained
    * clusters. `stateBuckets` only matters on the FIRST batch of a fresh
    * state dir — the layout is persisted there and later merges read it
    * back — so the production entry point must be able to set it (64 is
    * far too coarse for a corpus whose touched-bucket sets should stay
    * small relative to B). */
  def maintain(docs: DataFrame, stateDir: String,
               checkpoint: String, compactEvery: Int = 8,
               stateBuckets: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, stateDir, compactEvery,
          stateBuckets)
      }
      .start()
}
