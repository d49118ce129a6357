package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.Ledger

/** Persisted adjacency artifact for the graph family: the edge-list
  * analog of the postings artifact (Retrieval) and the IVF index
  * (VectorOps) — a bucketed, versioned, exactly-once-appendable store
  * the centrality/cohesion operators read instead of re-deriving the
  * graph from raw interactions per run.
  *
  * Layout (the `gen=`/CURRENT discipline of [[graft.sources.GenStore]],
  * applied to adjacency): `gen=N/base/bucket=K/` holds the bootstrap
  * adjacency, `gen=N/appends/<tag>/` the committed deltas (`data/` =
  * added edges, `deletes/` = tombstoned edges), `CURRENT` the atomic
  * generation pointer. Each undirected edge is stored as BOTH
  * orientations, bucketed by `pmod(xxhash64(src), nBuckets)`, so a
  * node-set restriction ([[adjacencyFor]]) reads only the bucket
  * directories its nodes hash to (partition filter), the
  * adjacency-list convention at 2× the storage.
  *
  * Merge semantics are LSM: appends never look at the accumulated
  * corpus — per-batch publish cost is O(batch), NOT O(graph), which is
  * the property that keeps a 100 TB interaction stream maintainable —
  * and readers resolve duplicates by LATEST-LAYER-WINS (layer = tag
  * sort order, zero-padded batch ids under streaming): an edge exists
  * iff the newest layer mentioning it is an add. Re-adds resurrect,
  * deletes tombstone, history compacts away at the next [[writeEdges]]
  * rebuild (which a concurrent reader survives via the generation
  * grace, same as postings).
  */
object GraphArtifact {
  private val MetaName = "_graft_graph_meta"
  // generation lifecycle lives in the shared GenStore (one home for
  // the gen=/CURRENT discipline across IVF, postings and edges); the
  // meta sidecar lands last, so it doubles as the completeness sentinel
  private val gens = new graft.sources.GenStore(MetaName, "edge artifact",
    "build one with GraphArtifact.writeEdges(edges, dir)")

  private def hfsOf(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Directory of the CURRENT generation (public: specs and probes
    * resolve it to assert pruning and grace behavior). */
  def edgesGenDir(s: SparkSession, dir: String): String = gens.genDir(s, dir)

  /** Normalize (src, dst) rows to the stored shape: undirected simple
    * (self-loops dropped, exact duplicates collapsed), BOTH
    * orientations, bucketed by source. */
  private def adjacency(edges: DataFrame, nBuckets: Int): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .withColumn("bucket", pmod(xxhash64(col("src")), lit(nBuckets.toLong)))
      .repartitionByRange(col("bucket"), col("src"))
  }

  /** Build (or REBUILD — which is the compaction: appended history and
    * tombstones of the superseded generation are gone) the artifact
    * from a full edge set. */
  def writeEdges(edges: DataFrame, dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"GraphArtifact: bad nBuckets $nBuckets")
    val s = edges.sparkSession
    val hfs = hfsOf(s, dir)
    val genName = gens.nextGenName(s, dir)
    val genDir = s"$dir/$genName"
    adjacency(edges, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$genDir/base")
    val out = hfs.create(new Path(genDir, MetaName), true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    gens.publish(s, dir, genName)
  }

  private def readNBuckets(s: SparkSession, genDir: String): Int = {
    val hfs = hfsOf(s, genDir)
    val in = hfs.open(new Path(genDir, MetaName))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Exactly-once append of an edge delta: `adds` come into existence,
    * `deletes` tombstone every EARLIER layer's version of those edges
    * (rows added by this same batch survive — add wins within a tag,
    * but see the conflict contract below). Published once
    * ([[graft.sources.Ledger.publishOnce]]); the tag dir's existence is
    * the committed marker, so a replayed batch skips (returns false).
    * Tags must sort in batch order (zero-padded ids — the layer order IS
    * tag order).
    *
    * Conflict contract: the SAME edge in both `adds` and `deletes` of
    * one call has no deterministic winner and is refused loudly before
    * any publish. */
  def appendEdges(adds: DataFrame, dir: String, tag: String,
      deletes: Option[DataFrame] = None): Boolean = {
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9_\\-]+"),
      s"GraphArtifact: append tag must be [A-Za-z0-9_-]+, got `$tag`")
    val s = adds.sparkSession
    val genDir = edgesGenDir(s, dir)
    val nBuckets = readNBuckets(s, genDir)
    Ledger.publishOnce(hfsOf(s, dir), new Path(genDir, s"appends/$tag")) { tmp =>
      // normalize each delta ONCE (delta-sized checkpoints): the clash
      // check, emptiness probe, and bucketed writes all re-read these
      // instead of re-deriving the caller's batch plan per consumer
      val addAdj = adjacency(adds, nBuckets).localCheckpoint(true)
      val delAdj =
        deletes.map(d => adjacency(d, nBuckets).localCheckpoint(true))
      delAdj.foreach { d =>
        val clash = addAdj.select(col("src"), col("dst"))
          .join(d.select(col("src"), col("dst")), Seq("src", "dst"))
          .limit(1).collect()
        if (clash.nonEmpty)
          throw new IllegalStateException(
            s"GraphArtifact: batch `$tag` both adds and deletes edge " +
              s"(${clash.head.getLong(0)}, ${clash.head.getLong(1)}) — " +
              "no deterministic winner exists within one batch; refusing " +
              "before publish")
      }
      addAdj.write.partitionBy("bucket").parquet(s"$tmp/data")
      delAdj.foreach { slim =>
        // written only when non-empty: the dir's existence is the probe's
        // has-tombstones signal, so delete-free appends cost no join
        if (!slim.isEmpty)
          slim.write.partitionBy("bucket").parquet(s"$tmp/deletes")
      }
    }
  }

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("bucket", LongType)))

  /** All layers of the CURRENT generation as (src, dst, bucket, layer,
    * is_add): base = layer 0, committed appends in tag order. The
    * appends listing is a bounded driver directory list (tag count),
    * never data. */
  private def layered(s: SparkSession, genDir: String): DataFrame = {
    val hfs = hfsOf(s, genDir)
    val appends = new Path(genDir, "appends")
    val tags =
      if (!hfs.exists(appends)) Array.empty[String]
      else hfs.listStatus(appends).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).sorted
    val base = s.read.schema(edgeSchema).parquet(s"$genDir/base")
      .withColumn("layer", lit(0L)).withColumn("is_add", lit(true))
    tags.zipWithIndex.foldLeft(base) { case (acc, (tag, i)) =>
      val l = i + 1L
      val d = s.read.schema(edgeSchema)
        .parquet(s"$genDir/appends/$tag/data")
        .withColumn("layer", lit(l)).withColumn("is_add", lit(true))
      val withDel =
        if (hfs.exists(new Path(genDir, s"appends/$tag/deletes")))
          d.union(s.read.schema(edgeSchema)
            .parquet(s"$genDir/appends/$tag/deletes")
            .withColumn("layer", lit(l)).withColumn("is_add", lit(false)))
        else d
      acc.union(withDel)
    }
  }

  /** Latest-layer-wins resolution: an edge exists iff the newest layer
    * mentioning it is an add. One map-side-combining aggregate; the
    * (layer, is_add) max-struct is well-defined because one layer never
    * carries both ops for an edge (the append conflict contract). */
  private def resolve(all: DataFrame): DataFrame =
    all.groupBy(col("src"), col("dst"))
      .agg(max(struct(col("layer"), col("is_add"))).as("m"))
      .filter(col("m.is_add"))
      .select(col("src"), col("dst"))

  /** The current undirected edge set (a < b) — what the batch operators
    * consume ([[GraphOps.pagerank]], [[GraphAlgos.kCore]], ...). Both
    * orientations are stored, so filtering to the canonical one after
    * resolution yields each edge exactly once. */
  def readEdges(s: SparkSession, dir: String): DataFrame =
    resolve(layered(s, edgesGenDir(s, dir)))
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))

  /** Committed append tags of the CURRENT generation — the overlay
    * chain length a maintenance policy bounds (every [[readEdges]]
    * resolve unions base + ALL committed appends, so read amplification
    * grows linearly with this number until a [[writeEdges]] rebuild). */
  def chainLength(s: SparkSession, dir: String): Int =
    coverage(s, dir)._2.length

  /** Coverage snapshot: (generation name, committed append tags in
    * layer order). A derived artifact ([[RankArtifact]]) records this to
    * know what it was computed from — take it BEFORE reading the edges,
    * so a racing append reads as stale, never as silently included. */
  def coverage(s: SparkSession, dir: String): (String, Seq[String]) = {
    val genDir = edgesGenDir(s, dir)
    val hfs = hfsOf(s, genDir)
    val appends = new Path(genDir, "appends")
    val tags =
      if (!hfs.exists(appends)) Seq.empty[String]
      else hfs.listStatus(appends).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).sorted.toSeq
    (new Path(genDir).getName, tags)
  }

  /** The resolved adjacency, BOTH orientations — (src, dst), each
    * undirected edge twice. The directed expansion the rank recurrence
    * runs on (every node has out-edges by construction, so the
    * dangling-mass term vanishes — see [[RankArtifact]]). */
  def readAdjacency(s: SparkSession, dir: String): DataFrame =
    resolve(layered(s, edgesGenDir(s, dir)))

  /** Node-set size above which [[adjacencyFor]] restricts with a
    * shuffled semi-join instead of a forced broadcast: a broadcast
    * HashedRelation of long keys runs ~16 bytes/row plus driver copies,
    * so 2M ids ≈ 32 MB — comfortably under executor broadcast budgets —
    * while an UNGATED `broadcast()` hint of a multi-hop dirty ball
    * would OOM the driver before any downstream cap could trigger.
    * Override via `spark.graft.graph.broadcastMaxNodes`. */
  val BroadcastMaxNodesKey = "spark.graft.graph.broadcastMaxNodes"
  val BroadcastMaxNodesDefault: Long = 2000000L

  /** Resolved adjacency rows whose src is in `nodes` (single column
    * `node`) — reads ONLY the buckets those nodes hash to (partition
    * pruning; the bucket-id collect is bounded by nBuckets) and, the
    * part that matters when the node set spans many buckets, restricts
    * BEFORE resolving: a src restriction keeps every (src, dst) group
    * whole, so latest-layer-wins over the restricted rows is exact —
    * the resolution shuffle is O(restricted rows), never O(artifact).
    * (Measured at the 64× probe: resolve-then-join made an incremental
    * rank refresh cost as much as the full recompute it replaces.)
    *
    * `nodeCount`, when the caller already knows it (the refresh loop
    * counts its ball every hop anyway), gates the restriction join:
    * at or under [[BroadcastMaxNodesDefault]] the node set rides a
    * broadcast semi-join; above it a plain (shuffled) semi-join — a
    * forced broadcast of an arbitrarily large set is exactly the
    * driver/executor OOM the rank refresh's ball cap exists to prevent.
    * With no count given the hint is left to Spark's own sizing (no
    * forced broadcast: an unhinted unknown-size set must not be able
    * to reintroduce the OOM the gate exists for). */
  def adjacencyFor(s: SparkSession, dir: String, nodes: DataFrame,
      nodeCount: Option[Long] = None): DataFrame = {
    val genDir = edgesGenDir(s, dir)
    val nBuckets = readNBuckets(s, genDir)
    val bks = nodes
      .select(pmod(xxhash64(col("node")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val maxB = s.conf.getOption(BroadcastMaxNodesKey).map(_.toLong)
      .getOrElse(BroadcastMaxNodesDefault)
    val keys = nodes.select(col("node").as("src"))
    val keyed =
      if (nodeCount.exists(_ <= maxB)) broadcast(keys) // known-small
      else keys // too big or unknown: Spark's own stats decide
    resolve(layered(s, genDir).filter(col("bucket").isin(bks: _*))
      .join(keyed, Seq("src"), "left_semi"))
  }

  /** Distinct endpoints mentioned (as add OR delete) by the given
    * committed append tags — the touched set an incremental consumer
    * re-derives from. Both orientations are stored, so `src` alone
    * covers every endpoint. */
  def touchedBy(s: SparkSession, dir: String,
      tags: Seq[String]): DataFrame = {
    val genDir = edgesGenDir(s, dir)
    val hfs = hfsOf(s, genDir)
    val parts = tags.flatMap { tag =>
      val d = s"$genDir/appends/$tag/data"
      val del = s"$genDir/appends/$tag/deletes"
      Seq(d) ++ (if (hfs.exists(new Path(del))) Seq(del) else Nil)
    }
    require(parts.nonEmpty, "GraphArtifact.touchedBy: no tags given")
    parts.map(p => s.read.schema(edgeSchema).parquet(p))
      .reduce(_ union _)
      .select(col("src").as("node")).distinct()
  }
}
