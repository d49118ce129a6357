package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** THE generation lifecycle for on-disk index artifacts — one home for
  * the `gen=N/` + `CURRENT` discipline that the IVF index (VectorOps),
  * the postings artifact (Retrieval), and the adjacency artifact
  * (GraphArtifact) all follow; previously three hand-rolled copies
  * whose subtle differences (pointer-flip atomicity, which superseded
  * generation gets the deletion grace) were exactly the kind of drift
  * a shared helper exists to prevent.
  *
  * Contract:
  *  - a generation dir `gen=N/` is complete iff its `sentinel` file
  *    exists (writers land the sentinel LAST, so existence ⟹
  *    completeness — the ledger convention);
  *  - `CURRENT` is a one-line pointer naming the served generation,
  *    flipped by [[Ledger.replaceSmall]];
  *  - [[publish]] GCs old generations EXCEPT the one it just
  *    superseded, which gets a grace of one full publish cycle: a
  *    reader that resolved the pointer an instant before the flip may
  *    still be opening the outgoing generation's files, and at cluster
  *    scale "an instant" is a whole multi-minute probe job.
  *    Unreferenced partials (crashed mid-write, never current) carry no
  *    such risk and are collected immediately;
  *  - [[expire]] is the explicit end of the grace window (call when
  *    in-flight readers have provably drained — deployment policy, not
  *    engine policy).
  */
final class GenStore(val sentinel: String, val what: String,
    val buildHint: String) {
  val pointer: String = "CURRENT"

  private def hfsOf(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def readPointer(s: SparkSession, root: String): Option[String] =
    Ledger.readSmall(hfsOf(s, root), new Path(root, pointer))

  /** Directory of the CURRENT generation. Fails loudly on a missing
    * pointer (not an artifact) or a torn generation (the pointer names
    * a dir whose sentinel never landed). */
  def genDir(s: SparkSession, root: String): String = {
    val gen = readPointer(s, root).getOrElse(throw new IllegalStateException(
      s"no complete $what at $root (missing $pointer pointer file) — " +
        buildHint))
    val dir = s"$root/$gen"
    if (!hfsOf(s, root).exists(new Path(dir, sentinel)))
      throw new IllegalStateException(
        s"torn $what at $root: $pointer names $gen but its $sentinel " +
          "is missing — refusing to serve a partial generation")
    dir
  }

  /** Next unused `gen=N` name (monotone over every dir ever created,
    * including unreferenced partials — names are never reused, so a
    * stale reader can never alias a new build). */
  def nextGenName(s: SparkSession, root: String): String = {
    val hfs = hfsOf(s, root)
    val base = new Path(root)
    val next =
      if (!hfs.exists(base)) 0L
      else hfs.listStatus(base).map(_.getPath.getName)
        .collect { case g if g.startsWith("gen=") =>
          g.stripPrefix("gen=").toLong }
        .foldLeft(-1L)(math.max) + 1L
    s"gen=$next"
  }

  /** Atomic pointer flip to `genName`, then GC — see the class doc for
    * the grace semantics. */
  def publish(s: SparkSession, root: String, genName: String): Unit = {
    val hfs = hfsOf(s, root)
    val prev = readPointer(s, root) // outgoing generation, pre-flip
    Ledger.replaceSmall(hfs, new Path(root, pointer), genName)
    hfs.listStatus(new Path(root)).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("gen=") && p.getName != genName &&
          !prev.contains(p.getName)
      }
      .foreach(p => hfs.delete(p, true))
    s.catalog.refreshByPath(root)
  }

  /** Drop every generation except CURRENT. Returns the count deleted. */
  def expire(s: SparkSession, root: String): Int = {
    val current = new Path(genDir(s, root)).getName
    val hfs = hfsOf(s, root)
    val doomed = hfs.listStatus(new Path(root)).map(_.getPath)
      .filter(p => p.getName.startsWith("gen=") && p.getName != current)
    doomed.foreach(p => hfs.delete(p, true))
    doomed.length
  }
}
