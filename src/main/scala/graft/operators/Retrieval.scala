package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Tables

/** Positional-postings phrase search (SURVEY.md §2.11 extension).
  *
  * The retrieval primitive the text stack lacked: exact phrase match
  * ("these k tokens, consecutively") over a tokenized corpus. BM25 (q89)
  * ranks bags of words; decontamination (q53) gates on n-gram overlap;
  * neither can answer "which documents contain THIS exact phrase, and
  * where" — the query every eval-leak audit and quote-tracing pass runs.
  *
  * Shape: ONE pass over the postings — never k self-joins of the corpus.
  * Each posting row (doc, pos, term) joins the BROADCAST phrase table
  * (term, idx) — the join both filters (terms outside the phrase drop;
  * at 100 TB this is the partition-pruned read of a persisted posting
  * table, the same artifact discipline as the IVF index) and tags each
  * hit with every phrase slot its term fills (a phrase with repeated
  * terms tags one posting several times — correct, they anchor different
  * candidate starts). A candidate start is `anchor = pos - idx`; a true
  * match is an anchor covered by ALL k slots. Since (doc, pos) is unique,
  * (doc, anchor, idx) is unique, so `count(*) = k` per (doc, anchor) is
  * exactly "all k slots present" — no distinct needed. Both groupBys
  * partial-aggregate map-side; nothing wider than the tagged hits (≈ the
  * phrase terms' posting lists) ever shuffles.
  *
  * Tokenization: whitespace split, empties dropped, positions indexed in
  * the FILTERED token stream — identical on the oracle side
  * (`list_filter(string_split(...))` + pairwise unnest).
  */
object Retrieval {

  /** Positional postings (doc_id, pos, term) — pos is the 0-based index
    * in the empty-filtered whitespace token stream, LongType. */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(filter(split(col("text"), " "), w => w =!= lit(""))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("term"))

  /** Docs containing `phrase` as consecutive tokens: one row per matching
    * doc with the occurrence count and first match position. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    requirePhrase(phrase)
    val spark = docs.sparkSession
    import spark.implicits._
    val k = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("term", "idx")
    anchorAgg(postings(docs).join(broadcast(slots), "term"), k)
  }

  private def requirePhrase(phrase: Seq[String]): Unit = {
    require(phrase.nonEmpty, "Retrieval: empty phrase")
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"Retrieval: phrase tokens must be non-empty and whitespace-free, " +
        s"got ${phrase.mkString("[", ", ", "]")}")
  }

  /** The shared tail of both search paths: slot-tagged hits → per-anchor
    * coverage count → per-doc hits. Input must carry (doc_id, pos, idx). */
  private def anchorAgg(tagged: DataFrame, k: Int): DataFrame =
    tagged
      .select(col("doc_id"), (col("pos") - col("idx")).as("anchor"))
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === lit(k.toLong))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))

  // ─── persisted posting-table artifact ───
  //
  // Versioned-generation layout (the IVF-index discipline,
  // VectorOps.scala `gen=`/CURRENT, applied to text — closing the
  // round-12d "no generation scheme" caveat): a generation directory
  // `gen=N/` holds the bucketed base postings and the bucket-count
  // meta TOGETHER; `CURRENT` is a one-line pointer file naming the live
  // generation. A rebuild writes the next
  // `gen=N+1/` fully — its meta sidecar last, so the meta IS the
  // completeness manifest — then publishes by atomically renaming a
  // fresh pointer over `CURRENT`. Readers resolve the pointer first, so
  // a probe concurrent with a rebuild sees either the old generation or
  // the new one COMPLETE — never a torn mix, and never the
  // missing-meta crash the delete-then-write layout could produce. The
  // superseded generation gets a deletion grace of one publish cycle
  // (a reader that resolved the pointer just before the flip may still
  // be opening its files — at cluster scale that window is a whole
  // probe job), and the publish after that reclaims it. Crashed partial
  // builds are unreferenced (max+1 numbering never reuses a name) and
  // GC'd by the next successful publish.

  private val MetaName = "_graft_postings_nbuckets"
  // generation lifecycle lives in the shared GenStore (one home for the
  // gen=/CURRENT discipline across IVF, postings and edges); the meta
  // sidecar lands last, so it doubles as the completeness sentinel
  private val gens =
    new graft.sources.GenStore(MetaName, "postings artifact",
      "build one with Retrieval.writePostings(docs, dir)")

  /** A committed append layer — not a publish still in flight (hidden). */
  private def committedLayer(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isDirectory && !st.getPath.getName.startsWith(".")

  private def hfsOf(s: SparkSession, path: String) =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Directory of the CURRENT postings generation (public: specs and
    * probes inspect the physical layout through it). Fails loudly on a
    * missing pointer (not an artifact) or a torn generation (pointer
    * names a dir whose meta manifest never landed). */
  def postingsGenDir(s: SparkSession, dir: String): String =
    gens.genDir(s, dir)

  /** Persist the postings as a term-hash-bucketed parquet artifact: the
    * production home of phrase search at 100 TB — built once, probed by
    * every query, and a probe READS ONLY its phrase terms' buckets
    * (partition pruning on `bucket=` dirs; the IVF-index discipline
    * applied to text). Layout inside the generation dir:
    * `base/bucket=N/`. `repartitionByRange(bucket, term)` keeps it at
    * ~nBuckets + tasks part-files instead of nBuckets × tasks (the q12b
    * index-layout lesson). The bucket count travels WITH the generation
    * (meta sidecar written last = completeness manifest) — a probe can
    * never silently prune with the wrong modulus. A rebuild writes a
    * fresh generation and atomically flips the pointer — concurrent
    * readers keep the old one for a grace cycle. */
  def writePostings(docs: DataFrame, dir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"Retrieval: bad nBuckets $nBuckets")
    val s = docs.sparkSession
    val hfs = hfsOf(s, dir)
    // migration: a pre-generation flat artifact (meta at the root, no
    // pointer) has no gen-aware readers — clear it so the root holds
    // only generation dirs + pointer from here on
    if (!hfs.exists(new Path(dir, gens.pointer)) &&
        hfs.exists(new Path(dir, MetaName)))
      hfs.delete(new Path(dir), true)
    val genName = gens.nextGenName(s, dir)
    val genDir = s"$dir/$genName"
    bucketedPostings(docs, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$genDir/base")
    val out = hfs.create(new Path(genDir, MetaName), true)
    try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    gens.publish(s, dir, genName)
  }

  private def bucketedPostings(docs: DataFrame, nBuckets: Int): DataFrame =
    postings(docs)
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .repartitionByRange(col("bucket"), col("term"))

  private def readNBuckets(s: SparkSession, genDir: String): Int = {
    val meta = new Path(genDir, MetaName)
    val hfs = meta.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = hfs.open(meta)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  private val postingSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", LongType),
    StructField("term", StringType), StructField("bucket", LongType)))
  private val deleteSchema = StructType(Seq(StructField("doc_id", LongType)))

  /** [[phraseSearch]] against a written postings artifact: reads only
    * the buckets the phrase's terms hash to (≤ k of nBuckets — every
    * scan carries partition filters, spec-pinned) across the base layout
    * plus every COMMITTED append of the CURRENT generation, applies the
    * appends' tombstones (a delete in append layer j shadows the doc's
    * rows in layers < j; layer = position in tag-sorted commit order),
    * then runs the same broadcast-slot anchor aggregation. The appends
    * listing is a driver directory list bounded by the append count,
    * never data; the tombstone join reads only the delta-sized delete
    * sets and is skipped entirely when no append carries one. */
  def phraseSearchStored(spark: SparkSession, dir: String,
      phrase: Seq[String]): DataFrame = {
    requirePhrase(phrase)
    import spark.implicits._
    val genDir = postingsGenDir(spark, dir)
    val nBuckets = readNBuckets(spark, genDir)
    val k = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("term", "idx")
      .withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    // bounded collect: ≤ k bucket ids — becomes the partition filter
    val buckets = slots.select(col("bucket")).distinct()
      .as[Long].collect().toSeq
    val live = storedLive(spark, genDir, buckets)
    anchorAgg(live.join(broadcast(slots), Seq("term", "bucket")), k)
  }

  /** The LIVE posting rows of the CURRENT generation — base + every
    * committed append, the appends' tombstones applied (a delete in
    * append layer j shadows the doc's rows in layers < j; layer = tag
    * sort order). Every layer's scan is pruned to the `buckets`
    * partitions. No writer in this library produces
    * `appends/` any more; a generation written by an earlier release
    * may still carry committed appends and their tombstones. */
  private def storedLive(spark: SparkSession, genDir: String,
      buckets: Seq[Long]): DataFrame = {
    val hfs = hfsOf(spark, genDir)
    val appendsRoot = new Path(genDir, "appends")
    // tag-sorted commit order defines tombstone layering; the listing is
    // bounded by the append count (driver metadata, never data)
    val appendDirs =
      if (hfs.exists(appendsRoot))
        hfs.listStatus(appendsRoot).filter(committedLayer)
          .map(_.getPath).toSeq.sortBy(_.getName)
      else Seq.empty[Path]
    // explicit schema so an empty append (no files at all) reads as an
    // empty relation instead of failing schema inference
    val layers: Seq[(String, Long)] =
      (s"$genDir/base", 0L) +:
        appendDirs.zipWithIndex.map { case (p, i) =>
          (s"$p/data", i + 1L) }
    val rows = layers.map { case (p, l) =>
      spark.read.schema(postingSchema).parquet(p)
        .withColumn("layer", lit(l)) }
      .reduce(_ unionByName _)
      .filter(col("bucket").isin(buckets: _*))
    val delDirs = appendDirs.zipWithIndex.collect {
      case (p, i) if hfs.exists(new Path(p, "deletes")) =>
        (s"$p/deletes", i + 1L) }
    val live =
      if (delDirs.isEmpty) rows
      else {
        // per-doc max tombstone layer (delta-sized, parquet-backed so
        // stats drive a broadcast while it is small — the IVF tombstone
        // convention); a row survives iff no LATER layer deleted its
        // doc — its own layer's re-post wins
        val dmax = delDirs.map { case (p, l) =>
          spark.read.schema(deleteSchema).parquet(p)
            .withColumn("dlayer", lit(l)) }
          .reduce(_ unionByName _)
          .groupBy(col("doc_id")).agg(max(col("dlayer")).as("dmax"))
        rows.join(dmax, Seq("doc_id"), "left")
          .filter(col("dmax").isNull || col("layer") >= col("dmax"))
      }
    live.select(col("doc_id"), col("pos"), col("term"), col("bucket"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact-phrase audit over the corpus: a trigram phrase present at
    // every test SF (sf0.001/0.01/0.1 alike; the multi-occurrence law is
    // pinned by RetrievalSpec's micro corpus). Oracle = the naive k-way
    // positional self-join — the SEMANTIC spec of "consecutive tokens";
    // the operator's single-scan anchor aggregation must reproduce it
    // exactly.
    "q121_phrase_search" -> ((s, d) =>
      phraseSearch(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq("query", "big", "part"))
        .orderBy(col("doc_id"))),

    // The stored-artifact path: build the bucketed posting table, then
    // probe it — the probe's scan reads only the 3 terms' buckets of 64
    // (partition filters, pinned by RetrievalSpec). Same result law as
    // q121; the artifact is invisible in the output, so the oracle is
    // the same naive positional join on a second all-SF phrase.
    "q123_phrase_stored" -> ((s, d) => {
      val dir = s"/tmp/graft_postings_${new java.io.File(d).getName}"
      writePostings(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        dir, nBuckets = 64)
      phraseSearchStored(s, dir, Seq("join", "part", "filter"))
        .orderBy(col("doc_id"))
    }))

  def oracle: Map[String, String] = Map(
    "q121_phrase_search" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(ws) AS term,
             CAST(unnest(range(len(ws))) AS BIGINT) AS pos
           FROM d)
         SELECT t0.doc_id, count(*) AS n_hits, min(t0.pos) AS first_pos
         FROM toks t0
         JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
         JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
         WHERE t0.term = 'query' AND t1.term = 'big' AND t2.term = 'part'
         GROUP BY t0.doc_id ORDER BY t0.doc_id""",

    "q123_phrase_stored" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(ws) AS term,
             CAST(unnest(range(len(ws))) AS BIGINT) AS pos
           FROM d)
         SELECT t0.doc_id, count(*) AS n_hits, min(t0.pos) AS first_pos
         FROM toks t0
         JOIN toks t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
         JOIN toks t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
         WHERE t0.term = 'join' AND t1.term = 'part' AND t2.term = 'filter'
         GROUP BY t0.doc_id ORDER BY t0.doc_id""")
}
