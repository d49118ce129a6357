package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.functions.{TextFns => T}

/** Text-analysis and deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline extensions (SURVEY.md §2.11).
  *
  * Scale posture: everything before a dedup groupBy/join is map-only
  * (tokenize/shingle/hash are per-row HOF expressions). MinHash-LSH turns
  * the O(n²) near-dup problem into groupBy(band_key) — candidate pairs are
  * generated only inside buckets, which is the standard web-scale design
  * (cf. Broder's shingling + LSH banding). All hashes are md5 so the DuckDB
  * oracle can reproduce signatures exactly.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** MinHash-LSH candidate pairs (the q35 plan; q58 rebuilds the same
    * banding over signature-group representatives instead — the full pair
    * list is q35's OUTPUT, so it cannot collapse duplicates, while q58's
    * cluster output can): fused
    * signature UDF → persisted+materialized (both self-join sides read the
    * cache) → slim band self-join → distinct pairs. */
  private def minhashCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val sig = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), T.minhashSigUdf(3, 8)(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .persist()
    sig.count()
    val bands = sig.select(col("doc_id"),
        explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** SimHash near-dup pair list (q48's discovery engine): documents plus
    * planted exact duplicates (doc_id+1e6 for every 10th doc) → fused
    * 64-bit fingerprint UDF (shingle → xxhash64 → bit-votes in ONE pass:
    * the staged column form needed two persisted intermediates and 64
    * aggregate() traversals per row, and the self-join's two scans raced to
    * recompute them — measured 17.4 s vs 0.9 s) → 4×16-bit band self-join →
    * exact hamming ≤ 3 → distinct pairs. The tiny (doc_id, fp) table is
    * materialized before the join so both sides read the cache. Returns
    * (doc_a, doc_b) including NATURAL near-dup pairs, which are corpus- and
    * hash-engine-specific — hence the registered q48 query audits planted
    * recall instead (oracle-exact), and TextFnsSpec property-checks this
    * full list. */
  def simhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = base.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val fp = Tables.spread(base.union(planted))
      .select(col("doc_id"), T.simhashFpUdf(3)(col("text")).as("fp"))
      .filter(col("fp").isNotNull)
      .persist()
    fp.count()
    val bands = fp.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey",
        expr("(fp >> (band * 16)) & 65535"))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(T.hamming64(col("a.fp"), col("b.fp")) <= 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Connected components by iterative min-label propagation over a
    * SYMMETRIZED edge list (a,b) — the simple form of the large-star/
    * small-star MapReduce CC algorithm. Returns (node, label) where label
    * = the component's minimum node id; nodes absent from `edges` are
    * absent from the result (callers default them to self). Driver-side
    * iteration is ONLY the convergence loop — each step is a distributed
    * join+groupBy, and near-dup components are tiny cliques, so the loop
    * runs 1-3 times regardless of corpus size (bounded by component
    * diameter, not data volume). Each iteration localCheckpoints to
    * TRUNCATE PLAN LINEAGE: persist() alone keeps the full logical plan,
    * which embeds the previous iteration twice (join + union) and grows
    * exponentially (the GraphX/Pregel shape; on a real cluster use
    * reliable checkpoint(dir) for executor-loss tolerance).
    *
    * Implemented as alternating LARGE-STAR / SMALL-STAR edge rewrites
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * large-star hangs every larger neighbor of a node onto the node's
    * neighborhood minimum; small-star does the same for smaller
    * neighbors. Each round is two groupBy+join passes over the edge
    * list, and the edge set provably converges to per-component STARS
    * (every node → component minimum) in O(log n) rounds on ANY graph
    * shape. This replaced plain min-label propagation, which is
    * O(diameter) and was measured still unconverged after 15 rounds on
    * the collision-heavy synthetic corpus at sf0.1 (long chain
    * components; a pointer-jumping variant stalls the same way on
    * local-minimum barriers — validated in simulation). Convergence =
    * edge-set fixpoint, detected by count + order-independent hash
    * checksum; non-convergence inside the generous cap throws — loudly
    * wrong beats silently-truncated clusters. */
  def minLabelPropagate(edges: DataFrame,
      localMaxEdges: Long = 1L << 20): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    // SIZE-GATED LOCAL FAST PATH: after canonicalization the edge list of
    // a near-dup rep-graph is tiny relative to the corpus (sf0.1: a few
    // thousand rows after signature pre-collapse), yet every distributed
    // star round pays ~6 shuffle stages of fixed scheduling cost —
    // measured ~0.4 s/round × 6 rounds of pure overhead at local[32].
    // Below the gate (1M edges — a few hundred MB of DRIVER heap once
    // collect()'s Row objects, the boxed union-find map, and the output
    // buffer are counted, so sized like a conservative broadcast
    // threshold, not like raw longs) we collect the canonical edges and
    // run union-find on the driver: identical labels (component
    // minimum), microseconds of CPU. Above the gate — the 100 TB shape —
    // the distributed O(log n) star loop below runs unchanged; the
    // property spec pins both paths against each other.
    // lazy + immediate count: the size-gate count is a full scan, so it
    // doubles as the checkpoint materializer (one job, the CC loop's own
    // checksum-fusion discipline)
    val canonEdges = canon(edges.select(col("a").as("u"), col("b").as("v")))
      .transform(Iterate.ckptFused)
    if (canonEdges.count() <= localMaxEdges)
      return localUnionFind(canonEdges)
    var e = canonEdges
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val m = sym.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      canon(sym.join(m, "x").filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is canonical (u > v): every neighbor under key u is smaller
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val fromN = e.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val fromU = m.select(col("u"), col("m").as("v"))
      canon(fromN.union(fromU))
    }
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      // decimal sum: ANSI mode makes a Long sum of 2^63-range hashes throw
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO))).first()
      (r.getLong(0), r.getDecimal(1))
    }
    var prev = checksum(e)
    var converged = false
    var iter = 0
    while (!converged && iter < 60) {
      val e2 = smallStar(largeStar(e)).transform(Iterate.ckptFused)
      val c2 = checksum(e2) // materializes e2's checkpoint in the same job
      converged = c2 == prev
      prev = c2
      e = e2
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components failed to converge in $iter rounds")
    // fixpoint edges are stars: (node, componentMin) — plus the root
    // labeling itself
    e.select(col("u").as("node"), col("v").as("label"))
      .union(e.select(col("v").as("node"), col("v").as("label")))
      .groupBy(col("node")).agg(min(col("label")).as("label"))
  }

  /** Driver-side union-find over a collected canonical edge list — the
    * sub-gate resolver for [[minLabelPropagate]]. Union-by-minimum with
    * path compression, so every root IS its component's minimum node id
    * and the labeling is bit-identical to the distributed star fixpoint. */
  private def localUnionFind(canonEdges: DataFrame): DataFrame = {
    val spark = canonEdges.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    val rows = canonEdges.collect()
    rows.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // emit (node, root) for every node seen in an edge
    val seen = new java.util.HashSet[Long]()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    rows.foreach { row =>
      Seq(row.getLong(0), row.getLong(1)).foreach { v =>
        if (seen.add(v)) buf += ((v, find(v)))
      }
    }
    import spark.implicits._
    spark.sparkContext.parallelize(buf.toSeq,
      math.max(1, buf.length / 500000)).toDF("node", "label")
  }

  /** Near-dup cluster assignment over an arbitrary (doc_id, text) corpus —
    * the q58 engine, shared by the batch queries that cluster documents.
    * Returns (doc_id, cluster), unordered.
    *
    * PRE-DEDUP BY SIGNATURE GROUP before the band join: identical
    * signatures (exact copies, and near-dups that collide on all 8
    * minhashes) agree on every band, so a same-sig group is one clique.
    * Collapsing each group to its min-doc_id representative BEFORE the
    * band self-join makes the pair enumeration quadratic in the number of
    * DISTINCT signatures, not documents — on a duplicate-heavy corpus
    * (the dedup workload by definition) that is the difference between
    * O(groups²·bucket) and O(docs²·bucket). Components and component
    * minima are preserved exactly: each rep is its group's minimum, a
    * group's members connect only through their rep's buckets, and
    * min-over-component = min-over-reps — so the output (and the DuckDB
    * reachability oracle, which runs on the full doc graph) is
    * bit-identical to the uncollapsed form. One shuffle does the whole
    * collapse: window-min over the exact signature key (a groupBy +
    * join-back would shuffle the signatures twice). */
  def clusterAssignments(docs: DataFrame): DataFrame = {
    val wSig = Window.partitionBy(col("skey"))
    val sigKeyed = docs
      .select(col("doc_id"), T.minhashSigUdf(3, 8)(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .withColumn("skey", concat_ws(",", col("sig"))) // exact group key
      .withColumn("rep", min(col("doc_id")).over(wSig))
      .persist()
    sigKeyed.count() // materialize: every downstream scan reads cache
    val reps = sigKeyed.filter(col("doc_id") === col("rep"))
      .select(col("rep"), col("sig"))
      .persist()
    reps.count() // both band-join sides read this slim cache
    val bands = reps.select(col("rep"),
        explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
      .select(col("rep"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"))
    val a = bands.alias("a")
    val b = bands.alias("b")
    val pairs = a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"))
      .distinct()
    // both edge directions in ONE scan of the pair join (a union of two
    // selects would run the self-join twice inside the eager checkpoint)
    // no checkpoint here: minLabelPropagate lazily checkpoints canon(edges)
    // itself, so the band join runs exactly once (inside the seed-checksum
    // job) and the loop's plans never see the minhash pipeline
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("a"), col("doc_b").as("b")),
        struct(col("doc_b").as("a"), col("doc_a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val labels = minLabelPropagate(edges)
    // Expand back from representatives: each member inherits its rep's
    // component label (rep itself if the rep hit no cross-group bucket;
    // own doc_id if the doc had no signature at all). Linear joins —
    // the quadratic work above only ever saw representatives.
    docs.select(col("doc_id"))
      .join(sigKeyed.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
      .join(labels, col("rep") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep"), col("doc_id")).as("cluster"))
  }

  /** Duplicated-span REMOVAL (the rewrite step q100's span detection
    * feeds): cut every repeated fixed-width token chunk out of the
    * corpus, keeping exactly the globally-first occurrence (by
    * (doc_id, chunk_id)) — the paragraph-dedup rewrite of the CCNet /
    * "Deduplicating Training Data" lineage, with deterministic
    * `chunkTokens`-token chunks standing in for paragraph boundaries
    * (the synthetic corpus has no newlines). Returns one row per input
    * doc: the rewritten text, chunks kept, chunks dropped.
    *
    * Shape: chunking is MAP-ONLY (a `transform`/`slice` over the token
    * array — the corpus is not exploded token-wise); first occurrences
    * are picked by `min(struct(doc_id, chunk_id))` PER CHUNK — an
    * aggregate, deliberately not a window: a boilerplate chunk shared
    * by 10⁸ docs partial-combines map-side to one row per task before
    * the shuffle, where a window would funnel all 10⁸ occurrences into
    * a single partition (the skew q100's df-cap guards against, solved
    * here structurally). The group key is the chunk text itself (it
    * must travel for reassembly anyway, so there is no q33-style
    * digest-slimming win); one groupBy per doc reassembles the
    * survivors. Empty docs survive as empty
    * rewrites — the sequence() guard matters: Spark's `(0-1) div 10`
    * truncates to 0 while DuckDB floors to -1, so the zero-token case
    * must short-circuit before either engine builds a phantom chunk. */
  def chunkDedupRewrite(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1 && chunkTokens <= 100000,
      s"TextOps: bad chunkTokens $chunkTokens")
    val n = chunkTokens
    val withChunks = docs
      .withColumn("ws", filter(split(col("text"), " "), w => w =!= lit("")))
      .withColumn("chunks", expr(
        s"""CASE WHEN size(ws) = 0 THEN CAST(array() AS array<string>)
            ELSE transform(sequence(0, (size(ws)-1) div $n),
                   i -> array_join(slice(ws, i*$n + 1, $n), ' ')) END"""))
    val occ = withChunks
      .select(col("doc_id"), col("chunks"),
        posexplode(col("chunks")).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk"))
    val kept = occ.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("f"))
      .select(col("f.doc_id").as("doc_id"),
        col("f.chunk_id").as("chunk_id"), col("chunk"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_dedup"),
        count(lit(1)).as("n_kept"))
    // total chunk count is map-side and ARITHMETIC — no second
    // aggregation over the occurrences, and no second evaluation of the
    // chunk-building transform either: this branch re-scans the corpus
    // (withChunks has two consumers), so it derives the count from the
    // token count alone — (size(ws)-1) div n + 1 ≡ size(chunks) for
    // non-empty docs — instead of re-running transform + array_join
    // per row just to take size() of the result
    docs
      .withColumn("ws", filter(split(col("text"), " "), w => w =!= lit("")))
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(ws) = 0 THEN 0L
            ELSE CAST((size(ws)-1) div $n + 1 AS BIGINT) END""")
        .as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting (whitespace tokenization).
    "q30_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", T.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("ws")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_m"),
          (length(col("text")).cast("double") / size(col("ws"))).as("chars_per_token"))
        .orderBy(col("doc_id"))
    }),

    // Corpus word frequency — explode + count, the canonical shuffle-light
    // aggregation (map-side partial combine on the word key).
    "q31_word_freq" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    }),

    // BPE-style pre-tokenization (north star "token counting: whitespace +
    // a BPE-ish regex"): the GPT-2-style pre-tokenizer pattern — runs of
    // letters / digits / punctuation, each optionally space-prefixed,
    // contractions split — via regexp_extract_all; identical RE2-safe
    // pattern in the DuckDB oracle.
    "q50_bpe_tokens" -> ((s, d) => {
      val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"
      Tables.documents(s, d)
        .withColumn("bpe", regexp_extract_all(col("text"), lit(pat), lit(0)))
        .select(col("doc_id"),
          size(col("bpe")).cast("long").as("n_bpe_tokens"),
          size(T.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          (size(col("bpe")).cast("double") /
            size(T.tokens(col("text")))).as("fertility"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/stopword signals → keep/flag label.
    "q32_quality_score" -> ((s, d) => {
      val ws = T.tokens(col("text"))
      Tables.documents(s, d)
        .withColumn("n_tokens", size(ws).cast("long"))
        .withColumn("n_stop", T.stopwordCount(ws, stopwords).cast("long"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("quality",
          when(col("n_tokens") < 20, "too_short")
            .when(col("stop_ratio") > 0.5, "boilerplate")
            .otherwise("keep"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup: canonical representative (min doc_id) per full-text hash.
    "q33_exact_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(T.contentHash(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_doc_id"))
    }),

    // Fingerprint (prefix) dedup: clusters docs sharing their first-5-token
    // fingerprint — a cheap pre-clustering key for near-dup pipelines.
    "q34_fingerprint_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("fp", T.prefixFingerprint(T.tokens(col("text")), 5))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 1)
        .orderBy(col("fp"))
    }),

    // MinHash-LSH near-dup candidates: 3-word shingles → 8 KM minhashes
    // (one md5 per shingle, fused into a single-pass UDF) → 4 bands × 2
    // rows → docs sharing a band bucket. Only bucket-internal pairs are
    // generated (no all-pairs cross join at any scale). The signature is
    // persisted AND materialized before the self-join: both join sides scan
    // it, and in a single action the two scans race — each would recompute
    // the full signature stage (CollapseProject would also inline it into
    // every element_at of the band keys).
    "q35_minhash_lsh" -> ((s, d) =>
      minhashCandidatePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // Near-dup CLUSTER assignment — the step that turns candidate pairs
    // into deduplicated output: connected components over the LSH pair
    // graph by iterative min-label propagation (the simple form of the
    // large-star/small-star MapReduce CC algorithm), then every document
    // labeled with its component minimum (singletons label themselves).
    // Driver-side iteration is ONLY the convergence loop — each step is a
    // distributed join+groupBy, and near-dup components are tiny cliques,
    // so the loop runs 1-3 times regardless of corpus size (bounded by
    // component diameter, not data volume). Each iteration's result is
    // localCheckpoint'ed to TRUNCATE PLAN LINEAGE: persist() alone keeps
    // the full logical plan, which embeds the previous iteration twice
    // (join + union) and grows exponentially — by iteration ~10 Catalyst
    // spends minutes just stringifying/re-analyzing the tree. Lineage
    // truncation per step is the standard shape for iterative algorithms
    // (GraphX/Pregel do the same); on a real cluster use reliable
    // checkpoint(dir) for executor-loss tolerance.
    "q58_dedup_clusters" -> ((s, d) =>
      clusterAssignments(Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"))),

    // Canonical selection per near-dup cluster — the step every dedup
    // pipeline runs AFTER clustering: keep ONE member per cluster, by
    // quality, not by accident of id order. Rank = quality class (q32's
    // keep < boilerplate < too_short), then token count DESC (prefer the
    // fuller version), then doc_id — fully deterministic, so the argmax
    // is oracle-exact. Scale shape: clusterAssignments' LSH pipeline
    // joined with one extra MAP-ONLY quality scan (integer metrics only
    // — the text column itself never enters the shuffle), then a single
    // window keyed by cluster (near-dup clusters are small by
    // construction, so per-key work is bounded).
    "q104_cluster_canonical" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("text"))
      val ws = T.tokens(col("text"))
      // spread BEFORE the per-row quality functions: this map-only scan
      // ran on ONE core (0.9 s single-task stage at sf0.1) while the
      // cluster side was already widened — same §6 scan-width rule
      val scored = Tables.spread(Tables.documents(s, d))
        .withColumn("n_tokens", size(ws).cast("long"))
        .withColumn("n_stop", T.stopwordCount(ws, stopwords).cast("long"))
        .withColumn("prio",
          when(col("n_tokens") < 20, 2)
            .when(col("n_stop").cast("double") / col("n_tokens") > 0.5, 1)
            .otherwise(0))
        .select(col("doc_id"), col("n_tokens"), col("prio"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("prio"), col("n_tokens").desc, col("doc_id"))
      clusterAssignments(docs)
        .join(scored, "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("canonical_doc_id"),
          col("n_tokens").as("canonical_tokens"), col("n_members"))
        .orderBy(col("cluster"))
    }),

    // Leakage-safe train/val/test split: the assignment unit is the
    // NEAR-DUP CLUSTER, not the document. A doc-level 90/5/5 hash split
    // leaks training text into eval whenever a near-duplicate pair
    // straddles the boundary — the contamination q53 exists to detect,
    // created by the splitter itself. Splitting on a hash of the
    // CLUSTER id keeps every near-dup family in one split by
    // construction. Split = md5 bucket of the cluster id (q55's
    // content-stable convention: deterministic, RNG-free, identical at
    // any scale and in the oracle). Scale shape: q58's LSH+CC pipeline
    // plus ONE map-only projection — no new shuffles.
    "q126_split_leakage_safe" -> ((s, d) => {
      val bucket = conv(
        substring(md5(col("cluster").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
      clusterAssignments(Tables.spread(Tables.documents(s, d))
          .select(col("doc_id"), col("text")))
        .withColumn("split",
          when(bucket < 90, lit("train"))
            .when(bucket < 95, lit("val"))
            .otherwise(lit("test")))
        .orderBy(col("doc_id"))
    }),

    // Duplicated-span removal (see [[chunkDedupRewrite]]): the REWRITE
    // the detection passes (q51/q100) feed — emit the corpus with every
    // repeated 10-token chunk cut, first global occurrence kept.
    "q127_chunk_dedup_rewrite" -> ((s, d) =>
      chunkDedupRewrite(Tables.spread(Tables.documents(s, d))
          .select(col("doc_id"), col("text")), chunkTokens = 10)
        .orderBy(col("doc_id"))),

    // Rolling-hash fingerprint profile: which sampled substring hashes are
    // shared by the most documents (containment/boilerplate detection —
    // a fingerprint shared by many docs marks copied spans). Map-only
    // fingerprinting, then one groupBy on the fingerprint.
    "q51_rolling_fingerprint" -> ((s, d) => {
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(T.rollingFingerprintsUdf(8, 4)(col("text"))).as("fp"))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("n_docs").desc, col("fp"))
        .limit(20)
    }),

    // Span-level containment (winnowing-style copied-span detection):
    // q51's rolling Rabin-Karp scheme at a 24-char window (≈ a phrase —
    // the 8-char grain is too short to mean "copied"), deduped per doc,
    // ubiquitous fingerprints dropped (df cap — boilerplate shared by
    // >50 docs is noise AND the bucket bound: with df ≤ 50 the fp
    // self-join emits at most df²/2 rows per fingerprint, so pair
    // enumeration stays bounded at any corpus size — the winnowing
    // analog of the LSH band bucket), then doc pairs sharing ≥ 5
    // surviving fingerprints, with the count. Complements doc-level
    // dedup (q33/q35/q48): catches PARTIAL copies — a paragraph lifted
    // into an otherwise-unique document.
    "q100_span_containment" -> ((s, d) => {
      val fps = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), // UDF output is a per-doc sorted SET already
          explode(T.rollingFingerprintsUdf(24, 4)(col("text"))).as("fp"))
        .persist()
      fps.count() // df table + both self-join sides read this cache
      val rare = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")) // fps are per-doc distinct already
        .filter(col("df").between(2, 50))
        .select(col("fp"))
      val f2 = fps.join(rare, Seq("fp"))
      val a = f2.alias("a")
      val b = f2.alias("b")
      a.join(b, col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Language identification (north-star "language-ID: n-gram/marker
    // heuristic"): argmax of per-language function-word hit counts via
    // langIdHeuristic (one struct-greatest over filter() sizes — map-only,
    // no shuffle until the final sort). The driver corpus's text is
    // language-independent (same synthetic vocabulary for every stored
    // lang), so discriminative inputs are PLANTED (the q43/q48 pattern):
    // one function-word doc per non-English class, one tie doc ("la" is
    // an es AND fr marker — pins the deterministic (hits, lang)-max
    // tie-break), one zero-hit doc (→ 'und'). Oracle replicates the
    // classification exactly, incl. ties and the und fallback.
    "q101_lang_id" -> ((s, d) => {
      import s.implicits._
      val markers = Map(
        "de" -> Seq("der", "die", "und", "nicht", "ist"),
        "en" -> Seq("the", "a", "and", "of", "to"),
        "es" -> Seq("el", "que", "por", "la", "una"),
        "fr" -> Seq("le", "et", "les", "la", "des"))
      val planted = Seq(
        (2000001L, "der hund und die katze ist nicht hier"),
        (2000002L, "el perro que vive por la casa es una maravilla"),
        (2000003L, "le chat et les chiens des villes le matin"),
        (2000004L, "la la la"),          // es/fr tie → lang-max ('fr')
        (2000005L, "zzz qqq xxx yyy")    // zero hits → 'und'
      ).toDF("doc_id", "text")
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(planted)
        .select(col("doc_id"),
          T.langIdHeuristic(T.tokens(col("text")), markers).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // Per-language corpus profile.
    "q36_lang_profile" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),

    // SimHash near-dup, planted-recall audit form: 64-bit fingerprints over
    // 3-shingles, banded into 4×16-bit keys (a pair within hamming distance
    // 3 must agree on ≥1 band — pigeonhole), verified by exact hamming ≤ 3.
    // Exact duplicates are planted (doc_id+1e6 for every 10th doc with ≥1
    // shingle); identical text → identical fingerprint → every band agrees
    // → the pipeline MUST recall each planted pair, so the registered query
    // reports one row per planted pair with its recall flag — a result the
    // DuckDB oracle expresses exactly (the q70 convention: pin the
    // guarantee, not the engine-specific hash values — DuckDB lacks
    // xxhash64, and the 31-word synthetic vocabulary gives some NATURAL
    // pairs hamming ≤ 3, so the raw pair list itself is oracle-unsound).
    // The full pair list (natural pairs included) stays available as
    // `simhashNearDupPairs` and is property-checked by TextFnsSpec
    // (planted ⊆ result; every reported pair independently re-verified
    // within hamming 3). Bucketing is a band-equijoin — never all-pairs.
    "q48_simhash_neardup" -> ((s, d) => {
      val pairs = simhashNearDupPairs(s, d)
      // ≥3 tokens ⟺ the doc has a 3-shingle ⟺ its fingerprint is non-null
      // and the planted copy is recallable; mirrored in the oracle SQL.
      val expected = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(10)) === 0 &&
          size(T.tokens(col("text"))) >= 3)
        .select(col("doc_id").as("doc_a"),
          (col("doc_id") + 1000000L).as("doc_b"))
      expected
        .join(pairs.withColumn("found", lit(true)), Seq("doc_a", "doc_b"),
          "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("found"), lit(false)).as("recalled"))
        .orderBy(col("doc_a"))
    }),

    // N-gram (3-shingle) Jaccard similarity, LSH-bucketed: exact verify on
    // LSH candidates only — the scalable two-phase near-dup plan. The band
    // self-join carries ONLY (doc_id, band, bkey); a doc pair that shares
    // several bands is collapsed by distinct() BEFORE the shingle sets are
    // fetched (broadcast of the small pair list back onto the cached docs),
    // so the expensive array intersection runs once per unique pair — the
    // previous form shuffled both shingle arrays through every band row and
    // ran Jaccard per pre-distinct candidate (4× the pairs, ~50× the bytes).
    "q37_jaccard_verify" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), T.shingleSigUdf(3, 8)(col("text")).as("ss"))
        .filter(size(col("ss.shingles")) > 0)
        .select(col("doc_id"), col("ss.shingles").as("shingles"),
          col("ss.sig").as("sig"))
        .persist()
      docs.count()
      val bands = docs.select(col("doc_id"),
          explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey"))
      val a = bands.alias("a")
      val b = bands.alias("b")
      val pairs = a.join(b, col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
        .join(broadcast(pairs), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          T.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Ensemble dedup-signal agreement — the threshold-tuning table a real
    // curation pipeline builds before trusting any single dedup signal:
    // every text-side LSH candidate pair carries BOTH its exact shingle
    // Jaccard (the q37 verify) and the exact-decimal dot of the two docs'
    // embeddings (the q40 convention, hash-comparable unlike cosine whose
    // sqrt-normalization is irrational). Disagreements — high text overlap
    // with low embedding affinity or vice versa — are exactly the rows a
    // curator inspects to set per-signal thresholds. Scale shape: the
    // candidate set is band-bounded (never all pairs); the tiny pair list
    // broadcasts back onto the shingle cache and the embeddings scan, so
    // neither shingle arrays nor vectors ever shuffle.
    "q102_signal_agreement" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), T.shingleSigUdf(3, 8)(col("text")).as("ss"))
        .filter(size(col("ss.shingles")) > 0)
        .select(col("doc_id"), col("ss.shingles").as("shingles"),
          col("ss.sig").as("sig"))
        .persist()
      docs.count()
      val bands = docs.select(col("doc_id"),
          explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey"))
      val a = bands.alias("a")
      val b = bands.alias("b")
      val pairs = a.join(b, col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val jac = docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
        .join(broadcast(pairs), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          T.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      val e = Tables.embeddings(s, d)
      jac
        .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("v_a")),
          Seq("doc_a"))
        .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("v_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          graft.functions.VectorFns.dotExact(col("v_a"), col("v_b")).as("dot"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Overlapping-window document chunking — the context-window prep step
    // for embedding/RAG pipelines: 50-token chunks, stride 40 (10-token
    // overlap so no boundary sentence is lost). Map-only + generator
    // (sequence→explode), no shuffle: each doc expands to ceil(n/stride)
    // chunks regardless of corpus size. Chunk text exported as md5 so the
    // oracle compares content without shipping the strings.
    // Empty/null-token docs need no explicit filter: explode() of the
    // empty (size-1 < 0) or null sequence drops the row, so the guard
    // would only re-run the tokenizer a second time (the round-5 bench
    // regression: tokenize evaluated in both Filter and Project — A/B
    // profiled: dropping the guard + no spread = 0.43 s vs 1.15 s at
    // sf0.1; `spread` measured NET-NEGATIVE here because the chunk
    // compute is too cheap to amortize its extra exchange).
    "q71_chunk_overlap" -> ((s, d) => {
      val win = 50
      val stride = 40
      Tables.documents(s, d)
        .withColumn("ws", T.tokens(col("text")))
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 1, lit(stride)))
            .as("chunk_start"))
        .select(col("doc_id"),
          col("chunk_start").cast("long").as("chunk_start"),
          least(lit(win), size(col("ws")) - col("chunk_start"))
            .cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("ws"), col("chunk_start") + 1, lit(win))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_start"))
    }),

    // Most-distinctive-term extraction (TF-IDF-shaped, integer-exact):
    // per doc, the term with the highest term frequency, ties broken by
    // LOWEST document frequency (rarer = more distinctive), then
    // lexicographically. Keeping the ranking on (tf, df, word) instead of
    // the float tf*idf product makes the result engine-exact while
    // preserving the frequent-but-rare ordering TF-IDF encodes. Two
    // shuffles (doc-term, then term); the per-term df table is tiny
    // (vocabulary-sized) and broadcasts back.
    "q72_top_terms" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("word"))
      tf.join(broadcast(df), "word")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word"), col("tf"), col("df"))
        .orderBy(col("doc_id"))
    }),

    // Text normalization — the canonical-form pass that precedes exact
    // dedup in every web-corpus pipeline (lowercase, strip non-alnum,
    // collapse whitespace). Map-only; normalized content exported as md5.
    "q73_normalize_text" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(norm).as("norm_md5"),
          size(T.tokens(norm)).cast("long").as("n_norm_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Directional containment on the LSH candidate pairs: |A∩B|/|A| and
    // |A∩B|/|B| over 3-shingle sets. Symmetric Jaccard under-scores
    // "B = A + appended boilerplate" pairs (the common near-dup shape in
    // scraped corpora); containment ≈ 1 in the subset direction exposes
    // them. Same scale plan as q37: slim band self-join → distinct pairs
    // broadcast back onto the cached shingle table, intersection computed
    // once per unique pair.
    "q74_containment" -> ((s, d) => {
      val docs = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), T.shingleSigUdf(3, 8)(col("text")).as("ss"))
        .filter(size(col("ss.shingles")) > 0)
        .select(col("doc_id"), col("ss.shingles").as("shingles"),
          col("ss.sig").as("sig"))
        .persist()
      docs.count()
      val bands = docs.select(col("doc_id"),
          explode(T.bandKeys(col("sig"), 4, 2)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey"))
      val a = bands.alias("a")
      val b = bands.alias("b")
      val pairs = a.join(b, col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val inter = size(array_intersect(col("sh_a"), col("sh_b")))
        .cast("double")
      docs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
        .join(broadcast(pairs), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (inter / size(col("sh_a"))).as("cont_a_in_b"),
          (inter / size(col("sh_b"))).as("cont_b_in_a"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Token-length histogram in power-of-two buckets per language — the
    // length-distribution profile that drives packing/truncation policy.
    // The bucket is computed with INTEGER arithmetic (1 << (bitlength-1)
    // via the binary-string length), not floor(log2(n)) — identical in
    // both engines by construction, immune to libm rounding. Map-only +
    // one tiny aggregation.
    "q75_length_histogram" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tokens", size(T.tokens(col("text"))))
        .filter(col("n_tokens") > 0)
        .withColumn("bucket_lo",
          expr("CAST(shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens)) - 1) AS BIGINT)"))
        .groupBy(col("lang"), col("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("lang"), col("bucket_lo"))
    }),

    // PII redaction — the scrub pass every public-web training corpus runs
    // before tokenization. The synthetic corpus has no natural PII, so each
    // doc gets a deterministic planted email + phone (derived from doc_id),
    // then the scrubber masks by pattern. Map-only at any scale (regex per
    // row, no shuffle); the redacted text is exported as md5 so the oracle
    // compares full content without hashing megabytes of strings row-wise.
    "q64_pii_redact" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\d{3}-\\d{4}"
      Tables.documents(s, d)
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example ph 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("raw"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }))

  // DuckDB-side reproductions. Lists are 1-based in DuckDB, 1-based in
  // Spark element_at — ranges are adjusted per dialect below.
  private val duckTokens = "list_filter(string_split(text, ' '), w -> w <> '')"
  private def duckShingles(ws: String) =
    s"""CASE WHEN len($ws) >= 3 THEN list_distinct(list_transform(
       range(1, len($ws) - 1),
       i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2]))
       ELSE [] END"""
  // Kirsch-Mitzenmacher signature, mirroring TextFns.minhashSignatureKM:
  // one md5 per shingle split into two 56-bit ints, permutation j = h1+j*h2.
  private def duckSig(shingles: String) =
    s"""list_transform(range(0, 8),
       j -> list_min(list_transform($shingles,
         s -> ('0x' || substr(md5(s), 1, 14))::BIGINT
            + j * ('0x' || substr(md5(s), 17, 14))::BIGINT)))"""

  def oracle: Map[String, String] = Map(
    // Mirrors langIdHeuristic exactly: per-language occurrence-counted
    // marker hits, argmax by (hits DESC, lang DESC) — the greatest(struct)
    // tie-break — and 'und' when the best count is zero. Planted rows are
    // the same VALUES the Spark side unions in.
    "q101_lang_id" ->
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT * FROM (VALUES
             (2000001, 'der hund und die katze ist nicht hier'),
             (2000002, 'el perro que vive por la casa es una maravilla'),
             (2000003, 'le chat et les chiens des villes le matin'),
             (2000004, 'la la la'),
             (2000005, 'zzz qqq xxx yyy')) v(doc_id, text)),
         hits AS (
           SELECT c.doc_id, m.lang,
             len(list_filter($duckTokens, w -> list_contains(m.ms, w)))
               AS n_hits
           FROM corpus c, (VALUES
             ('de', ['der','die','und','nicht','ist']),
             ('en', ['the','a','and','of','to']),
             ('es', ['el','que','por','la','una']),
             ('fr', ['le','et','les','la','des'])) m(lang, ms)),
         best AS (
           SELECT doc_id, lang, n_hits,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY n_hits DESC, lang DESC) AS rn
           FROM hits)
         SELECT doc_id,
           CASE WHEN n_hits > 0 THEN lang ELSE 'und' END AS pred_lang
         FROM best WHERE rn = 1 ORDER BY doc_id""",

    "q30_token_stats" ->
      s"""SELECT doc_id, lang,
         len($duckTokens) AS n_tokens,
         length(text) AS n_chars_m,
         CAST(length(text) AS DOUBLE) / len($duckTokens) AS chars_per_token
         FROM documents ORDER BY doc_id""",

    "q31_word_freq" ->
      s"""SELECT word, count(*) AS cnt FROM (
           SELECT unnest($duckTokens) AS word FROM documents) t
         GROUP BY word ORDER BY cnt DESC, word LIMIT 20""",

    "q50_bpe_tokens" ->
      s"""SELECT doc_id,
         len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+'))
           AS n_bpe_tokens,
         len($duckTokens) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+'))
           AS DOUBLE) / len($duckTokens) AS fertility
         FROM documents ORDER BY doc_id""",

    "q32_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $duckTokens AS ws FROM documents),
         m AS (SELECT doc_id, len(ws) AS n_tokens,
           len(list_filter(ws,
             w -> w IN ('the','a','of','and','to','in'))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens, n_stop,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.5 THEN 'boilerplate'
                ELSE 'keep' END AS quality
         FROM m ORDER BY doc_id""",

    "q33_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",

    "q34_fingerprint_dedup" ->
      s"""WITH t AS (SELECT doc_id,
           md5(array_to_string(($duckTokens)[1:5], ' ')) AS fp
           FROM documents)
         SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_docs
         FROM t GROUP BY fp ORDER BY fp""",

    "q35_minhash_lsh" ->
      s"""WITH toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""",

    // Same Rabin-Karp scheme: Horner over code points, base 257 mod 2^31-1,
    // keep h % 4 = 0. list_reduce folds left like the UDF's loop; ord() on
    // the ASCII corpus equals Java charAt.
    "q51_rolling_fingerprint" ->
      """WITH grams AS (
           SELECT doc_id,
             unnest(list_transform(range(1, length(text) - 6),
               i -> list_reduce(
                 list_transform(range(i, i + 8),
                   j -> CAST(ord(substr(text, CAST(j AS INT), 1)) AS BIGINT)),
                 (a, b) -> (a * 257 + b) % 2147483647))) AS fp
           FROM documents WHERE length(text) >= 8)
         SELECT fp, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
         FROM grams WHERE fp % 4 = 0
         GROUP BY fp ORDER BY n_docs DESC, fp LIMIT 20""",

    // Same Rabin-Karp scheme as q51 at window 24; per-doc distinct,
    // df-capped, self-joined on fp, pair-counted. count(*) is exact
    // because the fps CTE is per-doc DISTINCT on both engines.
    "q100_span_containment" ->
      """WITH grams AS (
           SELECT doc_id,
             unnest(list_transform(range(1, length(text) - 22),
               i -> list_reduce(
                 list_transform(range(i, i + 24),
                   j -> CAST(ord(substr(text, CAST(j AS INT), 1)) AS BIGINT)),
                 (a, b) -> (a * 257 + b) % 2147483647))) AS fp
           FROM documents WHERE length(text) >= 24),
         fps AS (SELECT DISTINCT doc_id, fp FROM grams WHERE fp % 4 = 0),
         rare AS (SELECT fp FROM fps GROUP BY fp
                  HAVING count(*) BETWEEN 2 AND 50),
         f2 AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp)),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_shared
               FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
         FROM p WHERE n_shared >= 5 ORDER BY doc_a, doc_b""",

    // Connected components as a recursive reachability closure + min —
    // tractable because near-dup components are tiny; mirrors the Spark
    // side's min-label-propagation fixpoint exactly (both compute the
    // component minimum).
    "q58_dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT a AS node, b AS peer FROM edges
           UNION
           SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.peer),
         cc AS (
           SELECT node, least(node, min(peer)) AS cluster
           FROM reach GROUP BY node)
         SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
         ORDER BY d.doc_id""",

    // q58's cluster replay + the q55 md5-bucket idiom on the CLUSTER id:
    // the split is a pure function of the cluster, so the leakage-safety
    // invariant (one cluster, one split) holds by construction in both
    // engines.
    "q126_split_leakage_safe" ->
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT a AS node, b AS peer FROM edges
           UNION
           SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.peer),
         cc AS (
           SELECT node, least(node, min(peer)) AS cluster
           FROM reach GROUP BY node),
         asg AS (
           SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
           FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
         SELECT doc_id, cluster,
           CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train'
                WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM asg ORDER BY doc_id""",

    // chunkDedupRewrite mirror: same chunking (DuckDB's // floors, so
    // the len=0 case is guarded identically), same first-occurrence
    // window, same ordered reassembly.
    "q127_chunk_dedup_rewrite" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
           FROM documents),
         ch AS (
           SELECT doc_id,
             CASE WHEN len(ws) = 0 THEN []
                  ELSE list_transform(range((len(ws)-1)//10 + 1),
                         i -> array_to_string(
                                list_slice(ws, i*10+1, i*10+10), ' '))
             END AS chunks
           FROM t),
         occ AS (
           SELECT doc_id, unnest(chunks) AS chunk,
             CAST(unnest(range(len(chunks))) AS BIGINT) AS chunk_id
           FROM ch),
         ranked AS (
           SELECT doc_id, chunk, chunk_id,
             row_number() OVER (
               PARTITION BY chunk ORDER BY doc_id, chunk_id) AS rn
           FROM occ),
         kept AS (
           SELECT doc_id,
             string_agg(chunk, ' ' ORDER BY chunk_id) AS text_dedup,
             count(*) AS n_kept
           FROM ranked WHERE rn = 1 GROUP BY doc_id)
         SELECT c.doc_id, coalesce(k.text_dedup, '') AS text_dedup,
           coalesce(k.n_kept, 0) AS n_kept,
           len(c.chunks) - coalesce(k.n_kept, 0) AS n_dropped
         FROM ch c LEFT JOIN kept k ON k.doc_id = c.doc_id
         ORDER BY c.doc_id""",

    // q58's full reachability mirror + q32's quality metrics, composed:
    // rank members per cluster by (quality class, token count DESC,
    // doc_id) and keep rank 1. count() over the cluster window is BIGINT
    // in both engines; the rank inputs are exact integers, so the argmax
    // is hash-stable.
    "q104_cluster_canonical" ->
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT a AS node, b AS peer FROM edges
           UNION
           SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.peer),
         cc AS (
           SELECT node, least(node, min(peer)) AS cluster
           FROM reach GROUP BY node),
         asg AS (
           SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
           FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
         q AS (
           SELECT doc_id, len(ws) AS n_tokens,
             CASE WHEN len(ws) < 20 THEN 2
                  WHEN CAST(len(list_filter(ws,
                    w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
                    / len(ws) > 0.5 THEN 1
                  ELSE 0 END AS prio
           FROM toks),
         r AS (
           SELECT a.cluster, q.doc_id, q.n_tokens,
             row_number() OVER (PARTITION BY a.cluster
               ORDER BY q.prio, q.n_tokens DESC, q.doc_id) AS rn,
             count(*) OVER (PARTITION BY a.cluster) AS n_members
           FROM asg a JOIN q ON q.doc_id = a.doc_id)
         SELECT cluster, doc_id AS canonical_doc_id,
           n_tokens AS canonical_tokens, n_members
         FROM r WHERE rn = 1 ORDER BY cluster""",

    "q36_lang_profile" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",

    // q37's candidate+jaccard CTEs joined with q40's exact-decimal dot
    // convention (round-then-downscale before the double cast — DuckDB's
    // own decimal downscale truncates where Spark rounds HALF_UP).
    "q102_signal_agreement" ->
      s"""WITH toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, shingles, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, shingles, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT p.doc_a, p.doc_b, p.jaccard,
             CAST(CAST(round(sum(fa.x * fb.x), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM pairs p
           JOIN flat fa ON fa.vec_id = p.doc_a
           JOIN flat fb ON fb.vec_id = p.doc_b AND fb.i = fa.i
           GROUP BY p.doc_a, p.doc_b, p.jaccard)
         SELECT doc_a, doc_b, jaccard, dot FROM dots
         ORDER BY doc_a, doc_b""",

    "q37_jaccard_verify" ->
      s"""WITH toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, shingles, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, shingles, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",

    // Planted-recall audit: a planted copy has text identical to its
    // source, so simhash MUST pair them (identical fingerprint → all four
    // bands agree → hamming 0 ≤ 3) — the oracle enumerates the planted
    // pairs with recalled=true. ≥3 tokens mirrors the query's "has a
    // 3-shingle" recallability guard.
    "q48_simhash_neardup" ->
      s"""SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b,
           true AS recalled
         FROM documents
         WHERE doc_id % 10 = 0 AND len($duckTokens) >= 3
         ORDER BY doc_a""",

    "q71_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, $duckTokens AS ws FROM documents),
         s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 40)) AS st
               FROM t WHERE len(ws) > 0)
         SELECT doc_id, st AS chunk_start,
           CAST(least(50, len(ws) - st) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
             ws[st + 1 : least(st + 50, len(ws))], ' ')) AS chunk_md5
         FROM s ORDER BY doc_id, chunk_start""",

    "q72_top_terms" ->
      s"""WITH w AS (SELECT doc_id, unnest($duckTokens) AS word
                     FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         r AS (SELECT doc_id, word, tf, df,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tf DESC, df ASC, word) AS rn
               FROM tf JOIN df USING (word))
         SELECT doc_id, word, tf, df FROM r WHERE rn = 1 ORDER BY doc_id""",

    "q73_normalize_text" ->
      """WITH n AS (SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, md5(norm) AS norm_md5,
           len(list_filter(string_split(norm, ' '), w -> w <> ''))
             AS n_norm_tokens
         FROM n ORDER BY doc_id""",

    "q74_containment" ->
      s"""WITH toks AS (
           SELECT doc_id, $duckTokens AS ws FROM documents),
         sh AS (
           SELECT doc_id, ${duckShingles("ws")} AS shingles FROM toks),
         sig AS (
           SELECT doc_id, shingles, ${duckSig("shingles")} AS sig FROM sh
           WHERE len(shingles) > 0),
         bands AS (
           SELECT doc_id, shingles, b AS band,
             md5(CAST(sig[2*b + 1] AS VARCHAR) || '#' || CAST(sig[2*b + 2] AS VARCHAR)) AS bkey
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(a.shingles) AS cont_a_in_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(b.shingles) AS cont_b_in_a
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a
         FROM pairs ORDER BY doc_a, doc_b""",

    "q75_length_histogram" ->
      s"""WITH t AS (SELECT doc_id, lang, len($duckTokens) AS n_tokens
                     FROM documents)
         SELECT lang,
           CAST(1 << (length(bin(n_tokens)) - 1) AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM t WHERE n_tokens > 0
         GROUP BY lang, bucket_lo ORDER BY lang, bucket_lo""",

    "q64_pii_redact" ->
      """WITH raw AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example ph 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS n_phones,
           md5(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM raw ORDER BY doc_id""")
}
