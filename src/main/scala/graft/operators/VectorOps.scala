package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.functions.{VectorFns => V}

/** Similarity search over the `embeddings` table (SURVEY.md §2.11).
  *
  * Scale design: brute-force top-k is the correctness baseline — a
  * broadcast of the (small) query set against a map-only scan of the
  * corpus, then a per-query top-k window. The IVF variant prunes the scan
  * with a coarse quantizer (centroid assignment) so each query probes only
  * `nprobe` partitions — the standard billion-scale ANN layout; on a real
  * cluster the corpus would be written bucketed by `cell` so a probe is a
  * partition-pruned read, not a shuffle.
  */
object VectorOps {

  /** Brute-force exact-decimal dot-product top-k (oracle-verified). */
  def dotTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5): DataFrame =
    dotTopKFrom(Tables.embeddings(s, d), nQueries, k)

  /** DataFrame form of [[dotTopK]] (any (vec_id, embedding) corpus). */
  def dotTopKFrom(e: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // spread: the decimal dot products run on the corpus scan's partitions
    val c = Tables.spread(e.select(col("vec_id"), col("embedding")))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Brute-force cosine top-k (double arithmetic — the fast path).
    * Output is rank-only: the ranking is oracle-stable (measured adjacent
    * top-k margins ≥ 2e-4, five orders above cross-engine double noise)
    * while the raw double similarity is not hash-comparable. */
  def cosineTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = Tables.spread(e.select(col("vec_id"), col("embedding")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("sim", graft.functions.CosineExpr.cosineFast(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Integer-scaled exact coordinates: float → shortest-string →
    * DECIMAL(18,9) (the dotExact convention, bit-identical in DuckDB) →
    * ×1e9 → BIGINT. All quantizer arithmetic then runs on integers, so
    * training is order-independent and cross-engine exact. */
  private def intVec(v: Column): Column =
    transform(v, x =>
      (x.cast("string").cast(org.apache.spark.sql.types.DecimalType(18, 9)) *
        lit(1000000000L)).cast("long"))

  /** Package-private [[intVec]] hook for the UDF/expression parity specs. */
  private[graft] def intVecCol(v: Column): Column = intVec(v)

  /** Exact squared-L2 ordering key to a centroid carried as its un-divided
    * (sum[dims], count) pair: sum_i((n·x_i − s_i)²) / n² equals ‖x − s/n‖²
    * without ever forming the inexact mean. The numerator is exact
    * DECIMAL(38,0) integer arithmetic (bounded by 64·(2·6e8·n)² — inside
    * int128 up to n ≈ 1e9 rows/cell); one final correctly-rounded
    * double conversion + division by the exact integer n² makes the key a
    * deterministic function of the rational value in BOTH engines, so
    * argmin-with-cell-tiebreak is engine-exact even if two keys collide. */
  def distKey(iv: Column, csum: Column, cn: Column): Column = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val num = aggregate(
      zip_with(iv, csum, (x, sS) => {
        val diff = (x * cn - sS).cast(dec38)
        diff * diff
      }),
      lit(0).cast(dec38),
      (acc, t) => (acc + t).cast(dec38))
    num.cast("double") / (cn * cn).cast("double")
  }

  /** Exact-integer inner loops shared by the fused UDFs. The arithmetic
    * is 128-bit long-pair accumulation (`Math.multiplyHigh` + carry) —
    * the per-element product and the running sum are EXACT, same as the
    * BigInt fold it replaces, but allocation-free in the hot loop; the
    * single BigInteger materialization at the end goes through the SAME
    * correctly-rounded conversions as before (BigInteger.doubleValue /
    * BigDecimal.setScale(12, HALF_UP).doubleValue), so every key and
    * every dot is bit-identical to both the old fold and the Catalyst
    * decimal expressions (parity pinned by VectorFnsSpec). At √N cells
    * the cell-ranking pass is O(N·K·D) — the BigInt fold's ~200M
    * short-lived allocations at sf0.1 were the measured bottleneck. */
  private object ExactInt {
    /** Exact Σ (iv_i·cn − csum_i)² → correctly-rounded double, / cn².
      * The accumulator is an unsigned 128-bit (hi, lo) pair; terms are
      * squares (non-negative), bounded like the distKey DECIMAL(38,0)
      * contract, so no wraparound below ~1e9 rows/cell. */
    def cellKey(iv: Array[Long], csum: Array[Long], cn: Long): Double = {
      var hi = 0L
      var lo = 0L
      var i = 0
      while (i < iv.length) {
        val diff = iv(i) * cn - csum(i)
        val pl = diff * diff
        val ph = Math.multiplyHigh(diff, diff)
        val nl = lo + pl
        hi += ph + (if (java.lang.Long.compareUnsigned(nl, lo) < 0) 1L else 0L)
        lo = nl
        i += 1
      }
      // 17 big-endian bytes with a leading zero: the accumulator is
      // logically unsigned, the constructor reads two's complement
      val b = new Array[Byte](17)
      var j = 0
      while (j < 8) { b(1 + j) = (hi >>> (56 - 8 * j)).toByte; j += 1 }
      j = 0
      while (j < 8) { b(9 + j) = (lo >>> (56 - 8 * j)).toByte; j += 1 }
      new java.math.BigInteger(b).doubleValue() / (cn.toDouble * cn.toDouble)
    }

    /** Exact Σ a_i·b_i as a correctly-rounded RAW double — no decimal
      * rescaling (the ADC term path: caller divides by the exact member
      * count). 128-bit signed accumulation, one BigInteger conversion.
      * Mirrored in SQL as `CAST(CAST(sum(hugeint) AS VARCHAR) AS
      * DOUBLE)` — both are correct rounding of the exact integer. */
    def dotRaw(a: Seq[Long], b: Array[Long]): Double = {
      var hi = 0L
      var lo = 0L
      var i = 0
      while (i < a.length) {
        val x = a(i)
        val y = b(i)
        val pl = x * y
        val ph = Math.multiplyHigh(x, y)
        val nl = lo + pl
        hi += ph + (if (java.lang.Long.compareUnsigned(nl, lo) < 0) 1L else 0L)
        lo = nl
        i += 1
      }
      val b16 = new Array[Byte](16)
      var j = 0
      while (j < 8) { b16(j) = (hi >>> (56 - 8 * j)).toByte; j += 1 }
      j = 0
      while (j < 8) { b16(8 + j) = (lo >>> (56 - 8 * j)).toByte; j += 1 }
      new java.math.BigInteger(b16).doubleValue()
    }

    /** Exact Σ a_i·b_i over ×1e9-scaled longs → the (18,9)² decimal dot
      * rounded HALF_UP to scale 12, as a correctly-rounded double. The
      * SIGNED 128-bit product (multiplyHigh + wrapping low) is exact for
      * any long magnitudes — including the ×8 scaled-smoke vectors. */
    def dot(a: Seq[Long], b: Seq[Long]): Double =
      dot(a.toArray, b.toArray)

    def dot(a: Array[Long], b: Array[Long]): Double = {
      var hi = 0L
      var lo = 0L
      var i = 0
      while (i < a.length) {
        val x = a(i)
        val y = b(i)
        val pl = x * y
        val ph = Math.multiplyHigh(x, y)
        val nl = lo + pl
        hi += ph + (if (java.lang.Long.compareUnsigned(nl, lo) < 0) 1L else 0L)
        lo = nl
        i += 1
      }
      // Rounding tail in pure long arithmetic: the ×1e18 accumulator,
      // rounded HALF_UP at scale 12, is q = round(|acc| / 1e6) — a
      // 128÷32 schoolbook division in 32-bit limbs — and the final
      // double is q / 1e12: q ≤ ~1e15 < 2^53 is exact and 1e12 is
      // exact, so the one IEEE division is the correctly-rounded value
      // of the rational q·10⁻¹², bit-identical to
      // BigDecimal(q, 12).doubleValue() (kept as the fallback for
      // magnitudes a real corpus never reaches).
      val neg = hi < 0
      var mHi = hi
      var mLo = lo
      if (neg) { // two's-complement negate of the 128-bit pair
        mLo = ~mLo + 1
        mHi = ~mHi + (if (mLo == 0L) 1L else 0L)
      }
      val d = 1000000L
      var rem = 0L
      var q3 = 0L; var q2 = 0L; var q1 = 0L; var q0 = 0L
      var limb = mHi >>> 32
      var cur = limb; q3 = cur / d; rem = cur % d
      limb = mHi & 0xffffffffL
      cur = (rem << 32) | limb; q2 = cur / d; rem = cur % d
      limb = mLo >>> 32
      cur = (rem << 32) | limb; q1 = cur / d; rem = cur % d
      limb = mLo & 0xffffffffL
      cur = (rem << 32) | limb; q0 = cur / d; rem = cur % d
      if (q3 != 0L || q2 != 0L || (q1 >>> 20) != 0L) {
        // quotient exceeds ~2^52: delegate to the exact slow path
        val b16 = new Array[Byte](16)
        var j = 0
        while (j < 8) { b16(j) = (hi >>> (56 - 8 * j)).toByte; j += 1 }
        j = 0
        while (j < 8) { b16(8 + j) = (lo >>> (56 - 8 * j)).toByte; j += 1 }
        return new java.math.BigDecimal(new java.math.BigInteger(b16), 18)
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      // ADD, not OR: q0 is a full division step and can exceed 32 bits
      var q = (q1 << 32) + q0
      if (rem * 2 >= d) q += 1 // HALF_UP = away from zero on the magnitude
      val v = q.toDouble / 1.0e12
      if (neg) -v else v
    }
  }


  /** The centroid table as a driver-side array + Spark broadcast: K is
    * the CELL count (≈√N — ~32k rows even at 10⁹ vectors, a bounded
    * collect), and shipping it as a plain `Array[(cell, csum, cn)]`
    * spares every assigned row the per-row Catalyst→Scala conversion of
    * a K-struct array column (measured ~20 µs/row at K=45 — the
    * dominant cost of an assign pass) plus the BroadcastNestedLoopJoin
    * stage the one-row crossJoin form planned. */
  /** Collect a (cell, csum, cn) centroid table to a driver array —
    * bounded by K ≈ √N rows (the quantizer-sizing convention). */
  private def centRows(cents: DataFrame): Array[(Long, Array[Long], Long)] =
    cents.select(col("cell"), col("csum"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))

  private def centArray(cents: DataFrame)
      : org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Long], Long)]] =
    cents.sparkSession.sparkContext.broadcast(centRows(cents))

  /** Nearest-centroid assignment of `vecs` (vec_id, iv, …) against a
    * (cell, csum, cn) centroid table: map-only — the K-row table ships
    * as a broadcast array (see [[centArray]]) and the fused UDF folds
    * over the K candidates per row. Public as the UDF/expression parity
    * hook for VectorFnsSpec. */
  def assignWithCentroids(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val bc = centArray(cents)
    // Array[Long], not Seq: the codegen'd deserializer hands the UDF the
    // primitive array (toLongArray) — a Seq parameter boxes every
    // element access in the K·D inner loop
    val u = udf((iv: Array[Long]) => {
      var bestKey = Double.MaxValue
      var bestCell = Long.MaxValue
      val cs = bc.value
      var c = 0
      while (c < cs.length) {
        val (cell, csum, cn) = cs(c)
        val dk = ExactInt.cellKey(iv, csum, cn)
        if (dk < bestKey || (dk == bestKey && cell < bestCell)) {
          bestKey = dk; bestCell = cell
        }
        c += 1
      }
      bestCell
    })
    vecs.withColumn("cell", u(col("iv")))
  }

  /** Trained IVF ANN (no pre-existing labels): k-means-style coarse
    * quantizer seeded from md5-hash buckets of vec_id (the q55
    * deterministic-sampling convention), refined by two Lloyd passes, then
    * per-query search over the `nprobe` nearest cells with an
    * exact-decimal dot re-rank (q40's convention — so the reported dot is
    * hash-comparable, not rank-only).
    *
    * `cells = 0` (the default for the DataFrame form) derives the cell
    * count from the corpus: max(4, round(√N)) — the standard IVF sizing,
    * so the quantizer granularity scales with the corpus instead of
    * sitting at a constant. q42 pins cells = 8 explicitly because the
    * DuckDB oracle reproduces that exact configuration.
    *
    * Scale shape: centroid UPDATE is one groupBy carrying a single
    * (sum[64], count) integer buffer per cell per partition
    * (ArrayLongSumAgg — posexplode would 64× the shuffle rows); centroid
    * ASSIGN is map-only — the K-row centroid table is collapsed to a
    * one-row array via collect_list and cross-joined broadcast, and the
    * argmin runs as a fused per-row UDF pass over the K candidates (a
    * window over corpus×K rows would shuffle the whole corpus K times). Search
    * probes cells by equijoin on the assigned cell id; [[writeIvfIndex]] /
    * [[probeIvfIndex]] persist the assignment partitioned by cell so a
    * probe is a partition-PRUNED read (plan-pinned by IvfIndexSpec), not
    * a shuffle. All arithmetic is exact (integer sums, one final double
    * per comparison key), so assignments — and therefore the probe sets
    * and the result — are reproducible at any parallelism and in the
    * DuckDB oracle.
    *
    * Recall posture (IvfIndexSpec's sweep): on a corpus WITH cluster
    * structure the trained quantizer concentrates neighbors — ≥0.9
    * recall probing 2 of 8 cells on the planted-cluster corpus. On a
    * UNIFORM random corpus (the driver table) no partitioning scheme can
    * beat the scan fraction, and the measured curve tracks it
    * (nprobe/cells 3/8 → 0.6, 7/8 → ≥0.8, 8/8 → exactly 1.0 — probing
    * every cell IS the exact search). */
  def ivfTopK(s: SparkSession, d: String, nQueries: Int = 5, k: Int = 5,
              nprobe: Int = 3, cells: Int = 8): DataFrame =
    ivfTopKFrom(Tables.embeddings(s, d), nQueries, k, nprobe, cells)

  /** DataFrame form of [[ivfTopK]] (any (vec_id, embedding) corpus).
    * `base` stays persisted until the session clears caches (the repo's
    * operator convention) — the returned plan is lazy, so an eager
    * unpersist here would drop the cache before the caller executes it
    * and re-derive the integer vectors once per downstream consumer. */
  def ivfTopKFrom(corpus: DataFrame, nQueries: Int = 5, k: Int = 5,
                  nprobe: Int = 3, cells: Int = 0): DataFrame = {
    val (a2, c2, base) = trainAssign(corpus, cells)
    probeAssigned(a2, c2, queriesOf(base, nQueries), k, nprobe)
  }

  private def queriesOf(base: DataFrame, nQueries: Int): DataFrame =
    base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("iv").as("qiv"))

  /** External (qid, embedding) queries → the probe shape. The qid space is
    * the CALLER's — unrelated to corpus vec_ids — so external searches
    * never self-exclude (a coincidental qid == vec_id is a different
    * vector that must stay eligible). */
  private def externalQ(queries: DataFrame): DataFrame =
    queries.select(col("qid"), col("embedding").as("qv"),
      intVec(col("embedding")).as("qiv"))

  /** Train the two-pass Lloyd quantizer and assign the corpus; returns
    * (assigned corpus, centroids, cached base). `cells = 0` → √N auto. */
  private def trainAssign(corpus: DataFrame,
      cells: Int): (DataFrame, DataFrame, DataFrame) = {
    // no `spread`: after the fused-UDF assign, per-row work is too cheap
    // to amortize the widening exchange (the q71 lesson) — and the cache
    // below already decouples downstream stages from the scan width.
    val base = corpus.select(col("vec_id"), col("embedding"),
      intVec(col("embedding")).as("iv")).persist()
    // the count exists only for the √N default: with explicit cells the
    // cache materializes inside the first Lloyd pass's own job instead
    // (one fewer action per train)
    lazy val n = base.count()
    val k = if (cells > 0) cells
      else math.max(4, math.round(math.sqrt(n.toDouble)).toInt)

    // one centroid-update: cell → (elementwise integer sum, member count)
    def update(assigned: DataFrame): DataFrame =
      assigned.groupBy(col("cell"))
        .agg(graft.functions.ArrayLongSumAgg.arrayLongSum(64)(col("iv"))
          .as("csum"), count(lit(1)).as("cn"))

    // one Lloyd-assign: nearest centroid per vector, map-only argmin over
    // the broadcast one-row centroid array; ties (double-key collisions)
    // break to the smallest cell id — order-independent. Fused single-pass
    // UDF (the repo's UDF discipline: the HOF-expression form re-enters
    // the interpreted decimal fold 8×64 times per row — measured 3.7 s vs
    // ~1 s at sf0.1; bit-equality of the UDF's key to the distKey
    // expression is pinned by VectorFnsSpec).
    def assignNearest(cents: DataFrame): DataFrame =
      assignWithCentroids(base, cents)
        .select(col("vec_id"), col("embedding"), col("iv"), col("cell"))

    val seeded = base.withColumn("cell",
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % k)
    val c1 = update(seeded)   // Lloyd pass 1: centroids of the hash seed
    val a1 = assignNearest(c1)
    // Lloyd pass 2: trained centroids. Persisted (K rows) because both the
    // final assignment and the query probes read it — without the persist
    // the a1 assignment pass would run once per consumer.
    val c2 = update(a1).persist()
    c2.count()
    // the final assignment is persisted too: the k-NN join reads it from
    // BOTH sides and the semantic-dedup tail twice more for norms — each
    // unshared consumer would otherwise replay the whole broadcast-
    // centroid assign chain (measured as 5 BroadcastNestedLoopJoin
    // subtrees in one q105 plan)
    val a2 = assignNearest(c2).persist()
    (a2, c2, base)
  }

  /** Probe `nprobe` nearest cells per query under the c2 centroids — the
    * SAME centroids that defined the assignment, so query probes and
    * corpus cells use one assignment function — then exact-decimal dot
    * re-rank inside the probed cells only. `excludeSelf` applies the
    * corpus-query convention (qid IS a vec_id → skip the vector itself);
    * external query sets must keep it off. */
  private def probeAssigned(assigned: DataFrame, c2: DataFrame,
      q: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("dkey"), col("cell"))
    val probes = q.join(broadcast(c2))
      .withColumn("dkey", distKey(col("qiv"), col("csum"), col("cn")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qv"), col("cell").as("pcell"))
    val joinCond =
      if (excludeSelf) col("cell") === col("pcell") && col("vec_id") =!= col("qid")
      else col("cell") === col("pcell")
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    assigned.join(broadcast(probes), joinCond)
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** In-memory IVF ANN over EXTERNAL query vectors: `queries` is any
    * (qid, embedding) DataFrame whose vectors need NOT be corpus rows —
    * the real ANN shape (the reference's correlation-key lookup,
    * api/main.py:182, has the same "key arrives from outside the table"
    * form). Train + assign once, then probe each query's nprobe nearest
    * cells with the exact-decimal re-rank. */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nprobe: Int = 3, cells: Int = 0): DataFrame = {
    val (a2, c2, _) = trainAssign(corpus, cells)
    probeAssigned(a2, c2, externalQ(queries), k, nprobe, excludeSelf = false)
  }

  /** Brute-force exact-decimal top-k for EXTERNAL queries — the recall
    * baseline [[ivfSearch]]/[[probeIvfIndex]] are measured against. */
  def dotTopKWith(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val q = queries.select(col("qid"), col("embedding").as("qv"))
    val c = Tables.spread(corpus.select(col("vec_id"), col("embedding")))
    val scored = c.join(broadcast(q))
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  // ─── Persisted-index layout: versioned generations, atomic publish ───
  //
  // A generation directory `gen=N/` holds corpus + centroids TOGETHER;
  // `CURRENT` is a one-line pointer file naming the live generation. A
  // (re)build writes the next `gen=N+1/` fully — its `_GRAFT_INDEX_OK`
  // manifest last — then publishes by atomically renaming a fresh
  // pointer over `CURRENT`. Readers resolve
  // the pointer first, so they see either the old generation or the new
  // one COMPLETE — never a corpus partitioned by one quantizer served
  // against another's centroid table, which is what sequentially
  // renaming two sibling `corpus/` + `centroids/` dirs could tear into
  // (and which would return silently wrong neighbors, not an error). A
  // crash mid-build leaves an unreferenced partial gen dir: max+1
  // numbering never reuses its name, the pointer still serves the old
  // generation, and the next successful publish garbage-collects it.

  private val OkSentinel = "_GRAFT_INDEX_OK"

  private def hfsOf(s: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  // generation lifecycle lives in the shared GenStore (one home for
  // the gen=/CURRENT discipline across IVF, postings and edges); the
  // OK sentinel lands last, so it is the completeness manifest
  private val gens = new graft.sources.GenStore(OkSentinel, "graft IVF index",
    "build one with VectorOps.writeIvfIndex(corpus, path)")

  /** Directory of the CURRENT index generation (public: specs and the
    * scale smoke inspect the physical cell layout through it). Fails
    * loudly on a missing pointer (not an index) or a torn generation
    * (pointer names a dir whose manifest never landed). */
  def indexGenDir(s: SparkSession, path: String): String =
    gens.genDir(s, path)

  private def nextGenName(s: SparkSession, path: String): String =
    gens.nextGenName(s, path)

  /** Flip the pointer to `genName` (atomic rename-overwrite), then GC
    * old generations — EXCEPT the one the flip just superseded, which
    * gets a one-publish-cycle deletion grace (see GenStore) for readers
    * that resolved the pointer just before the flip. */
  private def publishGen(s: SparkSession, path: String, genName: String): Unit =
    gens.publish(s, path, genName)

  /** Write one full generation (corpus partitioned by cell + centroid
    * table + manifest) under `genDir` — no pointer change. */
  private def writeGen(corpus: DataFrame, genDir: String, cells: Int): Unit = {
    val s = corpus.sparkSession
    val (a2, c2, base) = trainAssign(corpus, cells)
    // range-repartition by (cell, vec_id) before the partitioned write:
    // a straight partitionBy from an n-partition plan writes n files
    // PER CELL (measured 22k part-files for one 346-cell index — every
    // later listing and footer read pays for it);
    // ranging gives ~cells + n files total while a hot cell still
    // splits across tasks by vec_id instead of serializing on one
    a2.repartitionByRange(col("cell"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$genDir/corpus")
    c2.write.mode("overwrite").parquet(s"$genDir/centroids")
    val rows = a2.count()
    a2.unpersist()
    base.unpersist()
    c2.unpersist()
    // the sentinel doubles as the generation's exact physical row count
    // (the Hnsw meta-count discipline), so a reader of the artifact's
    // health needs no O(corpus-footers) count(). Exact here by
    // construction: the written corpus is a2 row-for-row, and a2 is
    // already materialized in cache.
    val ok = hfsOf(s, genDir)
      .create(new org.apache.hadoop.fs.Path(s"$genDir/$OkSentinel"), true)
    try ok.write(rows.toString.getBytes("UTF-8")) finally ok.close()
  }

  /** Persist the trained index: the assigned corpus laid out PARTITIONED
    * BY CELL (so a probe is a directory-pruned read, not a scan +
    * filter) plus the centroid table, as a fresh generation published
    * atomically (see the layout note above). The 100 TB shape: training
    * writes once; every search afterwards opens only its nprobe cell
    * directories of the current generation. */
  def writeIvfIndex(corpus: DataFrame, path: String, cells: Int = 0): Unit = {
    val s = corpus.sparkSession
    val genName = nextGenName(s, path)
    writeGen(corpus, s"$path/$genName", cells)
    publishGen(s, path, genName)
  }

  /** The generation's deletion ledger, if any rows are tombstoned. */
  private def tombstonesOf(s: SparkSession, genDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$genDir/tombstones")
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hfs.exists(p) && hfs.listStatus(p).exists(!_.getPath.getName.startsWith("_")))
      Some(s.read.parquet(p.toString).select(col("vec_id")))
    else None
  }

  /** The generation's corpus minus tombstoned rows — what every probe
    * serves. A generation carries a `tombstones/` ledger only if an
    * earlier release's delete path wrote one; the anti-join's left side
    * keeps its cell partition filters (they push through to the scan). */
  private def liveCorpus(s: SparkSession, genDir: String): DataFrame = {
    val c = s.read.parquet(s"$genDir/corpus")
    tombstonesOf(s, genDir).fold(c)(t => c.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Search a written index: rank cells per query against the stored
    * centroids, then read ONLY the probed cell partitions (the `cell IN
    * (...)` filter prunes at the parquet directory level — asserted on
    * the executed plan by IvfIndexSpec) and exact-decimal re-rank. */
  def probeIvfIndex(s: SparkSession, path: String, nQueries: Int = 5,
                    k: Int = 5, nprobe: Int = 3): DataFrame = {
    val genDir = indexGenDir(s, path)
    val corpus = liveCorpus(s, genDir)
    probeStored(s, genDir, corpus, queriesOf(corpus, nQueries), k, nprobe,
      excludeSelf = true)
  }

  /** Search a written index with EXTERNAL query vectors: `queries` is any
    * (qid, embedding) DataFrame — held-out vectors, a user batch, another
    * table — NOT rows of the indexed corpus. Same pruned-probe plan as
    * the corpus-query form (only the probed cell directories are read);
    * no self-exclusion, because the caller's qid space is unrelated to
    * corpus vec_ids. */
  def probeIvfIndex(s: SparkSession, path: String, queries: DataFrame,
                    k: Int, nprobe: Int): DataFrame = {
    val genDir = indexGenDir(s, path)
    probeStored(s, genDir, liveCorpus(s, genDir),
      externalQ(queries), k, nprobe, excludeSelf = false)
  }

  private def probeStored(s: SparkSession, genDir: String, corpus: DataFrame,
      q: DataFrame, k: Int, nprobe: Int, excludeSelf: Boolean): DataFrame = {
    val c2 = s.read.parquet(s"$genDir/centroids")
    val wq = Window.partitionBy(col("qid")).orderBy(col("dkey"), col("cell"))
    val probes = q.join(broadcast(c2))
      .withColumn("dkey", distKey(col("qiv"), col("csum"), col("cn")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qv"), col("cell").as("pcell"))
      .persist()
    // the probed cell set is tiny (≤ nQueries·nprobe ids) — collect it so
    // the corpus read carries a literal IN-list partition filter
    val probedCells = probes.select(col("pcell")).distinct()
      .collect().map(_.getLong(0))
    val joinCond =
      if (excludeSelf) col("cell") === col("pcell") && col("vec_id") =!= col("qid")
      else col("cell") === col("pcell")
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    corpus.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), joinCond)
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Embedding near-dup detection via random-hyperplane LSH bucketing,
    * cosine-verified within buckets only (never all-pairs).
    *
    * The driver corpus has no natural near-dups (max pairwise cosine ≈ 0.51
    * at sf0.01), so the query plants them deterministically: every 10th
    * vector is re-added scaled by exactly 2.0f (id + 1e6). ×2 is exact in
    * IEEE float — the copy's *direction* is bit-identical, every hyperplane
    * projection doubles exactly, so its sign (and thus the LSH bucket) is
    * provably unchanged → recall is exactly 1.0 and the result is the exact
    * planted pair set, which makes the whole LSH pipeline oracle-checkable.
    * Scale: candidate generation is a bucket-equijoin (shuffle on bucket),
    * never a cross join; verification cost ∝ bucket collisions only.
    * The bucket self-join carries ONLY (vec_id, bucket) — the 16×64-mult
    * projection runs once per row into a materialized cache instead of once
    * per join side, and the embedding arrays are never shuffled: the small
    * candidate-pair list is broadcast back onto the corpus to fetch vectors
    * for the cosine verify. */
  def cosineNearDup(s: SparkSession, d: String, bits: Int = 16,
                    threshold: Double = 0.999): DataFrame = {
    val e = Tables.embeddings(s, d)
    val planted = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding")).union(planted)
    val bk = Tables.spread(corpus)
      .select(col("vec_id"), V.cosineLshBucket(col("embedding"), bits).as("bucket"))
      .persist()
    bk.count()
    val cand = bk.select(col("vec_id").as("id_a"), col("bucket"))
      .join(bk.select(col("vec_id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    corpus.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .join(broadcast(cand), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"),
        col("embedding").as("v_b")), "id_b")
      .filter(graft.functions.CosineExpr.cosineFast(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact-decimal dot product over the INTEGER-scaled vectors: the iv
    * arrays are the (18,9) decimals ×1e9, so Σ ivA·ivB is the decimal
    * dot ×1e18 exactly. One fused BigInt fold per pair reproduces
    * [[V.dotExact]] bit-for-bit — same HALF_UP round to scale 12, same
    * correctly-rounded BigDecimal→double conversion (parity pinned by
    * VectorFnsSpec) — at a fraction of the interpreted decimal HOF's
    * cost, which is the difference between a usable and an unusable
    * corpus×corpus re-rank (millions of dots, not thousands). */
  private val dotExactIvUdf =
    udf((a: Array[Long], b: Array[Long]) => ExactInt.dot(a, b))

  /** The fused exact dot as a plain function (spec hook: the fast
    * long-division rounding tail is pinned against a BigDecimal
    * reference over randomized magnitudes, including the ×8 smoke
    * range and exact rounding-boundary accumulators). */
  private[graft] def dotExactIvPure(a: Seq[Long], b: Seq[Long]): Double =
    ExactInt.dot(a, b)

  /** Column form of the fused exact dot (package-private: specs pin its
    * bit-parity against the [[V.dotExact]] expression). */
  private[graft] def dotExactIv(a: Column, b: Column): Column =
    dotExactIvUdf(a, b)

  /** Top-`nprobe` nearest cells per row — the argmin UDF generalized to
    * a ranked prefix: same exact integer arithmetic, same (key, cell)
    * tie order as [[distKey]] + row_number. Fused because in the k-NN
    * join EVERY corpus row ranks the full centroid table; the
    * expression form would re-enter the interpreted decimal fold K
    * times per row (the measured 3.7 s-vs-1 s lesson from training).
    * Centroids ship as a broadcast array for the same per-row-conversion
    * reason as [[centArray]]. */
  /** Driver-side mirror of [[probeCellsOf]] for an already-collected
    * query vector: identical cellKey arithmetic and (key, cell) tie
    * order, so both paths rank cells bit-identically. Lets the probe
    * pipelines compute their ≤ nQueries·nprobe (qid, cell) pairs with
    * zero Spark jobs — no probes plan to persist, no UDF broadcast. */
  private def probeCellsDriver(cents: Array[(Long, Array[Long], Long)],
      qiv: Array[Long], nprobe: Int): Seq[Long] = {
    val keys = new Array[(Double, Long)](cents.length)
    var c = 0
    while (c < cents.length) {
      val (cell, csum, cn) = cents(c)
      keys(c) = (ExactInt.cellKey(qiv, csum, cn), cell)
      c += 1
    }
    keys.sortBy(identity).take(nprobe).map(_._2).toSeq
  }

  private[graft] def probeCellsOf(cents: DataFrame, nprobe: Int)(iv: Column): Column = {
    val bc = centArray(cents)
    val u = udf((ivv: Array[Long]) => {
      val cs = bc.value
      val keys = new Array[(Double, Long)](cs.length)
      var c = 0
      while (c < cs.length) {
        val (cell, csum, cn) = cs(c)
        keys(c) = (ExactInt.cellKey(ivv, csum, cn), cell)
        c += 1
      }
      keys.sortBy(identity).take(nprobe).map(_._2).toSeq
    })
    u(iv)
  }

  /** Corpus×corpus k-NN join THROUGH the IVF index — the operator
    * semantic-dedup and clustering pipelines actually run at scale:
    * every corpus vector finds its top-k neighbors among the members of
    * its `nprobe` nearest cells only, NEVER all-pairs. Candidate count
    * is Σ_c |members(c)| · |probers(c)| — cell-bounded, quadratic only
    * within a cell, and with cells ≈ √N (the default) that is ≈
    * nprobe·N^1.5 total work instead of N².
    *
    * Scale shape: cell ranking is one fused map-only UDF pass over the
    * broadcast K-row centroid array (per side); the candidate join
    * shuffles both sides by cell id, each row carrying its integer
    * vector ONCE per probe (never per pair); the re-rank is the fused
    * integer-exact dot; top-k is a per-qid window over candidates. AQE
    * skew-split handles hot cells. Results are engine-exact (integer
    * quantizer + exact-decimal dots), so the whole join — probe policy
    * included — is reproduced by the DuckDB oracle. */
  def ivfKnnJoin(corpus: DataFrame, k: Int = 3, nprobe: Int = 2,
      cells: Int = 0): DataFrame = {
    val (a2, c2, _) = trainAssign(corpus, cells)
    knnJoinAssigned(a2, c2, k, nprobe)
  }

  private def knnJoinAssigned(a2: DataFrame, c2: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val probes = a2
      .select(col("vec_id").as("qid"), col("iv").as("qiv"),
        explode(probeCellsOf(c2, nprobe)(col("iv"))).as("pcell"))
    // per-query top-k via row_number — because Catalyst ALREADY plans
    // the scale-critical part: InferWindowGroupLimit (Spark 3.5+)
    // rewrites `row_number <= k` into a partial WindowGroupLimit BEFORE
    // the qid exchange, so only ≤ k rows per (qid, task) reach the
    // wire, not the ≈ nprobe·N²/cells candidate set. Measured at the
    // 64× corpus: the qid exchange carries exactly 384k = k·N records
    // (identical to a hand-built native partial-top-k plan,
    // graft.plans.TopKPerKey, which measured SLOWER end-to-end:
    // 27-28 s vs the window's 21-26 s — the native iterator pays a
    // non-codegen projection per candidate row the WindowGroupLimitExec
    // doesn't). The earlier typed-Aggregator form was slower still
    // (185-189 s pre-array-fix). PlanAuditSpec pins the partial
    // WindowGroupLimit so an optimizer-conf regression can't silently
    // restore the full-candidate shuffle.
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    a2
      .join(probes, col("cell") === col("pcell") && col("vec_id") =!= col("qid"))
      .withColumn("dot", dotExactIvUdf(col("qiv"), col("iv")))
      .select(col("qid"), col("vec_id"), col("dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }


  /** Semantic dedup — the pipeline [[ivfKnnJoin]] exists for: k-NN
    * edges through the IVF index → cosine gate → greedy keep-first drop
    * (a row is dropped iff some k-NN neighbor with a SMALLER id clears
    * the cosine threshold; `dup_of` reports the smallest such witness).
    * Returns the dropped rows — the curation delta, O(duplicates) rows,
    * which at 100 TB is what you anti-join against the corpus rather
    * than rewriting the corpus through a "kept" materialization.
    *
    * Scale shape: everything upstream is the cell-bounded k-NN join
    * (never all-pairs); the cosine gate needs per-vector norms, which
    * are one map-side exact self-dot pass over the already-assigned
    * corpus, equi-joined to the N·k edge set (norms are N rows — NOT
    * broadcast; at corpus scale that join shuffles N·k vs N, the same
    * order as the join that produced the edges). The greedy rule is a
    * single groupBy over the gated edges — no iteration, unlike
    * transitive-closure clustering (q58's job): keep-first is the
    * SemDeDup-style policy where any sufficiently-close earlier row
    * suffices as the kill witness.
    *
    * Engine-exact end to end — integer quantizer, exact-decimal dots
    * (neighbor AND self), one correctly-rounded double division per
    * cosine — so the DuckDB oracle reproduces the whole pipeline,
    * probe policy and threshold decisions included. Planted exact
    * copies (the q43 convention, unscaled) guarantee a non-trivial
    * drop set: a copy shares its source's cell and clears any
    * threshold, so every planted row dies with its source as witness. */
  def semanticDedup(s: SparkSession, d: String, k: Int = 3,
      nprobe: Int = 2, cells: Int = 0,
      threshold: Double = 0.99): DataFrame =
    plantedGatedEdges(s, d, k, nprobe, cells, threshold)
      .filter(col("vec_id") < col("qid"))
      .groupBy(col("qid"))
      .agg(min(col("vec_id")).as("dup_of"))
      .select(col("qid").as("vec_id"), col("dup_of"))
      .orderBy(col("vec_id"))

  /** The cosine-gated k-NN edge set over the copy-planted corpus —
    * TRAINED ONCE per (session, dir, params) and shared by
    * [[semanticDedup]] (q110) and [[semanticClusters]] (q113): the two
    * operators run the IDENTICAL pipeline (quantizer, k-NN join, norms,
    * cosine gate) and differ only in the tail (keep-first reduction vs
    * connected components), so retraining per query is pure waste —
    * ~7 s/query of N-invariant constants on the bench board. The memo
    * is safe for correctness because every stage is deterministic
    * (md5-seeded exact-integer Lloyd, exact-decimal dots): a cache hit
    * returns bit-identical edges to a fresh train. Stored in the
    * per-session memo ([[memoFor]]) so a new session never sees a
    * stale plan (see memoFor's lifetime contract for what is and is
    * not reclaimed).
    *
    * The edge set is materialized by eager `localCheckpoint`, NOT
    * `persist`: the bench/verify harnesses call
    * `spark.catalog.clearCache()` between queries, which would silently
    * unpersist a cached memo and make the second consumer recompute the
    * whole training DAG UNCACHED (a2 appears four times in the edge
    * plan — the recompute would be strictly worse than no sharing).
    * Checkpoint blocks live outside the SQL cache manager, so the memo
    * survives; the training caches are released eagerly once the edges
    * (≤ N·k id pairs) are materialized. */
  /** Per-session memo store for trained artifacts (gated edge sets, PQ
    * codebooks, coarse assignments). Keyed by the owning SparkSession
    * as an identity map, so two sessions can never alias (the previous
    * identityHashCode-in-a-string key could collide).
    *
    * Lifetime contract, stated honestly: the map is weak-KEYED, but a
    * memoized DATAFRAME value (the gated edge set, the q114 coarse
    * assignment) strongly references its session, which per the
    * WeakHashMap contract pins that entry until [[invalidateMemos]] or
    * JVM exit — pure driver-array values (codebooks) carry no such
    * reference and do reclaim with the session. A few entries per
    * (session, dir) is the accepted cost in the one-session-per-
    * process harnesses this serves; call [[invalidateMemos]] when the
    * data under a dir is rewritten mid-session or an executor loss
    * strands a localCheckpoint. */
  private val sessionMemos = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  private def memoFor(s: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, AnyRef] =
    sessionMemos.synchronized {
      var m = sessionMemos.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
        sessionMemos.put(s, m)
      }
      m
    }

  /** Drop every memoized trained artifact for `s` — the explicit
    * eviction for rewritten source data or stranded checkpoints (see
    * the memo contract above). */
  def invalidateMemos(s: SparkSession): Unit =
    sessionMemos.synchronized {
      val m = sessionMemos.get(s)
      if (m != null) m.clear()
    }

  private def plantedGatedEdges(s: SparkSession, d: String, k: Int,
      nprobe: Int, cells: Int, threshold: Double): DataFrame =
    memoFor(s).computeIfAbsent(s"edges|$d|$k|$nprobe|$cells|$threshold",
      _ => {
        val e = Tables.embeddings(s, d)
        val planted = e.filter(pmod(col("vec_id"), lit(10)) === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val corpus = e.select(col("vec_id"), col("embedding")).union(planted)
        // train → k-NN join → self-norms → cosine gate; the gated
        // DIRECTED edges (qid, vec_id) are checkpointed before the
        // training caches are released (the plan is lazy)
        val (a2, c2, base) = trainAssign(corpus, cells)
        val knn = knnJoinAssigned(a2, c2, k, nprobe)
        val norms = a2.select(col("vec_id"),
          dotExactIv(col("iv"), col("iv")).as("sq"))
        val gated = knn
          .join(norms.select(col("vec_id").as("qid"), col("sq").as("qsq")), "qid")
          .join(norms.select(col("vec_id"), col("sq").as("csq")), "vec_id")
          .withColumn("cos", col("dot") / (sqrt(col("qsq")) * sqrt(col("csq"))))
          .filter(col("cos") >= threshold)
          .select(col("qid"), col("vec_id"))
          .localCheckpoint(true)
        a2.unpersist(); base.unpersist(); c2.unpersist()
        gated
      }).asInstanceOf[DataFrame]

  /** ADC score of ONE (query, code-row) pair: the m table hits summed
    * in SUBSPACE ORDER (float addition is not associative; the oracle
    * pivots and adds in the same order). The per-pair form is what the
    * IVFADC join needs — [[adcScoresCol]]'s explode-all-queries shape
    * would score every query against every code row, defeating the
    * cell restriction. */
  private def adcScorePairCol(s: SparkSession,
      lut: Array[(Long, Array[Array[Double]])])(qid: Column,
      codes: Column): Column = {
    val bcLut = s.sparkContext.broadcast(lut.toMap)
    val u = udf((q: Long, cs: Seq[Long]) => {
      val tabs = bcLut.value(q)
      var sc = 0.0
      var mi = 0
      while (mi < tabs.length) { sc += tabs(mi)(cs(mi).toInt); mi += 1 }
      sc
    })
    u(qid, codes)
  }

  /** IVFADC from a raw table (q114's Verify form): coarse quantizer +
    * per-subspace PQ trained inline over the held-out-query corpus
    * (vec_id ≥ nQueries — the q103/q111 convention), then the FAISS
    * IVFADC three-stage probe: coarse cell prune → ADC over probed
    * cells' codes only → exact-decimal re-rank of the shortlist.
    * Engine-exact end to end (md5-seeded integer Lloyd for BOTH quantizers, exact HUGEINT ADC terms summed in subspace order,
    * exact dots in the re-rank), so the DuckDB oracle replays the full
    * composition — probe policy, LUT pivot, and shortlist included. */
  def ivfAdcRerank(s: SparkSession, d: String, m: Int = 4,
      subDim: Int = 16, codewords: Int = 16, nQueries: Int = 5,
      k: Int = 5, nprobe: Int = 2, cells: Int = 0,
      shortlist: Int = 50): DataFrame = {
    // both quantizers come from the (session, dir) memos — q114 shares
    // its codebooks with q111/q112 and its coarse assignment across
    // invocations; a memo hit is bit-identical to a fresh train
    val (a2, c2) = heldOutAssign(s, d, cells, nQueries)
    ivfAdcCore(Tables.embeddings(s, d), a2, c2,
      heldOutBooks(s, d, m, subDim, codewords, nQueries),
      subDim, nQueries, k, nprobe, shortlist)
  }

  /** DataFrame form of [[ivfAdcRerank]] (trains inline — ad-hoc corpora
    * have no (session, dir) memo identity). */
  def ivfAdcRerankFrom(e: DataFrame, m: Int, subDim: Int, codewords: Int,
      nQueries: Int, k: Int, nprobe: Int, cells: Int,
      shortlist: Int): DataFrame = {
    val (a2, c2, _) = trainAssign(
      e.filter(col("vec_id") >= nQueries), cells)
    // per-subspace PQ codebooks over the SAME corpus (driver arrays)
    val books = trainBooksOn(a2, m, subDim, codewords)
    ivfAdcCore(e, a2, c2, books, subDim, nQueries, k, nprobe, shortlist)
  }

  /** The IVFADC probe pipeline over an already-trained assignment:
    * coarse cell prune → ADC over probed cells' codes only → exact
    * re-rank of the shortlist. */
  private def ivfAdcCore(e: DataFrame, a2: DataFrame, c2: DataFrame,
      books: Array[Codebook], subDim: Int, nQueries: Int, k: Int,
      nprobe: Int, shortlist: Int): DataFrame = {
    val s = e.sparkSession
    val codes = a2.select(col("vec_id"), col("cell"),
      pqCodesCol(s, books, subDim)(col("iv")).as("codes"))
    // coarse prune: rank trained centroids per query, keep nprobe cells
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        intVec(col("embedding")).as("qiv"))
    // bounded collect: nQueries (qid, qiv) rows — they drive the
    // per-query ADC LUTs (driver artifacts by design) and the cell
    // ranking, computed on the DRIVER over the collected centroid array
    // (K ≈ √N rows, identical probeCellsOf arithmetic) — no probe-side
    // Spark job, nothing persisted per call
    val qArr = queries.select(col("qid"), col("qiv")).distinct().collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val cents = centRows(c2)
    val probePairs = qArr.toSeq.flatMap { case (qid, qiv) =>
      probeCellsDriver(cents, qiv, nprobe).map(c => (qid, c)) }
    val lut = adcLut(books, subDim, qArr)
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    import s.implicits._
    val probes = probePairs.toDF("qid", "pcell")
    val short = codes
      .join(broadcast(probes), col("cell") === col("pcell"))
      .withColumn("score", adcScorePairCol(s, lut)(col("qid"), col("codes")))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= shortlist)
      .select(col("qid"), col("vec_id"))
    val wE = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    a2.select(col("vec_id"), col("embedding"))
      .join(broadcast(short), "vec_id")
      .join(broadcast(queries.select(col("qid"), col("qv"))), "qid")
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Semantic CLUSTERS (q113) — the q58 shape for embeddings: the
    * cosine-gated k-NN edge set (same exact pipeline as
    * [[semanticDedup]], un-filtered by id order, symmetrized) feeds the
    * shared connected-components machinery (large-star/small-star with
    * the size-gated driver union-find — TextOps.minLabelPropagate), and
    * every corpus row gets its component's minimum id as the cluster
    * label (singletons label themselves). Where [[semanticDedup]]
    * answers "what do I drop", this answers "what belongs together" —
    * the input to canonical selection / per-group curation. Edges are
    * engine-exact, so the oracle replays them and resolves the same
    * components with a recursive-CTE reachability mirror (the q58
    * convention). */
  def semanticClusters(s: SparkSession, d: String, k: Int = 3,
      nprobe: Int = 2, cells: Int = 0,
      threshold: Double = 0.99): DataFrame = {
    val e = Tables.embeddings(s, d)
    val planted = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding")).union(planted)
    // gated edge set SHARED with semanticDedup (see plantedGatedEdges:
    // one training, two consumers)
    val gated = plantedGatedEdges(s, d, k, nprobe, cells, threshold)
    // k-NN edges are DIRECTED (q can see v without v ranking q back);
    // connectivity treats them undirected — both directions in one scan
    val edges = gated.select(explode(array(
        struct(col("qid").as("a"), col("vec_id").as("b")),
        struct(col("vec_id").as("a"), col("qid").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val labels = TextOps.minLabelPropagate(edges)
    corpus.select(col("vec_id"))
      .join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) with asymmetric-distance (ADC) scoring
  // ---------------------------------------------------------------------

  /** One PQ codebook: per-codeword exact integer (csum, cn) pairs for a
    * single subspace, indexed by codeword id. */
  private type Codebook = Array[(Long, Array[Long], Long)]

  /** Train one subspace's codebook (2-pass md5-seeded Lloyd — exactly
    * the coarse quantizer's discipline, on `subDim`-dim slices) and
    * return it as a driver array: `codewords` rows of (cw, csum, cn) —
    * 16 rows of 16 longs here, trivially bounded. */
  private def trainBook(sub: DataFrame, subDim: Int,
      codewords: Int): Codebook = {
    def upd(df: DataFrame): DataFrame = df.groupBy(col("cw"))
      .agg(graft.functions.ArrayLongSumAgg.arrayLongSum(subDim)(col("siv"))
        .as("csum"), count(lit(1)).as("cn"))
    def collectBook(df: DataFrame): Codebook =
      df.select(col("cw"), col("csum"), col("cn")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        .sortBy(_._1)
    def assign(book: Codebook): DataFrame = {
      val bc = sub.sparkSession.sparkContext.broadcast(book)
      val u = udf((siv: Array[Long]) => {
        var bestK = Double.MaxValue
        var bestC = Long.MaxValue
        val cs = bc.value
        var c = 0
        while (c < cs.length) {
          val (cw, csum, cn) = cs(c)
          val dk = ExactInt.cellKey(siv, csum, cn)
          if (dk < bestK || (dk == bestK && cw < bestC)) {
            bestK = dk; bestC = cw
          }
          c += 1
        }
        bestC
      })
      sub.withColumn("cw", u(col("siv")))
    }
    val seeded = sub.withColumn("cw",
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % codewords)
    collectBook(upd(assign(collectBook(upd(seeded)))))
  }

  /** Fused all-subspace PQ code assignment as a Column over the full iv
    * — ONE home for the argmin loop, shared by the flat ADC scorer
    * (q111/q112) and the IVFADC probe (q114) (a tie-break or key-formula
    * change must never be able to diverge between them). */
  private def pqCodesCol(s: SparkSession, books: Array[Codebook],
      subDim: Int)(iv: Column): Column = {
    val bcBooks = s.sparkContext.broadcast(books)
    val u = udf((ivv: Array[Long]) => {
      val bs = bcBooks.value
      // guard the slice contract loudly: copyOfRange zero-PADS (or
      // throws) past the vector's end where trainBook's Catalyst
      // slice() CLAMPS — an m·subDim larger than the vector dim would
      // assign codes against keys the books were never trained on,
      // silently corrupting every ADC score downstream
      if (ivv.length < bs.length * subDim) throw new IllegalArgumentException(
        s"PQ m*subDim = ${bs.length * subDim} exceeds vector dim ${ivv.length}: " +
          "codes would diverge from the trained (clamped-slice) books")
      val out = new Array[Long](bs.length)
      var mi = 0
      while (mi < bs.length) {
        val siv = java.util.Arrays.copyOfRange(ivv, mi * subDim,
          (mi + 1) * subDim)
        val book = bs(mi)
        var bestK = Double.MaxValue
        var bestC = Long.MaxValue
        var c = 0
        while (c < book.length) {
          val (cw, csum, cn) = book(c)
          val dk = ExactInt.cellKey(siv, csum, cn)
          if (dk < bestK || (dk == bestK && cw < bestC)) {
            bestK = dk; bestC = cw
          }
          c += 1
        }
        out(mi) = bestC
        mi += 1
      }
      out.toSeq
    })
    u(iv)
  }

  /** Per-query ADC lookup tables: term(q, mi, cw) = exact(q_mi·csum)/cn,
    * sized to each book's max codeword id. Shared by the flat ADC scorer
    * and the IVFADC probe. */
  private def adcLut(books: Array[Codebook], subDim: Int,
      qArr: Array[(Long, Array[Long])]): Array[(Long, Array[Array[Double]])] =
    qArr.map { case (qid, qiv) =>
      (qid, books.zipWithIndex.map { case (book, mi) =>
        val qslice: Seq[Long] =
          qiv.slice(mi * subDim, (mi + 1) * subDim).toSeq
        val arr = new Array[Double](
          book.map(_._1).foldLeft(-1L)(math.max).toInt + 1)
        book.foreach { case (cw, csum, cn) =>
          arr(cw.toInt) = ExactInt.dotRaw(qslice, csum) / cn.toDouble
        }
        arr
      })
    }

  /** (qid, score) pairs per corpus row from its codes column — the m
    * table hits added in SUBSPACE ORDER (float addition is not
    * associative; the oracles pivot and add in the same order). */
  private def adcScoresCol(s: SparkSession,
      lut: Array[(Long, Array[Array[Double]])])(codes: Column): Column = {
    val bcLut = s.sparkContext.broadcast(lut)
    val u = udf((cs: Seq[Long]) => {
      bcLut.value.toSeq.map { case (qid, tabs) =>
        var sc = 0.0
        var mi = 0
        while (mi < tabs.length) { sc += tabs(mi)(cs(mi).toInt); mi += 1 }
        (qid, sc)
      }
    })
    u(codes)
  }

  /** PQ codebooks over the held-out corpus of `d`, trained ONCE per
    * (session, dir, params) and shared by q111/q112/q114 — the
    * [[plantedGatedEdges]] discipline applied to the PQ family: all
    * three queries train the IDENTICAL m codebooks (same md5-seeded
    * integer Lloyd, same held-out corpus, same subspace slices), so a
    * memo hit returns bit-identical books to a fresh train. Books are
    * plain driver arrays (m·codewords·subDim longs), so unlike the edge
    * memo no checkpoint is needed — `clearCache()` can't touch them.
    * The training cache is released before returning. */
  private def heldOutBooks(s: SparkSession, d: String, m: Int,
      subDim: Int, codewords: Int, nQueries: Int): Array[Codebook] =
    memoFor(s).computeIfAbsent(s"pqbooks|$d|$m|$subDim|$codewords|$nQueries",
      _ => {
        val base = Tables.embeddings(s, d)
          .filter(col("vec_id") >= nQueries)
          .select(col("vec_id"), intVec(col("embedding")).as("iv")).persist()
        val books = trainBooksOn(base, m, subDim, codewords)
        base.unpersist()
        books
      }).asInstanceOf[Array[Codebook]]

  /** Train the m per-subspace codebooks over a (vec_id, iv) table —
    * the loop shared by the flat-PQ and IVFADC trainers. */
  private def trainBooksOn(base: DataFrame, m: Int, subDim: Int,
      codewords: Int): Array[Codebook] =
    (0 until m).map { mi =>
      trainBook(base.select(col("vec_id"),
        slice(col("iv"), 1 + mi * subDim, subDim).as("siv")),
        subDim, codewords)
    }.toArray

  /** The held-out coarse assignment (a2, c2) of `d`, trained ONCE per
    * (session, dir, cells, nQueries) for q114's inline-train form.
    * Materialized by eager `localCheckpoint` (NOT persist) for the same
    * reason as [[plantedGatedEdges]]: the bench/verify harnesses call
    * `clearCache()` between queries, which would silently unpersist a
    * cached memo and make the next consumer replay the whole training
    * DAG uncached. Safe because the trained assignment is deterministic
    * (md5-seeded exact-integer Lloyd). The a2 checkpoint holds the
    * held-out corpus (vec_id, embedding, iv, cell) — bench-scale data. */
  private def heldOutAssign(s: SparkSession, d: String, cells: Int,
      nQueries: Int): (DataFrame, DataFrame) =
    memoFor(s).computeIfAbsent(s"assign|$d|$cells|$nQueries", _ => {
      val (a2, c2, base) = trainAssign(
        Tables.embeddings(s, d).filter(col("vec_id") >= nQueries), cells)
      val a2c = a2.localCheckpoint(true)
      val c2c = c2.localCheckpoint(true)
      a2.unpersist(); c2.unpersist(); base.unpersist()
      (a2c, c2c)
    }).asInstanceOf[(DataFrame, DataFrame)]

  /** PQ-ADC top-k (q111): the memory-bounded ANN variant — each corpus
    * vector is stored as `m` sub-codeword ids (m bytes-per-vector class
    * storage vs 64 floats; here 4 longs for schema simplicity), and a
    * query is scored against a vector WITHOUT touching the vector: per
    * subspace, a 16-entry lookup table of exact query·codeword terms is
    * built once per query, and the score is the ordered sum of m table
    * hits. That is the classic asymmetric-distance computation — the
    * layout that lets a billion-vector index live in RAM.
    *
    * Engine-exact and oracle-replayable end to end: codebooks are the
    * same md5-seeded 2-pass exact-integer Lloyd as the coarse
    * quantizer, per subspace; each ADC term is an exact 128-bit integer
    * dot (query slice · codeword sum) correctly rounded to double, then
    * divided by the exact member count; the m terms are added in
    * subspace order (floating-point addition is not associative — the
    * SQL mirror pivots to columns and adds in the same order). Ranking
    * ties break by vec_id. Output is rank-only (the q41 convention):
    * ADC is approximate by construction, so the verified artifact is
    * the POLICY — quantize, score, rank — not float values.
    *
    * Held-out shape (the q103 convention): the index holds
    * vec_id ≥ nQueries, the first `nQueries` vectors query it from
    * outside. Scale shape: training aggregates are map-side partial
    * over N rows per subspace; codebooks and per-query tables are
    * driver/broadcast-bounded (m·codewords·subDim longs); scoring is
    * ONE map pass over the code table (N·m ints, never the vectors)
    * plus a per-query top-k window. */
  def pqAdcTopK(s: SparkSession, d: String, m: Int = 4, subDim: Int = 16,
      codewords: Int = 16, nQueries: Int = 5, k: Int = 5): DataFrame =
    pqAdcFromBooks(Tables.embeddings(s, d), m, subDim, codewords, nQueries,
      k, Some(heldOutBooks(s, d, m, subDim, codewords, nQueries)))

  /** Two-stage PQ retrieval (q112): ADC shortlist → EXACT re-rank —
    * the production shape (FAISS-style): the compressed codes prune the
    * corpus to `shortlist` candidates per query without touching a
    * vector, then only those candidates' real vectors are fetched for
    * an exact-decimal dot ordering. Output carries the exact dot (the
    * q40 hash-comparable convention) — the approximation decides only
    * WHICH rows compete, never the reported values. At scale the fetch
    * is a broadcast of nQueries·shortlist ids against the corpus — the
    * vectors never shuffle for scoring. `shortlist ≥ corpus` degrades
    * to exact brute force (spec-pinned ≡ [[dotTopKFrom]]). */
  def pqAdcRerank(s: SparkSession, d: String, m: Int = 4, subDim: Int = 16,
      codewords: Int = 16, nQueries: Int = 5, k: Int = 5,
      shortlist: Int = 50): DataFrame =
    pqAdcRerankFromBooks(Tables.embeddings(s, d), m, subDim, codewords,
      nQueries, k, shortlist,
      Some(heldOutBooks(s, d, m, subDim, codewords, nQueries)))

  /** DataFrame form of [[pqAdcRerank]]. */
  def pqAdcRerankFrom(e: DataFrame, m: Int, subDim: Int, codewords: Int,
      nQueries: Int, k: Int, shortlist: Int): DataFrame =
    pqAdcRerankFromBooks(e, m, subDim, codewords, nQueries, k, shortlist,
      None)

  private def pqAdcRerankFromBooks(e: DataFrame, m: Int, subDim: Int,
      codewords: Int, nQueries: Int, k: Int, shortlist: Int,
      booksIn: Option[Array[Codebook]]): DataFrame = {
    val s = e.sparkSession
    val wA = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    val short = pqScored(e, m, subDim, codewords, nQueries, booksIn)
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= shortlist)
      .select(col("qid"), col("vec_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val wE = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("vec_id"))
    e.select(col("vec_id"), col("embedding"))
      .join(broadcast(short), "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", V.dotExact(col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("dot"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** DataFrame form of [[pqAdcTopK]] (any (vec_id, embedding) table). */
  def pqAdcFrom(e: DataFrame, m: Int, subDim: Int, codewords: Int,
      nQueries: Int, k: Int): DataFrame =
    pqAdcFromBooks(e, m, subDim, codewords, nQueries, k, None)

  private def pqAdcFromBooks(e: DataFrame, m: Int, subDim: Int,
      codewords: Int, nQueries: Int, k: Int,
      booksIn: Option[Array[Codebook]]): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    pqScored(e, m, subDim, codewords, nQueries, booksIn)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Shared PQ pipeline: codebooks → codes → ADC scores, one row per
    * (qid, corpus vec). */
  private def pqScored(e: DataFrame, m: Int, subDim: Int, codewords: Int,
      nQueries: Int, booksIn: Option[Array[Codebook]] = None): DataFrame = {
    val s = e.sparkSession
    val base = e.select(col("vec_id"), intVec(col("embedding")).as("iv"))
      .persist()
    val corpus = base.filter(col("vec_id") >= nQueries)
    // per-subspace codebooks (driver arrays: m × codewords × subDim
    // longs) — injected by the (session, dir)-memoized wrappers, trained
    // inline for ad-hoc DataFrame callers
    val books: Array[Codebook] =
      booksIn.getOrElse(trainBooksOn(corpus, m, subDim, codewords))
    // fused code assignment: one map pass, all m subspaces per row
    val codes = corpus.select(col("vec_id"),
      pqCodesCol(s, books, subDim)(col("iv")).as("codes"))
    val qArr = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("iv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val lut = adcLut(books, subDim, qArr)
    codes.select(col("vec_id"),
        explode(adcScoresCol(s, lut)(col("codes"))).as("qs"))
      .select(col("qs._1").as("qid"), col("vec_id"), col("qs._2").as("score"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_dot_topk" -> ((s, d) => dotTopK(s, d)),
    "q41_cosine_topk" -> ((s, d) => cosineTopK(s, d)),
    "q42_ann_ivf" -> ((s, d) => ivfTopK(s, d)),
    // external-query ANN: the index holds vec_id >= 5 only; the 5 held-out
    // vectors search it from OUTSIDE (no self-exclusion — the real shape)
    "q103_ann_external" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      ivfSearch(e.filter(col("vec_id") >= 5),
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding")),
        k = 5, nprobe = 3, cells = 8)
    }),
    "q43_embedding_neardup" -> ((s, d) => cosineNearDup(s, d)),
    // semantic dedup: k-NN join → cosine gate → greedy keep-first drop;
    // the oracle replays the full pipeline (quantizer, probes, exact
    // dots, threshold) over the same copy-planted corpus
    "q110_semantic_dedup" -> ((s, d) => semanticDedup(s, d)),
    // corpus×corpus top-k through the index: every vector probes its 2
    // nearest of 8 cells; candidates are cell-bounded, never all-pairs
    // cells = 0 → ~√N quantizer sizing — the property that keeps the
    // join's Σ members·probers candidate bound at ~nprobe·N^1.5 instead
    // of the N²/cells a FIXED cell count degrades to as N grows (at
    // sf0.1 the pinned-8-cell form measured 22 s vs ~2 s); the oracle
    // computes the identical cell count from its corpus
    "q105_ann_knn_join" -> ((s, d) =>
      ivfKnnJoin(Tables.embeddings(s, d), k = 3, nprobe = 2, cells = 0)),
    // PQ-ADC: memory-bounded ANN — vectors stored as 4 sub-codeword
    // ids, queries scored via per-subspace lookup tables; the oracle
    // replays codebook training, code assignment, every ADC term, and
    // the ordered 4-term float sum
    "q111_pq_adc" -> ((s, d) => pqAdcTopK(s, d)),
    // two-stage retrieval: ADC shortlist (50) -> exact-decimal dot
    // re-rank; the reported dots are exact (hash-comparable), the
    // approximation only selects the competitors
    "q112_pq_rerank" -> ((s, d) => pqAdcRerank(s, d)),
    // semantic clustering: the q110 edge set, symmetrized, through the
    // shared connected-components machinery; oracle resolves the same
    // components via recursive-CTE reachability (q58 convention)
    "q113_semantic_clusters" -> ((s, d) => semanticClusters(s, d)),
    // IVFADC (q114): coarse IVF cell prune → ADC only over the probed
    // cells' codes → exact re-rank of the 50-deep shortlist — the FAISS
    // production composition (flat PQ's full-codes scan is O(N·m) per
    // query; this is O(probed cells · m)). The oracle composes the q105
    // coarse-quantizer replay with the q111 LUT pivot and q112 re-rank.
    "q114_ivfadc" -> ((s, d) => ivfAdcRerank(s, d)))

  // q40/q42 compare exact-decimal dots (hash-comparable); q41 compares
  // rank-only — the measured margins (≥ 2e-4 between adjacent ranks) dwarf
  // any cross-engine double-aggregation noise (~1e-15), so the ordering is
  // engine-stable even though the raw doubles are not.
  def oracle: Map[String, String] = Map(
    // Trained-quantizer mirror: every step of the Spark pipeline
    // (hash-seed → two integer Lloyd passes → probe → exact-decimal
    // re-rank) is reproduced exactly. Distances compare as
    // sum((n·x − s)²)/n² with a HUGEINT numerator routed through VARCHAR
    // before the double cast (int128→double would double-round), so the
    // comparison keys are bit-identical to Spark's.
    "q42_ann_ivf" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 8 AS cell
           FROM embeddings),
         c1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN seed s USING (vec_id) GROUP BY s.cell, i),
         d1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN a1 a USING (vec_id) GROUP BY a.cell, i),
         d2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2 WHERE vec_id < 5) t
           WHERE rn <= 3),
         flat_q AS (
           SELECT vec_id AS qid, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS qx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           WHERE vec_id < 5),
         flat_c AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT p.qid, a.vec_id,
             CAST(CAST(round(sum(fq.qx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM probes p
           JOIN a2 a ON a.cell = p.cell AND a.vec_id <> p.qid
           JOIN flat_c fc ON fc.vec_id = a.vec_id
           JOIN flat_q fq ON fq.qid = p.qid AND fq.i = fc.i
           GROUP BY p.qid, a.vec_id),
         ranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    // q42's trained-quantizer mirror with the corpus restricted to
    // vec_id >= 5 and the five held-out vectors probing from outside:
    // queries never enter training, their distances run against the c2
    // centroids only, and the re-rank has NO self-exclusion.
    "q103_ann_external" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           WHERE vec_id >= 5),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 8 AS cell
           FROM embeddings WHERE vec_id >= 5),
         c1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN seed s USING (vec_id) GROUP BY s.cell, i),
         d1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN a1 a USING (vec_id) GROUP BY a.cell, i),
         d2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn = 1),
         qiv AS (
           SELECT vec_id AS qid, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           WHERE vec_id < 5),
         d2q AS (
           SELECT v.qid, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM qiv v JOIN c2 c USING (i)
           GROUP BY v.qid, c.cell, c.cn),
         probes AS (
           SELECT qid, cell FROM (
             SELECT qid, cell, row_number() OVER (PARTITION BY qid
               ORDER BY dkey, cell) AS rn FROM d2q) t
           WHERE rn <= 3),
         flat_q AS (
           SELECT vec_id AS qid, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS qx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           WHERE vec_id < 5),
         flat_c AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
           WHERE vec_id >= 5),
         dots AS (
           SELECT p.qid, a.vec_id,
             CAST(CAST(round(sum(fq.qx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM probes p
           JOIN a2 a ON a.cell = p.cell
           JOIN flat_c fc ON fc.vec_id = a.vec_id
           JOIN flat_q fq ON fq.qid = p.qid AND fq.i = fc.i
           GROUP BY p.qid, a.vec_id),
         ranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    // q42's trained-quantizer mirror with EVERY corpus vector as a
    // query: probes keep rn <= 2 per vec_id (the nprobe=2 policy), the
    // candidate join excludes self, and the re-rank keeps rank <= 3.
    // Engine-exact end to end, so the full k-NN join hash-compares.
    "q105_ann_knn_join" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         csz AS (
           SELECT greatest(4, CAST(round(sqrt(count(*))) AS BIGINT))
             AS cells
           FROM embeddings),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % (SELECT cells FROM csz) AS cell
           FROM embeddings),
         c1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN seed s USING (vec_id) GROUP BY s.cell, i),
         d1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN a1 a USING (vec_id) GROUP BY a.cell, i),
         d2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn <= 2),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT p.qid, a.vec_id,
             CAST(CAST(round(sum(fq.cx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM probes p
           JOIN a2 a ON a.cell = p.cell AND a.vec_id <> p.qid
           JOIN flat fc ON fc.vec_id = a.vec_id
           JOIN flat fq ON fq.vec_id = p.qid AND fq.i = fc.i
           GROUP BY p.qid, a.vec_id),
         ranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",

    "q41_cosine_topk" ->
      """WITH q AS (
           SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
         scored AS (
           SELECT qid, vec_id,
             list_cosine_similarity(qv, embedding) AS sim
           FROM q, embeddings WHERE vec_id <> qid),
         ranked AS (
           SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
               AS rank
           FROM scored)
         SELECT qid, vec_id, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    "q40_dot_topk" ->
      """WITH q AS (
           SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id < 5),
         flat_q AS (
           SELECT qid, i, CAST(CAST(qv[i] AS VARCHAR) AS DECIMAL(18,9)) AS qx
           FROM q, (SELECT unnest(range(1, 65)) AS i)),
         flat_c AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT qid, vec_id,
             -- round() is half-away-from-zero = Spark's HALF_UP decimal
             -- cast; DuckDB's own decimal downscale cast truncates, so the
             -- explicit round must come first
             CAST(CAST(round(sum(qx * cx), 12) AS DECIMAL(18,12)) AS DOUBLE)
               AS dot
           FROM flat_q JOIN flat_c USING (i)
           WHERE vec_id <> qid
           GROUP BY qid, vec_id),
         ranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
               AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    // full PQ replay: per-subspace 2-pass Lloyd over 16-dim slices,
    // code assignment, exact ADC terms (hugeint dot → varchar → double
    // → /cn), and the ORDERED 4-term sum (float addition is not
    // associative — the pivot fixes the order the Spark loop uses)
    "q111_pq_adc" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS m, i, x
           FROM iv),
         corp AS (SELECT * FROM sub WHERE vec_id >= 5),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS cw
           FROM embeddings WHERE vec_id >= 5),
         c1 AS (
           SELECT v.m, s.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN seed s USING (vec_id)
           GROUP BY v.m, s.cw, v.i),
         d1 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN c1 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         a1 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT v.m, a.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN a1 a ON a.vec_id = v.vec_id AND a.m = v.m
           GROUP BY v.m, a.cw, v.i),
         d2 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN c2 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         a2 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM d2) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS qid, m, i, x FROM sub WHERE vec_id < 5),
         terms AS (
           SELECT q.qid, c.m, c.cw,
             CAST(CAST(sum(CAST(q.x AS HUGEINT) * c.cs) AS VARCHAR)
               AS DOUBLE) / c.cn AS t
           FROM q JOIN c2 c ON c.m = q.m AND c.i = q.i
           GROUP BY q.qid, c.m, c.cw, c.cn),
         tm AS (
           SELECT t.qid, a.vec_id, a.m, t.t
           FROM a2 a JOIN terms t ON t.m = a.m AND t.cw = a.cw),
         piv AS (
           SELECT qid, vec_id,
             max(CASE WHEN m = 0 THEN t END) AS t0,
             max(CASE WHEN m = 1 THEN t END) AS t1,
             max(CASE WHEN m = 2 THEN t END) AS t2,
             max(CASE WHEN m = 3 THEN t END) AS t3
           FROM tm GROUP BY qid, vec_id),
         ranked AS (
           SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY ((t0 + t1) + t2) + t3 DESC, vec_id) AS rank
           FROM piv)
         SELECT qid, vec_id, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    // q111's full ADC replay, widened to a 50-deep shortlist, then the
    // q40-style exact-decimal dot re-rank over only those candidates
    "q112_pq_rerank" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS m, i, x
           FROM iv),
         corp AS (SELECT * FROM sub WHERE vec_id >= 5),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS cw
           FROM embeddings WHERE vec_id >= 5),
         c1 AS (
           SELECT v.m, s.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN seed s USING (vec_id)
           GROUP BY v.m, s.cw, v.i),
         d1 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN c1 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         a1 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT v.m, a.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN a1 a ON a.vec_id = v.vec_id AND a.m = v.m
           GROUP BY v.m, a.cw, v.i),
         d2 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN c2 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         a2 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM d2) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS qid, m, i, x FROM sub WHERE vec_id < 5),
         terms AS (
           SELECT q.qid, c.m, c.cw,
             CAST(CAST(sum(CAST(q.x AS HUGEINT) * c.cs) AS VARCHAR)
               AS DOUBLE) / c.cn AS t
           FROM q JOIN c2 c ON c.m = q.m AND c.i = q.i
           GROUP BY q.qid, c.m, c.cw, c.cn),
         tm AS (
           SELECT t.qid, a.vec_id, a.m, t.t
           FROM a2 a JOIN terms t ON t.m = a.m AND t.cw = a.cw),
         piv AS (
           SELECT qid, vec_id,
             max(CASE WHEN m = 0 THEN t END) AS t0,
             max(CASE WHEN m = 1 THEN t END) AS t1,
             max(CASE WHEN m = 2 THEN t END) AS t2,
             max(CASE WHEN m = 3 THEN t END) AS t3
           FROM tm GROUP BY qid, vec_id),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY ((t0 + t1) + t2) + t3 DESC, vec_id) AS arank
             FROM piv) t
           WHERE arank <= 50),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT s.qid, s.vec_id,
             CAST(CAST(round(sum(fq.cx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM short s
           JOIN flat fc ON fc.vec_id = s.vec_id
           JOIN flat fq ON fq.vec_id = s.qid AND fq.i = fc.i
           GROUP BY s.qid, s.vec_id),
         reranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid
               ORDER BY dot DESC, vec_id) AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM reranked
         WHERE rank <= 5 ORDER BY qid, rank""",

    // q105's trained-quantizer replay over the copy-planted corpus, plus
    // the q110 tail: exact self-dot norms, one double division per
    // cosine (same association order as the Spark plan), the >= gate,
    // and the keep-first min-witness reduction.
    "q110_semantic_dedup" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id % 10 = 0),
         iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM corpus, (SELECT unnest(range(1, 65)) AS i)),
         csz AS (
           SELECT greatest(4, CAST(round(sqrt(count(*))) AS BIGINT))
             AS cells
           FROM corpus),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % (SELECT cells FROM csz) AS cell
           FROM corpus),
         c1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN seed s USING (vec_id) GROUP BY s.cell, i),
         d1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN a1 a USING (vec_id) GROUP BY a.cell, i),
         d2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn <= 2),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM corpus, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT p.qid, a.vec_id,
             CAST(CAST(round(sum(fq.cx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM probes p
           JOIN a2 a ON a.cell = p.cell AND a.vec_id <> p.qid
           JOIN flat fc ON fc.vec_id = a.vec_id
           JOIN flat fq ON fq.vec_id = p.qid AND fq.i = fc.i
           GROUP BY p.qid, a.vec_id),
         knn AS (
           SELECT qid, vec_id AS nid, dot FROM (
             SELECT qid, vec_id, dot,
               row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
                 AS rank
             FROM dots) t
           WHERE rank <= 3),
         norms AS (
           SELECT vec_id,
             CAST(CAST(round(sum(cx * cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS sq
           FROM flat GROUP BY vec_id),
         edges AS (
           SELECT k.qid, k.nid,
             k.dot / (sqrt(nq.sq) * sqrt(nc.sq)) AS cosv
           FROM knn k
           JOIN norms nq ON nq.vec_id = k.qid
           JOIN norms nc ON nc.vec_id = k.nid)
         SELECT qid AS vec_id, CAST(min(nid) AS BIGINT) AS dup_of
         FROM edges WHERE cosv >= 0.99 AND nid < qid
         GROUP BY qid ORDER BY vec_id""",

    // q110's full edge replay (no id-order filter), symmetrized, then
    // the q58 recursive-reachability component mirror
    "q113_semantic_clusters" ->
      """WITH RECURSIVE corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
           WHERE vec_id % 10 = 0),
         iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM corpus, (SELECT unnest(range(1, 65)) AS i)),
         csz AS (
           SELECT greatest(4, CAST(round(sqrt(count(*))) AS BIGINT))
             AS cells
           FROM corpus),
         seed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % (SELECT cells FROM csz) AS cell
           FROM corpus),
         c1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN seed s USING (vec_id) GROUP BY s.cell, i),
         d1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d1) t
           WHERE rn = 1),
         c2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM iv JOIN a1 a USING (vec_id) GROUP BY a.cell, i),
         d2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN c2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         a2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn = 1),
         probes AS (
           SELECT vec_id AS qid, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM d2) t
           WHERE rn <= 2),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM corpus, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT p.qid, a.vec_id,
             CAST(CAST(round(sum(fq.cx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM probes p
           JOIN a2 a ON a.cell = p.cell AND a.vec_id <> p.qid
           JOIN flat fc ON fc.vec_id = a.vec_id
           JOIN flat fq ON fq.vec_id = p.qid AND fq.i = fc.i
           GROUP BY p.qid, a.vec_id),
         knn AS (
           SELECT qid, vec_id AS nid, dot FROM (
             SELECT qid, vec_id, dot,
               row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
                 AS rank
             FROM dots) t
           WHERE rank <= 3),
         norms AS (
           SELECT vec_id,
             CAST(CAST(round(sum(cx * cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS sq
           FROM flat GROUP BY vec_id),
         gated AS (
           SELECT k.qid, k.nid
           FROM knn k
           JOIN norms nq ON nq.vec_id = k.qid
           JOIN norms nc ON nc.vec_id = k.nid
           WHERE k.dot / (sqrt(nq.sq) * sqrt(nc.sq)) >= 0.99),
         sym AS (
           SELECT qid AS a, nid AS b FROM gated
           UNION
           SELECT nid, qid FROM gated),
         reach AS (
           SELECT a AS node, b AS peer FROM sym
           UNION
           SELECT r.node, e.b FROM reach r JOIN sym e ON e.a = r.peer),
         cc AS (
           SELECT node, least(node, min(peer)) AS cluster
           FROM reach GROUP BY node)
         SELECT c.vec_id, coalesce(cc.cluster, c.vec_id) AS cluster
         FROM corpus c LEFT JOIN cc ON cc.node = c.vec_id
         ORDER BY c.vec_id""",

    // LSH recall is provably exact for the ×2-scaled planted dups (see
    // cosineNearDup scaladoc), so the oracle is simply the planted pair set.
    "q43_embedding_neardup" ->
      """SELECT CAST(vec_id AS BIGINT) AS id_a,
                CAST(vec_id + 1000000 AS BIGINT) AS id_b
         FROM embeddings WHERE vec_id % 10 = 0 ORDER BY 1""",

    // IVFADC: the q105 coarse-quantizer replay (√N cells over the
    // held-out corpus, md5 seed, two integer Lloyd passes), query cell
    // probes (nprobe=2), the q111 PQ replay (per-subspace books, ADC
    // terms from the pass-2 codebooks, ordered 4-term sum) restricted
    // to probed cells only, then the q112 exact-decimal re-rank of the
    // 50-deep shortlist.
    "q114_ivfadc" ->
      """WITH iv AS (
           SELECT vec_id, i,
             CAST(CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9))
               * 1000000000 AS BIGINT) AS x
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         corpiv AS (SELECT * FROM iv WHERE vec_id >= 5),
         csz AS (
           SELECT greatest(4, CAST(round(sqrt(count(*))) AS BIGINT))
             AS cells
           FROM embeddings WHERE vec_id >= 5),
         kseed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % (SELECT cells FROM csz) AS cell
           FROM embeddings WHERE vec_id >= 5),
         kc1 AS (
           SELECT s.cell, i, sum(x) AS cs, count(*) AS cn
           FROM corpiv JOIN kseed s USING (vec_id) GROUP BY s.cell, i),
         kd1 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corpiv v JOIN kc1 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         ka1 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM kd1) t
           WHERE rn = 1),
         kc2 AS (
           SELECT a.cell, i, sum(x) AS cs, count(*) AS cn
           FROM corpiv JOIN ka1 a USING (vec_id) GROUP BY a.cell, i),
         kd2 AS (
           SELECT v.vec_id, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corpiv v JOIN kc2 c USING (i)
           GROUP BY v.vec_id, c.cell, c.cn),
         ka2 AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
               ORDER BY dkey, cell) AS rn FROM kd2) t
           WHERE rn = 1),
         qd AS (
           SELECT v.vec_id AS qid, c.cell,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM iv v JOIN kc2 c USING (i)
           WHERE v.vec_id < 5
           GROUP BY v.vec_id, c.cell, c.cn),
         probes AS (
           SELECT qid, cell FROM (
             SELECT qid, cell, row_number() OVER (PARTITION BY qid
               ORDER BY dkey, cell) AS rn FROM qd) t
           WHERE rn <= 2),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS m, i, x
           FROM iv),
         corp AS (SELECT * FROM sub WHERE vec_id >= 5),
         pseed AS (
           SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS cw
           FROM embeddings WHERE vec_id >= 5),
         pc1 AS (
           SELECT v.m, s.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN pseed s USING (vec_id)
           GROUP BY v.m, s.cw, v.i),
         pd1 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN pc1 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         pa1 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM pd1) t
           WHERE rn = 1),
         pc2 AS (
           SELECT v.m, a.cw, v.i, sum(v.x) AS cs, count(*) AS cn
           FROM corp v JOIN pa1 a ON a.vec_id = v.vec_id AND a.m = v.m
           GROUP BY v.m, a.cw, v.i),
         pd2 AS (
           SELECT v.vec_id, v.m, c.cw,
             CAST(CAST(sum(CAST(v.x * c.cn - c.cs AS HUGEINT) *
                           CAST(v.x * c.cn - c.cs AS HUGEINT)) AS VARCHAR)
               AS DOUBLE) / (c.cn * c.cn) AS dkey
           FROM corp v JOIN pc2 c ON c.m = v.m AND c.i = v.i
           GROUP BY v.vec_id, v.m, c.cw, c.cn),
         pa2 AS (
           SELECT vec_id, m, cw FROM (
             SELECT vec_id, m, cw, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dkey, cw) AS rn
             FROM pd2) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS qid, m, i, x FROM sub WHERE vec_id < 5),
         terms AS (
           SELECT q.qid, c.m, c.cw,
             CAST(CAST(sum(CAST(q.x AS HUGEINT) * c.cs) AS VARCHAR)
               AS DOUBLE) / c.cn AS t
           FROM q JOIN pc2 c ON c.m = q.m AND c.i = q.i
           GROUP BY q.qid, c.m, c.cw, c.cn),
         tm AS (
           SELECT p.qid, a.vec_id, a.m, t.t
           FROM pa2 a
           JOIN ka2 ca ON ca.vec_id = a.vec_id
           JOIN probes p ON p.cell = ca.cell
           JOIN terms t ON t.qid = p.qid AND t.m = a.m AND t.cw = a.cw),
         piv AS (
           SELECT qid, vec_id,
             max(CASE WHEN m = 0 THEN t END) AS t0,
             max(CASE WHEN m = 1 THEN t END) AS t1,
             max(CASE WHEN m = 2 THEN t END) AS t2,
             max(CASE WHEN m = 3 THEN t END) AS t3
           FROM tm GROUP BY qid, vec_id),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY ((t0 + t1) + t2) + t3 DESC, vec_id) AS arank
             FROM piv) t
           WHERE arank <= 50),
         flat AS (
           SELECT vec_id, i,
             CAST(CAST(embedding[i] AS VARCHAR) AS DECIMAL(18,9)) AS cx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS i)),
         dots AS (
           SELECT s.qid, s.vec_id,
             CAST(CAST(round(sum(fq.cx * fc.cx), 12) AS DECIMAL(18,12))
               AS DOUBLE) AS dot
           FROM short s
           JOIN flat fc ON fc.vec_id = s.vec_id
           JOIN flat fq ON fq.vec_id = s.qid AND fq.i = fc.i
           GROUP BY s.qid, s.vec_id),
         reranked AS (
           SELECT qid, vec_id, dot,
             row_number() OVER (PARTITION BY qid
               ORDER BY dot DESC, vec_id) AS rank
           FROM dots)
         SELECT qid, vec_id, dot, rank FROM reranked
         WHERE rank <= 5 ORDER BY qid, rank""")
}
