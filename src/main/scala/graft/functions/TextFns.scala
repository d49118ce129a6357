package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline extensions
  * (SURVEY.md §2.11): tokenization, shingling, MinHash signatures, SimHash,
  * quality scoring, fingerprinting. All pure column expressions (built-in
  * higher-order functions) — codegen-friendly, no UDFs, no driver loops —
  * so each scales as a map-only stage until the dedup groupBy/join.
  *
  * Cross-engine determinism: MinHash uses md5 (identical in Spark and
  * DuckDB) rather than xxhash64 (engine-specific), so LSH signatures are
  * oracle-verifiable. A 64-bit xxhash64 variant is provided for the
  * performance path.
  */
/** UDF row type for [[TextFns.shingleSigUdf]]: a doc's distinct k-shingles
  * plus its KM-MinHash signature, computed in one pass. */
case class ShingleSig(shingles: Array[String], sig: Array[Long])

object TextFns {

  /** Whitespace tokenization, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** k-word shingles (contiguous token n-grams), distinct. Documents
    * shorter than k tokens yield an empty set (sequence() would otherwise
    * count downward and fabricate null-padded shingles). */
  def shingles(ws: Column, k: Int): Column =
    when(size(ws) >= k,
      array_distinct(
        transform(sequence(lit(0), size(ws) - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** MinHash signature over a shingle set: `n` independent permutations
    * simulated by seeded md5; min taken lexicographically (md5 output is
    * uniformly distributed hex, so lexicographic min ≈ uniform min-hash). */
  def minhashSignature(shingleSet: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      j => array_min(transform(shingleSet,
        sh => md5(concat(j.cast("string"), lit("|"), sh)))))

  /** LSH band keys: group `rowsPerBand` adjacent signature rows per band and
    * hash them; docs sharing any band key are near-dup candidates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws("#",
          (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)): _*)).as("bkey")))

  /** Kirsch-Mitzenmacher MinHash signature: ONE md5 per shingle, split into
    * two 56-bit integers (h1, h2); permutation j is `h1 + j*h2` (max value
    * 2^59 — no overflow, no modulo needed). ~8× less hashing than the
    * seeded-md5 scheme above for n=8, still exactly reproducible in DuckDB
    * via `('0x' || substr(md5(s), ...))::BIGINT`. Returns array<long>.
    *
    * Consumers MUST materialize this behind a barrier (persist) before
    * plucking elements — CollapseProject inlines the whole array expression
    * into every element_at otherwise (n× recompute). */
  def minhashSignatureKM(shingleSet: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)), j =>
      array_min(transform(shingleSet, { sh =>
        val m = md5(sh)
        conv(substring(m, 1, 14), 16, 10).cast("long") +
          j.cast("long") * conv(substring(m, 17, 14), 16, 10).cast("long")
      })))

  /** Single-pass shingle UDF — the performance path for the LSH queries.
    *
    * The pure-HOF [[shingles]] expression above is semantically identical
    * but nests `element_at(filter(split(text)))` inside a transform lambda;
    * Spark's subexpression elimination does not reach across lambda scopes,
    * so the full tokenization re-evaluates per shingle element (measured
    * ~10× slowdown at sf0.1: 11.6 s vs ~1 s for the whole stage). A plain
    * Scala closure does one pass per row. Same output: distinct k-grams,
    * space-joined, first-occurrence order. */
  def shinglesUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      if (text == null) Array.empty[String]
      else {
        val ws = text.split(" ").filter(_.nonEmpty)
        if (ws.length < k) Array.empty[String]
        else ws.sliding(k).map(_.mkString(" ")).distinct.toArray
      }
    })

  /** Single-pass Kirsch-Mitzenmacher MinHash UDF (see [[minhashSignatureKM]]
    * for the scheme and DuckDB reproduction; byte-identical results). One
    * md5 per shingle, n derived permutations via h1 + j*h2 integer math. */
  def minhashKmUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((shingles: Seq[String]) => {
      if (shingles == null || shingles.isEmpty) Array.empty[Long]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val pairs = shingles.map { s =>
          val hex = md.digest(s.getBytes("UTF-8"))
            .map(b => f"${b & 0xff}%02x").mkString
          (java.lang.Long.parseLong(hex.substring(0, 14), 16),
            java.lang.Long.parseLong(hex.substring(16, 30), 16))
        }
        Array.tabulate(n)(j => pairs.map { case (h1, h2) => h1 + j * h2 }.min)
      }
    })

  /** Distinct k-word shingles, single pass — same output as [[shinglesUdf]]
    * (first-occurrence order, space-joined). */
  private def distinctShingles(text: String, k: Int): Array[String] = {
    if (text == null) Array.empty[String]
    else {
      val ws = text.split(" ").filter(_.nonEmpty)
      if (ws.length < k) Array.empty[String]
      else ws.sliding(k).map(_.mkString(" ")).distinct.toArray
    }
  }

  /** md5(s) split into two 56-bit longs — identical to parsing hex
    * substrings (0,14) and (16,30) as the KM scheme does, but read straight
    * from the digest bytes (big-endian nibbles): no 32-char hex string is
    * ever built (the `f"%02x"` formatting was ~half the signature cost). */
  private def md5Pair(md: java.security.MessageDigest, s: String): (Long, Long) = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h1 = 0L; var h2 = 0L; var i = 0
    while (i < 7) { h1 = (h1 << 8) | (d(i) & 0xffL); i += 1 }
    i = 8
    while (i < 15) { h2 = (h2 << 8) | (d(i) & 0xffL); i += 1 }
    (h1, h2)
  }

  private def kmSignature(shingles: Array[String], n: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val (h1, h2) = md5Pair(md, shingles(i))
      var j = 0; var h = h1
      while (j < n) { if (h < mins(j)) mins(j) = h; h += h2; j += 1 }
      i += 1
    }
    mins
  }

  /** Fused text → KM-MinHash signature UDF: tokenize, shingle, and hash in
    * ONE pass per row (None when the doc has no k-shingle). Byte-identical
    * to `minhashKmUdf(n)(shinglesUdf(k)(text))` — pinned by TextFnsSpec —
    * but skips materializing the shingle array column and the per-byte hex
    * formatting, which together dominated the q35/q37 signature stage. */
  def minhashSigUdf(k: Int, n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      val sh = distinctShingles(text, k)
      if (sh.isEmpty) None else Some(kmSignature(sh, n))
    })

  /** Fused text → (shingles, signature) UDF for pipelines that need both
    * (q37 verifies Jaccard on the shingle sets of LSH candidates). */
  def shingleSigUdf(k: Int, n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      val sh = distinctShingles(text, k)
      ShingleSig(sh, if (sh.isEmpty) Array.empty[Long] else kmSignature(sh, n))
    })

  /** Fused text → SimHash-64 fingerprint UDF: tokenize, shingle, xxhash64,
    * and the 64 bit-votes in ONE pass (None when the doc has no k-shingle).
    * Hashing delegates to Spark's own XxHash64Function (seed 42 over UTF-8
    * bytes), so the fingerprint is bit-identical to the staged column form
    * `simhash64FromHashes(transform(shinglesUdf(k)(text), xxhash64))` —
    * pinned by TextFnsSpec — without materializing two intermediate arrays
    * per row or running 64 separate aggregate() passes. */
  def simhashFpUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      val sh = distinctShingles(text, k)
      if (sh.isEmpty) None
      else {
        val votes = new Array[Int](64)
        var i = 0
        while (i < sh.length) {
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(sh(i)),
            org.apache.spark.sql.types.StringType, 42L)
          var b = 0
          while (b < 64) {
            votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1
          }
          i += 1
        }
        var fp = 0L; var b = 0
        while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
        Some(fp)
      }
    })

  /** SimHash-64 over a token set: per bit, sign of Σ(+1/-1) weighted by
    * whether that bit of xxhash64(token) is set. Bits are unrolled at plan
    * build time (static 0..63) so every shift amount is a literal. */
  def simhash64(ws: Column): Column = {
    val uniq = array_distinct(ws)
    val bitCols = (0 until 64).map { b =>
      val vote = aggregate(uniq, lit(0), (acc, w) =>
        acc + when(shiftright(xxhash64(w), b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** SimHash-64 from a PRE-HASHED token/shingle array (array<long>).
    * Stage the hashes in a persisted projection first — computing them
    * inline would re-evaluate the hash transform in each of the 64 per-bit
    * aggregates (lambda scopes block subexpression elimination). */
  def simhash64FromHashes(hs: Column): Column = {
    val bitCols = (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact-dup fingerprint: md5 of the full text. */
  def contentHash(text: Column): Column = md5(text)

  /** Prefix fingerprint: md5 of the first k tokens (cheap clustering key). */
  def prefixFingerprint(ws: Column, k: Int): Column =
    md5(concat_ws(" ", slice(ws, 1, k)))

  /** Rabin-Karp rolling-hash document fingerprints (Manber's mod-p
    * sampling): Horner-hash every k-char gram (base 257 mod 2^31-1), keep
    * hashes ≡ 0 (mod p) — a position-independent ~1/p sample of the
    * document's substrings, the classic containment-detection fingerprint.
    * Single-pass UDF (the per-position expression form would re-evaluate
    * the code-point array per gram — the lambda-scope trap, cf. q35);
    * exactly reproducible in DuckDB via list_reduce Horner over ord(). */
  def rollingFingerprintsUdf(k: Int, p: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => {
      if (text == null || text.length < k) Array.empty[Long]
      else {
        val M = 2147483647L // 2^31-1
        val B = 257L
        // true O(n) Rabin-Karp: slide by subtracting the outgoing char's
        // B^(k-1) term (all mod M, so values are IDENTICAL to the
        // per-window Horner form the DuckDB oracle computes — the naive
        // recompute was O(n·k), 24× the work at the q100 window size)
        var pk = 1L // B^(k-1) mod M
        var e = 0
        while (e < k - 1) { pk = pk * B % M; e += 1 }
        val out = scala.collection.mutable.SortedSet.empty[Long]
        var h = 0L
        var j = 0
        while (j < k) { h = (h * B + text.charAt(j)) % M; j += 1 }
        if (h % p == 0) out += h
        var i = 1
        while (i + k <= text.length) {
          val drop = text.charAt(i - 1) * pk % M
          h = ((h - drop + M) % M * B + text.charAt(i + k - 1)) % M
          if (h % p == 0) out += h
          i += 1
        }
        out.toArray
      }
    })

  /** Jaccard similarity between two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Stopword-hit count (quality signal). */
  def stopwordCount(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(stops)))

  /** Heuristic language ID over a token array: argmax of per-language
    * marker-token hit counts; falls back to 'und'. */
  def langIdHeuristic(ws: Column, markers: Map[String, Seq[String]]): Column = {
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      struct(size(filter(ws, w => w.isInCollection(ms))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
