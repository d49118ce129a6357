package graft

import graft.operators.VectorOps

/** PQ-ADC (q111): output contract, determinism, and the property the
  * quantization actually guarantees — cluster ROUTING: a query drawn
  * from a planted cluster scores that cluster's shared sub-codewords
  * highest, so every top-k hit is a same-cluster member. (Set-recall
  * against exact dots is intentionally NOT asserted: within a cluster
  * ADC collapses members with identical codes to equal scores, and the
  * vec_id tie-break picks the smallest ids — a correct ADC ranking that
  * need not equal the exact-dot ordering. The oracle replays the same
  * policy, which is what CORRECTNESS pins.) */
class PqSpec extends SparkSpecBase {
  import spark.implicits._

  test("q111 shape + determinism on the real table") {
    val r1 = VectorOps.queries("q111_pq_adc")(spark, sf).collect()
    val r2 = VectorOps.queries("q111_pq_adc")(spark, sf).collect()
    assert(r1.toSeq == r2.toSeq, "PQ-ADC must be deterministic")
    val byQ = r1.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to 5L))
      rows.foreach(r => assert(r.getLong(1) >= 5L,
        "a query vector leaked into the held-out index"))
    }
  }

  test("q112: shortlist >= corpus degrades to exact brute force, bit for bit") {
    val rnd = new scala.util.Random(13L)
    val rows = (0 until 120).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = VectorOps.dotTopKWith(
      e.filter($"vec_id" >= 5), queries, k = 5).collect().toSeq
    // a shortlist wider than the corpus means ADC prunes nothing: the
    // exact re-rank sees every candidate, so the two-stage result IS
    // brute force — dots and ranks identical
    val two = VectorOps.pqAdcRerankFrom(e, m = 4, subDim = 16,
      codewords = 16, nQueries = 5, k = 5, shortlist = 1000)
      .collect().toSeq
    assert(two == brute)
  }

  test("stored PQ artifact: ADC over written codes matches a driver replay; staleness guarded") {
    val rnd = new scala.util.Random(61L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 160).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val path = java.nio.file.Files.createTempDirectory("pq_idx").toString
    VectorOps.writeIvfIndex(rows.toDF("vec_id", "embedding"), path, cells = 8)
    VectorOps.writePqCodes(spark, path, m = 4, subDim = 16, codewords = 16)
    val queries = Seq((900L, rows(3)._2), (901L, rows(12)._2))
      .toDF("qid", "embedding")
    val got = VectorOps.probePqIndex(spark, path, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // ground truth: replay ADC scoring on the driver from the STORED
    // books and codes — the artifact, not the trainer, is what is pinned
    val gen = VectorOps.indexGenDir(spark, path)
    val books = spark.read.parquet(s"$gen/pq/books").collect()
      .map(r => ((r.getInt(0), r.getLong(1)),
        (r.getSeq[Long](2).toArray, r.getLong(3)))).toMap
    val codes = spark.read.parquet(s"$gen/pq/codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // integer scaling via the same string→decimal route the engine uses
    def ivExact(v: Seq[Float]): Array[Long] =
      v.map(x => (BigDecimal(x.toString).setScale(9,
        BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000000L))
        .toLongExact).toArray
    val expected = Seq((900L, rows(3)._2), (901L, rows(12)._2)).flatMap {
      case (qid, qv) =>
        val qiv = ivExact(qv)
        val scored = codes.map { case (vid, cs) =>
          var sc = 0.0
          (0 until 4).foreach { mi =>
            val (csum, cn) = books((mi, cs(mi)))
            var acc = BigInt(0)
            (0 until 16).foreach(j => acc += BigInt(qiv(mi * 16 + j)) * csum(j))
            sc += acc.toDouble / cn.toDouble
          }
          (vid, sc)
        }
        scored.sortBy { case (vid, sc) => (-sc, vid) }.take(5).zipWithIndex
          .map { case ((vid, _), i) => (qid, vid, (i + 1).toLong) }
    }
    assert(got == expected)

    // staleness: a delete shrinks the live corpus under the codes —
    // scoring a tombstoned row silently would be a wrong answer
    VectorOps.deleteFromIvfIndex(spark, path,
      Seq(7L).toDF("vec_id"), rewriteThreshold = 0.9, retrainCells = 8)
    val ex = intercept[IllegalStateException] {
      VectorOps.probePqIndex(spark, path, queries, k = 5).collect()
    }
    assert(ex.getMessage.contains("stale"))
    // recompute covers the live corpus
    VectorOps.writePqCodes(spark, path, m = 4, subDim = 16, codewords = 16)
    val fresh = VectorOps.probePqIndex(spark, path, queries, k = 5)
      .collect().map(_.getLong(1))
    assert(fresh.length == 10)
    assert(!fresh.contains(7L), "a tombstoned row surfaced after recompute")
  }

  test("oversized m*subDim fails loudly, never zero-pads past the vector") {
    // trainBook slices with Catalyst slice() (clamps); code assignment
    // slices with copyOfRange (zero-pads/throws). A config whose
    // m*subDim exceeds the vector dim must therefore fail loudly at
    // BOTH entry points, not assign codes the books were never
    // trained on.
    val rnd = new scala.util.Random(47L)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val e = rows.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("pq_dim").toString
    VectorOps.writeIvfIndex(e, path, cells = 4)
    // stored-artifact writer: fail-fast require BEFORE training
    val ex = intercept[IllegalArgumentException] {
      VectorOps.writePqCodes(spark, path, m = 8, subDim = 16, codewords = 16)
    }
    assert(ex.getMessage.contains("exceeds vector dim"))
    // inline scorer: the shared assignment UDF guards per row
    val ex2 = intercept[Exception] {
      VectorOps.pqAdcRerankFrom(e, m = 8, subDim = 16,
        codewords = 16, nQueries = 5, k = 5, shortlist = 10).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(ex2).exists(_.contains("exceeds vector dim")),
      s"inline path must fail loudly, got: ${chain(ex2).mkString(" | ")}")
  }

  test("q114 ivfadc: probe-all + wide shortlist degrades to exact brute force") {
    val rnd = new scala.util.Random(29L)
    val rows = (0 until 120).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val e = rows.toDF("vec_id", "embedding")
    val queries = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding")
    val brute = VectorOps.dotTopKWith(
      e.filter($"vec_id" >= 5), queries, k = 5).collect().toSeq
    // nprobe = cells (nothing coarse-pruned) + shortlist > corpus
    // (nothing ADC-pruned): the composition must BE brute force
    val got = VectorOps.ivfAdcRerankFrom(e, m = 4, subDim = 16,
      codewords = 16, nQueries = 5, k = 5, nprobe = 8, cells = 8,
      shortlist = 1000).collect().toSeq
    assert(got == brute)
  }

  test("q114 ivfadc shape + determinism on the real table") {
    val r1 = VectorOps.queries("q114_ivfadc")(spark, sf).collect()
    val r2 = VectorOps.queries("q114_ivfadc")(spark, sf).collect()
    assert(r1.toSeq == r2.toSeq, "IVFADC must be deterministic")
    val byQ = r1.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 5L))
      rows.foreach(r => assert(r.getLong(1) >= 5L,
        "a query vector leaked into the held-out index"))
    }
  }

  test("stored ivfadc: codes and corpus scans carry cell partition filters; hits stay in probed cells") {
    val rnd = new scala.util.Random(47L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 160).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val path = java.nio.file.Files.createTempDirectory("ivfadc_idx").toString
    VectorOps.writeIvfIndex(rows.toDF("vec_id", "embedding"), path, cells = 8)
    VectorOps.writePqCodes(spark, path, m = 4, subDim = 16, codewords = 16)
    val queries = Seq((900L, rows(3)._2), (901L, rows(12)._2))
      .toDF("qid", "embedding")
    val df = VectorOps.probeIvfPqIndex(spark, path, queries,
      k = 5, nprobe = 2, shortlist = 20)
    val p = df.queryExecution.executedPlan.toString
    // THE q114 scale pin: the pq/codes (and corpus) parquet scans must
    // be directory-pruned to the probed cells — a full codes scan is
    // flat PQ's O(N·m), exactly what IVFADC exists to avoid
    val scans = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty, s"no partitioned scans in plan:\n$p")
    val pruned = scans.filter(l =>
      l.contains("cell") && !l.contains("PartitionFilters: []"))
    assert(pruned.size >= 2,
      s"expected cell partition filters on codes AND corpus scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equijoin:\n$p")
    // routing: with tight clusters, each query's hits share its cluster
    val out = df.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(1))
      val want = if (qid == 900L) 3L % 8 else 12L % 8
      assert(vid % 8 == want, s"query $qid hit off-cluster row $vid")
    }
    // and the stored form agrees with the from-table form's contract:
    // deterministic across invocations
    val again = VectorOps.probeIvfPqIndex(spark, path, queries,
      k = 5, nprobe = 2, shortlist = 20).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("cluster routing: every ADC hit shares the query's cluster") {
    val rnd = new scala.util.Random(31L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val out = VectorOps.pqAdcFrom(rows.toDF("vec_id", "embedding"),
      m = 4, subDim = 16, codewords = 16, nQueries = 5, k = 5).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(1))
      assert(vid % 8 == qid % 8,
        s"query $qid (cluster ${qid % 8}) hit $vid (cluster ${vid % 8})")
    }
  }
}
