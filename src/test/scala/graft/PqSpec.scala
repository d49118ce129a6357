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

  test("oversized m*subDim fails loudly, never zero-pads past the vector") {
    // trainBook slices with Catalyst slice() (clamps); code assignment
    // slices with copyOfRange (zero-pads/throws). A config whose
    // m*subDim exceeds the vector dim must therefore fail loudly, not
    // assign codes the books were never trained on.
    val rnd = new scala.util.Random(47L)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val e = rows.toDF("vec_id", "embedding")
    // the shared assignment UDF guards per row
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
