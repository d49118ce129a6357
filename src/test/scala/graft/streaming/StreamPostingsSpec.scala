package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpecBase
import graft.operators.Retrieval

/** Streaming postings maintenance (streaming/StreamPostings): after any
  * prefix of micro-batches, a stored probe must equal the batch
  * phraseSearch over the LATEST version of every doc seen so far —
  * upserts shadow earlier versions, replayed batch ids are no-ops, and
  * a mid-stream full rebuild (compaction) composes. */
class StreamPostingsSpec extends SparkSpecBase {
  import spark.implicits._

  private def asMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def probe(dir: String, phrase: Seq[String]) =
    asMap(Retrieval.phraseSearchStored(spark, dir, phrase))

  private def expect(corpus: Seq[(Long, String)], phrase: Seq[String]) =
    asMap(Retrieval.phraseSearch(corpus.toDF("doc_id", "text"), phrase))

  private val phrases = Seq(Seq("a", "b"), Seq("z", "z"), Seq("b"))

  private def checkAll(dir: String, corpus: Seq[(Long, String)]): Unit =
    for (ph <- phrases)
      assert(probe(dir, ph) == expect(corpus, ph),
        s"stored probe diverged from the latest corpus for $ph")

  test("maintained artifact ≡ latest corpus after every micro-batch") {
    val dir = s"/tmp/graft_test_spost_${System.nanoTime()}"
    val ckpt = s"/tmp/graft_test_spost_ck_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamPostings.maintain(
      input.toDF().toDF("doc_id", "text"), dir, ckpt, nBuckets = 16)
    try {
      input.addData((1L, "a b a"), (2L, "x y"))
      q.processAllAvailable()
      checkAll(dir, Seq(1L -> "a b a", 2L -> "x y"))
      // batch 2: NEW doc + an UPDATE of doc 1 — old postings must die
      input.addData((1L, "z z"), (3L, "a b"))
      q.processAllAvailable()
      checkAll(dir, Seq(1L -> "z z", 2L -> "x y", 3L -> "a b"))
      // batch 3: update the update (two tombstone layers deep)
      input.addData((1L, "a b a b"))
      q.processAllAvailable()
      checkAll(dir, Seq(1L -> "a b a b", 2L -> "x y", 3L -> "a b"))
    } finally {
      q.stop()
      hfs.delete(hp, true)
      hfs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    }
  }

  test("replayed batch ids are idempotent; torn staging debris clears") {
    val dir = s"/tmp/graft_test_spost_rp_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val b0 = Seq(1L -> "a b a", 2L -> "x y").toDF("doc_id", "text")
      val b1 = Seq(1L -> "z z").toDF("doc_id", "text")
      assert(StreamPostings.maintainBatch(b0, 0L, dir, nBuckets = 16))
      assert(StreamPostings.maintainBatch(b1, 1L, dir))
      val before = phrases.map(ph => probe(dir, ph))
      // replay BOTH batch ids (kill-after-publish-before-checkpoint):
      // skip, and nothing changes
      assert(!StreamPostings.maintainBatch(b0, 0L, dir))
      assert(!StreamPostings.maintainBatch(b1, 1L, dir))
      assert(phrases.map(ph => probe(dir, ph)) == before,
        "a replayed batch changed the artifact")
      // torn attempt: staged-but-unpublished debris for batch 2, then
      // the replay publishes cleanly
      val gen = Retrieval.postingsGenDir(spark, dir)
      val b2 = new org.apache.hadoop.fs.Path(gen, "appends/b000000000002")
      val tmp = graft.sources.Ledger.tmpOf(b2)
      hfs.mkdirs(tmp)
      hfs.create(new org.apache.hadoop.fs.Path(tmp, "junk"), true).close()
      assert(StreamPostings.maintainBatch(
        Seq(3L -> "a b").toDF("doc_id", "text"), 2L, dir))
      assert(hfs.exists(b2) &&
        !hfs.exists(new org.apache.hadoop.fs.Path(b2, "junk")),
        "the torn attempt's debris was published")
      checkAll(dir, Seq(1L -> "z z", 2L -> "x y", 3L -> "a b"))
    } finally hfs.delete(hp, true)
  }

  test("mid-stream rebuild (compaction) composes with later batches") {
    val dir = s"/tmp/graft_test_spost_cp_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      StreamPostings.maintainBatch(
        Seq(1L -> "a b a", 2L -> "x y").toDF("doc_id", "text"), 0L, dir,
        nBuckets = 16)
      StreamPostings.maintainBatch(
        Seq(1L -> "z z").toDF("doc_id", "text"), 1L, dir)
      // maintenance-window compaction: rebuild from the latest corpus
      val latest = Seq(1L -> "z z", 2L -> "x y")
      Retrieval.writePostings(latest.toDF("doc_id", "text"), dir,
        nBuckets = 16)
      // stream continues with fresh batch ids against the new generation
      assert(StreamPostings.maintainBatch(
        Seq(3L -> "a b", 2L -> "x y b").toDF("doc_id", "text"), 2L, dir))
      checkAll(dir, Seq(1L -> "z z", 2L -> "x y b", 3L -> "a b"))
    } finally hfs.delete(hp, true)
  }

  test("within-batch redelivery dedupes; same-id conflict fails loudly") {
    val dir = s"/tmp/graft_test_spost_dup_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // the same row twice in one batch (at-least-once within a batch):
      // served ONCE — duplicated posting rows would break the anchor
      // law and the phrase would silently stop matching
      assert(StreamPostings.maintainBatch(
        Seq(1L -> "a b a", 1L -> "a b a", 2L -> "x y")
          .toDF("doc_id", "text"), 0L, dir, nBuckets = 8))
      assert(probe(dir, Seq("a", "b", "a")) ==
        expect(Seq(1L -> "a b a", 2L -> "x y"), Seq("a", "b", "a")),
        "a redelivered row double-posted and broke the anchor count")
      // same id, DIFFERENT texts in one batch: no deterministic winner
      val e = intercept[IllegalStateException] {
        StreamPostings.maintainBatch(
          Seq(3L -> "p q", 3L -> "q p").toDF("doc_id", "text"), 1L, dir)
      }
      assert(e.getMessage.contains("conflicting texts"))
      // and the refused batch published NOTHING (tag absent → replayable)
      assert(probe(dir, Seq("p", "q")).isEmpty)
      assert(StreamPostings.maintainBatch(
        Seq(3L -> "p q").toDF("doc_id", "text"), 1L, dir),
        "the fixed batch must publish under the same id")
      assert(probe(dir, Seq("p", "q")) ==
        expect(Seq(3L -> "p q"), Seq("p", "q")))
    } finally hfs.delete(hp, true)
  }

  test("auto-compaction bounds the chain; probes stay ≡ latest corpus") {
    val dir = s"/tmp/graft_test_spost_ac_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val every = 3
    try {
      var corpus = Map.empty[Long, String]
      var gens = Set.empty[String]
      // 8 batches: fresh docs + re-posts (so folds carry real
      // tombstones), checked against the latest-version corpus each time
      for (i <- 0L until 8L) {
        // i ≥ 1 keeps the re-post target distinct from the fresh doc
        // (i/2 == i only at 0 — same id, two texts, a refused conflict)
        val b = Seq(i -> s"doc d$i a b") ++
          (if (i >= 1) Seq((i / 2) -> s"doc d${i / 2} z z v$i") else Nil)
        StreamPostings.maintainBatch(b.toDF("doc_id", "text"), i, dir,
          nBuckets = 8, compactEvery = every)
        corpus = corpus ++ b.toMap
        checkAll(dir, corpus.toSeq)
        val chain = Retrieval.chainLength(spark, dir)
        assert(chain < every,
          s"chain $chain not bounded by compactEvery=$every after batch $i")
        gens += new org.apache.hadoop.fs.Path(
          Retrieval.postingsGenDir(spark, dir)).getName
      }
      assert(gens.size >= 3, s"expected ≥3 generations, saw $gens")
      // replay of the last batch: if its tag died with a compaction it
      // re-upserts — tombstoning the folded copies of exactly the rows
      // it re-appends, so probes are unchanged
      StreamPostings.maintainBatch(
        Seq(7L -> "doc d7 a b", 3L -> "doc d3 z z v7")
          .toDF("doc_id", "text"), 7L, dir,
        nBuckets = 8, compactEvery = every)
      checkAll(dir, corpus.toSeq)
      assert(Retrieval.chainLength(spark, dir) < every)
    } finally hfs.delete(hp, true)
  }

  test("batch order wins over within-batch duplicates across updates") {
    // zero-padded tags: batch 10 must shadow batch 9 even though "b9"
    // sorts after "b10" unpadded
    val dir = s"/tmp/graft_test_spost_pad_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      StreamPostings.maintainBatch(
        Seq(1L -> "seed doc").toDF("doc_id", "text"), 0L, dir, nBuckets = 8)
      for (i <- 1L to 10L)
        StreamPostings.maintainBatch(
          Seq(1L -> s"version v$i here").toDF("doc_id", "text"), i, dir)
      assert(probe(dir, Seq("version", "v10", "here")) ==
        expect(Seq(1L -> "version v10 here"), Seq("version", "v10", "here")),
        "batch 10 did not shadow batch 9 — tag padding broke layer order")
      assert(probe(dir, Seq("v9")).isEmpty, "an old version survived")
    } finally hfs.delete(hp, true)
  }
}
