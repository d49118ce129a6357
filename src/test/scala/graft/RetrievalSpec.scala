package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Positional phrase search (operators/Retrieval.scala): the single-scan
  * anchor aggregation must reproduce the naive k-way positional self-join
  * (the semantic spec of "these tokens, consecutively") on hostile data —
  * repeated phrase terms, overlapping occurrences, phrase at doc edges,
  * docs shorter than the phrase, runs of whitespace — and must plan one
  * broadcast join, never a nested loop. */
class RetrievalSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs: DataFrame = Seq(
    (1L, "a b a b a"),        // overlapping "a b a" at 0 and 2
    (2L, "a b"),              // shorter than the phrase
    (3L, "x a b a y a b a"),  // hits at 1 and 5
    (4L, "a  b   a"),         // runs of spaces: empties filtered, still a hit
    (5L, "b a b"),            // phrase nowhere (a b a ⊄)
    (6L, ""),                 // empty doc
    (7L, "a b a")             // exact-doc phrase
  ).toDF("doc_id", "text")

  /** The naive form: k filtered posting streams self-joined on
    * (doc, pos - i) — quadratic in posting density, the plan the
    * operator exists to avoid, kept here as the semantic oracle. */
  private def naive(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    val post = Retrieval.postings(docs)
    val streams = phrase.zipWithIndex.map { case (t, i) =>
      post.filter(col("term") === lit(t))
        .select(col("doc_id").as(s"d$i"), (col("pos") - lit(i.toLong)).as(s"a$i"))
    }
    val joined = streams.reduceLeft { (acc, s) =>
      val i = s.columns.head.stripPrefix("d")
      acc.join(s, col("d0") === col(s"d$i") && col("a0") === col(s"a$i"))
    }
    joined.groupBy(col("d0").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("a0")).as("first_pos"))
  }

  /** Plant a committed append layer `appends/<tag>/` in the CURRENT
    * generation of a 16-bucket artifact: `docs`' postings plus an
    * optional tombstone set (a doc re-posted in a layer is also in its
    * deletes). The shape a generation maintained by an earlier release
    * carries, which probes still resolve latest-layer-wins. */
  private def plantLayer(dir: String, tag: String,
      docs: Seq[(Long, String)], deletes: Seq[Long]): Unit = {
    val layer = s"${Retrieval.postingsGenDir(spark, dir)}/appends/$tag"
    Retrieval.postings(docs.toDF("doc_id", "text"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(16L)))
      .write.partitionBy("bucket").parquet(s"$layer/data")
    if (deletes.nonEmpty)
      deletes.toDF("doc_id").write.parquet(s"$layer/deletes")
  }

  private def asMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("phrase with repeated terms: hand-computed overlapping matches") {
    val out = asMap(Retrieval.phraseSearch(docs, Seq("a", "b", "a")))
    assert(out == Map(
      1L -> ((2L, 0L)), // "a b a b a": anchors 0 and 2 overlap — both count
      3L -> ((2L, 1L)),
      4L -> ((1L, 0L)), // whitespace runs collapse: positions index tokens
      7L -> ((1L, 0L))))
  }

  test("single-token and full-doc edge phrases") {
    assert(asMap(Retrieval.phraseSearch(docs, Seq("y"))) == Map(3L -> ((1L, 4L))))
    assert(Retrieval.phraseSearch(docs, Seq("a", "b", "a", "b", "a", "x"))
      .collect().isEmpty, "over-long phrase must match nothing")
  }

  test("anchor aggregation ≡ naive k-way positional join on hostile data") {
    for (phrase <- Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "a"),
        Seq("b", "a"), Seq("missing", "term"))) {
      val got = asMap(Retrieval.phraseSearch(docs, phrase))
      val exp = asMap(naive(docs, phrase))
      assert(got == exp, s"phrase $phrase diverged from the naive join")
    }
  }

  test("loud guards: empty phrase, whitespace in a token") {
    intercept[IllegalArgumentException] {
      Retrieval.phraseSearch(docs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Retrieval.phraseSearch(docs, Seq("two words"))
    }
    intercept[IllegalArgumentException] {
      Retrieval.phraseSearch(docs, Seq(""))
    }
  }

  test("stored postings ≡ in-memory search; probe scan is bucket-pruned") {
    val dir = s"/tmp/graft_test_postings_${System.nanoTime()}"
    try {
      Retrieval.writePostings(docs, dir, nBuckets = 64)
      for (phrase <- Seq(Seq("a"), Seq("a", "b", "a"), Seq("b", "a"),
          Seq("missing", "term"))) {
        val got = asMap(Retrieval.phraseSearchStored(spark, dir, phrase))
        assert(got == asMap(Retrieval.phraseSearch(docs, phrase)),
          s"stored probe diverged for $phrase")
      }
      // the probe must carry a partition filter on the bucket column —
      // reading every bucket would be the full-postings scan the
      // artifact exists to avoid
      val probe = Retrieval.phraseSearchStored(spark, dir, Seq("a", "b"))
      val p = probe.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
        s"no bucket partition filter on the postings scan:\n$p")
      // rebuild over the same dir is idempotent (overwrite + fresh meta)
      Retrieval.writePostings(docs, dir, nBuckets = 8)
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(docs, Seq("a", "b"))),
        "rebuild with a different bucket count broke the probe")
    } finally {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
    }
  }

  test("rebuild under a concurrent reader: generations, grace, expire") {
    val dir = s"/tmp/graft_test_postings_gen_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens(): Set[String] =
      hfs.listStatus(hp).map(_.getPath.getName)
        .filter(_.startsWith("gen=")).toSet
    try {
      val batch1 = docs.filter(col("doc_id") <= 4L)
      Retrieval.writePostings(batch1, dir, nBuckets = 16)
      assert(gens() == Set("gen=0"))
      // a reader resolves the artifact BEFORE the rebuild flips it —
      // its file listing is pinned to gen=0
      val oldProbe = Retrieval.phraseSearchStored(spark, dir, Seq("a", "b"))
      val oldExpected = asMap(Retrieval.phraseSearch(batch1, Seq("a", "b")))
      // rebuild over the FULL corpus: writes gen=1, flips the pointer,
      // and must keep gen=0 on disk for one grace cycle
      Retrieval.writePostings(docs, dir, nBuckets = 16)
      assert(gens() == Set("gen=0", "gen=1"),
        "superseded generation lost its one-cycle deletion grace")
      assert(asMap(oldProbe) == oldExpected,
        "in-flight reader of the superseded generation broke mid-rebuild")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(docs, Seq("a", "b"))),
        "fresh probe did not see the new generation")
      // a SECOND rebuild retires gen=0 (its grace expired) but grants
      // gen=1 the same grace
      Retrieval.writePostings(batch1, dir, nBuckets = 16)
      assert(gens() == Set("gen=1", "gen=2"),
        "publish failed to GC the out-of-grace generation")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(batch1, Seq("a", "b"))))
    } finally hfs.delete(hp, true)
  }

  test("upsert/tombstones: re-post wins, delete-only removes, layers order") {
    val dir = s"/tmp/graft_test_postings_ups_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val base = Seq((1L, "a b a"), (2L, "c c"), (3L, "a b")).toDF("doc_id", "text")
      Retrieval.writePostings(base, dir, nBuckets = 16)
      // upsert doc 1 with new text: old rows shadowed, new rows live
      plantLayer(dir, "t1", Seq((1L, "z b z")), deletes = Seq(1L))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b", "a")))
        .isEmpty, "upsert left the doc's OLD postings visible")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("z", "b", "z")))
        == Map(1L -> ((1L, 0L))), "upsert's new postings missing")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == Map(3L -> ((1L, 0L))), "upsert bled into an unrelated doc")
      // delete-only append removes doc 2 everywhere
      plantLayer(dir, "t2", Nil, deletes = Seq(2L))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("c", "c")))
        .isEmpty, "delete-only append left tombstoned rows visible")
      // re-post AFTER a delete, in a later layer: the new rows survive
      // (a delete shadows strictly earlier layers only)
      plantLayer(dir, "t3", Seq((2L, "c c d")), deletes = Seq(2L))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("c", "c")))
        == Map(2L -> ((1L, 0L))), "re-posted doc stayed dead")
      // equivalence law: stored probe ≡ in-memory search over the
      // logical current corpus, for phrases spanning every layer
      val current = Seq((1L, "z b z"), (2L, "c c d"), (3L, "a b"))
        .toDF("doc_id", "text")
      for (ph <- Seq(Seq("z", "b"), Seq("c", "d"), Seq("a", "b"), Seq("b")))
        assert(asMap(Retrieval.phraseSearchStored(spark, dir, ph))
          == asMap(Retrieval.phraseSearch(current, ph)),
          s"layered probe diverged from the logical corpus for $ph")
      // EVERY posting layer's scan must carry the bucket partition
      // filter — pruning that survives only on one side of the union
      // would re-grow to a full scan as layers accumulate. Three layers
      // hold postings (base, t1, t3); t2's has no files, and the
      // unpartitioned tombstone sets are the other scans
      val up = Retrieval.phraseSearchStored(spark, dir, Seq("a", "b"))
        .queryExecution.executedPlan.toString
      val scans = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(up).toList
      assert(scans.count(_.contains("bucket")) == 3,
        s"a posting layer lost its bucket partition filter:\n$up")
      // rebuild compacts: tombstones and appends die with the generation
      Retrieval.writePostings(current, dir, nBuckets = 16)
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("c", "d")))
        == asMap(Retrieval.phraseSearch(current, Seq("c", "d"))))
    } finally hfs.delete(hp, true)
  }

  test("probing a dir with no complete artifact fails loudly") {
    val dir = s"/tmp/graft_test_postings_bad_${System.nanoTime()}"
    val e = intercept[IllegalStateException] {
      Retrieval.phraseSearchStored(spark, dir, Seq("a"))
    }
    assert(e.getMessage.contains("no complete postings artifact"))
  }

  test("q121 plan: one broadcast slot join, no nested loop, partial aggs") {
    val df = SparkEntry.queries("q121_phrase_search")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"slots must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"nested loop crept in:\n$p")
    assert(df.collect().nonEmpty, "q121 found no docs at the test SF")
  }
}
