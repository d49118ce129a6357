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

  test("append lifecycle: exactly-once publish, replay skip, torn debris") {
    val dir = s"/tmp/graft_test_postings_app_${System.nanoTime()}"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val batch1 = docs.filter(col("doc_id") <= 4L)
      val batch2 = docs.filter(col("doc_id") > 4L)
      Retrieval.writePostings(batch1, dir, nBuckets = 16)
      assert(Retrieval.appendPostings(batch2, dir, "b2"),
        "first append must publish")
      // probe over base+append ≡ in-memory search over the full corpus
      for (phrase <- Seq(Seq("a", "b", "a"), Seq("b", "a")))
        assert(asMap(Retrieval.phraseSearchStored(spark, dir, phrase))
          == asMap(Retrieval.phraseSearch(docs, phrase)),
          s"append probe diverged for $phrase")
      // EVERY scan of the unioned artifact (base + append) must carry
      // the bucket partition filter — pruning that survives only on one
      // side of the union would re-grow to a full scan as appends land
      val up = Retrieval.phraseSearchStored(spark, dir, Seq("a", "b"))
        .queryExecution.executedPlan.toString
      val scans = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(up).toList
      assert(scans.length >= 2, s"expected >= 2 scans after an append:\n$up")
      assert(scans.forall(_.contains("bucket")),
        s"a union side lost its bucket partition filter:\n$up")
      // replayed tag: skip, and counts must NOT double
      assert(!Retrieval.appendPostings(batch2, dir, "b2"),
        "replayed append must skip")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(docs, Seq("a", "b"))),
        "replayed append double-counted")
      // torn debris: a junk tmp dir from a crashed attempt is cleared
      // (staging is the ledger's temp sibling of `appends/<tag>`)
      val b3 = new org.apache.hadoop.fs.Path(
        Retrieval.postingsGenDir(spark, dir), "appends/b3")
      val tmp = graft.sources.Ledger.tmpOf(b3)
      hfs.mkdirs(tmp)
      val junk = hfs.create(new org.apache.hadoop.fs.Path(tmp, "junk"), true)
      try junk.write("x".getBytes) finally junk.close()
      assert(Retrieval.appendPostings(
        docs.limit(0), dir, "b3"), "empty append over debris must publish")
      assert(hfs.exists(b3) &&
        !hfs.exists(new org.apache.hadoop.fs.Path(b3, "junk")),
        "the torn attempt's debris was published")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(docs, Seq("a", "b"))),
        "empty append changed results")
      // a full rebuild clears committed appends (no haunting)
      Retrieval.writePostings(batch1, dir, nBuckets = 16)
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(batch1, Seq("a", "b"))),
        "rebuild served stale append rows")
      intercept[IllegalArgumentException] { // tag hygiene
        Retrieval.appendPostings(batch2, dir, "bad tag!")
      }
    } finally hfs.delete(hp, true)
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
      // explicit drain-time end of the grace
      assert(Retrieval.expirePostingsGenerations(spark, dir) == 1)
      assert(gens() == Set("gen=2"))
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
      val doc1v2 = Seq((1L, "z b z")).toDF("doc_id", "text")
      assert(Retrieval.upsertPostings(doc1v2, dir, "t1"))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b", "a")))
        .isEmpty, "upsert left the doc's OLD postings visible")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("z", "b", "z")))
        == Map(1L -> ((1L, 0L))), "upsert's new postings missing")
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == Map(3L -> ((1L, 0L))), "upsert bled into an unrelated doc")
      // delete-only append removes doc 2 everywhere
      assert(Retrieval.appendPostings(base.limit(0), dir, "t2",
        deletes = Some(Seq(Tuple1(2L)).toDF("doc_id"))))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("c", "c")))
        .isEmpty, "delete-only append left tombstoned rows visible")
      // re-post AFTER a delete, in a later layer: the new rows survive
      // (a delete shadows strictly earlier layers only)
      assert(Retrieval.upsertPostings(
        Seq((2L, "c c d")).toDF("doc_id", "text"), dir, "t3"))
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
      // replayed upsert tag: skips, results unchanged (exactly-once)
      assert(!Retrieval.upsertPostings(doc1v2, dir, "t1"))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("z", "b", "z")))
        == Map(1L -> ((1L, 0L))), "replayed upsert double-applied")
      // rebuild compacts: tombstones and appends die with the generation
      Retrieval.writePostings(current, dir, nBuckets = 16)
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("c", "d")))
        == asMap(Retrieval.phraseSearch(current, Seq("c", "d"))))
    } finally hfs.delete(hp, true)
  }

  test("compactPostings folds appends+tombstones; probes bit-identical") {
    val dir = s"/tmp/graft_test_postings_cp_${System.nanoTime()}"
    try {
      import spark.implicits._
      Retrieval.writePostings(docs, dir, nBuckets = 8)
      // an upsert (re-post of doc 1) and a plain append: the fold must
      // resolve a tombstone layer AND a fresh layer
      assert(Retrieval.upsertPostings(
        Seq(1L -> "b a b").toDF("doc_id", "text"), dir, "b000001"))
      assert(Retrieval.appendPostings(
        Seq(9L -> "a b a").toDF("doc_id", "text"), dir, "b000002"))
      assert(Retrieval.chainLength(spark, dir) == 2)
      val phrases = Seq(Seq("a", "b"), Seq("b", "a", "b"), Seq("a"))
      val before = phrases.map(ph =>
        asMap(Retrieval.phraseSearchStored(spark, dir, ph)))
      val genBefore = Retrieval.postingsGenDir(spark, dir)
      Retrieval.compactPostings(spark, dir)
      assert(Retrieval.postingsGenDir(spark, dir) != genBefore,
        "fold must publish a fresh generation")
      assert(Retrieval.chainLength(spark, dir) == 0)
      phrases.zip(before).foreach { case (ph, want) =>
        assert(asMap(Retrieval.phraseSearchStored(spark, dir, ph)) == want,
          s"fold changed the probe for $ph")
      }
      // the folded base still bucket-prunes (rows kept their bucket ids)
      val p = Retrieval.phraseSearchStored(spark, dir, Seq("a", "b"))
        .queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
        s"no bucket partition filter after the fold:\n$p")
      // maintenance continues: a fresh tag namespace accepts appends
      assert(Retrieval.upsertPostings(
        Seq(9L -> "c c c").toDF("doc_id", "text"), dir, "b000001"))
      assert(asMap(Retrieval.phraseSearchStored(spark, dir, Seq("a", "b")))
        == asMap(Retrieval.phraseSearch(
          docs.filter(col("doc_id") =!= 1L && col("doc_id") =!= 9L)
            .unionByName(Seq(1L -> "b a b").toDF("doc_id", "text"))
            .unionByName(Seq(9L -> "c c c").toDF("doc_id", "text")),
          Seq("a", "b"))),
        "post-fold maintenance diverged")
    } finally {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, true)
    }
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
