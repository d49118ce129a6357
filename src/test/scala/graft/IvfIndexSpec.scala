package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** The IVF-at-scale contract: the written index probes as a
  * partition-PRUNED read, cell count scales ≈ √N by default, and the
  * recall/cost curve is pinned — high recall at low nprobe on clustered
  * data (where a quantizer can help), scan-fraction recall on uniform
  * data (where nothing can), exact search when every cell is probed. */
class IvfIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def topkSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("written index: probe is partition-pruned and reproduces the in-memory search") {
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val corpus = graft.sources.Tables.embeddings(spark, sf)
    VectorOps.writeIvfIndex(corpus, path, cells = 8)
    val gen = VectorOps.indexGenDir(spark, path)
    // 8 cell directories on disk, inside the published generation
    val dirs = new java.io.File(s"$gen/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(dirs.length == 8, s"expected 8 cell partitions, got ${dirs.toSeq}")
    val probed = VectorOps.probeIvfIndex(spark, path, nprobe = 3)
    // identical result to the fully in-memory pipeline (training is
    // exact-integer deterministic, so write → read → probe loses nothing)
    assert(probed.collect().toSeq ==
      VectorOps.ivfTopK(spark, sf, nprobe = 3, cells = 8).collect().toSeq)
    // plan pin: the corpus scan carries a cell partition filter — the
    // probe opens nprobe-worth of directories, it does not scan-and-filter
    val scan = spark.read.parquet(s"$gen/corpus")
      .filter(col("cell").isin(0L, 1L, 2L))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe read is not partition-pruned:\n$plan")
    // the files the scan actually selected (inputFiles ignores pruning)
    val scanExec = scan.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val listing = scanExec.selectedPartitions
    assert(listing.partitionCount == 3,
      s"expected 3 selected cell partitions, got ${listing.partitionCount}")
    val files = listing.toPartitionArray.map(_.filePath.toString)
    assert(files.nonEmpty && files.forall(f =>
        f.contains("cell=0") || f.contains("cell=1") || f.contains("cell=2")),
      s"scan selected files outside the probed cell directories: ${files.toSeq}")
  }

  test("cells defaults to ~sqrt(N) when unspecified") {
    val corpus = graft.sources.Tables.embeddings(spark, sf) // 500 rows
    val r = VectorOps.ivfTopKFrom(corpus, nprobe = 3) // cells = 0 → auto
    assert(r.groupBy($"qid").count().collect().forall(_.getLong(1) == 5))
    val path = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    VectorOps.writeIvfIndex(corpus, path) // auto cells
    val dirs = new java.io.File(
        s"${VectorOps.indexGenDir(spark, path)}/corpus").listFiles()
      .count(_.getName.startsWith("cell="))
    // √500 ≈ 22.4 → 22 trained cells (empty cells may collapse, so allow
    // a small deficit but reject the old constant-8 sizing)
    assert(dirs >= 16 && dirs <= 23, s"expected ~22=√500 cells, got $dirs")
  }

  test("recall sweep on the uniform corpus: scan-fraction curve, exact at nprobe=cells") {
    val exact = topkSet(VectorOps.dotTopK(spark, sf))
    def recallAt(np: Int): Double = {
      val got = topkSet(VectorOps.ivfTopK(spark, sf, nprobe = np, cells = 8))
      (exact & got).size.toDouble / exact.size
    }
    // uniform random embeddings have no cluster structure: recall tracks
    // the probed fraction (measured 0.36/0.60/0.84/1.00 at 1/3/7/8 —
    // deterministic, every quantizer step is exact-integer arithmetic)
    val r1 = recallAt(1); val r3 = recallAt(3); val r7 = recallAt(7)
    assert(r1 < r3 && r3 < r7, s"recall not increasing: $r1 $r3 $r7")
    assert(r3 >= 0.5, s"nprobe=3 recall $r3 under pinned 0.5 (measured 0.6)")
    assert(r7 >= 0.8, s"nprobe=7 recall $r7 under pinned 0.8 (measured 0.84)")
    assert(recallAt(8) == 1.0,
      "probing every cell IS the exact search — recall must be exactly 1")
  }

  test("external query vectors: held-out searches against a written index") {
    // the real ANN shape: queries are NOT rows of the indexed corpus
    val path = java.nio.file.Files.createTempDirectory("ivf_ext").toString
    val all = graft.sources.Tables.embeddings(spark, sf)
    val corpus = all.filter($"vec_id" >= 10L)
    val queries = all.filter($"vec_id" < 10L)
      .select($"vec_id".as("qid"), $"embedding")
    VectorOps.writeIvfIndex(corpus, path, cells = 8)
    // probing EVERY cell is the exact search: must equal brute force
    // bit-for-bit (dot is the exact-decimal value, ordering fully pinned)
    val allCells = VectorOps.probeIvfIndex(spark, path, queries,
      k = 5, nprobe = 8)
    val brute = VectorOps.dotTopKWith(corpus, queries, k = 5)
    assert(allCells.collect().toSeq == brute.collect().toSeq,
      "nprobe=cells external search must reproduce brute force exactly")
    // the in-memory form agrees with the written-index form
    val inMem = VectorOps.ivfSearch(corpus, queries, k = 5, nprobe = 8,
      cells = 8)
    assert(inMem.collect().toSeq == brute.collect().toSeq)
    // partial probe: still a valid top-k over the probed cells, recall
    // tracks the scan fraction on uniform data
    val partial = VectorOps.probeIvfIndex(spark, path, queries,
      k = 5, nprobe = 3)
    val bSet = topkSet(brute); val pSet = topkSet(partial)
    val recall = (bSet & pSet).size.toDouble / bSet.size
    assert(partial.groupBy($"qid").count().collect()
      .forall(_.getLong(1) == 5), "every query must return k rows")
    assert(recall >= 0.2 && recall <= 1.0, s"implausible recall $recall")
    // plan pin: the external probe reads ONLY the probed cell directories
    val two = queries.filter($"qid" < 2L)
    val pruned = VectorOps.probeIvfIndex(spark, path, two, k = 5, nprobe = 2)
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("corpus")) => f
    }
    assert(scans.nonEmpty, "corpus scan not found in the probe plan")
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected >= 1 && selected <= 4,
      s"2 queries x nprobe=2 must select <=4 cell partitions, got $selected")
  }

  test("external queries on a clustered corpus: >=0.9 recall at 2 of 8 cells") {
    // queries are fresh perturbations of the planted centers — near the
    // clusters but never inserted — so the quantizer must route each to
    // its home cell without having seen it
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = (0 until 16).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }.toDF("qid", "embedding")
    val brute = topkSet(VectorOps.dotTopKWith(corpus, queries, k = 5))
    val got = topkSet(VectorOps.ivfSearch(corpus, queries, k = 5,
      nprobe = 2, cells = 8))
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9,
      s"held-out queries must land in their home cells: recall $recall")
  }

  test("tombstone ledger: probes hide tombstoned rows exactly") {
    // a generation's `tombstones/` ledger (vec_ids) is anti-joined by
    // every probe; plant one by hand and compare with brute force over
    // the live rows
    val rnd = new scala.util.Random(19L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    def mk(ids: Range): Seq[(Long, Seq[Float])] = ids.map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    def tk(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val initial = mk(0 until 320)
    val path = java.nio.file.Files.createTempDirectory("ivf_del").toString
    VectorOps.writeIvfIndex(initial.toDF("vec_id", "embedding"), path,
      cells = 8)
    val queries = mk(5000 until 5012)
      .map { case (id, v) => (id - 5000L, v) }.toDF("qid", "embedding")
    (0L until 30L).toSeq.toDF("vec_id").write
      .parquet(s"${VectorOps.indexGenDir(spark, path)}/tombstones")
    val live = initial.filterNot(_._1 < 30)
    val brute = tk(VectorOps.dotTopKWith(live.toDF("vec_id", "embedding"),
      queries, k = 5))
    val ex = tk(VectorOps.probeIvfIndex(spark, path, queries, k = 5,
      nprobe = 8))
    assert(ex == brute, "probe must serve exactly the live corpus")
    assert(ex.forall(_._2 >= 30L), "a tombstoned row surfaced in a probe")
  }

  test("generation layout: partial builds never serve, torn swaps fail loudly") {
    val path = java.nio.file.Files.createTempDirectory("ivf_gen").toString
    val corpus = graft.sources.Tables.embeddings(spark, sf)
    VectorOps.writeIvfIndex(corpus, path, cells = 8)
    val gen0 = VectorOps.indexGenDir(spark, path)
    val before = VectorOps.probeIvfIndex(spark, path, nprobe = 2).collect().toSeq
    // simulated crash mid-rebuild: an UNREFERENCED partial generation
    // appears on disk — the pointer still names gen=0, probes unchanged
    assert(new java.io.File(s"$path/gen=99").mkdirs())
    assert(VectorOps.indexGenDir(spark, path) == gen0)
    assert(VectorOps.probeIvfIndex(spark, path, nprobe = 2).collect().toSeq
      == before, "a partial unpublished generation changed probe results")
    // the next successful build skips the partial gen's number (max+1 —
    // never reuses a possibly-dirty dir) and garbage-collects it
    // IMMEDIATELY (a partial was never current: no reader can hold it) —
    // while the SUPERSEDED generation survives one publish cycle, the
    // grace a multi-reader deployment needs for probes that resolved
    // the pointer just before the flip
    VectorOps.writeIvfIndex(corpus, path, cells = 8)
    val gen1 = VectorOps.indexGenDir(spark, path)
    assert(gen1.endsWith("gen=100"), s"expected gen=100, got $gen1")
    assert(!new java.io.File(s"$path/gen=99").exists(),
      "publish must retire unreferenced partial generations")
    assert(new java.io.File(gen0).exists(),
      "the superseded generation must get a one-cycle deletion grace")
    // an in-flight reader that resolved gen0 pre-flip still reads it
    assert(spark.read.parquet(s"$gen0/corpus").count() > 0L)
    // the NEXT publish ends gen0's grace: only {current, previous} live
    VectorOps.writeIvfIndex(corpus, path, cells = 8)
    val gen2 = VectorOps.indexGenDir(spark, path)
    assert(gen2.endsWith("gen=101"), s"expected gen=101, got $gen2")
    assert(!new java.io.File(gen0).exists(),
      "grace must end at the following publish")
    assert(new java.io.File(gen1).exists())
    // torn generation (pointer names a dir whose manifest never landed):
    // serving it would silently mix quantizers — must throw instead
    assert(new java.io.File(s"$gen2/_GRAFT_INDEX_OK").delete())
    val ex = intercept[IllegalStateException] {
      VectorOps.probeIvfIndex(spark, path, nprobe = 2).collect()
    }
    assert(ex.getMessage.contains("torn"), s"wrong error: ${ex.getMessage}")
  }

  test("ivfKnnJoin: exhaustive at nprobe=cells, cell-bounded and accurate below") {
    val rnd = new scala.util.Random(29L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    // probing every cell IS the exact k-NN self-join: bit-identical to
    // brute force (fused integer dot ≡ decimal expression dot)
    val brute = VectorOps.dotTopKFrom(corpus, nQueries = 200, k = 3)
      .collect().toSeq
    val full = VectorOps.ivfKnnJoin(corpus, k = 3, nprobe = 8, cells = 8)
      .collect().toSeq
    assert(full == brute, "nprobe=cells k-NN join must equal brute force")
    // partial probe: every query still gets k neighbors, and on
    // clustered data 2 of 8 cells keep ≥0.9 of the true neighbors
    val part = VectorOps.ivfKnnJoin(corpus, k = 3, nprobe = 2, cells = 8)
    val counts = part.groupBy($"qid").count().collect()
    assert(counts.length == 200 && counts.forall(_.getLong(1) == 3L))
    val bSet = topkSet(VectorOps.dotTopKFrom(corpus, nQueries = 200, k = 3))
    val recall = (bSet & topkSet(part)).size.toDouble / bSet.size
    assert(recall >= 0.9, s"clustered k-NN join recall $recall")
    // plan shape: the candidate join is an EQUIJOIN on the cell id (hash
    // or sort-merge) — a cartesian here would be the all-pairs scale
    // killer. (The one-row broadcast centroid-array attach is a bounded
    // nested-loop by construction and is fine.)
    val plan = part.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"k-NN join planned as a cartesian product:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"k-NN candidate join is not an equijoin on cell:\n$plan")
  }

  test("q110 semantic dedup: planted copies die with their source as witness") {
    val sources = graft.sources.Tables.embeddings(spark, sf)
      .filter($"vec_id" % 10 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val dropped = VectorOps.semanticDedup(spark, sf).collect()
    assert(dropped.nonEmpty)
    // keep-first: an original row can never be dropped — its only
    // >=0.99-cosine neighbor is its copy, whose id is LARGER
    dropped.foreach { r =>
      val (id, dupOf) = (r.getLong(0), r.getLong(1))
      assert(id >= 1000000L, s"non-planted row $id dropped")
      assert(dupOf == id - 1000000L,
        s"copy $id blamed witness $dupOf, not its source")
    }
    // recall: a copy shares its source's cell (identical vector ⇒
    // identical assignment AND identical probe ranking), so the k-NN
    // join finds the source for essentially every copy
    val rate = dropped.length.toDouble / sources.size
    assert(rate >= 0.9, s"only ${dropped.length}/${sources.size} copies dropped")
  }

  test("q113 semantic clusters: copy pairs collapse to the source label, others singleton") {
    val r = VectorOps.semanticClusters(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1)))
    assert(r.nonEmpty)
    val relabeled = r.filter { case (id, c) => c != id }
    // only copies can be relabeled (no random pair clears cos >= 0.99),
    // and a relabeled copy's component minimum is its source
    relabeled.foreach { case (id, c) =>
      assert(id >= 1000000L && c == id - 1000000L,
        s"row $id landed in cluster $c")
    }
    val nPlanted = r.count(_._1 >= 1000000L)
    assert(relabeled.length >= (0.9 * nPlanted).toInt,
      s"only ${relabeled.length}/$nPlanted copies clustered with their source")
  }

  test("recall on a clustered corpus: >=0.9 probing 2 of 8 cells") {
    // 8 planted clusters: deterministic centers, small perturbations —
    // the shape a trained quantizer exists for. 64-dim, 400 vectors.
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val exact = topkSet(VectorOps.dotTopKFrom(corpus))
    val got = topkSet(VectorOps.ivfTopKFrom(corpus, nprobe = 2, cells = 8))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"trained quantizer must exploit cluster structure: recall $recall")
  }
}
