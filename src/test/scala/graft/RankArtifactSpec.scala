package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphArtifact, GraphOps, RankArtifact}

/** The rank artifact: full compute parity with GraphOps.pagerank,
  * EXACT incremental refresh (≡ from-scratch recompute, bit-for-bit)
  * across adds / deletes / new nodes / node removal / resurrection /
  * chained deltas, the rebuild and noop gates, and per-iteration
  * parity against a driver-computed reference recurrence. Also the
  * laws of the edge artifact's appends that q141 rides on: resolution
  * ≡ a reference state machine, the same-batch add/delete refusal, and
  * the replayed-tag skip. */
class RankArtifactSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("rank_art").toString

  private def toDF(es: Seq[(Long, Long)]): DataFrame =
    es.toDF("src", "dst")

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side reference: the exact integer recurrence over the
    * undirected simple graph, all iterations. */
  private def reference(es: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Seq[Map[Long, Long]] = {
    val und = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nbr = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).distinct }
    val tele = (BigInt(15) * scale / 100).toLong
    var r: Map[Long, Long] = nbr.keys.map(_ -> scale).toMap
    (1 to iters).map { _ =>
      r = nbr.map { case (v, us) =>
        val s = us.iterator.map(u => r(u) / nbr(u).size.toLong).sum
        v -> (tele + (85L * s) / 100L)
      }
      r
    }
  }

  private val rnd = new scala.util.Random(19L)
  private def randomEdges(n: Int, m: Int): Seq[(Long, Long)] =
    (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct

  test("writeRanks/readRanks match GraphOps.pagerank on the same adjacency") {
    val dir = tmp()
    val es = randomEdges(80, 260)
    GraphArtifact.writeEdges(toDF(es), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 4)
    val got = ranksOf(RankArtifact.readRanks(spark, s"$dir/r"))
    val viaOp = ranksOf(GraphOps.pagerank(
      GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 4))
    assert(got == viaOp, "stored ranks diverge from the operator")
    assert(got == reference(es, 4).last, "stored ranks diverge from reference")
  }

  test("refresh ≡ from-scratch across adds, deletes, new nodes, removal, chains") {
    val dir = tmp()
    val base = randomEdges(60, 150)
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 5)

    // delta 1: new edges among existing nodes + brand-new nodes 100..104
    // + delete a slice, removing node `victim` from the graph entirely
    val victim = base.head._1
    val dels1 = base.filter(e => e._1 == victim || e._2 == victim) ++
      base.filter(e => (e._1 + e._2) % 11 == 0 &&
        e._1 != victim && e._2 != victim)
    val adds1 = Seq((100L, 101L), (101L, 102L), (102L, 103L),
      (103L, 104L), (100L, base(3)._1)) ++ randomEdges(60, 25)
      .filterNot(e => base.contains(e) || dels1.contains(e) ||
        e._1 == victim || e._2 == victim)
    assert(GraphArtifact.appendEdges(toDF(adds1), s"$dir/e", "b000001",
      deletes = Some(toDF(dels1))))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    val after1 = ranksOf(RankArtifact.readRanks(spark, s"$dir/r"))
    val truth1 = ranksOf(GraphOps.pagerank(
      GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 5))
    assert(after1 == truth1, "refresh 1 diverged from recompute")
    assert(!after1.contains(victim), "removed node still ranked")

    // delta 2: resurrect the victim with fresh edges (chained overlay)
    val adds2 = Seq((victim, 100L), (victim, base(5)._2))
    assert(GraphArtifact.appendEdges(toDF(adds2), s"$dir/e", "b000002"))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    val after2 = ranksOf(RankArtifact.readRanks(spark, s"$dir/r"))
    val truth2 = ranksOf(GraphOps.pagerank(
      GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 5))
    assert(after2 == truth2, "refresh 2 (resurrection) diverged")
    assert(after2.contains(victim), "resurrected node missing")

    // already covered → noop; nothing changes
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "noop")
    assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) == after2)
  }

  test("per-iteration values match the driver reference through a refresh") {
    // small deterministic graph so every iteration is hand-checkable:
    // refresh exactness must hold at EVERY stored iteration, not just
    // the served one (intermediate drift would poison later refreshes)
    val dir = tmp()
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 6L), (6L, 7L), (2L, 5L))
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 3)
    val adds = Seq((7L, 8L), (8L, 1L))
    val dels = Seq((5L, 6L))
    GraphArtifact.appendEdges(toDF(adds), s"$dir/e", "b000001",
      deletes = Some(toDF(dels)))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    val fin = base.filterNot(dels.contains) ++ adds
    assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) ==
      reference(fin, 3).last)
  }

  test("edge-artifact rebuild invalidates the chain: refresh recomputes") {
    val dir = tmp()
    val base = randomEdges(40, 90)
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 3)
    // full rebuild = new edge generation with a different graph
    val rebuilt = randomEdges(40, 70) ++ Seq((900L, 901L))
    GraphArtifact.writeEdges(toDF(rebuilt), s"$dir/e")
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r")
      == "rebuild")
    assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) ==
      reference(rebuilt, 3).last)
  }

  test("hop-level ball cap bails to recompute before any expansion join") {
    val dir = tmp()
    val base = randomEdges(50, 120)
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 3)
    GraphArtifact.appendEdges(toDF(Seq((base.head._1, 990L))),
      s"$dir/e", "b000001")
    spark.conf.set(RankArtifact.MaxDeltaBallNodesKey, "1")
    try {
      // touched alone (2 nodes) already exceeds the cap: the refresh
      // must fall back to the full recompute WITHOUT running a single
      // ball-expansion hop — and the recompute is the same exact answer
      assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r")
        == "recompute")
      assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) ==
        ranksOf(GraphOps.pagerank(
          GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 3)))
    } finally spark.conf.unset(RankArtifact.MaxDeltaBallNodesKey)
  }

  test("shuffled (non-broadcast) node-set restriction is row-identical") {
    // force every adjacencyFor restriction onto the shuffled semi-join
    // path (broadcast threshold 0): the refresh must stay on the delta
    // path and produce the identical overlay
    val dir = tmp()
    val base = randomEdges(60, 150)
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 4)
    val adds = randomEdges(60, 20).filterNot(base.contains) ++
      Seq((500L, 501L), (501L, base.head._1))
    GraphArtifact.appendEdges(toDF(adds), s"$dir/e", "b000001")
    spark.conf.set(GraphArtifact.BroadcastMaxNodesKey, "0")
    try {
      assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r")
        == "delta")
      assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) ==
        ranksOf(GraphOps.pagerank(
          GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 4)))
    } finally spark.conf.unset(GraphArtifact.BroadcastMaxNodesKey)
  }

  test("compactRanks folds the chain: served ranks bit-identical, chain 0") {
    val dir = tmp()
    val base = randomEdges(50, 120)
    GraphArtifact.writeEdges(toDF(base), s"$dir/e")
    RankArtifact.writeRanks(spark, s"$dir/e", s"$dir/r", iters = 3)
    // two chained deltas (adds + a delete) so the fold resolves real
    // overlays and a removal tombstone, not just the base
    val dels = Seq(base.head)
    assert(GraphArtifact.appendEdges(
      toDF(Seq((200L, 201L), (201L, base(1)._1))), s"$dir/e", "b000001",
      deletes = Some(toDF(dels))))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    assert(GraphArtifact.appendEdges(
      toDF(Seq((202L, 203L), (203L, 200L))), s"$dir/e", "b000002"))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    assert(RankArtifact.chainLength(spark, s"$dir/r") == 2)

    val before = ranksOf(RankArtifact.readRanks(spark, s"$dir/r"))
    val genBefore = RankArtifact.ranksGenDir(spark, s"$dir/r")
    RankArtifact.compactRanks(spark, s"$dir/r")
    assert(RankArtifact.ranksGenDir(spark, s"$dir/r") != genBefore,
      "fold must publish a fresh generation")
    assert(RankArtifact.chainLength(spark, s"$dir/r") == 0)
    assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) == before,
      "fold changed the served ranks")
    // lineage is untouched: the folded base covers what the chain did,
    // so the next refresh against an unchanged edge store no-ops...
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "noop")
    // ...and a refresh after a NEW append is a delta over the folded base
    assert(GraphArtifact.appendEdges(
      toDF(Seq((204L, 205L), (205L, 202L))), s"$dir/e", "b000003"))
    assert(RankArtifact.refreshRanks(spark, s"$dir/e", s"$dir/r") == "delta")
    assert(ranksOf(RankArtifact.readRanks(spark, s"$dir/r")) ==
      ranksOf(GraphOps.pagerank(
        GraphArtifact.readAdjacency(spark, s"$dir/e"), iters = 3)))
  }

  test("q141 is invocation-idempotent within a session (memoized build)") {
    // the gate memoizes its store BUILD per (session, dataset) and each
    // invocation appends the same delta under a fresh tag + folds — the
    // served top-100 must be bit-identical across invocations (bench
    // runs it three times in one JVM; Verify once in another)
    val q = RankArtifact.queries("q141_rank_refresh")
    def run(): Seq[(Long, Long)] =
      q(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() == first, "second invocation diverged (memoized build)")
    assert(run() == first, "third invocation diverged")
  }

  test("a missing rank artifact fails loudly with the build hint") {
    val e = intercept[IllegalStateException] {
      RankArtifact.readRanks(spark, tmp() + "/nothing")
    }
    assert(e.getMessage.contains("writeRanks"), e.getMessage)
  }

  /** Reference for the edge artifact: sequential set semantics over
    * (src, dst, op) batches. */
  private def refApply(state: Set[(Long, Long)],
      batch: Seq[(Long, Long, String)]): Set[(Long, Long)] = {
    val norm = batch.flatMap { case (s, d, op) =>
      if (s == d) None
      else Some((math.min(s, d), math.max(s, d), op))
    }.distinct
    val adds = norm.collect { case (a, b, "add") => (a, b) }.toSet
    val dels = norm.collect { case (a, b, "del") => (a, b) }.toSet
    state -- dels ++ adds
  }

  private def edgeSet(dir: String): Set[(Long, Long)] =
    GraphArtifact.readEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** An empty edge artifact: the base every test below appends onto. */
  private def emptyEdges(): String = {
    val dir = tmp()
    GraphArtifact.writeEdges(toDF(Nil), dir, nBuckets = 8)
    dir
  }

  /** One batch of (src, dst, op ∈ add|del) rows as one append. */
  private def appendOps(dir: String, tag: String,
      ops: Seq[(Long, Long, String)]): Boolean =
    GraphArtifact.appendEdges(
      toDF(ops.collect { case (s, d, "add") => (s, d) }), dir, tag,
      deletes = Some(toDF(ops.collect { case (s, d, "del") => (s, d) })))

  test("edge artifact: appends ≡ reference state machine after every batch") {
    val dir = emptyEdges()
    val batches = Seq(
      Seq((1L, 2L, "add"), (2L, 3L, "add"), (3L, 1L, "add"),
        (2L, 1L, "add"), (4L, 4L, "add")), // dup orientation + self-loop
      Seq((1L, 2L, "del"), (4L, 5L, "add")),
      Seq((2L, 1L, "add"), (4L, 5L, "del")), // re-add resurrects
      Seq((9L, 8L, "add")))
    var state = Set.empty[(Long, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(appendOps(dir, f"b$i%06d", b), s"batch $i should publish")
      state = refApply(state, b)
      assert(edgeSet(dir) == state, s"state diverged after batch $i")
    }
  }

  test("edge artifact: same edge added and deleted in one batch fails loudly, nothing publishes") {
    val dir = emptyEdges()
    assert(appendOps(dir, "b000000", Seq((1L, 2L, "add"))))
    val e = intercept[IllegalStateException] {
      appendOps(dir, "b000001", Seq((3L, 4L, "add"), (4L, 3L, "del")))
    }
    assert(e.getMessage.contains("no deterministic winner"))
    assert(edgeSet(dir) == Set((1L, 2L)), "failed batch must not publish")
    // nothing was committed under the refused tag, so it stays usable
    assert(appendOps(dir, "b000001", Seq((3L, 4L, "add"))))
    assert(edgeSet(dir) == Set((1L, 2L), (3L, 4L)))
  }

  test("edge artifact: a replayed tag skips without corrupting state") {
    val dir = emptyEdges()
    assert(appendOps(dir, "b000000", Seq((1L, 2L, "add"))))
    assert(appendOps(dir, "b000001", Seq((2L, 3L, "add"))))
    // replay tag b000001 with DIFFERENT content: the committed tag wins
    assert(!appendOps(dir, "b000001", Seq((7L, 8L, "add"))))
    assert(edgeSet(dir) == Set((1L, 2L), (2L, 3L)))
  }
}
