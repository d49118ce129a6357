package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphAlgos, GraphOps}

/** The q132-q135 graph leg (operators/GraphAlgos.scala): each
  * distributed recurrence must reproduce a straight-line
  * single-threaded reference implementation EXACTLY on hand graphs
  * with the shapes that break naive forms — peel cascades, disconnected
  * components, tied majority votes, hub/authority asymmetry — and the
  * bounded-round contracts must fail LOUDLY, not silently truncate. */
class GraphAlgosSpec extends SparkSpecBase {
  import spark.implicits._

  // ---------------------------------------------------------------- k-core

  /** Reference peel: drop nodes of degree < k until fixpoint; return
    * survivor → within-core degree. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] = {
    var adj = collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < k => n }.toSet
      changed = drop.nonEmpty
      if (changed) {
        adj = adj.collect {
          case (n, s) if !drop(n) => n -> (s -- drop)
        }
      }
    }
    adj.map { case (n, s) => n -> s.size.toLong }.toMap
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int = 12): Map[Long, Long] =
    GraphAlgos.kCore(edges.toDF("src", "dst"), k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // a triangle core (3 nodes all degree 2) + a chain hanging off it
  // (peels in a cascade: 7 → 6 → ... one node per round) + an island pair
  private val chainy = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L),          // triangle: the 2-core
    (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // chain: cascades away at k=2
    (8L, 9L))                               // island edge: degree 1

  test("kCore: cascading peel matches the reference fixpoint") {
    for (k <- Seq(2, 3)) {
      assert(runKCore(chainy, k) == refKCore(chainy, k),
        s"diverged at k=$k")
    }
    // k=2 keeps exactly the triangle, with within-core degrees
    assert(runKCore(chainy, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3 peels everything
    assert(runKCore(chainy, 3) == Map.empty[Long, Long])
  }

  test("kCore: a clique survives untouched (zero peel rounds)") {
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    assert(runKCore(k4, 3) == refKCore(k4, 3))
    assert(runKCore(k4, 3).values.toSet == Set(3L))
  }

  test("kCore: duplicate/reversed/self-loop input edges normalize away") {
    val messy = chainy ++ chainy.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))
    assert(runKCore(messy, 2) == refKCore(chainy, 2))
  }

  test("kCore: a cascade deeper than maxRounds throws loudly") {
    // path of 9 nodes: k=2 peels one node from each end per round —
    // needs 4 dropping rounds + 1 verify; bound at 3 must throw
    val path = (1L to 8L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      runKCore(path, 2, maxRounds = 3)
    }
    assert(e.getMessage.contains("no fixpoint"))
    // and with enough rounds the same input converges (to empty)
    assert(runKCore(path, 2, maxRounds = 6) == refKCore(path, 2))
  }

  // ------------------------------------------------------------ BFS layers

  private def refBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxHops: Int): Map[Long, Long] = {
    val adj = collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    val inGraph = seeds.intersect(adj.keySet)
    var dist = inGraph.map(_ -> 0L).toMap
    var frontier = inGraph
    for (h <- 1 to maxHops) {
      val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .diff(dist.keySet)
      dist = dist ++ nxt.map(_ -> h.toLong)
      frontier = nxt
    }
    dist
  }

  private def runBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
      maxHops: Int): Map[Long, Long] =
    GraphAlgos.bfsLayers(edges.toDF("src", "dst"),
        seeds.toSeq.toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // two components: a path 1-2-3-4-5 and a square 10-11-12-13
  private val twoComp = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))

  test("bfsLayers: exact hop distances, unreached nodes absent") {
    val got = runBfs(twoComp, Set(1L), maxHops = 3)
    assert(got == refBfs(twoComp, Set(1L), 3))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(!got.contains(5L) && !got.contains(10L),
      "hop-4 and other-component nodes must be absent")
  }

  test("bfsLayers: multi-source takes the MINIMUM hop distance") {
    val got = runBfs(twoComp, Set(1L, 5L), maxHops = 4)
    assert(got == refBfs(twoComp, Set(1L, 5L), 4))
    assert(got(3L) == 2L, "middle node is 2 hops from either seed")
  }

  test("bfsLayers: early frontier exhaustion ≡ full unroll") {
    // the square exhausts at hop 2; asking for 10 hops must not differ
    assert(runBfs(twoComp, Set(10L), 10) == refBfs(twoComp, Set(10L), 10))
  }

  test("bfsLayers: seeds outside the graph are ignored; none intersecting throws") {
    assert(runBfs(twoComp, Set(1L, 99L), 2) == refBfs(twoComp, Set(1L), 2))
    val e = intercept[IllegalArgumentException] {
      runBfs(twoComp, Set(99L), 2)
    }
    assert(e.getMessage.contains("no seed"))
  }

  // ---------------------------------------------------------- label spread

  private def refSpread(edges: Seq[(Long, Long)],
      seeds: Map[Long, String], iters: Int): Map[Long, String] = {
    val adj = collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    val frozen = seeds.view.filterKeys(adj.contains).toMap
    var labels = frozen
    for (_ <- 1 to iters) {
      val voted = adj.keys.filterNot(frozen.contains).flatMap { n =>
        val votes = adj(n).toSeq.flatMap(labels.get)
          .groupBy(identity).view.mapValues(_.size).toMap
        if (votes.isEmpty) None
        else {
          // majority, ties by smallest label
          val best = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
          Some(n -> best)
        }
      }.toMap
      labels = frozen ++ voted
    }
    labels
  }

  private def runSpread(edges: Seq[(Long, Long)],
      seeds: Map[Long, String], iters: Int): Map[Long, String] =
    GraphAlgos.labelSpread(edges.toDF("src", "dst"),
        seeds.toSeq.toDF("node", "label"), iters)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("labelSpread: majority vote with deterministic min-label ties") {
    // node 3 sees one 'a' (node 1) and one 'b' (node 5): tie → 'a'
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 3L), (3L, 5L))
    val seeds = Map(1L -> "a", 5L -> "b")
    for (iters <- Seq(1, 2, 4)) {
      assert(runSpread(path, seeds, iters) == refSpread(path, seeds, iters),
        s"diverged at iters=$iters")
    }
    assert(runSpread(path, seeds, 1)(3L) == "a", "tie must break low")
  }

  test("labelSpread: labels reach hop h after h rounds; unlabeled stay absent") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val seeds = Map(1L -> "x")
    val r1 = runSpread(path, seeds, 1)
    assert(r1 == Map(1L -> "x", 2L -> "x"))
    val r3 = runSpread(path, seeds, 3)
    assert(r3 == Map(1L -> "x", 2L -> "x", 3L -> "x", 4L -> "x"))
    assert(!r3.contains(10L) && !r3.contains(11L))
  }

  test("labelSpread: a non-seed flips when the neighborhood majority shifts") {
    // node 9's first-round label comes from its only labeled neighbor
    // (a); by round 2 three b-labeled nodes outvote it
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L),
      (2L, 5L), (3L, 5L), (4L, 5L))
    val seeds = Map(1L -> "a", 5L -> "b")
    val ref2 = refSpread(star, seeds, 2)
    assert(runSpread(star, seeds, 2) == ref2)
    assert(ref2(9L) == "b", "majority must flip node 9 to b")
  }

  test("labelSpread: multi-label seed node is refused loudly") {
    val e = intercept[IllegalArgumentException] {
      GraphAlgos.labelSpread(Seq((1L, 2L)).toDF("src", "dst"),
        Seq((1L, "a"), (1L, "b")).toDF("node", "label"), 1).collect()
    }
    assert(e.getMessage.contains("multiple labels"))
  }

  // ------------------------------------------------------------------ HITS

  private def refHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var auth = nodes.map(_ -> scale).toMap
    var hub = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val a2 = nodes.map(v =>
        v -> e.filter(_._2 == v).map(x => hub(x._1)).sum).toMap
      val aq = math.max(1L, a2.values.max / scale)
      auth = a2.view.mapValues(_ / aq).toMap
      val h2 = nodes.map(u =>
        u -> e.filter(_._1 == u).map(x => auth(x._2)).sum).toMap
      val hq = math.max(1L, h2.values.max / scale)
      hub = h2.view.mapValues(_ / hq).toMap
    }
    nodes.map(n => n -> (auth(n), hub(n))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] =
    GraphAlgos.hits(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  // a directory node 1 linking to authorities 5,6,7; 2,3 also link to 5
  private val webby = Seq((1L, 5L), (1L, 6L), (1L, 7L),
    (2L, 5L), (3L, 5L), (5L, 9L))

  test("HITS: distributed recurrence ≡ reference impl") {
    for (iters <- Seq(1, 2, 5)) {
      assert(runHits(webby, iters) == refHits(webby, iters),
        s"diverged at iters=$iters")
    }
  }

  test("HITS: the most-pointed-at node tops authority, the directory tops hub") {
    val got = runHits(webby, 5)
    val topAuth = got.maxBy { case (n, (a, _)) => (a, -n) }._1
    val topHub = got.maxBy { case (n, (_, h)) => (h, -n) }._1
    assert(topAuth == 5L, s"node 5 has in-degree 3: $got")
    assert(topHub == 1L, s"node 1 links to 3 authorities: $got")
  }

  test("HITS: pure-source/pure-sink graph stays defined (no in-edges → zero auth)") {
    val line = Seq((1L, 2L))
    val got = runHits(line, 3)
    assert(got == refHits(line, 3))
    assert(got(1L)._1 == 0L, "a never-pointed-at node's authority is 0")
  }

  // ---------------------------------------------------------- embeddedness

  /** Reference: common-neighbor count per undirected edge. */
  private def refEmbed(edges: Seq[(Long, Long)])
      : Map[(Long, Long), Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = collection.mutable.Map[Long, Set[Long]]()
    und.foreach { case (a, b) =>
      adj(a) = adj.getOrElse(a, Set.empty) + b
      adj(b) = adj.getOrElse(b, Set.empty) + a
    }
    und.map { case (a, b) =>
      (a, b) -> adj(a).intersect(adj(b)).size.toLong
    }.filter(_._2 > 0).toMap
  }

  test("edgeEmbeddedness ≡ per-edge common-neighbor reference") {
    // two triangles sharing an edge + a bridge with no common neighbors
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L),
      (3L, 9L), (9L, 10L))
    val got = GraphAlgos.edgeEmbeddedness(g.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == refEmbed(g))
    assert(got((1L, 2L)) == 2L, "the shared edge sits in both triangles")
    assert(!got.contains((9L, 10L)), "zero-common-neighbor edges absent")
  }

  // ---------------------------------------------------------- random walks

  /** Reference walker: same md5-derived choice over the id-sorted
    * adjacency list. */
  private def refWalks(edges: Seq[(Long, Long)], seeds: Set[Long],
      walks: Int, steps: Int): Set[(Long, Long, Long, Long)] = {
    val adj = collection.mutable.Map[Long, Set[Long]]()
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
    }
    def md5pick(node: Long, t: Int, w: Long, deg: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(s"$node#$t#$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % deg).toInt
    }
    val out = collection.mutable.Set[(Long, Long, Long, Long)]()
    for (seed <- seeds.intersect(adj.keySet); w <- 0L until walks.toLong) {
      var node = seed
      out += ((seed, w, 0L, node))
      for (t <- 1 to steps) {
        val ns = adj(node).toSeq.sorted
        node = ns(md5pick(node, t, w, ns.size))
        out += ((seed, w, t.toLong, node))
      }
    }
    out.toSet
  }

  private val walkG = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
    (1L, 3L), (2L, 5L), (5L, 6L))

  test("randomWalks ≡ md5 reference walker, reproducible across runs") {
    val got = GraphAlgos.randomWalks(walkG.toDF("src", "dst"),
        Seq(1L, 5L).toDF("node"), walksPerSeed = 2, steps = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == refWalks(walkG, Set(1L, 5L), 2, 4))
    val again = GraphAlgos.randomWalks(walkG.toDF("src", "dst"),
        Seq(1L, 5L).toDF("node"), walksPerSeed = 2, steps = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == again, "walks must be bit-reproducible")
  }

  test("randomWalks: every consecutive hop is a graph edge, counts exact") {
    val df = GraphAlgos.randomWalks(walkG.toDF("src", "dst"),
      Seq(1L).toDF("node"), walksPerSeed = 3, steps = 5)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 3 * 6, "3 walks x (seed + 5 steps)")
    val und = walkG.flatMap(e => Seq(e, e.swap)).toSet
    rows.groupBy(r => (r._1, r._2)).values.foreach { walk =>
      val path = walk.sortBy(_._3).map(_._4).toSeq
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(und.contains((a, b)), s"non-edge hop $a->$b in $path")
      }
    }
  }

  // ---------------------------------------------- disjoint-copy invariance

  test("disjoint id-offset copies: every copy-0 answer ≡ the 1× answer") {
    // copies never touch, PageRank's teleport and dangling shares are
    // per-node (n and the dangling mass both scale by the copy count),
    // HITS's global rescale max equals each identical copy's max, and a
    // walk's md5 pick keys on ids that copy 0 keeps — so every row with
    // a copy-0 key must come back bit for bit at any copy count
    val off = 1000L
    def inflate(df: DataFrame, m: Int, ids: String*): DataFrame =
      (0 until m).map(i => df.select(df.columns.toSeq.map(c =>
          if (ids.contains(c)) (col(c) + i * off).as(c) else col(c)): _*))
        .reduce(_ union _)
    // two triangles sharing an edge with a dangling tail, and a square
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L),
      (3L, 9L), (9L, 10L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 11L))
      .toDF("src", "dst")
    val labels = Seq((1L, "a"), (10L, "b"), (13L, "b")).toDF("node", "label")
    val seeds = Seq(1L, 12L).toDF("node")
    def check(name: String, key: String)(run: Int => DataFrame): Unit = {
      val one = run(1).collect().toSet
      val copy0 = run(3).filter(col(key) < off).collect().toSet
      assert(one.nonEmpty && copy0 == one, s"$name: copy 0 diverged from 1×")
    }
    check("pagerank", "node")(m =>
      GraphOps.pagerank(inflate(g, m, "src", "dst"), 5))
    check("triangleCounts", "node")(m =>
      GraphOps.triangleCounts(inflate(g, m, "src", "dst")))
    check("kCore", "node")(m =>
      GraphAlgos.kCore(inflate(g, m, "src", "dst"), 2))
    check("hits", "node")(m => GraphAlgos.hits(inflate(g, m, "src", "dst"), 5))
    check("labelSpread", "node")(m => GraphAlgos.labelSpread(
      inflate(g, m, "src", "dst"), inflate(labels, m, "node"), 3))
    check("bfsLayers", "node")(m => GraphAlgos.bfsLayers(
      inflate(g, m, "src", "dst"), inflate(seeds, m, "node"), 3))
    check("edgeEmbeddedness", "a")(m =>
      GraphAlgos.edgeEmbeddedness(inflate(g, m, "src", "dst")))
    check("randomWalks", "seed")(m => GraphAlgos.randomWalks(
      inflate(g, m, "src", "dst"), inflate(seeds, m, "node"), 2, 4))
  }

  // ------------------------------------------------------- memo contract

  test("memoized edge derivations serve until invalidateMemos, then rebuild") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_memo_").toString
    def writeLineitem(parts: Seq[Long]): Unit =
      parts.zipWithIndex
        .map { case (p, i) => (1L, (i + 1).toLong, p) }
        .toDF("l_orderkey", "l_linenumber", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def edges(): Set[(Long, Long)] =
      GraphOps.copurchaseEdgesFor(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    writeLineitem(Seq(10L, 20L))
    assert(edges() == Set((10L, 20L)))
    // the memo's documented behavior: a REWRITE under the same dir is
    // served stale until the explicit eviction...
    writeLineitem(Seq(30L, 40L))
    assert(edges() == Set((10L, 20L)), "memo must serve the old edges")
    // ...and invalidateMemos rebuilds from the new source
    GraphOps.invalidateMemos(spark)
    assert(edges() == Set((30L, 40L)))
  }

  // ----------------------------------------------------- oracle round sync

  test("q132's Spark fixpoint lands within the oracle's unroll depth (sf0.001)") {
    // the oracle unrolls 12 rounds; the operator must converge ≤ 12 on
    // real data or the CORRECTNESS row would throw at verify time
    val df = graft.SparkEntry.queries("q132_kcore")(spark, sf)
    assert(df.count() >= 0L) // completes without the no-fixpoint throw
  }
}
