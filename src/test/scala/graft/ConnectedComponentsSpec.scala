package graft

import org.apache.spark.sql.functions._

import graft.operators.{Iterate, TextOps}

/** Direct property tests for the large-star/small-star connected-
  * components core (the engine under q58) against
  * a driver-side union-find ground truth — on the graph shapes that
  * break weaker algorithms: long permuted chains (the shape that
  * silently truncated the old min-label loop), stars, cliques, and
  * seeded random graphs. */
class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Ground truth: classic union-find with path compression. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // label = component MINIMUM node id
    val minOf = scala.collection.mutable.Map.empty[Int, Long]
    (0 until n).foreach { v =>
      val r = find(v)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), v.toLong)
    }
    (0 until n).map(v => v.toLong -> minOf(find(v))).toMap
  }

  private def ccLabels(edges: Seq[(Long, Long)],
      localMaxEdges: Long): Map[Long, Long] = {
    val sym = edges.toDF("a", "b")
      .union(edges.map(_.swap).toDF("a", "b"))
    TextOps.minLabelPropagate(sym, localMaxEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def check(n: Int, edges: Seq[(Long, Long)], what: String): Unit = {
    val truth = unionFind(n, edges)
    // BOTH resolver paths must match the ground truth: the sub-gate
    // driver union-find (default gate) and the distributed star loop
    // (gate forced to 0)
    Seq("local" -> Long.MaxValue, "distributed" -> 0L).foreach {
      case (path, gate) =>
        val got = ccLabels(edges, gate)
        // minLabelPropagate only labels nodes that appear in edges
        val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
        touched.foreach { v =>
          assert(got(v) == truth(v),
            s"$what[$path]: node $v got ${got(v)}, want ${truth(v)}")
        }
    }
  }

  test("permuted long chain (the shape that broke min-label propagation)") {
    val rnd = new scala.util.Random(11L)
    val n = 2000
    val perm = rnd.shuffle((0L until n.toLong).toVector)
    check(n, (0 until n - 1).map(i => (perm(i), perm(i + 1))), "chain")
  }

  test("stars, cliques, and singletons mixed") {
    val star = (1L to 50L).map(i => (100L, 100L + i))
    val clique = for (i <- 200L to 215L; j <- (i + 1) to 215L) yield (i, j)
    val pair = Seq((500L, 501L))
    check(600, star ++ clique ++ pair, "mixed")
  }

  test("reliable checkpoints: the distributed loop writes to the checkpoint dir when asked") {
    val ckptDir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Iterate.ModeKey, "reliable")
    try {
      val rnd = new scala.util.Random(5L)
      val perm = rnd.shuffle((0L until 300L).toVector)
      val edges = (0 until 299).map(i => (perm(i), perm(i + 1)))
      val truth = unionFind(300, edges)
      val got = ccLabels(edges, localMaxEdges = 0L) // force distributed
      edges.flatMap(e => Seq(e._1, e._2)).toSet.foreach { (v: Long) =>
        assert(got(v) == truth(v), s"reliable-ckpt path: node $v")
      }
      // the loop really used the reliable dir: one rdd-<id> subdir per
      // checkpointed rdd, under the uuid dir setCheckpointDir creates
      val rdds = new java.io.File(ckptDir).listFiles().toSeq
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("rdd-"))
      assert(rdds.nonEmpty, "no reliable checkpoint data written")
    } finally {
      spark.conf.unset(Iterate.ModeKey)
    }
  }

  test("seeded random graphs match union-find exactly") {
    val rnd = new scala.util.Random(42L)
    (1 to 3).foreach { trial =>
      val n = 800
      val m = 400 + rnd.nextInt(800)
      val edges = (0 until m).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      check(n, edges, s"random-$trial")
    }
  }
}
