package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators._
import graft.plans.{AsofSql, HnswSql, KnnSql}

/** The batch board, reduced: one `graft.SparkEntry` query from each of its
  * 22 modules, over small tables the benchmark generates in its work
  * directory. The tables have the test data's schemas at roughly its
  * smallest scale, so the board measures per-query fixed costs (planning,
  * codegen, job scheduling) more than data-path work.
  *
  * A check pass collects each query once and compares its row count and an
  * order-insensitive digest with the ones recorded in `board_digests.tsv`;
  * a timed pass then writes each query to a `noop` sink under its own job
  * group, so a `SparkListener` charges jobs, stages and tasks to it. */
object Board {
  type Query = (SparkSession, String) => DataFrame

  /** Each module `SparkEntry.queries` is the union of, with the query that
    * stands for it: the first by name whose output on the generated tables
    * is not empty. All 152 queries take about 200 s here, more than a run
    * may last. */
  val queries: Seq[(String, String, Query)] = Seq(
    ("Relational", Relational.queries, "q01_pricing_summary"),
    ("Ingest", Ingest.queries, "q117_native_asof"),
    ("TextOps", TextOps.queries, "q101_lang_id"),
    ("VectorOps", VectorOps.queries, "q103_ann_external"),
    ("Multimodal", Multimodal.queries, "q106_jpeg_features"),
    ("PipelineOps", PipelineOps.queries, "q52_repetition_stats"),
    ("SketchOps", SketchOps.queries, "q60_grouping_sets"),
    ("Analytic", Analytic.queries, "q65_ntile_ranks"),
    ("EventOps", EventOps.queries, "q76_funnel_stages"),
    ("Quality", Quality.queries, "q78_token_diversity"),
    ("Temporal", Temporal.queries, "q88_snapshot_diff"),
    ("LangModelOps", LangModelOps.queries, "q107_lang_ngram"),
    ("IntervalJoin", IntervalJoin.queries, "q118_interval_join"),
    ("Retrieval", Retrieval.queries, "q121_phrase_search"),
    ("ExportOps", ExportOps.queries, "q122_shuffle_shards"),
    ("GraphOps", GraphOps.queries, "q125_pagerank"),
    ("GraphAlgos", GraphAlgos.queries, "q133_bfs_layers"),
    ("RankArtifact", RankArtifact.queries, "q141_rank_refresh"),
    ("AsofSql", AsofSql.queries, "q145_asof_sql"),
    ("Hnsw", Hnsw.queries, "q146_hnsw_exact"),
    ("KnnSql", KnnSql.queries, "q148_knn_sql"),
    ("HnswSql", HnswSql.queries, "q152_hnsw_sql"),
  ).map { case (mod, qs, name) => (mod, name, qs(name)) }

  // the tables are fixed: their digests are recorded in the repository
  val TableSeed = 20260101L

  final case class Outcome(module: String, query: String, rows: Long,
      digest: String, error: String)

  /** Row count and order-insensitive digest of each query's output, and
    * the query's analysis, optimization and planning time from its
    * `QueryExecution.tracker`. */
  def check(spark: SparkSession, dir: String, tr: Option[Trace]): Seq[(Outcome, Double)] =
    for ((mod, name, q) <- queries) yield {
      val u0 = Trace.epochUs()
      val out = try {
        val df = q(spark, dir)
        val qe = df.queryExecution
        qe.executedPlan
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
        val rows = df.collect()
        (Outcome(mod, name, rows.length, digest(rows), ""), planMs)
      } catch {
        case e: Throwable =>
          (Outcome(mod, name, -1, "", e.toString.replaceAll("\\s+", " ").take(200)), 0.0)
      }
      spark.catalog.clearCache()
      tr.foreach(_.span("board.check", s"board/$mod/$name", "", u0, Trace.epochUs(),
        s"rows=${out._1.rows}"))
      out
    }

  /** Wall seconds of each query written to the `noop` sink, as job group
    * `board/<module>/<query>`. */
  def timed(spark: SparkSession, dir: String, tr: Trace): Seq[(String, String, Double)] =
    for ((mod, name, q) <- queries) yield {
      val group = s"board/$mod/$name"
      val t0 = System.nanoTime(); val u0 = Trace.epochUs()
      tr.inGroup(group, "board.query") {
        try q(spark, dir).write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () } // the check pass reports the error
      }
      val s = (System.nanoTime() - t0) / 1e9
      tr.span("board.query", group, "", u0, Trace.epochUs())
      spark.catalog.clearCache()
      (mod, name, s)
    }

  /** The traced run's board: writes the tables, checks every query against
    * the recorded digests, times one pass and adds the per-layer metrics.
    * Returns the queries attempted and failed. */
  def measure(spark: SparkSession, work: String, digestFile: String, tr: Trace,
      m: Metrics, log: String => Unit): (Int, Int) = {
    val dir = s"$work/board"
    Tables.write(spark, dir, TableSeed)
    val want = readDigests(digestFile)
    val checked = check(spark, dir, Some(tr))
    val bad = checked.map(_._1).filter(o =>
      o.error.nonEmpty || !want.get(o.query).contains((o.rows, o.digest)))
    bad.foreach(o => log(s"board ${o.query}: rows=${o.rows} digest=${o.digest} " +
      s"want=${want.get(o.query)} ${o.error}"))
    val times = timed(spark, dir, tr)
    val boardS = times.map(_._3).sum
    val groups = times.map { case (mod, name, _) => s"board/$mod/$name" }
    def js(g: String) = Option(tr.jobStats.get(g))
    def total(f: tr.JobStats => Long) = groups.flatMap(js).map(f).sum.toDouble
    m("board.s") = boardS -> "s"
    m("board.failed") = bad.size.toDouble -> "count"
    m("board.plan_ms") = checked.map(_._2).sum -> "ms"
    m("board.jobs") = total(_.jobs) -> "count"
    m("board.stages") = total(_.stages) -> "count"
    m("board.tasks") = total(_.tasks) -> "count"
    m("board.task_busy_share") =
      total(_.busyMs) / (boardS * 1000 * spark.sparkContext.defaultParallelism) -> "share"
    m("board.shuffle_bytes") = total(_.shuffleBytes) -> "bytes"
    m("board.spill_bytes") = total(_.spillBytes) -> "bytes"
    times.foreach { case (mod, name, sec) =>
      m(s"board.$mod.s") = sec -> "s"
      m(s"board.$mod.jobs") = js(s"board/$mod/$name").fold(0.0)(_.jobs.toDouble) -> "count"
    }
    log(f"board: ${queries.size} queries, $boardS%.1f s timed, ${bad.size} failed")
    (queries.size, bad.size)
  }

  def readDigests(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, d) = l.split("\t")
      q -> (n.toLong, d)
    }.toMap
    finally src.close()
  }

  /** Digest of a multiset of rows: SHA-256 over the rows' canonical texts
    * in sorted order, with floating values rounded to 6 significant digits
    * so a different partitioning's summation order cannot change it. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => canon(r)).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString

  /** `Board <work dir> <digest file>`: records the current program's
    * outputs as the expected ones. */
  def main(argv: Array[String]): Unit = {
    val Array(work, digestFile) = argv
    val spark = Main.session(Runtime.getRuntime.availableProcessors, work)
    val dir = s"$work/board"
    Tables.write(spark, dir, TableSeed)
    val out = check(spark, dir, None).map(_._1)
    val w = new java.io.PrintWriter(digestFile, "UTF-8")
    try {
      w.println("# query\trows\tdigest, written by `python3 perfbench/run.py --record-board`")
      out.foreach(o => w.println(s"${o.query}\t${o.rows}\t${
        if (o.error.nonEmpty) "error" else o.digest}"))
    } finally w.close()
    out.filter(_.error.nonEmpty).foreach(o => System.err.println(s"${o.query}: ${o.error}"))
    spark.stop()
  }

  /** Seeded tables with the test data's schemas: a TPC-H-like star, an
    * `events` stream, `documents` and 64-dimensional `embeddings`. */
  object Tables {
    def write(spark: SparkSession, dir: String, seed: Long): Unit = {
      val rnd = new SplittableRandom(seed)
      def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
      def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
      def day(from: String, days: Int) =
        java.time.LocalDate.parse(from).plusDays(rnd.nextInt(days).toLong).atStartOfDay()
      val tables = mutable.LinkedHashMap.empty[String, (StructType, Seq[Row])]
      def table(name: String, ddl: String)(rows: Seq[Row]): Unit =
        tables(name) = (StructType.fromDDL(ddl), rows)

      table("region", "r_regionkey INT, r_name STRING")(
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) })
      table("nation", "n_nationkey INT, n_name STRING, n_regionkey INT")(
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      table("customer", "c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")(
        (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
          money(-999, 9999), pick(segments))))
      table("supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")(
        (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
          money(-999, 9999))))
      val adjectives = Seq("small", "large", "blue", "red", "cold", "hot", "old", "new")
      val nouns = Seq("widget", "rod", "ring", "anvil", "plate", "bolt", "gear")
      val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
      table("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
          "p_size INT, p_retailprice DOUBLE")(
        (0 until 200).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
          s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50),
          900.0 + i / 10.0)))
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      table("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")(
        (0 until 1500).map(i => Row(i.toLong, rnd.nextInt(150).toLong,
          pick(Seq("F", "O", "P")), money(1000, 500000), day("1995-01-01", 2400),
          pick(priorities))))
      table("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
          "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
          "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")(
        (0 until 6000).map { i =>
          val qty = (1 + rnd.nextInt(50)).toDouble
          Row((i / 4).toLong, rnd.nextInt(200).toLong, rnd.nextInt(10).toLong,
            1 + i % 4 + rnd.nextInt(4), qty, money(900, 2100) * qty / 2,
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
            pick(Seq("F", "O")), day("1995-01-02", 2500))
        })
      val eventTypes = Seq("click", "error", "purchase", "signup", "view")
      val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
      table("events", "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING")(
        (0 until 1000).map(i => Row(i.toLong,
          t0.plusNanos((i * 2592L + rnd.nextInt(2592)) * 1000000000L + rnd.nextInt(1000000) * 1000L),
          rnd.nextInt(15).toLong, pick(eventTypes), money(0, 330),
          s"""{"k": ${rnd.nextInt(100)}}""")))
      val words = Seq("the", "a", "fast", "slow", "small", "big", "key", "order", "sort",
        "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream",
        "spark", "dup", "group", "query", "row", "data", "filter", "customer", "line",
        "value", "agg", "column", "vector")
      table("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")(
        (0 until 500).map { i =>
          val text = Seq.fill(8 + rnd.nextInt(80))(pick(words)).mkString(" ")
          Row(i.toLong, text, pick(Seq("de", "en", "es", "fr", "zh")),
            s"src${rnd.nextInt(20)}", text.length.toLong)
        })
      table("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")(
        (0 until 500).map { i =>
          val label = rnd.nextInt(10)
          // a class centre plus noise, so neighbours share labels
          val v = (0 until 64).map(j =>
            (((label * 7 + j * 3) % 11 - 5) / 25.0 + rnd.nextGaussian() * 0.08).toFloat)
          Row(i.toLong, v, label)
        })

      tables.foreach { case (name, (schema, rows)) =>
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
    }
  }
}
