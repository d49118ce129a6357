package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedException, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.operators.VectorOps
import graft.sources.Tables

/** SQL surface for the ANN family (round-14 verdict task #5):
  * `graft_asof` proved the two-phase TVF pattern ([[AsofSql]]); this
  * extends it to k-nearest-neighbors, so a SQL user can reach the
  * IVF corpus×corpus kNN join (the q105 path) without the DataFrame
  * API:
  *
  * {{{
  *   SELECT * FROM graft_knn('corpus_view', 3)           -- k
  *   SELECT * FROM graft_knn('corpus_view', 3, 2, 0)     -- k, nprobe, cells
  * }}}
  *
  * The named relation must expose `(vec_id, embedding)` — checked
  * LOUDLY at resolution, naming what's missing. Resolution is the
  * [[ResolveAsofTvf]] discipline: the TVF builder sees only literals
  * (the relation isn't resolved yet), so it emits an
  * [[UnresolvedKnnTvf]] with an `UnresolvedRelation` child; once the
  * analyzer resolves the child, [[ResolveKnnTvf]] splices in the SAME
  * plan [[VectorOps.ivfKnnJoin]] builds for DataFrame callers — one
  * library path for both surfaces (plan-pinned in SqlSurfaceSpec).
  *
  * Note the quantizer TRAINS when the query is ANALYZED (ivfKnnJoin's
  * contract — training is an eager two-pass Lloyd over the corpus),
  * exactly the cost the DataFrame caller pays at call time.
  */
case class UnresolvedKnnTvf(k: Int, nprobe: Int, cells: Int,
    child: LogicalPlan) extends UnaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = throw new UnresolvedException("output")
  override protected def withNewChildInternal(c: LogicalPlan)
      : UnresolvedKnnTvf = copy(child = c)
}

/** Rewrites [[UnresolvedKnnTvf]] into the library's kNN-join plan the
  * moment its relation resolves — before that the node reports
  * unresolved, so the analyzer keeps iterating. */
object ResolveKnnTvf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedKnnTvf if u.childrenResolved =>
        val cols = u.child.output.map(_.name)
        // the analyzer's own resolver: case-insensitive by default, so
        // a VEC_ID column must not be falsely rejected
        val missing = Seq("vec_id", "embedding")
          .filterNot(want => cols.exists(conf.resolver(_, want)))
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"graft_knn: the corpus relation must expose " +
            s"(vec_id, embedding); missing ${missing.mkString(", ")} " +
            s"— it has (${cols.mkString(", ")})")
        val corpus = org.apache.spark.sql.GraftSqlShims
          .ofRows(SparkSession.active, u.child)
          .select(col("vec_id"), col("embedding"))
        VectorOps.ivfKnnJoin(corpus, u.k, u.nprobe, u.cells)
          .queryExecution.analyzed
    }
}

/** The STORED-index probe from SQL — the pay-per-query, IO-bound form:
  * [[VectorOps.probeIvfIndex]] reads only the probed `cell=` partition
  * directories of a written IVF generation (the 100 TB economics; the
  * train-per-query [[UnresolvedKnnTvf]] is the ad-hoc form). External
  * query vectors come from a named relation, resolved two-phase. */
case class UnresolvedKnnStoredTvf(path: String, k: Int, nprobe: Int,
    child: LogicalPlan) extends UnaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = throw new UnresolvedException("output")
  override protected def withNewChildInternal(c: LogicalPlan)
      : UnresolvedKnnStoredTvf = copy(child = c)
}

object ResolveKnnStoredTvf extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedKnnStoredTvf if u.childrenResolved =>
        val cols = u.child.output.map(_.name)
        val missing = Seq("qid", "embedding")
          .filterNot(want => cols.exists(conf.resolver(_, want)))
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"graft_knn_stored: the queries relation must expose " +
            s"(qid, embedding); missing ${missing.mkString(", ")} — " +
            s"it has (${cols.mkString(", ")})")
        val queries = org.apache.spark.sql.GraftSqlShims
          .ofRows(SparkSession.active, u.child)
          .select(col("qid"), col("embedding"))
        VectorOps.probeIvfIndex(SparkSession.active, u.path, queries,
          u.k, u.nprobe).queryExecution.analyzed
    }
}

object KnnSql {

  /** The `graft_knn` table-function description for
    * `SparkSessionExtensions.injectTableFunction`. */
  def tvf: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_knn"),
    new ExpressionInfo(classOf[UnresolvedKnnTvf].getName, "graft_knn"),
    (args: Seq[Expression]) => {
      require(args.length >= 2 && args.length <= 4,
        "graft_knn(corpus, k[, nprobe[, cells]]) takes 2-4 arguments, " +
          s"got ${args.length}")
      val corpusName = args(0) match {
        case Literal(v, StringType) if v != null => v.toString
        case e => throw new IllegalArgumentException(
          s"graft_knn: argument 1 (corpus) must be a string literal, " +
            s"got $e")
      }
      def intArg(i: Int, what: String): Int = args(i) match {
        case Literal(v: Int, IntegerType) => v
        case e => throw new IllegalArgumentException(
          s"graft_knn: argument ${i + 1} ($what) must be an integer " +
            s"literal, got $e")
      }
      val k = intArg(1, "k")
      val nprobe = if (args.length >= 3) intArg(2, "nprobe") else 2
      val cells = if (args.length == 4) intArg(3, "cells") else 0
      require(k >= 1, s"graft_knn: k must be >= 1, got $k")
      require(nprobe >= 1, s"graft_knn: nprobe must be >= 1, got $nprobe")
      require(cells >= 0, s"graft_knn: cells must be >= 0 (0 = ~sqrt(N) " +
        s"auto-sizing), got $cells")
      UnresolvedKnnTvf(k, nprobe, cells,
        UnresolvedRelation(corpusName.split('.').toSeq))
    })

  /** The `graft_knn_stored` TVF: probe a WRITTEN IVF index
    * ([[VectorOps.writeIvfIndex]]) from SQL — only the probed cell
    * directories are read (directory-pruned, the IO-bound 100 TB
    * shape), no training, no corpus scan. Two forms, distinguished by
    * the second argument's literal type:
    *
    * {{{
    *   -- corpus self-probe (the q42 shape: queries = vec_id < n,
    *   -- self-excluded):
    *   SELECT * FROM graft_knn_stored('/idx/path', 5, 5, 3)
    *                                   -- nQueries, k, nprobe
    *   -- external query vectors from a relation (qid, embedding):
    *   SELECT * FROM graft_knn_stored('/idx/path', 'queries_view', 5, 3)
    *                                   --           k, nprobe
    * }}}
    *
    * A missing/torn index fails loudly through the GenStore contract
    * naming writeIvfIndex. */
  def tvfStored: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_knn_stored"),
    new ExpressionInfo(classOf[UnresolvedKnnStoredTvf].getName,
      "graft_knn_stored"),
    (args: Seq[Expression]) => {
      require(args.length == 4,
        "graft_knn_stored(path, nQueries|queriesView, k, nprobe) takes " +
          s"exactly 4 arguments, got ${args.length}")
      def strArg(i: Int, what: String): String = args(i) match {
        case Literal(v, StringType) if v != null => v.toString
        case e => throw new IllegalArgumentException(
          s"graft_knn_stored: argument ${i + 1} ($what) must be a " +
            s"string literal, got $e")
      }
      def intArg(i: Int, what: String): Int = args(i) match {
        case Literal(v: Int, IntegerType) => v
        case e => throw new IllegalArgumentException(
          s"graft_knn_stored: argument ${i + 1} ($what) must be an " +
            s"integer literal, got $e")
      }
      val path = strArg(0, "index path")
      val k = intArg(2, "k")
      val nprobe = intArg(3, "nprobe")
      require(k >= 1, s"graft_knn_stored: k must be >= 1, got $k")
      require(nprobe >= 1,
        s"graft_knn_stored: nprobe must be >= 1, got $nprobe")
      args(1) match {
        case Literal(v: Int, IntegerType) => // corpus self-probe form
          require(v >= 1,
            s"graft_knn_stored: nQueries must be >= 1, got $v")
          // no relation to resolve — the plan is fully determined here
          // (the index must already exist; GenStore fails loudly if not)
          VectorOps.probeIvfIndex(SparkSession.active, path,
            nQueries = v, k = k, nprobe = nprobe)
            .queryExecution.analyzed
        case Literal(view, StringType) if view != null => // external form
          UnresolvedKnnStoredTvf(path, k, nprobe,
            UnresolvedRelation(view.toString.split('.').toSeq))
        case e => throw new IllegalArgumentException(
          "graft_knn_stored: argument 2 must be an integer literal " +
            "(nQueries — corpus self-probe) or a string literal (a " +
            s"queries relation with (qid, embedding)), got $e")
      }
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q105's semantics reached from PURE SQL: the TVF splices the same
    // ivfKnnJoin plan the DataFrame surface builds (plan-pinned in
    // SqlSurfaceSpec), so the oracle — the full trained-quantizer
    // replay — is the same row law q105 passes.
    "q148_knn_sql" -> ((s, d) => {
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .createOrReplaceTempView("graft_knn_corpus")
      s.sql("""
        SELECT qid, vec_id, dot, rank
        FROM graft_knn('graft_knn_corpus', 3, 2, 0)
        ORDER BY qid, rank""")
    }),

    // The STORED-artifact probe from pure SQL: write the IVF index once
    // (memoized per session — the train-once artifact), then
    // graft_knn_stored reads ONLY the probed cell directories. Writing
    // with cells=8 and probing (5, 5, 3) reproduces q42's in-memory
    // pipeline exactly (IvfIndexSpec pins stored ≡ in-memory), so the
    // oracle IS q42's trained-quantizer replay — shared by reference.
    "q149_knn_stored_sql" -> ((s, d) => {
      val dir = s"/tmp/graft_ivfsql_${new java.io.File(d).getName}"
      graft.operators.GraphOps.memo(s, s"ivfsql_store|$d") {
        VectorOps.writeIvfIndex(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          dir, cells = 8)
        java.lang.Boolean.TRUE
      }
      s.sql(s"""
        SELECT qid, vec_id, dot, rank
        FROM graft_knn_stored('$dir', 5, 5, 3)
        ORDER BY qid, rank""")
    }))

  /** q148 computes EXACTLY what q105 computes (same corpus, same
    * k/nprobe/cells, same library plan), so its oracle IS q105's —
    * shared by reference, not by copy, so the two can never drift. */
  def oracle: Map[String, String] = Map(
    "q148_knn_sql" -> VectorOps.oracle("q105_ann_knn_join"),
    // stored probe (cells=8, nQueries=5, k=5, nprobe=3) ≡ q42's
    // in-memory pipeline (IvfIndexSpec) ⇒ q42's oracle verbatim
    "q149_knn_stored_sql" -> VectorOps.oracle("q42_ann_ivf"))
}
