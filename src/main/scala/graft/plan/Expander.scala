package graft.plan

import graft.spec._
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Spec → DataFrame expansion (the engine's analogue of Databricks'
  * metric-view relation expansion, SURVEY.md §3.2).
  *
  * The expansion emits a fully composable lazy plan — no caching, no
  * collect — so Catalyst pushes dimension filters and column pruning
  * all the way into the parquet scans, and join selection (broadcast vs
  * shuffle) is left to Catalyst/AQE where it belongs at 100 TB.
  *
  * Dot-path resolution: a dimension expr like `customer.nation.n_name`
  * (reference README.md:287-299) addresses a column through the semantic
  * join tree. Joined tables get all columns renamed with their join
  * path (`customer__nation__n_name`), and qualified attributes are
  * rewritten by suffix-matching their qualifier against the join paths
  * (`nation.n_regionkey` inside the nested join resolves to
  * `customer__nation__n_regionkey`). `source.x` addresses the root.
  */
object Expander {

  /** Flatten the join tree to (absolute path → JoinSpec), preorder. */
  def joinPaths(joins: Seq[JoinSpec], prefix: Seq[String] = Nil): Seq[(Seq[String], JoinSpec)] =
    joins.flatMap { j =>
      val p = prefix :+ j.name
      (p -> j) +: joinPaths(j.joins, p)
    }

  private def flatName(path: Seq[String], col: String): String =
    (path :+ col).mkString("__")

  /** Rewrite qualified attributes in a parsed expression against the
    * join paths. Returns the rewritten expression. */
  def rewriteExpr(e: Expression, paths: Seq[Seq[String]]): Expression =
    e.transformUp {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 =>
        val qual = ua.nameParts.init
        if (qual == Seq("source")) UnresolvedAttribute(Seq(ua.nameParts.last))
        else paths.filter(_.endsWith(qual)) match {
          case Seq(p) => UnresolvedAttribute(Seq(flatName(p, ua.nameParts.last)))
          case Seq()  => ua // not a join ref (e.g. struct field access) — leave for the analyzer
          case many   => sys.error(
            s"ambiguous join reference '${ua.nameParts.mkString(".")}' matches paths: " +
              many.map(_.mkString(".")).mkString("; "))
        }
    }

  def parse(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  def col(spark: SparkSession, sql: String, paths: Seq[Seq[String]]): Column =
    GraftBridge.column(rewriteExpr(parse(spark, sql), paths))

  /** Join paths referenced by an expression (each matched path + its
    * ancestors). */
  def referencedPaths(e: Expression, paths: Seq[Seq[String]]): Set[Seq[String]] = {
    val found = scala.collection.mutable.Set[Seq[String]]()
    e.foreach {
      case ua: UnresolvedAttribute if ua.nameParts.length >= 2 =>
        val qual = ua.nameParts.init
        if (qual != Seq("source"))
          paths.filter(_.endsWith(qual)) match {
            case Seq(p) => found += p
            case _      => ()
          }
      case _ => ()
    }
    // close over ancestors: a nested join needs its parent chain
    found.flatMap(p => (1 to p.length).map(p.take)).toSet
  }

  /** Row-level expansion: source → [semantic joins (culled)] → [filter].
    *
    * Only joins whose path is referenced by `neededExprs` (or by the
    * view filter, or transitively by an included join's ON clause) are
    * applied — join culling, which Catalyst cannot do for us because it
    * can't know an unreferenced left join preserves cardinality
    * (SURVEY.md §4). The spec contract (like Databricks') is that
    * semantic joins are 1:1-or-less from the source side.
    */
  def rowLevel(
      spark: SparkSession,
      spec: MetricViewSpec,
      resolve: String => DataFrame,
      neededExprs: Seq[String]): DataFrame = {

    val allPaths = joinPaths(spec.joins)
    val pathList = allPaths.map(_._1)

    // fixpoint over: requested exprs + view filter + ON clauses of joins pulled in
    var needed: Set[Seq[String]] =
      (neededExprs ++ spec.filter.toSeq)
        .map(parse(spark, _))
        .flatMap(referencedPaths(_, pathList)).toSet
    var grown = true
    while (grown) {
      val more = allPaths.filter { case (p, _) => needed(p) }
        .flatMap { case (_, j) => referencedPaths(parse(spark, j.on), pathList) }
        .toSet
      grown = !(more -- needed).isEmpty
      needed ++= more
    }

    var df = resolve(spec.source)
    allPaths.foreach { case (path, j) =>
      if (needed(path)) {
        val raw = resolve(j.source)
        val renamed = raw.select(raw.columns.map(c =>
          raw(c).as(flatName(path, c))).toSeq: _*)
        df = df.join(renamed, col(spark, j.on, pathList), "left")
      }
    }
    spec.filter.fold(df)(f => df.filter(col(spark, f, pathList)))
  }

  /** Dimension column (named) for the aggregation output. */
  def dimCol(spark: SparkSession, spec: MetricViewSpec, dimName: String): Column = {
    val d = spec.dimension(dimName)
    col(spark, d.expr, joinPaths(spec.joins).map(_._1)).as(d.name)
  }

  /** Rewrite a query-level filter over *dimension names* into source
    * terms by inlining each dimension's expr (so `order_year = 1995`
    * works even though order_year is a derived dim). */
  def dimFilter(spark: SparkSession, spec: MetricViewSpec, filterSql: String): Column = {
    val paths = joinPaths(spec.joins).map(_._1)
    val dimMap = spec.dimensions.map(d => d.name -> rewriteExpr(parse(spark, d.expr), paths)).toMap
    val e = rewriteExpr(parse(spark, filterSql), paths).transformUp {
      case ua: UnresolvedAttribute if ua.nameParts.length == 1 && dimMap.contains(ua.nameParts.head) =>
        dimMap(ua.nameParts.head)
    }
    GraftBridge.column(e)
  }
}
