package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Session

/** Driver contract — see SURVEY.md §7 + VERDICT.md. Queries are grouped by
  * surface in graft.queries.*; each has a DuckDB oracle unless the operator
  * is not SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's end-to-end relational core over the committed
    * fixtures: scan → align → explode → GT join → broadcast station join →
    * filters → aggregate (SURVEY §7 step 3).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Landsat.flagship(Session.prepare(spark))

  type Query = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. Each closure
    * prepares the session it is handed (graft's confs, function table and
    * as-of planner), so a session built elsewhere runs the same plans as
    * one from [[Session.local]].
    */
  def queries: Map[String, Query] =
    (graft.queries.Relational.queries ++
      graft.queries.Landsat.queries ++
      graft.queries.Events.queries ++
      graft.queries.TextDedup.queries ++
      graft.queries.Embeddings.queries ++
      graft.queries.Lexical.queries).map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => fn(Session.prepare(s), dir))
    }

  /** The named queries as `(name, closure)` pairs in name order; every
    * query when `names` is empty. The mains call it before they start a
    * session, so a typo fails in milliseconds, not after session start-up.
    * Throws IllegalArgumentException listing every unknown name.
    */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries: ${unknown.mkString(", ")}")
    val picked = if (names.isEmpty) all.keys else names.distinct
    picked.toSeq.sorted.map(n => n -> all(n))
  }

  /** DuckDB-equivalent SQL per query (driver hash-compares at sf0.01). */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Landsat.oracle ++
      graft.queries.Events.oracle ++
      graft.queries.TextDedup.oracle ++
      graft.queries.Embeddings.oracle ++
      graft.queries.Lexical.oracle
}
