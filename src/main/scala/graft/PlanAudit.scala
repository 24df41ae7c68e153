package graft

import java.nio.file.{Files, Paths}

/** Writes each declared query's formatted physical plan to
  * `<outDir>/<query>.txt` (the before/after plan evidence an optimization
  * round commits alongside the bench numbers) and prints its plan facts:
  * scan pushdown, partition pruning, join strategies, exchanges, codegen
  * coverage. Constructing a lifecycle query's DataFrame runs its build
  * phase (stores, streams); the plan is taken after construction, so it is
  * the one the sink executes.
  *
  * Run: sbt "runMain graft.PlanAudit <outDir> [query...]" (no names: every
  * query); SPARK_GRAFT_SF_DIR picks the scale (default sf0.01).
  */
object PlanAudit {

  /** Lines proving the scan pruned partitions at listing time (a non-empty
    * `PartitionFilters: [...]` on a FileScan means whole directories are
    * skipped before any file is opened).
    */
  def partitionFilterLines(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("PartitionFilters: ["))
      .map(l => l.substring(l.indexOf("PartitionFilters:")).take(90))
      .toSeq.distinct
      .filterNot(_.startsWith("PartitionFilters: []"))

  /** Projection stages that fell OUT of whole-stage codegen because they
    * evaluate a per-element lambda interpreted (HOF exprs are
    * CodegenFallback): a bare `Project` — no `*(n)` codegen id — whose
    * expressions contain `lambdafunction`. On a hot path this is the t9
    * failure mode (~5-10x slower than the codegen'd equivalent); PlanAudit
    * surfaces it and PlanAuditSpec gates it for the corpus-scale queries.
    */
  def interpretedLambdaProjects(plan: String): Seq[String] =
    plan.linesIterator.filter { l =>
      val t = l.dropWhile(c => c == ' ' || c == ':' || c == '+' || c == '-')
      t.startsWith("Project [") && t.contains("lambdafunction")
    }.map(_.trim.take(100)).toSeq

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanAudit <outDir> [query...]")
    val outDir = Paths.get(args(0))
    val selected = SparkEntry.select(args.toSeq.drop(1))
    val spark = graft.engine.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(outDir)
    selected.foreach { case (name, fn) =>
      println(s"== $name")
      try {
        val qe = fn(spark, dir).queryExecution
        Files.writeString(outDir.resolve(s"$name.txt"),
          qe.explainString(org.apache.spark.sql.execution.FormattedMode) + "\n")
        printFacts(qe.executedPlan.toString)
      } catch { case e: Throwable =>
        val msg = s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        Files.writeString(outDir.resolve(s"$name.txt"), msg + "\n")
        println(s"   $msg")
      }
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def printFacts(plan: String): Unit = {
    // plan_id annotations are unique per occurrence — strip them before
    // grouping or every AQE-annotated Exchange line counts as distinct
    // and the multiplicity rollup degenerates to a flood of "1x" rows.
    val joins = plan.linesIterator.filter(l =>
      l.contains("Join") || l.contains("Cartesian") || l.contains("Exchange"))
      .map(_.trim.takeWhile(_ != '(')
        .replaceAll(",? \\[plan_id=\\d+\\]", "")).toSeq
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters: [")).flatMap(l =>
      Option(l.substring(l.indexOf("PushedFilters:")).take(80))).toSeq.distinct
    joins.groupBy(identity).toSeq.sortBy(_._1).foreach { case (k, v) => println(s"   ${v.size}x $k") }
    pushed.take(3).foreach(p => println(s"   $p"))
    partitionFilterLines(plan).take(3).foreach(p => println(s"   $p"))
    interpretedLambdaProjects(plan).take(3).foreach(p =>
      println(s"   INTERPRETED-LAMBDA $p"))
  }
}
