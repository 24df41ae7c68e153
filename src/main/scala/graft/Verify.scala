package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local-iteration only; the driver passes two):
    // comma-separated query names to dump, skipping the rest.
    val selected = SparkEntry.select(
      if (args.length > 2) args(2).split(",").toSeq else Nil)
    val spark = graft.engine.Session.local()
    new java.io.File(outDir).mkdirs()
    // Failed queries are recorded in verify_errors.json alongside the
    // dumps: a query that errors must be visibly red in the artifact, not
    // silently absent (a missing dump reads as "not declared", and a
    // correctness report built only from present dumps overstates health).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // Drop intra-query persisted intermediates so 75 sequential dumps
      // don't accumulate cached blocks (same hygiene as Bench). releaseAll
      // is the caller-owned half of the Caches contract: it also empties
      // the registry so tracked handles don't accumulate across the sweep.
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v.take(300))}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
