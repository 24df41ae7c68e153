package perfbench

/** Writes every query's DuckDB oracle SQL (`SparkEntry.oracleSql`) to a
  * JSON file, for the golden values run.py computes in DuckDB.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.q(k)}:${Json.q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(new java.io.File(args(0)).toPath, body)
  }
}
