package graft.tools

import org.apache.spark.sql.functions._

/** Measures the unchunked-vs-chunked crossover for the long-history folds
  * on synthetic multi-year keys: N keys, each with one observation per day
  * for `days` days. Run: sbt "Test/runMain graft.tools.ProbeChunkedCrossover
  * [days...]" — prints wall seconds for ewmaDaily vs ewmaDailyChunked(365)
  * at each history length (min of two passes after a warmup). The numbers
  * feed PERF.md's long-history note.
  */
object ProbeChunkedCrossover {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Session.local()
    // 32 keys is enough to saturate local[32]'s per-key parallelism; the
    // unchunked side's O(d^2) interpreted-HOF fold is the thing being
    // measured, so keep the key count small or the probe takes an hour.
    val dayList = if (args.nonEmpty) args.toSeq.map(_.toInt)
      else Seq(365, 1825, 3650)
    val nKeys = 32
    for (days <- dayList) {
      // one row per (key, day): value wobbles so the statistic moves
      val df = spark.range(nKeys.toLong * days)
        .select((col("id") % nKeys).as("user_id"),
          expr(s"timestamp'2000-01-01 09:00:00' " +
            s"+ make_interval(0, 0, 0, CAST(id / $nKeys AS INT), 0, 0, 0)")
            .as("ts"),
          ((col("id") * 37 % 100) + 1).cast("double").as("value"))
        .localCheckpoint() // pin the input; time only the folds
      // Single pass, no warmup: the effects measured here are 5-30x, not
      // the few-percent JIT noise a min-of-two exists for.
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      import graft.ops.TimeSeries
      val tFull = t(TimeSeries.ewmaDaily(df, "user_id", "ts", "value")
        .write.format("noop").mode("overwrite").save())
      val tChunk = t(TimeSeries.ewmaDailyChunked(df, "user_id", "ts",
          "value", chunkDays = 365)
        .write.format("noop").mode("overwrite").save())
      println(f"days=$days%5d keys=$nKeys unchunked=$tFull%7.2f s " +
        f"chunked365=$tChunk%7.2f s")
      spark.catalog.clearCache()
      graft.engine.Caches.releaseAll()
    }
    spark.stop()
  }
}
