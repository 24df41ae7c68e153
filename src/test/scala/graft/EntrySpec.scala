package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the entry smoke contract (SparkEntry.entry must return rows)
  * and the mains' query-name resolution, which needs no session.
  */
class EntrySpec extends AnyFunSuite {
  test("flagship entry returns rows with the expected shape") {
    val df = SparkEntry.entry(TestSpark.spark)
    assert(df.columns.toSeq == Seq("station_id", "n", "mean_temp"))
    assert(df.count() > 0)
  }

  test("select fails fast on unknown names, listing every one") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_agg", "no_such_query", "q1_agg", "typo_q")))
    assert(e.getMessage.contains("no_such_query, typo_q"), e.getMessage)
  }

  test("select returns name-sorted pairs; no names means every query") {
    assert(SparkEntry.select(Seq("q6_selective", "q1_agg", "q6_selective"))
      .map(_._1) == Seq("q1_agg", "q6_selective"))
    assert(SparkEntry.select(Nil).map(_._1) ==
      SparkEntry.queries.keys.toSeq.sorted)
  }
}
