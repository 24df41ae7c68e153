package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions._
import graft.plans.GraftAsOfCond

/** The one table of graft's native Catalyst expressions as SQL functions,
  * usable from both the Column API (`call_function`) and `spark.sql`. Each
  * entry is Spark's `FunctionDescription`; `GraftExtensions` injects every
  * entry (`spark.sql.extensions`) and `registerAll` registers the same
  * entries on an existing session. Idempotent per session.
  */
object Functions {

  private def fn(name: String, usage: String)(
      build: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[PolyHashExpr].getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      build)

  /** Constant-folded integer argument (window sizes, band counts, k). */
  private def int(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_poly_hash", "polynomial rolling hash of a string -> bigint")(
      e => PolyHashExpr(e.head)),
    fn("graft_dot", "sequential dot product of two array<double>")(
      e => DotProductExpr(e(0), e(1))),
    fn("graft_int8_quantize", "one-pass int8 quantization summary of array<double>")(
      e => Int8QuantizeExpr(e.head)),
    fn("graft_int8_codes", "int8 code vector of array<double>")(
      e => Int8CodesExpr(e.head)),
    fn("graft_rep_stats", "Gopher repetition stats of a token array: distinct_ratio, top_share")(
      e => RepetitionStatsExpr(e.head)),
    fn("graft_token_stats", "curation stats of a token array: length sum, stopword and language-marker hits")(
      e => TokenStatsExpr(e.head)),
    fn("graft_shingle_hashes", "polyhash of every word-n-gram shingle")(
      e => PolyShinglesExpr(e.head, int(e(1)))),
    fn("graft_winnow", "distinct winnowed fingerprints (sliding-window minima) of word-n-gram hashes")(
      e => WinnowExpr(e.head, int(e(1)), int(e(2)))),
    fn("graft_winnow_fps", "one-pass (n_shingles, winnowed fingerprints) struct")(
      e => WinnowFpsExpr(e.head, int(e(1)), int(e(2)))),
    fn("graft_winnow_stats", "per-doc winnowing gate stats: n_shingles, n_fp, xor_fp")(
      e => WinnowStatsExpr(e.head, int(e(1)), int(e(2)))),
    fn("graft_multi_shingle_hashes", "word-n-gram shingle hashes for several widths ('3,5') in one pass")(
      e => MultiShinglesExpr(e.head,
        e(1).eval(null).toString.split(",").toSeq.map(_.trim.toInt))),
    fn("graft_lsh_bands", "MinHash-LSH band keys of one document")(
      e => LshBandsExpr(e(0), int(e(1)), int(e(2)), int(e(3)))),
    fn("graft_cut_spans", "remove n-token windows at the given positions: counts + cleaned text")(
      e => CutSpansExpr(e(0), e(1), int(e(2)), if (e.length > 3) int(e(3)) else 0)),
    fn("graft_pq_encode", "product-quantization codes of array<double> against a flattened codebook")(
      e => PqEncodeExpr(e(0), e(1), int(e(2)))),
    fn("graft_pq_dist_table", "per-subspace query-to-centroid squared-distance table")(
      e => PqDistTableExpr(e(0), e(1), int(e(2)))),
    fn("graft_pq_residual", "vector minus centroid `cell` of a flattened codebook")(
      e => PqResidualExpr(e(0), e(1), e(2))),
    // Spark's internal runtime-filter kernels, exposed as callable
    // functions for the explicit BloomPrune operator.
    fn("graft_bloom_agg", "Bloom filter aggregate over join keys (runtime-filter kernel)")(
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn("graft_might_contain", "Bloom filter membership probe")(
      e => BloomFilterMightContain(e(0), e(1))),
    // Aggregates: the analyzer wraps AggregateFunctions into
    // AggregateExpressions during resolution.
    fn("graft_vec_sum", "element-wise sum aggregate of array<double>")(
      e => VectorSumAgg(e.head)),
    fn("graft_vec_min", "element-wise min aggregate of array<long>")(
      e => VectorMinAgg(e.head)),
    fn("graft_freq_items", "bounded-memory top-k frequent items sketch")(
      e => FreqItemsAgg(e.head, int(e(1)))),
    // As-of SQL surface: marker predicates rewritten into the AsOfJoin
    // operator by RewriteAsOfMarkerJoin (see plans/AsOfSql.scala).
    fn("graft_asof", "as-of join marker: backward, in a JOIN condition")(
      e => GraftAsOfCond(e, forward = false)),
    fn("graft_asof_fwd", "as-of join marker: forward, in a JOIN condition")(
      e => GraftAsOfCond(e, forward = true)))

  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
