package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, UnBase64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SparkSessionExtensions registering the engine's SQL functions:
  *
  *   - `cosine_similarity(arr, arr)` / `hamming_distance(s, s)` — native
  *     codegen'd expressions (see [[CosineSimilarity]]).
  *   - `fineo_base64_decode(s)` — the reference's one custom UDF
  *     (`fineo-adapter-drill/.../udf/conv/Base64Decoder.java:13-40`),
  *     here a direct alias of the built-in unbase64 (null-if-null
  *     semantics match).
  *
  * Wire up with:
  * {{{
  *   GraftSessions.builder().withExtensions(GraftExtensions.inject) ...
  * }}}
  * or `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.inject(ext)
}

object GraftExtensions {
  private def fn(name: String, usage: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)

  private val functions = Seq(
    fn("cosine_similarity",
      "cosine_similarity(a, b) - cosine of two float/double arrays",
      { case Seq(a, b) => CosineSimilarity(a, b) }),
    fn("dot_product",
      "dot_product(a, b) - dot product of two float/double arrays",
      { case Seq(a, b) => DotProduct(a, b) }),
    fn("hamming_distance",
      "hamming_distance(a, b) - differing positions of equal-length strings",
      { case Seq(a, b) => HammingDistance(a, b) }),
    fn("fineo_base64_decode",
      "fineo_base64_decode(s) - decode base64 text to binary (reference UDF)",
      { case Seq(a) => UnBase64(a) }),
    // Bloom-filter semi-join reduction, the shuffle-avoidance workhorse at
    // 100 TB: aggregate the SMALL side's join keys into a bloom filter
    // (binary), probe it scan-side on the BIG side so non-matching rows
    // die before the shuffle. Spark applies this automatically only under
    // runtime-filter heuristics; exposing the same engine expressions
    // (codegen'd, TypedImperativeAggregate) lets a pipeline author force
    // it. Keys should be pre-hashed with xxhash64() — the engine
    // expressions take longs.
    fn("graft_bloom_agg",
      "graft_bloom_agg(xxhash64(k)[, est_items]) - aggregate long keys " +
        "into a bloom filter (binary)",
      { args =>
        if (args.isEmpty || args.size > 2)
          throw new IllegalArgumentException(
            s"graft_bloom_agg expects (key[, est_items]); got ${args.size} argument(s)")
        // est_items is usually written as an int literal; the engine
        // aggregate demands BIGINT, so widen foldably
        if (args.size == 2)
          new BloomFilterAggregate(args.head,
            org.apache.spark.sql.catalyst.expressions.Cast(
              args(1), org.apache.spark.sql.types.LongType))
        else new BloomFilterAggregate(args.head)
      }),
    fn("graft_might_contain",
      "graft_might_contain(bloom, xxhash64(k)) - probe a bloom filter; " +
        "false means definitely absent",
      { case Seq(b, v) => BloomFilterMightContain(b, v) }),
    fn("graft_topk",
      "graft_topk(item, k[, capacity]) - SpaceSaving heavy-hitters sketch: " +
        "top-k (item, cnt, err) by approximate count in one pass, exact when " +
        "capacity covers the distinct items",
      { args =>
        if (args.size < 2 || args.size > 3)
          throw new IllegalArgumentException(
            s"graft_topk expects (item, k[, capacity]); got ${args.size} argument(s)")
        def intLit(e: Expression, what: String): Int = {
          require(e.foldable, s"graft_topk $what must be a literal")
          e.eval().asInstanceOf[Number].intValue()
        }
        val k = intLit(args(1), "k")
        val cap =
          if (args.size > 2) intLit(args(2), "capacity") else math.max(64, 8 * k)
        TopKCountSketch(args.head, k, cap)
      }),
    // The pipeline HLL (graft.ops.Hll) on the tenant SQL surface:
    // read-only, bounded (m-byte register buffer per group, merged by
    // max), and BIT-REPRODUCIBLE with the oracle-checked DataFrame op —
    // the one pipeline operator a tenant can reach over the wire.
    fn("graft_approx_distinct",
      "graft_approx_distinct(value[, bBits]) - engine-portable HyperLogLog " +
        "distinct estimate (md5-derived registers, identical to the " +
        "pipeline op graft.ops.Hll; default 256 registers)",
      { args =>
        if (args.isEmpty || args.size > 2)
          throw new IllegalArgumentException(
            s"graft_approx_distinct expects (value[, bBits]); got ${args.size} argument(s)")
        val bBits =
          if (args.size == 2) {
            require(args(1).foldable, "graft_approx_distinct bBits must be a literal")
            args(1).eval().asInstanceOf[Number].intValue()
          } else 8
        HllDistinctSketch(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.StringType),
          bBits)
      }),
    // The pipeline log-quantile sketch (graft.ops.Quantile) on the
    // tenant SQL surface — same contract as graft_approx_distinct:
    // read-only, bounded (126-long bucket array per group, merged by
    // cellwise sum), bit-reproducible with the oracle-checked op.
    fn("graft_quantile",
      "graft_quantile(value, q) - engine-portable log-histogram quantile " +
        "estimate over positive bigints (two buckets per power of two, " +
        "<= 25% relative error; identical to the pipeline op " +
        "graft.ops.Quantile)",
      { args =>
        if (args.size != 2)
          throw new IllegalArgumentException(
            s"graft_quantile expects (value, q); got ${args.size} argument(s)")
        require(args(1).foldable, "graft_quantile q must be a literal")
        val q = args(1).eval().asInstanceOf[Number].doubleValue()
        LogQuantileSketch(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args.head, org.apache.spark.sql.types.LongType),
          q)
      }))

  val inject: SparkSessionExtensions => Unit = { ext =>
    functions.foreach(ext.injectFunction)
  }

  /** Register on an already-built session (getOrCreate ignores
    * withExtensions when a session exists). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // Optimizer rules: the post-hoc injection seam for a live session
    // (extensions only apply at session construction). The range-join
    // rewrite is conf-gated (spark.graft.rangejoin.bucketwidth), so
    // installing it unconditionally is a no-op until a user opts in.
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        extra :+ graft.plans.RangeJoinRewrite
    // Engine tuning: Spark's ObjectHashAggregate falls back to
    // SORT-BASED aggregation after only 128 distinct keys per task — a
    // guard for UNBOUNDED buffers (collect_list-style). The argmax
    // aggregates no longer need this knob at all (they are declarative
    // fixed-width HashAggregates now), so the raise only serves the
    // BOUNDED sketch TIAs (graft_quantile ~1 KiB LogHist,
    // graft_approx_distinct 256 B default / 64 KiB max registers,
    // graft_topk capacity-capped) on mid-cardinality GROUP BYs. The
    // bound is BUDGET-DERIVED, not a flat constant: per-task hash-map
    // budget / worst-expected per-buffer bytes — 64 MiB / 4 KiB =
    // 16,384 keys by default, so even a high-cardinality tenant GROUP
    // BY holds at most the budget in buffers per task before the
    // sort-based guard engages (a data-sized collect_list grouping
    // caps at 16k lists per task map-side — bounded, then sorts).
    // An EXPLICITLY-set threshold (SQLConf.contains sees only set
    // entries, not defaults — so an explicit "128" is distinguishable
    // from the default 128) is the user's and stays authoritative.
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (!spark.sessionState.conf.contains(fallbackKey))
      spark.conf.set(fallbackKey, objectAggThreshold(spark).toString)
  }

  /** The budget math behind the ObjectHashAggregate sort-fallback
    * raise: `max(128, budgetBytes / bufferBytes)`. Both inputs are
    * graft confs so a deployment with bigger sketches (e.g.
    * `graft_approx_distinct(x, 16)` = 64 KiB registers) can shrink the
    * key bound to match its real per-buffer footprint. */
  private[graft] def objectAggThreshold(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val budget = spark.conf.getOption("spark.graft.objectAgg.budgetBytes")
      .map(_.toLong).getOrElse(64L << 20)
    val perBuffer = spark.conf.getOption("spark.graft.objectAgg.bufferBytes")
      .map(_.toLong).getOrElse(4096L)
    math.max(128L, budget / math.max(1L, perBuffer))
  }
}
