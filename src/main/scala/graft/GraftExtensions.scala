package graft

import graft.functions.{CountIntersect, DotProduct, ExactMoneySum, FrameEnergy, FreqItemsSketch, NibbleHistogram, ParseBrlMoney, PHashPair, ShingleExplode, WordShingles}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The library's custom Catalyst functions, exposed two ways:
  *
  *  - [[GraftExtensions]] for deployment:
  *    `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  *    `spark.sql.extensions=graft.GraftExtensions`) injects them at
  *    session build, the SURVEY §7 `SparkSessionExtensions` path.
  *  - [[Functions.register]] for an already-built session (what
  *    `Sessions.tune` uses — local sessions are pre-built by the
  *    harness).
  */
object Functions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "parse_brl_money" -> (exprs => ParseBrlMoney(exprs.head)),
    "dot_product" -> (exprs => DotProduct(exprs.head, exprs(1))),
    "dsum_exact" -> (exprs => ExactMoneySum(exprs.head)),
    "word_shingles" -> (exprs => WordShingles(exprs.head, exprs(1))),
    "nibble_histogram" -> (exprs => NibbleHistogram(exprs.head)),
    "phash_pair" -> (exprs => PHashPair(exprs.head)),
    "frame_energy" -> (exprs => FrameEnergy(exprs.head, exprs(1))),
    "count_intersect" -> (exprs => CountIntersect(exprs.head, exprs(1))),
    // Space-Saving frequent-items sketch; capacity must be a literal int.
    // The capacity argument is validated HERE, before evaluation: a
    // non-foldable, NULL, or non-INT capacity would otherwise surface as
    // an opaque ClassCastException/NPE out of `eval` before
    // `FreqItemsSketch.checkInputDataTypes` ever ran.
    "freq_items_sketch" -> (exprs => {
      val cap = exprs(1)
      if (!cap.foldable ||
          cap.dataType != org.apache.spark.sql.types.IntegerType)
        throw new IllegalArgumentException(
          "freq_items_sketch(col, capacity): capacity must be an INT literal" +
            s" (got ${cap.dataType.simpleString}, foldable=${cap.foldable})")
      val v = cap.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      if (v == null)
        throw new IllegalArgumentException(
          "freq_items_sketch(col, capacity): capacity must not be NULL")
      FreqItemsSketch(exprs.head, v.asInstanceOf[Int])
    }),
    // Generator (UDTF surface): distinct word n-gram shingles as rows
    "shingle_explode" -> (exprs => ShingleExplode(exprs.head, exprs(1))),
    // Runtime-filter building blocks (Spark's own BloomFilterAggregate /
    // BloomFilterMightContain, surfaced as SQL functions): `bloom_agg(k)`
    // folds a key column into a fixed-size mergeable sketch;
    // `bloom_might_contain(bf, k)` is the probe. Both sides hash through
    // the same XxHash64 so agg and probe agree. The probe's bloom input
    // must be a constant or scalar subquery (Spark's own rule) — see
    // `sk2_bloom_prune_join` for the intended join-pruning shape.
    "bloom_agg" -> (exprs => new BloomFilterAggregate(new XxHash64(Seq(exprs.head)))),
    "bloom_might_contain" ->
      (exprs => BloomFilterMightContain(exprs.head, new XxHash64(Seq(exprs(1))))))

  /** Idempotent: `Sessions.tune` runs on every `Pipeline.run*` call, so a
    * name already bound to this very builder is skipped (re-registering
    * it logs a "replaced a previously registered function" WARN). Any
    * other function of the same name is still replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name))
          .exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    Functions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    // the whole-operator extension (SURVEY §2.10 level c): logical
    // SimilarityJoinPlan → SimilarityJoinExec, plus the threshold-
    // pushdown optimizer rule
    e.injectPlannerStrategy(_ => plans.SimilarityJoinStrategy)
    e.injectOptimizerRule(_ => plans.SimilarityThresholdPushdown)
    // size(array_intersect(a,b)) → count_intersect(a,b): the composed
    // form stays in operator code, every plan gets the fused count
    e.injectOptimizerRule(_ => functions.IntersectSizeRewrite)
  }
}
