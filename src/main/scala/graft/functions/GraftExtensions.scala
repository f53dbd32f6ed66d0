package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point and the ONE place a SQL name is
  * bound to a native expression: every row of [[GraftExtensions.Functions]]
  * becomes a permanent function of each session built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`,
  * alongside the [[graft.plans.TokenBucketStrategy]] planner strategy and
  * the [[FingerprintRewrite]] optimizer rule.
  *
  * Contract: a session that runs the operators must be built with this
  * extension, as [[graft.LocalSession]] does. Injected functions exist
  * before any query is planned and survive `newSession()`; there is no
  * runtime registration path, so a session built without the extension
  * has none of these names. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // tier (c) of the custom-operator ladder: whole-operator planner
    // strategy (logical TokenBucketNode → physical TokenBucketExec)
    e.injectPlannerStrategy(_ => graft.plans.TokenBucketStrategy)
    GraftExtensions.Functions.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    // the portable conv(substring(md5(x),1,15),16,10) idiom executes as
    // the native expression even when written longhand in SQL
    e.injectOptimizerRule(_ => FingerprintRewrite)
  }
}

object GraftExtensions {

  /** SQL name, expression class (for the function's `ExpressionInfo`)
    * and builder of every native function. */
  val Functions: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("dot_product", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("lsh_sig", classOf[LshSignature],
      e => LshSignature(e.head, LshSignature.DefaultPlanes)),
    ("rolling_hash", classOf[RollingHash], e => RollingHash(e.head)),
    ("minhash_agg", classOf[MinHashAgg], MinHashAgg.builder),
    ("space_saving_agg", classOf[SpaceSavingAgg], SpaceSavingAgg.builder),
    ("count_min_agg", classOf[CountMinAgg], CountMinAgg.builder),
    ("count_sketch_agg", classOf[CountSketchAgg], CountSketchAgg.builder),
    ("topk_agg", classOf[TopKAgg], TopKAgg.builder),
    ("hll_agg", classOf[HllAgg], HllAgg.builder),
    ("hll_merge_agg", classOf[HllMergeAgg], HllMergeAgg.builder),
    ("kmv_agg", classOf[KmvAgg], KmvAgg.builder),
    ("hb_agg", classOf[HbAgg], HbAgg.builder),
    ("hb_merge_agg", classOf[HbMergeAgg], HbMergeAgg.builder),
    ("hb_sketch", classOf[HbSketch], e => HbSketch(e.head)),
    ("bloom_might_contain", classOf[BloomMightContain],
      e => BloomMightContain(e(0), e(1))),
    ("md5_fp60", classOf[Md5Fp60], Md5Fp60.builder),
    ("blob_pixel_stats", classOf[BlobPixelStats], e => BlobPixelStats(e.head)),
    ("char_run_stats", classOf[CharRunStats], e => CharRunStats(e.head)),
    ("blob_wave_stats", classOf[BlobWaveStats], e => BlobWaveStats(e(0), e(1))),
    ("blob_phash", classOf[BlobPhash], e => BlobPhash(e(0), e(1))),
    ("img_gen", classOf[ImgGen], e => ImgGen(e(0), e(1), e(2), e(3))),
    ("cdc_bounds", classOf[CdcBoundsExpr], CdcBoundsExpr.builder),
    ("multi_match_stats", classOf[MultiMatchStats], e => MultiMatchStats(e.head)),
    ("sorted_inter_count", classOf[SortedInterCount],
      e => SortedInterCount(e(0), e(1))))
}
