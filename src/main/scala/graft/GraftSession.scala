package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct, LongL2Squared, RepetitionFunctions, RepetitionStats, ShingleCodes, ShingleFunctions, ShingleStrings, VectorFunctions}

/** SparkSessionExtensions installer for the engine's native expressions.
  *
  * Usable both programmatically (`GraftSession.builder(...)`) and via
  * config (`--conf spark.sql.extensions=graft.GraftExtensions`), so SQL
  * users get `graft_dot`/`graft_cosine` too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(VectorFunctions.DotName),
      new ExpressionInfo(classOf[DotProduct].getName, VectorFunctions.DotName),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier(VectorFunctions.CosineName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, VectorFunctions.CosineName),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier(VectorFunctions.L2SqName),
      new ExpressionInfo(classOf[LongL2Squared].getName, VectorFunctions.L2SqName),
      (args: Seq[Expression]) => LongL2Squared(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier(VectorFunctions.SortedInterName),
      new ExpressionInfo(classOf[functions.SortedInterCount].getName,
        VectorFunctions.SortedInterName),
      (args: Seq[Expression]) => functions.SortedInterCount(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier(ShingleFunctions.CodesName),
      new ExpressionInfo(classOf[ShingleCodes].getName, ShingleFunctions.CodesName),
      (args: Seq[Expression]) => ShingleCodes(args(0))))
    ext.injectFunction((
      FunctionIdentifier(ShingleFunctions.StringsName),
      new ExpressionInfo(classOf[ShingleStrings].getName, ShingleFunctions.StringsName),
      (args: Seq[Expression]) => ShingleStrings(args(0))))
    ext.injectFunction((
      FunctionIdentifier(ShingleFunctions.RollingName),
      new ExpressionInfo(classOf[functions.RollingFp].getName, ShingleFunctions.RollingName),
      (args: Seq[Expression]) => functions.RollingFp(args(0))))
    ext.injectFunction((
      FunctionIdentifier(ShingleFunctions.TrigramHashesName),
      new ExpressionInfo(classOf[functions.TrigramMixHashes].getName,
        ShingleFunctions.TrigramHashesName),
      // j selects the hash family member and must be a plan-time literal
      (args: Seq[Expression]) => functions.TrigramMixHashes(args(0),
        args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier(RepetitionFunctions.Name),
      new ExpressionInfo(classOf[RepetitionStats].getName, RepetitionFunctions.Name),
      (args: Seq[Expression]) => RepetitionStats(args(0))))
    ext.injectFunction((
      FunctionIdentifier(functions.NgramFunctions.Name),
      new ExpressionInfo(classOf[functions.WordNgrams].getName, functions.NgramFunctions.Name),
      (args: Seq[Expression]) => {
        // first two-arg function in this registry: guard arity so a SQL
        // call with the wrong count gets an analysis-time message, not an
        // IndexOutOfBoundsException from args(1)
        require(args.length == 2,
          s"${functions.NgramFunctions.Name} requires exactly 2 arguments (tokens, n), got ${args.length}")
        functions.WordNgrams(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(functions.BottomKFunctions.Name),
      new ExpressionInfo(classOf[functions.BottomKDistinct].getName,
        functions.BottomKFunctions.Name),
      functions.BottomKFunctions.build))
    ext.injectFunction((
      FunctionIdentifier(functions.NormalizeFunctions.Name),
      new ExpressionInfo(classOf[functions.CleanText].getName,
        functions.NormalizeFunctions.Name),
      (args: Seq[Expression]) => functions.CleanText(args(0))))
    ext.injectFunction((
      FunctionIdentifier(functions.LogBucketFunctions.IdName),
      new ExpressionInfo(classOf[functions.LogBucketId].getName,
        functions.LogBucketFunctions.IdName),
      // subBits selects the bucket geometry and must be a plan-time literal
      (args: Seq[Expression]) => functions.LogBucketId(args(0),
        args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier(functions.LogBucketFunctions.RepName),
      new ExpressionInfo(classOf[functions.LogBucketRep].getName,
        functions.LogBucketFunctions.RepName),
      (args: Seq[Expression]) => functions.LogBucketRep(args(0),
        args(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier(functions.LogBucketFunctions.BinLenName),
      new ExpressionInfo(classOf[functions.BinLength].getName,
        functions.LogBucketFunctions.BinLenName),
      (args: Seq[Expression]) => functions.BinLength(args(0))))
    ext.injectFunction((
      FunctionIdentifier(functions.TokenCountFunctions.Name),
      new ExpressionInfo(classOf[functions.TokenCount].getName,
        functions.TokenCountFunctions.Name),
      (args: Seq[Expression]) => functions.TokenCount(args(0))))
    ext.injectFunction((
      FunctionIdentifier(functions.TextStatsFunctions.Name),
      new ExpressionInfo(classOf[functions.TextStats].getName,
        functions.TextStatsFunctions.Name),
      (args: Seq[Expression]) => functions.TextStats(args(0))))
    ext.injectFunction((
      FunctionIdentifier(functions.CollapseWsFunctions.Name),
      new ExpressionInfo(classOf[functions.CollapseWs].getName,
        functions.CollapseWsFunctions.Name),
      (args: Seq[Expression]) => functions.CollapseWs(args(0))))
    // HOF dot-product pattern → fused native loop (pure perf rewrite)
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    // whole-operator as-of join: AsOfJoinPlan → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

/** Session factory with the engine's scale-tuned defaults: AQE (runtime
  * re-plan, partition coalescing, skew-join splitting), UTC, nanos-tolerant
  * parquet reads, and shuffle partitions sized to the local core count —
  * on a real cluster set shuffle partitions ≈ 2-3× total executor cores
  * instead.
  */
object GraftSession {

  /** Integer setting `key` of the active session, read on every call so a
    * runtime `spark.conf.set` takes effect on the next plan. A value that
    * is not an integer in `[0, max]` fails naming the key and the value. */
  def nonNegativeConf(key: String, default: Long, max: Long = Long.MaxValue): Long =
    SparkSession.active.conf.getOption(key).fold(default) { raw =>
      raw.trim.toLongOption.filter(v => v >= 0 && v <= max).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be an integer in [0, $max], got '$raw'"))
    }

  def builder(master: String = "local[*]", shufflePartitions: Int = 0,
              appName: String = "graft"): SparkSession.Builder = {
    val parts =
      if (shufflePartitions > 0) shufflePartitions
      else Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
  }
}
