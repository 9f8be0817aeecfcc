package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer for the engine's native expressions.
  *
  * Usable both programmatically (`GraftSession.builder(...)`) and via
  * config (`--conf spark.sql.extensions=graft.GraftExtensions`), so SQL
  * users get `graft_dot`/`graft_cosine` too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // HOF dot-product pattern → fused native loop (pure perf rewrite)
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    // whole-operator as-of join: AsOfJoinPlan → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  import functions._

  /** The `graft_*` SQL functions: (name, expression class, builder). */
  private val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (VectorFunctions.DotName, classOf[DotProduct], a => DotProduct(a(0), a(1))),
    (VectorFunctions.CosineName, classOf[CosineSimilarity], a => CosineSimilarity(a(0), a(1))),
    (VectorFunctions.L2SqName, classOf[LongL2Squared], a => LongL2Squared(a(0), a(1))),
    (VectorFunctions.SortedInterName, classOf[SortedInterCount],
      a => SortedInterCount(a(0), a(1))),
    (ShingleFunctions.CodesName, classOf[ShingleCodes], a => ShingleCodes(a(0))),
    (ShingleFunctions.StringsName, classOf[ShingleStrings], a => ShingleStrings(a(0))),
    (ShingleFunctions.RollingName, classOf[RollingFp], a => RollingFp(a(0))),
    // j selects the hash family member and must be a plan-time literal
    (ShingleFunctions.TrigramHashesName, classOf[TrigramMixHashes],
      a => TrigramMixHashes(a(0), a(1).eval().asInstanceOf[Int])),
    (RepetitionFunctions.Name, classOf[RepetitionStats], a => RepetitionStats(a(0))),
    (NgramFunctions.Name, classOf[WordNgrams], a => {
      // guard arity so a SQL call with the wrong count gets an
      // analysis-time message, not an IndexOutOfBoundsException from a(1)
      require(a.length == 2,
        s"${NgramFunctions.Name} requires exactly 2 arguments (tokens, n), got ${a.length}")
      WordNgrams(a(0), a(1))
    }),
    (BottomKFunctions.Name, classOf[BottomKDistinct], BottomKFunctions.build),
    (NormalizeFunctions.Name, classOf[CleanText], a => CleanText(a(0))),
    // subBits selects the bucket geometry and must be a plan-time literal
    (LogBucketFunctions.IdName, classOf[LogBucketId],
      a => LogBucketId(a(0), a(1).eval().asInstanceOf[Int])),
    (LogBucketFunctions.RepName, classOf[LogBucketRep],
      a => LogBucketRep(a(0), a(1).eval().asInstanceOf[Int])),
    (LogBucketFunctions.BinLenName, classOf[BinLength], a => BinLength(a(0))),
    (TokenCountFunctions.Name, classOf[TokenCount], a => TokenCount(a(0))),
    (TextStatsFunctions.Name, classOf[TextStats], a => TextStats(a(0))),
    (CollapseWsFunctions.Name, classOf[CollapseWs], a => CollapseWs(a(0))))
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
