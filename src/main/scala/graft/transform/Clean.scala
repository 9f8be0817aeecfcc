package graft.transform

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Union + cleaning stage (reference portfolio-etl.py:581-607).
  *
  * The reference concatenates 13 source frames (:581-595), drops stray
  * header/sentinel rows with three negated-contains filters (:602-604),
  * lowercases + stringifies every column (:605), and trims the sku (:607).
  * Here that is one lazy narrow pipeline: no shuffle at all — unions are
  * partition-concatenation, filters and projections are codegen'd map work.
  */
object Clean {

  /** UNION ALL by column name, null-filling missing columns — matches
    * `pd.concat` alignment semantics (SURVEY.md §2.7 U2). Narrow op: zero
    * shuffle regardless of input count.
    */
  def unionAll(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Drops repeated-header and sentinel rows (portfolio-etl.py:602-604):
    * any row whose sku contains "sku" (a header row leaked from a file feed)
    * or equals the missing-file sentinel "other". Null skus are dropped by
    * null-propagation in both engines (SURVEY.md §7.4-f) — asserted in tests,
    * not special-cased.
    */
  def dropJunkRows(df: DataFrame, skuCol: String = "sku"): DataFrame =
    df.filter(!lower(col(skuCol)).contains("sku") && lower(col(skuCol)) =!= "other")

  /** Lowercase + stringify every column, then trim the sku
    * (portfolio-etl.py:605-607). The reference stringifies qty too and
    * re-coerces it to numeric later (:613) — net effect preserved by the
    * cast round-trip (SURVEY.md §7.4-g); callers re-cast qty with
    * [[coerceDouble]].
    */
  def normalize(df: DataFrame, skuCol: String = "sku"): DataFrame = {
    val lowered = df.select(df.columns.toSeq.map(c => lower(col(c).cast("string")).as(c)): _*)
    lowered.withColumn(skuCol, trim(col(skuCol)))
  }

  /** `pd.to_numeric(errors='coerce')` (portfolio-etl.py:613, :680-681):
    * null on parse failure. Spark 4 runs ANSI mode by default, where a plain
    * cast THROWS on malformed input — `try_cast` restores the coerce
    * semantic (SURVEY.md §7.4-e).
    */
  def coerceDouble(c: Column): Column = c.try_cast("double")

  /** The full clean stage: union → junk filter → normalize → qty re-coerce.
    * One narrow, whole-stage-codegen'd pipeline.
    */
  def cleanSales(frames: Seq[DataFrame]): DataFrame = {
    val unioned = unionAll(frames)
    val cleaned = normalize(dropJunkRows(unioned))
    cleaned.withColumn("qty", coerceDouble(col("qty")))
  }
}
