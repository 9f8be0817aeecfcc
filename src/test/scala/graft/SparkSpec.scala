package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM via Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4, "graft-tests")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import scala.jdk.CollectionConverters._

  def df(schemaDdl: String, rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** Rows as a sorted multiset of "|"-joined strings — order-insensitive compare. */
  def rowSet(d: DataFrame): Seq[String] =
    d.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")).sorted

  def rows(xs: Seq[String]*): Seq[String] = xs.map(_.mkString("|")).sorted

  /** Runs `body` with `listener` registered, after every earlier event has
    * been delivered, and delivers every event `body` posted before returning.
    */
  def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { val r = body; ListenerBusDrain(sc); r }
    finally sc.removeSparkListener(listener)
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq, "column mismatch")
    assert(rowSet(a) == rowSet(b))
  }
}
