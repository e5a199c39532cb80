package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local session reused across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)

  /** Collect to a sorted Seq of tuples-as-strings for order-insensitive
    * row-set comparison. */
  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Run `body` with every persisted RDD held strongly; `body` gets a
    * function that grabs the ones persisted so far. The context's
    * persisted-RDD map has weak values and its cleaner unpersists
    * collected frames, so a GC landing mid-check would otherwise hide a
    * missing release or fake a dropped one. */
  def holdingRdds[T](body: (() => Unit) => T): T = {
    val sc = spark.sparkContext
    val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    def grab(): Unit = sc.getPersistentRDDs.values.foreach(held.add)
    val holder = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = grab()
    }
    sc.addSparkListener(holder)
    try body(() => grab())
    finally {
      sc.removeSparkListener(holder)
      held.clear()
    }
  }
}
