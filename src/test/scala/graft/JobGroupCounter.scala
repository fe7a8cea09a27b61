package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs scheduled under each job group — how a spec
  * shows that the two sides of a size ceiling run different plans. */
final class JobGroupCounter private (spark: SparkSession)
    extends SparkListener {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Int]

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => counts.merge(g, 1, _ + _))

  /** Run `body` with its jobs tagged as `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Jobs counted for `group` once the listener bus has drained. */
  def apply(group: String): Int = {
    org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    counts.getOrDefault(group, 0)
  }
}

object JobGroupCounter {
  /** Run `f` with a counter on the listener bus, removed afterwards. */
  def withCounter[T](spark: SparkSession)(f: JobGroupCounter => T): T = {
    val c = new JobGroupCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try f(c) finally spark.sparkContext.removeSparkListener(c)
  }
}
