package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The one session every Spark-backed suite runs on: `local[4]` with
  * [[shufflePartitions]] shuffle partitions, AQE, UTC session time and,
  * as in [[GraftSession]], a 16384-entry codegen cache and no artifact
  * isolation (so sessions and streaming queries share generated code).
  * All suites share the JVM's one SparkContext; a suite's settings are
  * applied to the shared session when the suite first touches `spark`. */
trait SparkSuite extends AnyFunSuite {
  /** Shuffle partitions this suite's plans run with. */
  protected def shufflePartitions: Int = 4

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "16384")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .getOrCreate()

  /** Runs `body` and returns its result with the start event of every
    * Spark job that began while it ran, in start order: the listener
    * goes on after the bus has delivered every earlier event and comes
    * off once it has delivered every event `body` posted. */
  def jobStarts[A](body: => A): (A, Seq[SparkListenerJobStart]) = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val result =
      try body
      finally {
        Bridge.waitListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    (result, starts.asScala.toSeq)
  }

  /** Runs `body` with the session conf keys set to the given values, then
    * puts back what each key held before (unset if it was unset), also
    * when `body` throws. */
  def withConf[A](settings: (String, String)*)(body: => A): A = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
