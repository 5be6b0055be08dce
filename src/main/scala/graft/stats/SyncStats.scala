package graft.stats

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Sync observability — the reference emits nodes/rels created/deleted
  * per statement to statsd (cartography/graph/statement.py:284-299,
  * cartography/stats.py). Spark-native: named accumulators for
  * connector-side counters and explicit merge-delta counting where the
  * created/updated/deleted split matters; the jobs, stages and task
  * time a statement runs come from [[graft.JobCensus]].
  */
class SyncStats(spark: SparkSession) {
  private val counters = new TrieMap[String, LongAccumulator]()

  /** Named executor-side counter (statsd-counter analog). */
  def counter(name: String): LongAccumulator =
    counters.getOrElseUpdate(name, spark.sparkContext.longAccumulator(name))

  def counterValue(name: String): Long =
    counters.get(name).map(_.value.longValue()).getOrElse(0L)

  /** Created/updated/unchanged split for a merge batch — computed with
    * joins before the merge runs (the reference reads these from Cypher
    * result counters; here they are one aggregation). */
  def mergeDelta(existing: DataFrame, batch: DataFrame,
                 keys: Seq[String]): (Long, Long) = {
    val e = existing.select(keys.map(col): _*)
    val b = batch.select(keys.map(col): _*).dropDuplicates(keys)
    val created = b.join(e, keys, "left_anti").count()
    val updated = b.join(e, keys, "left_semi").count()
    (created, updated)
  }
}
