package graft.client

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Typed graph read-back helpers — the reference's client query surface
  * (reference: cartography/client/core/tx.py:367-533:
  * read_list_of_values_tx / read_list_of_dicts_tx / read_single_value_tx),
  * which later sync stages use to feed derived computations
  * (graph-as-source, SURVEY §2.1).
  *
  * These are the only operators allowed to collect: they exist precisely
  * where the reference pulls a bounded result to the driver (config-sized
  * lists, single values). Anything unbounded stays a DataFrame — the
  * list readers enforce that with a row cap: pointing one at a node
  * table fails fast instead of OOMing the driver.
  */
object Readers {

  /** Default driver-side row cap for the list readers. */
  val DefaultMaxRows: Int = 100000

  private def bounded(df: DataFrame, maxRows: Int): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"reader result exceeds maxRows=$maxRows — this helper is for " +
        "config-sized lists; keep unbounded reads distributed as DataFrames")
    rows
  }

  /** One column as a Scala list (read_list_of_values_tx). */
  def listOfValues(df: DataFrame, column: String,
                   maxRows: Int = DefaultMaxRows): Seq[Any] =
    bounded(df.select(col(column)), maxRows).toSeq.map(_.get(0))

  /** Rows as maps keyed by column name (read_list_of_dicts_tx). */
  def listOfDicts(df: DataFrame, maxRows: Int = DefaultMaxRows): Seq[Map[String, Any]] = {
    val cols = df.columns
    bounded(df, maxRows).toSeq
      .map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** Streaming escape hatch for genuinely-large read-backs: rows as a
    * lazy iterator of maps via `toLocalIterator`, which holds AT MOST ONE
    * PARTITION on the driver at a time instead of the whole result (the
    * reference's read helpers stream unbounded through the Bolt cursor,
    * tx.py:367-533 — this is the Spark analog, so callers past the
    * [[DefaultMaxRows]] cap aren't pushed to raw collects). The driver
    * triggers one job per partition as the iterator advances; order is
    * the DataFrame's partition order. Bound memory by sizing partitions
    * upstream, not by this helper. */
  def iterateDicts(df: DataFrame): Iterator[Map[String, Any]] = {
    val cols = df.columns
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
      .map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** First value of the first row, or None (read_single_value_tx). */
  def singleValue(df: DataFrame, column: String): Option[Any] =
    df.select(col(column)).limit(1).collect().headOption.map(_.get(0))
}
