package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All queries take an `sfDir` so the same plan runs at any scale factor.
  * At 100 TB these would be partitioned/bucketed tables behind a catalog;
  * here they are single parquet files, and Catalyst still gets predicate
  * pushdown + column pruning on every scan.
  */
object Tables {
  /** A table read with the schema its footer declares, derived on the
    * driver ([[org.apache.spark.sql.graftbridge.ParquetBridge.schemaOf]]):
    * an inferring read runs a one-task Spark job per call to read that
    * footer. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(org.apache.spark.sql.graftbridge.ParquetBridge.schemaOf(spark, path))
      .parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS). How Spark 4 surfaces it
    * depends on the build: with `spark.sql.legacy.parquet.nanosAsLong`
    * honored the column reads as LONG (ns since epoch); newer builds
    * ignore that conf and read it natively as TIMESTAMP_NTZ (already
    * micros-truncated). [[tsToMicros]] lands BOTH paths on the identical
    * µs-precision TimestampType in the UTC session zone — exactly the
    * value DuckDB surfaces for the same file, so oracle comparisons line
    * up on either Spark behavior. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsToMicros(table(s, d, "events"))
  }

  /** Normalize a nanos-precision `ts` column to µs TimestampType no
    * matter which of the two parquet-NANOS read behaviors this Spark
    * build has (see [[events]]). Works on batch and streaming frames. */
  def tsToMicros(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
