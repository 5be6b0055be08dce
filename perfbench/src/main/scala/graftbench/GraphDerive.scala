package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.graph.{Centrality, Fixpoint}

/** `graph_derive`: one op is one derivation round over the generated
  * order→part dataset — the battery's triangle, edge-support, k-truss,
  * coloring and pagerank queries plus one connected-components pass over
  * a sparse slice of the co-purchase graph. Each output is collected to
  * the driver (the caller's consumption) and fingerprinted. */
final class GraphDerive(spark: SparkSession, tracer: Tracer, in: String, work: String)
    extends Workload {
  /** Components over parts with key ≡ 1 (mod 4): sparse enough that the
    * co-purchase slice splits into many components. */
  private def components(): DataFrame = Fixpoint.connectedComponents(
    Centrality.coOccurrenceEdges(
      Tables.lineitem(spark, in).filter(col("l_partkey") % 4 === 1),
      "l_orderkey", "l_partkey").select(col("src").as("a"), col("dst").as("b")))

  /** (output name, layer, query) in call order. */
  private val calls: Seq[(String, String, () => DataFrame)] = Seq(
    ("graph_triangles", "centrality.triangles"),
    ("graph_edge_support", "centrality.edge_support"),
    ("graph_ktruss", "centrality.ktruss"),
    ("centrality_pagerank", "centrality.pagerank"),
    ("graph_coloring", "fixpoint.coloring"),
  ).map { case (q, layer) => (q, layer, () => SparkEntry.queries(q)(spark, in)) } :+
    (("components", "fixpoint.components", () => components()))

  private val digests = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]

  private var first: Seq[(String, Array[Row], org.apache.spark.sql.types.StructType)] = Nil

  def run(rec: Recorder): Unit =
    while (!rec.done) rec.op {
      // the span forces nothing extra: collecting is the op's own consumption
      val out = calls.map { case (name, layer, q) =>
        tracer.layer(layer) { val df = q(); (name, df.collect(), df.schema) }
      }
      if (first.isEmpty) first = out
      digests += out.map { case (n, rows, _) => n -> Digest(rows) }.toMap
      out.map(_._2.length.toLong).sum
    }

  /** Untimed: write the first op's outputs for the oracle comparison; every
    * later op must match them by fingerprint. */
  private def check(): Map[String, Any] = {
    val dir = s"$work/check"
    first.foreach { case (name, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json(calls.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    Map("reference" -> digests.head, "ops" -> digests.toSeq)
  }

  def outputs: Map[String, Any] = check()
}

/** Order-insensitive fingerprint of a collected result. */
object Digest {
  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
