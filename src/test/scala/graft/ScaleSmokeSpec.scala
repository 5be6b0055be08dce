package graft

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkFiles
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, max, min}

import graft.sources.Artifacts

/** [[ScaleSmoke]] at sf0.001: the ×m tables it writes, the legs its op
  * filter selects and the lines they print. */
class ScaleSmokeSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Runs the smoke and returns every line it printed to stdout or
    * stderr, in order, each with the `System.nanoTime` it was printed at. */
  private def smoke(mults: Seq[Int], ops: String*): Seq[(Long, String)] = {
    val lines = Seq.newBuilder[(Long, String)]
    val sink = new PrintStream(new OutputStream {
      private val line = new ByteArrayOutputStream()
      def write(b: Int): Unit =
        if (b != '\n') line.write(b)
        else { lines += System.nanoTime() -> line.toString("UTF-8"); line.reset() }
    }, true, "UTF-8")
    Console.withOut(sink)(Console.withErr(sink)(
      ScaleSmoke.smoke(spark, sf, mults, Some(ops.toSet))))
    lines.result()
  }
  private val json = new ObjectMapper()
  private def legs(lines: Seq[(Long, String)]) =
    lines.collect { case (_, l) if l.startsWith("{") => json.readTree(l) }

  test("×2 tables hold two key-disjoint copies of each keyed table, one of nation and region") {
    val out = java.nio.file.Files.createTempDirectory("scale-x2").toString
    try checkScaled(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  private def checkScaled(out: String): Unit = {
    ScaleSmoke.writeScaled(spark, sf, 2, out)
    val tables = ScaleSmoke.keyColumns.keys.toSeq ++ Seq("nation", "region")
    assert(tables.toSet == Set("customer", "orders", "lineitem", "part", "supplier",
      "documents", "embeddings", "events", "nation", "region"))
    tables.foreach { t =>
      val src = Tables.table(spark, sf, t)
      val x2 = Tables.table(spark, out, t)
      assert(x2.schema == src.schema, s"$t keeps its column types")
      val copies = if (ScaleSmoke.keyColumns.contains(t)) 2 else 1
      assert(x2.count() == copies * src.count(), t)
      // each copy has the source's distinct keys, so twice as many
      // distinct keys in the ×2 table means no key is in both copies
      ScaleSmoke.keyColumns.getOrElse(t, Nil).foreach { c =>
        assert(x2.select(c).distinct().count() == 2 * src.select(c).distinct().count(),
          s"$t.$c")
      }
    }
    // a per-key join stays inside one copy
    val q = SparkEntry.queries("core_fact_customers_without_orders")
    val x1Rows = q(spark, sf).count()
    assert(x1Rows > 0)
    assert(q(spark, out).count() == 2 * x1Rows)
    // drift_block_diff inserts rows at key + 10⁷: in the gap between copy
    // 0's keys and copy 1's, not on copy 1's own keys
    val keys = Tables.table(spark, out, "customer").select(col("c_custkey").as("k"))
    def bound(copy: Column, agg: Column) = keys.filter(copy).agg(agg).head().getLong(0)
    assert(bound(col("k") < ScaleSmoke.copyOffset, max("k")) + 10000000L <
      bound(col("k") >= ScaleSmoke.copyOffset, min("k")))
  }

  test("an op filter runs exactly the named registry and kept legs at every multiplier") {
    val lines = smoke(Seq(1, 2), "analytics_chi2", "cc_ckpt_local")
    val printed = legs(lines)
    assert(printed.map(l => l.get("op").asText -> l.get("mult").asInt).toSet ==
      Set("analytics_chi2" -> 1, "analytics_chi2" -> 2, "cc_ckpt_local" -> 1, "cc_ckpt_local" -> 2))
    assert(printed.forall(l => l.get("rows").asLong > 0 && l.get("sec").asDouble >= 0))
    def rows(op: String, m: Int) = printed.find(l =>
      l.get("op").asText == op && l.get("mult").asInt == m).get.get("rows").asLong
    assert(rows("analytics_chi2", 1) == SparkEntry.queries("analytics_chi2")(spark, sf).count())
    assert(rows("cc_ckpt_local", 2) > rows("cc_ckpt_local", 1))
    // the ×2 tables are written before the first ×2 leg's timed region:
    // that leg printed its line `sec` (rounded to 0.01 s) after it began
    val written = lines.collect { case (t, l) if l.startsWith("[scalesmoke] x2 tables written") => t }
    assert(written.size == 1, lines.map(_._2))
    val (printedAt, first) = lines.find { case (_, l) =>
      l.startsWith("{") && json.readTree(l).get("mult").asInt == 2 }.get
    val began = printedAt - ((json.readTree(first).get("sec").asDouble - 0.01) * 1e9).toLong
    assert(written.head <= began, first)
  }

  test("a filter of legs that read only the sf tables writes no ×m tables") {
    val lines = smoke(Seq(2), "attribution_skew_raw")
    assert(legs(lines).map(_.get("op").asText) == Seq("attribution_skew_raw"))
    assert(!lines.exists(_._2.contains("tables written")), lines.map(_._2))
  }

  test("an op filter that matches nothing warns") {
    val lines = smoke(Seq(1), "no_such_op")
    assert(legs(lines).isEmpty)
    assert(lines.exists(_._2.contains("matched no operators")), lines.map(_._2))
  }

  test("every registry leg names a battery query") {
    assert(ScaleSmoke.registryLegs.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(ScaleSmoke.registryLegs.distinct == ScaleSmoke.registryLegs)
  }

  test("graph_scc and dedup_semantic keep their artifacts under the application's SparkFiles root") {
    val scc = Artifacts.perApplication(sf, "customer", "scc")
    val kmeans = Artifacts.perApplication(sf, "embeddings", "kmeans_c16_i1")
    Seq(scc, kmeans).foreach(a => assert(a.startsWith(SparkFiles.getRootDirectory()), a))
    val sccRows = SparkEntry.queries("graph_scc")(spark, sf).count()
    SparkEntry.queries("dedup_semantic")(spark, sf).count()
    assert(Artifacts.isPublished(spark, scc) && Artifacts.isPublished(spark, kmeans))
    // the condensation reads the labels graph_scc published
    val marker = new java.io.File(scc, "_SUCCESS").lastModified()
    SparkEntry.queries("graph_condensation")(spark, sf).count()
    assert(new java.io.File(scc, "_SUCCESS").lastModified() == marker)
    assert(SparkEntry.queries("graph_scc")(spark, sf).count() == sccRows)
  }
}
