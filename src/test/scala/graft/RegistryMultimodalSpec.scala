package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.analysis.JobRegistry
import graft.client.Readers
import graft.drift.Drift
import graft.graph.{Graph, GraphStore, Migrations}
import graft.multimodal.Multimodal
import graft.schema.{ExtraLabel, Field, NodeSchema}

/** Round-2 registry/lifecycle surface: job-directory runner, drift state
  * registry, image header decode, compatibility labels, reader caps. */
class RegistryMultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("image header decode: PNG/GIF/BMP/JPEG dims, fallback for junk") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
        0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte)
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).position(18)
      b.putInt(w).putInt(-h) // top-down BMPs store negative height
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] =
      Array(0xff, 0xd8, // SOI
        0xff, 0xe0, 0x00, 0x04, 0x41, 0x42, // APP0 segment, length 4
        0xff, 0xc0, 0x00, 0x0b, 0x08, // SOF0, precision
        h >> 8, h & 0xff, w >> 8, w & 0xff, 0x01, 0x22, 0x00).map(_.toByte)
    assert(Multimodal.decodeImageHeader(png(640, 480)) == Some(("png", 640L, 480L)))
    assert(Multimodal.decodeImageHeader(gif(320, 200)) == Some(("gif", 320L, 200L)))
    assert(Multimodal.decodeImageHeader(bmp(800, 600)) == Some(("bmp", 800L, 600L)))
    assert(Multimodal.decodeImageHeader(jpeg(1024, 768)) == Some(("jpeg", 1024L, 768L)))
    assert(Multimodal.decodeImageHeader("plain text".getBytes) == None)
    assert(Multimodal.decode(png(640, 480)).format == "png")
    assert(Multimodal.decode("plain text".getBytes).format == "stub")
  }

  test("job registry: path-ordered discovery, $PARAM substitution, view rewrite") {
    Seq((1L, 10L), (2L, 20L), (3L, 10L)).toDF("id", "lastupdated")
      .createOrReplaceTempView("node_Thing")
    val dir = Files.createTempDirectory("jobs")
    Files.writeString(dir.resolve("2_cleanup.json"),
      """{"name": "cleanup", "statements": [
        |  {"query": "SELECT * FROM node_Thing WHERE lastupdated = $UPDATE_TAG",
        |   "materialize": "node_Thing", "iterative": true, "iterationsize": 100}]}""".stripMargin)
    Files.writeString(dir.resolve("1_derive.json"),
      """{"name": "derive", "statements": [
        |  {"query": "SELECT *, id * 2 AS double_id FROM node_Thing",
        |   "materialize": "node_Thing"}]}""".stripMargin)
    val ran = JobRegistry.runDirectory(spark, dir.toString, Map("UPDATE_TAG" -> 10L))
    assert(ran == Seq("derive", "cleanup")) // path order: 1_ before 2_
    val out = spark.table("node_Thing").select("id", "double_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 6L))) // derive ran before cleanup
    assert(JobRegistry.runDirectory(spark, "/nonexistent/jobs", Map.empty).isEmpty)
  }

  test("drift state registry: add/list/diff-latest lifecycle") {
    val dir = Files.createTempDirectory("drift").toString
    Drift.addState(Seq(("a", 1), ("b", 2)).toDF("k", "v"), dir, "q1", 100L)
    Drift.addState(Seq(("a", 1), ("c", 3)).toDF("k", "v"), dir, "q1", 200L)
    Drift.addState(Seq(("z", 9)).toDF("k", "v"), dir, "other", 150L)
    assert(Drift.listStates(spark, dir, "q1") == Seq(100L, 200L))
    val d = Drift.diffLatest(spark, dir, "q1")
      .select("k", "v", "direction").as[(String, String, String)].collect().toSet
    assert(d == Set(("c", "3", "added"), ("b", "2", "removed")))
  }

  test("compatibility labels strip wholesale after migration") {
    val schema = NodeSchema("Server", id = Field("id"),
      extraLabels = Seq(ExtraLabel("Asset"), ExtraLabel.compatibility("LegacyHost")))
    val batch = Seq(("s1")).toDF("id")
    val g = graft.graph.GraphLoader.load(Graph(), schema, batch, 10L)
    val before = g.nodeTable("Server").select(array_join(col("labels"), ","))
      .as[String].head()
    assert(before == "Asset,LegacyHost,Server")
    val after = Migrations.stripCompatibilityLabels(g, schema)
      .nodeTable("Server").select(array_join(col("labels"), ",")).as[String].head()
    assert(after == "Asset,Server")
  }

  test("list readers fail fast past the row cap") {
    val big = spark.range(50).toDF("id")
    assert(Readers.listOfValues(big, "id", maxRows = 50).size == 50)
    val e = intercept[IllegalArgumentException] {
      Readers.listOfValues(big, "id", maxRows = 49)
    }
    assert(e.getMessage.contains("maxRows"))
  }
}
