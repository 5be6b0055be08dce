package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session harness itself: sessions are built in exactly two places,
  * [[GraftSession]] for the mains and [[SparkSuite]] for the suites, and
  * `withConf` puts the conf back whatever its body does. */
class HarnessSpec extends SparkSuite {
  test("SparkSession builders appear only in GraftSession and SparkSuite") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val allowed = Set("GraftSession.scala", "SparkSuite.scala")
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from the build root"))
    val sources = roots.flatMap { r =>
      scala.util.Using.resource(Files.walk(r))(_.iterator().asScala.toList)
    }.filter(_.toString.endsWith(".scala"))
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = sources.filterNot(p => allowed(p.getFileName.toString))
      .filter((p: Path) => Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"sessions built outside the harness: ${offenders.mkString(", ")}")
  }

  test("withConf restores the prior values when its body throws") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "graft.harness.probe")
    val before = spark.conf.get(set)
    val e = intercept[IllegalStateException] {
      withConf(set -> "3", unset -> "x") {
        assert(spark.conf.get(set) == "3" && spark.conf.get(unset) == "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(unset).isEmpty)
  }
}
