package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session harness itself: sessions are built in exactly two places,
  * [[GraftSession]] for the mains and [[SparkSuite]] for the suites,
  * [[JobCensus]] is the one listener on the bus, and `withConf` puts the
  * conf back whatever its body does. */
class HarnessSpec extends SparkSuite {
  /** Every Scala source under src/main and src/test. */
  private lazy val sources: Seq[Path] = {
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from the build root"))
    roots.flatMap { r =>
      scala.util.Using.resource(Files.walk(r))(_.iterator().asScala.toList)
    }.filter(_.toString.endsWith(".scala"))
  }

  test("SparkSession builders appear only in GraftSession and SparkSuite") {
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val allowed = Set("GraftSession.scala", "SparkSuite.scala")
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = sources.filterNot(p => allowed(p.getFileName.toString))
      .filter((p: Path) => Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"sessions built outside the harness: ${offenders.mkString(", ")}")
  }

  test("JobCensus is the only SparkListener and nothing is a QueryExecutionListener") {
    val subclass = """\b(extends|new|with)\s+[\w.]*\b(SparkListener|QueryExecutionListener)\b""".r
    def subclasses(p: Path) = subclass.findAllMatchIn(Files.readString(p)).map(_.group(2)).toList
    val census = sources.filter(_.getFileName.toString == "JobCensus.scala")
    assert(census.size == 1 && subclasses(census.head) == List("SparkListener"))
    val offenders = sources.filterNot(census.contains).filter(subclasses(_).nonEmpty)
    assert(offenders.isEmpty, s"bus or query listeners outside JobCensus: ${offenders.mkString(", ")}")
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
