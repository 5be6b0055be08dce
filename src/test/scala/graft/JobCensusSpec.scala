package graft

/** [[JobCensus]]: a window holds exactly its body's jobs, labels them as
  * `JobBreakdown` prints them, and counts their stages, tasks and SQL
  * executions. */
class JobCensusSpec extends SparkSuite {
  private def census = JobCensus(spark)

  test("a window holds only its body's jobs, even with a job run just before it") {
    Jobs.described(spark, "census: before")(spark.sparkContext.parallelize(1 to 8, 4).count())
    val (n, w) = census.during {
      Jobs.described(spark, "census: inside")(spark.sparkContext.parallelize(1 to 8, 2).count())
    }
    assert(n == 8)
    assert(w.jobs.map(_.label) == Seq("census: inside"))
    assert(w.jobs.forall(_.wallS >= 0))
  }

  test("a described job carries its label, an unlabeled SQL job the [unlabeled] sql# form") {
    val (_, described) = census.during {
      Jobs.described(spark, "census: described")(spark.sparkContext.parallelize(1 to 4, 1).count())
    }
    assert(described.jobs.map(_.label) == Seq("census: described"))
    val (_, sql) = census.during(spark.range(100).selectExpr("sum(id)").collect())
    assert(sql.jobs.nonEmpty)
    assert(sql.sqlExecutions == 1)
    val Unlabeled = """\[unlabeled\] sql#\d+ (.+) @ .+""".r
    sql.jobs.map(_.label).foreach {
      case l @ Unlabeled(planHead) => assert(planHead != "?", l)
      case l => fail(s"not the unlabeled SQL form: $l")
    }
  }

  test("parallelize(1 to 8, 4).count() reads 1 job, 1 stage and 4 tasks") {
    val (n, w) = census.during(spark.sparkContext.parallelize(1 to 8, 4).count())
    assert(n == 8)
    assert((w.jobs.size, w.stages, w.tasks, w.sqlExecutions) == (1, 1L, 4L, 0))
    assert(w.taskRunMs >= 0 && w.taskCpuNs > 0 && w.taskGcMs >= 0)
  }
}
