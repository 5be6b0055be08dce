package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic main: run one named SparkEntry query and print every Spark
  * job's wall time with its label from [[JobCensus]], so a
  * micro-batch-heavy gate's fixed overhead can be attributed job by job
  * (guide §1.5/§7.1 — the UI is disabled in this harness, so this is the
  * stage/job census). Jobs without a description of their own — a parquet
  * footer-inference read outside any execution, a broadcast build — show
  * their SQL execution id and the first line of its physical plan.
  * Usage: runmain graft.JobBreakdown <queryName> [passes]
  */
object JobBreakdown {
  def main(args: Array[String]): Unit =
    GraftSession.run(defaultCpus = 32)(breakdown(_, args))

  private def breakdown(spark: SparkSession, args: Array[String]): Unit = {
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.sparkContext.setLogLevel("ERROR")

    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { p =>
      val (dt, window) = JobCensus(spark).during {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val js = window.jobs
      println(f"== pass $p%d  wall=$dt%.2f s  jobs=${js.size}%d  jobwall=${js.map(_.wallS).sum}%.2f")
      if (p == passes) {
        js.foreach(j => println(f"  job ${j.id}%4d ${j.wallS}%7.3f  ${j.label}%s"))
        println("-- by site:")
        js.groupBy(_.label).view.mapValues(v => (v.size, v.map(_.wallS).sum)).toSeq
          .sortBy(-_._2._2)
          .foreach { case (s, (n, w)) => println(f"  $w%7.2f s  n=$n%3d  $s%s") }
      }
      DriverHygiene.releasePersisted(spark)
    }
  }
}
