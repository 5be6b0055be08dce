package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Diagnostic main: run one named SparkEntry query and print every Spark
  * job's wall time with its call site, so a micro-batch-heavy gate's
  * fixed overhead can be attributed job by job (guide §1.5/§7.1 — the
  * UI is disabled in this harness, so this is the stage/job census).
  * A job without a description of its own (none set, or only Structured
  * Streaming's per-batch default) is shown by its SQL execution id and
  * the first line of that execution's physical plan, so unlabeled jobs
  * — a parquet footer-inference read outside any execution, a
  * broadcast build — are attributable from this census alone.
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

    final case class J(id: Int, t0: Long, site: String, var wall: Double = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[J]()
    // execution id -> first line of its physical plan; the bus posts an
    // execution's start before any of its jobs
    val planHeads = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val head = s.physicalPlanDescription.linesIterator.map(_.trim)
            .find(l => l.nonEmpty && !l.startsWith("==")).getOrElse("?")
          planHeads.put(s.executionId.toString, head); ()
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.job.description")
          .filterNot(d => d.isEmpty || d.contains("\nrunId = ")) // streaming's default
          .getOrElse {
            val sql = prop("spark.sql.execution.id")
              .map(x => s"sql#$x ${Option(planHeads.get(x)).getOrElse("?")}")
              .getOrElse("no sql execution")
            val site = prop("callSite.short").orElse(e.stageInfos.headOption.map(_.name))
            s"[unlabeled] $sql @ ${site.getOrElse("?")}"
          }
        val j = J(e.jobId, System.nanoTime(), site)
        jobs.put(e.jobId, j); order.add(j); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.wall = (System.nanoTime() - j.t0) / 1e9
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { p =>
      order.clear(); jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq
      println(f"== pass $p%d  wall=$dt%.2f s  jobs=${js.size}%d  jobwall=${js.map(_.wall).sum}%.2f")
      if (p == passes) {
        js.foreach(j => println(f"  job ${j.id}%4d ${j.wall}%7.3f  ${j.site}%s"))
        // aggregate by site
        println("-- by site:")
        js.groupBy(_.site).view.mapValues(v => (v.size, v.map(_.wall).sum)).toSeq
          .sortBy(-_._2._2)
          .foreach { case (s, (n, w)) => println(f"  $w%7.2f s  n=$n%3d  $s%s") }
      }
      DriverHygiene.releasePersisted(spark)
    }
  }
}
