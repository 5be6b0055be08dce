package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit utility: prints the physical plan of named SparkEntry
  * queries (or every query with no args) in formatted mode, which is
  * the view that shows `PushedFilters` / `ReadSchema` / exchange and
  * codegen structure — the things the 100 TB design review looks for.
  * Usage: `runMain graft.PlanAudit [queryName ...]`;
  * `SPARK_GRAFT_SF_DIR` overrides the default sf0.01 input. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    GraftSession.run(defaultCpus = 32) { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      val names =
        if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
      names.foreach { q =>
        println(s"===== $q =====")
        SparkEntry.queries.get(q) match {
          case None => println(s"(no such query: $q)")
          case Some(fn) =>
            // one bad plan must not abort the remaining audits
            try println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
            catch { case scala.util.control.NonFatal(e) =>
              println(s"(failed: ${e.getMessage})") }
        }
        DriverHygiene.releasePersisted(spark, gc = false)
      }
    }
  }
}
