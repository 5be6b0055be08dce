package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

/** The census of the Spark jobs a piece of driver code runs — the one bus
  * listener of the project, registered once per SparkContext. It records
  * nothing until [[during]] opens a window, so it costs nothing between
  * windows; [[Bench]], [[JobBreakdown]] and the suites' job budgets all
  * read their jobs, stages and task time from it. */
final class JobCensus private (private val spark: SparkSession) extends SparkListener {
  import JobCensus._

  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Recording]()

  /** Runs `body` and returns its result with the census of what ran
    * while it did: the bus is drained before the window opens, and the
    * window closes once the bus has delivered every event `body` posted. */
  def during[A](body: => A): (A, Window) = {
    val rec = new Recording
    Bridge.waitListenerBus(spark)
    open.add(rec)
    val result =
      try body
      finally { Bridge.waitListenerBus(spark); open.remove(rec) }
    (result, rec.window)
  }

  private def post(e: SparkListenerEvent): Unit = open.forEach(_.record(e))
  override def onJobStart(e: SparkListenerJobStart): Unit = post(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = post(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = post(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = post(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = post(e)
}

object JobCensus {
  /** One job: its start event, label and wall seconds (0 if it had not
    * ended when the window closed). */
  final case class Job(start: SparkListenerJobStart, label: String, wallS: Double) {
    def id: Int = start.jobId
  }

  /** The jobs of one window in start order, with the window's completed
    * stages and the tasks that reported metrics, their run, CPU and GC time. */
  final case class Window(jobs: Seq[Job], tasks: Long, stages: Long,
                          taskRunMs: Long, taskCpuNs: Long, taskGcMs: Long)

  private var registered: Option[JobCensus] = None

  /** The census of `spark`'s SparkContext (a JVM runs one at a time), put
    * on its bus at first use. */
  def apply(spark: SparkSession): JobCensus = synchronized {
    registered.filter(_.spark.sparkContext eq spark.sparkContext).getOrElse {
      val c = new JobCensus(spark)
      spark.sparkContext.addSparkListener(c)
      registered = Some(c)
      c
    }
  }

  /** A job's description, or — with none of its own, or only Structured
    * Streaming's per-batch default — `[unlabeled] sql#<id> <first line of
    * that execution's physical plan> @ <call site>` (`no sql execution`
    * for a job outside any, e.g. a parquet footer read). */
  private def label(e: SparkListenerJobStart, planHeads: collection.Map[String, String]): String = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop("spark.job.description").filterNot(d => d.isEmpty || d.contains("\nrunId = "))
      .getOrElse {
        val sql = prop("spark.sql.execution.id")
          .map(x => s"sql#$x ${planHeads.getOrElse(x, "?")}").getOrElse("no sql execution")
        val site = prop("callSite.short").orElse(e.stageInfos.headOption.map(_.name))
        s"[unlabeled] $sql @ ${site.getOrElse("?")}"
      }
  }

  /** One open window's records; the bus posts an execution's start
    * before any of its jobs. */
  private final class Recording {
    private val planHeads = mutable.Map.empty[String, String]
    private val starts = mutable.ArrayBuffer.empty[(SparkListenerJobStart, String)]
    private val ends = mutable.Map.empty[Int, Long]
    private var tasks, stages, runMs, cpuNs, gcMs = 0L

    def record(e: SparkListenerEvent): Unit = synchronized(e match {
      case s: SparkListenerSQLExecutionStart =>
        planHeads(s.executionId.toString) = s.physicalPlanDescription.linesIterator
          .map(_.trim).find(l => l.nonEmpty && !l.startsWith("==")).getOrElse("?")
      case s: SparkListenerJobStart => starts += s -> label(s, planHeads)
      case s: SparkListenerJobEnd => ends(s.jobId) = s.time
      case _: SparkListenerStageCompleted => stages += 1
      case s: SparkListenerTaskEnd if s.taskMetrics != null =>
        tasks += 1; runMs += s.taskMetrics.executorRunTime
        cpuNs += s.taskMetrics.executorCpuTime; gcMs += s.taskMetrics.jvmGCTime
      case _ => ()
    })

    def window: Window = synchronized {
      val jobs = starts.toSeq.map { case (s, l) =>
        Job(s, l, ends.get(s.jobId).fold(0.0)(t => (t - s.time) / 1e3)) }
      Window(jobs, tasks, stages, runMs, cpuNs, gcMs)
    }
  }
}
