package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the raw result file (maps, sequences,
  * strings, numbers, booleans, options). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Process-wide counters the benchmark reads around each op: codegen
  * compiles, GC time and JIT time. All are cumulative, so an op's share is
  * the difference of two readings. */
object Counters {
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def read(): Map[String, Long] =
    Map("compiles" -> compiles(), "gc_ms" -> gcMs(), "jit_ms" -> jitMs())
}

/** Clock shared by spans, ops and the Spark listener: epoch seconds with
  * nanosecond resolution, anchored once so listener event times (epoch
  * milliseconds) and span times are on one axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def now(): Double = ms0 / 1000.0 + (System.nanoTime() - nano0) / 1e9
}

/** Spans around the benchmark's calls into library layers. One span per
  * layer call: name, start, end, parent span and run id. Spans stay in
  * memory and are written out with the result when the run ends. When
  * tracing is off, `layer` is a plain call. */
final class Tracer(val enabled: Boolean, run: String) {
  case class Span(id: Int, name: String, parent: Int, start: Double,
                  var end: Double, var compiles: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), Clock.now(), 0.0,
      Counters.compiles())
    spans += s
    stack = s.id :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.end = Clock.now()
    s.compiles = Counters.compiles() - s.compiles
    stack = stack.tail
  }

  /** A span that exists in every run mode: ops are timed even untraced. */
  def op[A](name: String)(body: => A): A = {
    val s = open(name)
    try body finally close(s)
  }

  /** A layer call. Traced runs force the layer's output before the span
    * closes, so its Spark work is attributed to it rather than to the
    * layer that first consumes it; untraced runs keep the lazy hand-off. */
  def layer[A](name: String, force: A => A = (a: A) => a)(body: => A): A =
    if (!enabled) body
    else {
      val s = open(name)
      try force(body) finally close(s)
    }

  /** Record a span measured elsewhere (streaming micro-batches). */
  def record(name: String, start: Double, end: Double, parent: Int = -1,
             compiles: Long = 0L): Int = {
    val s = Span(spans.size, name, parent, start, end, compiles)
    spans += s
    s.id
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> run,
    "start" -> s.start, "end" -> s.end, "compiles" -> s.compiles))
}

/** The benchmark's own SparkListener: per-job wall interval, description
  * label and micro-batch id, and per-stage task counts, task CPU and
  * shuffle bytes. Attribution to spans happens after the run, by time. */
final class JobLog extends SparkListener {
  case class Job(id: Int, start: Double, stages: Seq[Int], desc: String,
                 batch: String, var end: Double = 0.0)
  final class StageAgg { var tasks = 0L; var cpuNs = 0L; var shuffleW = 0L; var shuffleR = 0L }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time / 1000.0, e.stageIds,
      prop("spark.job.description"), prop("streaming.sql.batchId")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1000.0)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = Option(e.taskMetrics)
    a.synchronized {
      a.tasks += 1
      m.foreach { t =>
        a.cpuNs += t.executorCpuTime
        a.shuffleW += t.shuffleWriteMetrics.bytesWritten
        a.shuffleR += t.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
      "desc" -> j.desc, "batch" -> j.batch)),
    "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case (id, a) => Map(
      "id" -> id, "tasks" -> a.tasks, "cpu_s" -> a.cpuNs / 1e9,
      "shuffle_write_mb" -> a.shuffleW / 1048576.0,
      "shuffle_read_mb" -> a.shuffleR / 1048576.0) })
}

object Spark {
  /** One session for the whole run: local[cores], one shuffle partition
    * per core, adaptive execution on and the codegen cache sized like the
    * repo's query battery bench — the configuration a single-host sync
    * scheduler would use. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
